"""Source/sink helper tests + SQL function registration."""

from __future__ import annotations

import ast
import time
from datetime import datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (DecimalType, DoubleType, ShortType, StringType,
                               StructField, StructType)

import spark_ext_spark
from spark_ext_spark.functions import register_sql_functions
from spark_ext_spark.functions.s2 import cell_token
from spark_ext_spark.sources import (local_frame, read_csv, read_parquet,
                                     read_table, write_parquet)


def test_read_table_normalizes_event_ts(spark, sf_small):
    """events.ts must arrive as session-tz TIMESTAMP whatever the
    parquet encoding (bigint nanos, timestamp_ntz, or timestamp)."""
    ev = read_table(spark, sf_small, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0
    # unix_micros is the downstream op that breaks on NTZ — pin it works
    assert ev.select(F.unix_micros("ts").alias("um")).first()["um"] is not None


LOCAL_SCHEMA = StructType([
    StructField("k", DecimalType(10, 2)),
    StructField("s", ShortType()),
    StructField("t", StringType()),
    StructField("d", DoubleType()),
])
LOCAL_ROWS = [(Decimal("12345678.90"), 32767, "a", float("nan")),
              (Decimal("-0.01"), -32768, None, -0.0),
              (None, None, "", None)]


@pytest.mark.parametrize("arrow_enabled", ["true", "false"])
def test_local_frame_type_matrix(spark, arrow_enabled):
    """local_frame round-trips decimal keys, shorts, NULL strings and a
    NaN double exactly, keeps the schema, and plans as a JVM
    LocalRelation — also for 0 rows, and whatever the pyspark Arrow
    conf says."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, arrow_enabled)
    try:
        for rows in (LOCAL_ROWS, []):
            df = local_frame(spark, rows, LOCAL_SCHEMA)
            assert df.schema == LOCAL_SCHEMA
            plan = df._jdf.queryExecution().analyzed()
            assert plan.getClass().getSimpleName() == "LocalRelation"
            # repr: exact values, NaN == NaN, -0.0 != 0.0, int != float
            assert repr([tuple(r) for r in df.collect()]) == repr(rows)
        ddl = local_frame(spark, [("w", None)], "word string, lang string")
        assert ddl.dtypes == [("word", "string"), ("lang", "string")]
        assert ddl.collect() == [("w", None)]
    finally:
        spark.conf.set(key, prior)


def test_local_frame_naive_timestamps_are_local_time(spark, monkeypatch):
    """A naive datetime means local wall-clock time, as in PySpark's row
    conversion (and so in collect()): local_frame must land on the same
    instant as createDataFrame(<list>) in a non-UTC process zone."""
    ts = datetime(2020, 3, 1, 12, 30, 15, 123456)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        micros = F.unix_micros("ts").alias("us")
        arrow = local_frame(spark, [(ts,)], "ts timestamp")
        listed = spark.createDataFrame([(ts,)], "ts timestamp")
        assert arrow.select(micros).collect() == listed.select(micros).collect()
        assert arrow.first()["ts"] == ts
    finally:
        monkeypatch.undo()
        time.tzset()


def test_create_dataframe_only_inside_local_frame():
    """Every driver-built table under spark_ext_spark/ goes through
    sources.io.local_frame. A createDataFrame(<list>) call elsewhere
    would bring back the PythonRDD hop: one Python-worker task per
    default-parallelism slot, even for a 5-row dictionary."""
    root = Path(spark_ext_spark.__file__).parent
    io_path = root / "sources" / "io.py"
    io_tree = ast.parse(io_path.read_text())
    helper = next(n for n in io_tree.body
                  if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
    stray = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                continue
            if path == io_path and \
                    helper.lineno <= node.lineno <= helper.end_lineno:
                continue
            stray.append(f"{path.relative_to(root)}:{node.lineno}")
    assert stray == [], f"createDataFrame outside local_frame: {stray}"


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    path = str(tmp_path / "csv")
    df.write.option("header", True).mode("overwrite").csv(path)
    back = read_csv(spark, path, schema="k string, v int")
    assert sorted((r["k"], r["v"]) for r in back.collect()) == \
        [("a", 1), ("b", 2)]


def test_write_parquet_partitioning(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(100)],
        "id long, parity string")
    path = str(tmp_path / "pq")
    write_parquet(df, path, partition_by=["parity"], target_partitions=2)
    back = read_parquet(spark, path)
    assert back.count() == 100
    assert set(r["parity"] for r in back.select("parity").distinct().collect()) \
        == {"even", "odd"}


def test_register_sql_functions(spark):
    register_sql_functions(spark)
    row = spark.sql(
        "SELECT s2_token(40.7142700D, -74.0059700D, 12) AS tok").first()
    assert row["tok"] == cell_token(40.71427, -74.00597, 12)


def test_s2_token_per_row_level_and_nulls(spark):
    """level is a per-row COLUMN here: each row must be computed at
    ITS level (the old UDF froze the whole Arrow batch to the first
    row's level). Null coordinates null out instead of tokenizing."""
    register_sql_functions(spark)
    rows = spark.sql(
        "SELECT s2_token(lat, lon, lvl) AS tok FROM VALUES "
        "(40.7142700D, -74.0059700D, 6), "
        "(40.7142700D, -74.0059700D, 12), "
        "(51.50722D, -0.12750D, 8), "
        "(CAST(NULL AS DOUBLE), 10.0D, 10) AS t(lat, lon, lvl) "
        "ORDER BY lvl").collect()
    assert [r["tok"] for r in rows] == [
        cell_token(40.71427, -74.00597, 6),
        cell_token(51.50722, -0.12750, 8),
        None,
        cell_token(40.71427, -74.00597, 12)]


def test_write_csv_json_roundtrip(spark, tmp_path):
    from spark_ext_spark.sources import write_csv, write_json, read_json
    df = spark.createDataFrame([("a", 1.5), ("b", 2.0)], "k string, v double")
    cpath, jpath = str(tmp_path / "out_csv"), str(tmp_path / "out_json")
    write_csv(df, cpath, target_partitions=1)
    write_json(df, jpath, target_partitions=1)
    back_c = read_csv(spark, cpath, schema="k string, v double")
    back_j = read_json(spark, jpath, schema="k string, v double")
    want = [("a", 1.5), ("b", 2.0)]
    assert sorted((r["k"], r["v"]) for r in back_c.collect()) == want
    assert sorted((r["k"], r["v"]) for r in back_j.collect()) == want


def test_partitioned_write_prunes_partitions(spark, sf_small, tmp_path):
    """Hive-style partition layout → partition PRUNING (directories
    skipped entirely), distinct from row-group filter pushdown: the
    day predicate must land in PartitionFilters, not PushedFilters."""
    from spark_ext_spark.sources import write_parquet
    ev = read_table(spark, sf_small, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd"))
    path = str(tmp_path / "events_by_day")
    write_parquet(ev, path, partition_by=["day"])
    back = read_parquet(spark, path).filter(F.col("day") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan"):]
    assert "PartitionFilters" in scan
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "day" in pf
    n_days = ev.select("day").distinct().count()
    expected = ev.filter(F.col("day") == "2024-01-05").count()
    assert back.count() == expected and expected > 0 and n_days > 1


def test_python_udtf_explode_ngrams(spark):
    from spark_ext_spark.functions.udtf import register_udtfs
    register_udtfs(spark)
    spark.createDataFrame([(1, "The quick brown fox"), (2, "hi")],
                          "doc_id long, text string") \
        .createOrReplaceTempView("udtf_docs")
    rows = spark.sql("""
        SELECT d.doc_id, g.ngram, g.pos
        FROM udtf_docs d, LATERAL explode_ngrams(d.text, 2) g
    """).collect()
    got = sorted((r["doc_id"], r["pos"], r["ngram"]) for r in rows)
    assert got == [(1, 0, "the quick"), (1, 1, "quick brown"),
                   (1, 2, "brown fox")]


def test_read_table_lenient_orderdate_drift(spark, tmp_path):
    """Drift insurance for orders/lineitem temporal columns: string
    arrivals are fixed to TIMESTAMP; DATE arrivals stay native (they
    compare/truncate correctly and keep scan pushdown — see io.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt
    from pyspark.sql import functions as F
    t = pa.table({
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_orderdate": pa.array(["2024-01-01 00:00:00",
                                 "2024-02-03 00:00:00"], pa.string()),
    })
    pq.write_table(t, str(tmp_path / "orders.parquet"))
    df = read_table(spark, str(tmp_path), "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"

    t2 = pa.table({
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_orderdate": pa.array([dt.date(2024, 1, 1), dt.date(2024, 2, 3)],
                                pa.date32()),
    })
    import os
    os.makedirs(str(tmp_path / "d2"), exist_ok=True)
    pq.write_table(t2, str(tmp_path / "d2" / "orders.parquet"))
    df2 = read_table(spark, str(tmp_path / "d2"), "orders")
    # date stays native but still answers range queries correctly
    assert df2.filter(F.col("o_orderdate")
                      >= F.lit("2024-02-01")).count() == 1


def test_ensure_fanout_repartitions_compact_scan(spark, tmp_path):
    from spark_ext_spark.sources.io import ensure_fanout
    spark.range(0, 1000).selectExpr("id", "id % 7 AS k") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    assert df.rdd.getNumPartitions() == 1
    out = ensure_fanout(df, "id")
    assert (out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    # values untouched
    assert out.count() == 1000


def test_ensure_fanout_noops_on_shuffle_bearing_plans(spark, tmp_path):
    from pyspark.sql import functions as F
    from spark_ext_spark.sources.io import ensure_fanout
    spark.range(0, 100).selectExpr("id", "id % 7 AS k") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    # plan already carries an Aggregate: returned unchanged (same object)
    assert ensure_fanout(agg, "k") is agg
    joined = df.join(df.selectExpr("id AS id2"),
                     F.col("id") == F.col("id2"))
    assert ensure_fanout(joined) is joined


def test_ensure_fanout_noops_when_already_parallel(spark):
    from spark_ext_spark.sources.io import ensure_fanout
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, numPartitions=par).selectExpr(
        "id", "id % 3 AS k")
    # range() plans no shuffle-bearing node and meets parallelism
    out = ensure_fanout(df, "id")
    assert out.rdd.getNumPartitions() == par
