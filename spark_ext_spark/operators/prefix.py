"""Distributed exact prefix sums over a global ordering.

A global ``Window.orderBy(...)`` funnels every row through ONE task —
fine for a compacted dictionary table, a cliff at ~1e7+ rows. This is
the scale-out replacement: range-partition on the ordering, cumsum
within each partition, then add each partition's prefix offset computed
from a bounded (one row per partition) driver collect and broadcast
back as a JVM LocalRelation (``sources.io.local_frame``). Exactly the
technique the reference hand-rolls over RDDs for its cumulative
confusion matrices (BinaryModelMetrics.scala:198-216: per-partition
totals → driver scanLeft → mapPartitionsWithIndex offset add), here as
a reusable DataFrame operator.

(r13 note: an all-in-plan variant — offsets as a tiny window over the
totals aggregate, broadcast back, no driver sync — was implemented and
MEASURED WORSE on the distfit consumer: 19→20 jobs, 65→76 stages; the
new single-row AQE stage materializations outweigh the saved collect.
The driver collect stays; what r13 did add is ``grand_totals``, which
lets callers read each value's global sum off this collect for free.)

Cost: one range shuffle (with its sampling pass) + one hash shuffle for
the per-partition window + a #partitions-row collect. Use the plain
global window below roughly 1e6 rows — it's one shuffle cheaper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ext_spark.sources.io import local_frame

__all__ = ["partitioned_cumulative_sums"]


def partitioned_cumulative_sums(df: DataFrame, order_cols: list,
                                values: dict[str, Column | str],
                                num_partitions: int | None = None,
                                inclusive: bool = True,
                                persisted_out: list | None = None,
                                grand_totals: dict | None = None
                                ) -> DataFrame:
    """Append one exact running-sum column per ``values`` entry
    (``{out_name: summed column}``), all over the same global ordering
    ``order_cols``, sharing a single range shuffle.

    ``inclusive=False`` gives the exclusive prefix (sum of strictly
    preceding rows; 0 for the global first row) — the form coverage
    thresholds want. The ordering must be total (include a unique
    tiebreak column) or within-ties results are arbitrary.

    Exactness: integer and integer-valued-double sums are bit-identical
    to the global window (associative). Fractional double sums can
    differ from the window's sequential fold in the last ULPs — the
    per-partition totals aggregate in partition iteration order, not
    sorted order (hypothesis-swept in tests/test_prefix.py).

    The range-partitioned intermediate is persisted so the offsets pass
    and the output pass see the same partition boundaries. Pass
    ``persisted_out`` (a list) to receive that frame for explicit
    release — callers owning a lifecycle (e.g. BinaryModelMetrics.
    unpersist()) should ``.unpersist()`` it once the output is
    materialized; otherwise it lives until session cache eviction
    (MEMORY_AND_DISK).

    ``grand_totals`` ({out_name: key in ``values``}) is REPLACED in
    place with each named value's global sum ({out_name: total}), read off
    the offsets collect this operator already performs — free for
    callers that need the total (e.g. a coverage threshold) and would
    otherwise aggregate the input a second time.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions",
                                             "200"))
    vals = {name: (F.col(c) if isinstance(c, str) else c)
            for name, c in values.items()}
    ranged = (df.repartitionByRange(n, *order_cols)
              .withColumn("__pid", F.spark_partition_id())
              .persist())
    if persisted_out is not None:
        persisted_out.append(ranged)
    totals_frame = (ranged.groupBy("__pid")
                    .agg(*[F.sum(c).alias(name)
                           for name, c in vals.items()]))
    totals = totals_frame.collect()
    by_pid = {r["__pid"]: r for r in totals}
    # zero literal + offsets schema follow each aggregate's own type,
    # so a grand total over no rows is 0.0 for a double sum, not int 0
    from pyspark.sql.types import DoubleType, FloatType, StructField, StructType
    val_fields = totals_frame.schema.fields[1:]
    fractional = {f.name: isinstance(f.dataType, (DoubleType, FloatType))
                  for f in val_fields}
    offsets = []
    acc = {name: (0.0 if fractional[name] else 0) for name in vals}
    for p in range(n):
        offsets.append((p, *[acc[name] for name in vals]))
        if p in by_pid:
            for name in vals:
                t = by_pid[p][name]
                acc[name] += (0.0 if fractional[name] else 0) \
                    if t is None else t
    off_df = local_frame(spark, offsets, StructType(
        [StructField("__pid", totals_frame.schema.fields[0].dataType)]
        + [StructField(f"__off_{f.name}", f.dataType) for f in val_fields]))
    if grand_totals is not None:
        # the loop's final accumulator IS each value's global sum —
        # callers needing the total (coverage thresholds) take it from
        # the offsets collect this path already pays, as plan
        # LITERALS, instead of attaching a second full aggregation of
        # the input + a broadcast cross join (r13: the gather-encoder
        # distfit plan dropped that whole subtree)
        for out_name, val_name in grand_totals.items():
            grand_totals[out_name] = acc[val_name]

    end = 0 if inclusive else -1
    w = (Window.partitionBy("__pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, end))
    out = ranged.join(F.broadcast(off_df), "__pid")
    for name, c in vals.items():
        out = out.withColumn(
            name,
            F.coalesce(F.sum(c).over(w), F.lit(0)) + F.col(f"__off_{name}"))
    return out.drop("__pid", *[f"__off_{name}" for name in vals])
