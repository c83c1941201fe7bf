"""BinaryModelMetrics headline queries (A13-A19) with SQL oracles.

Score/label derived deterministically from ``events``: score = value,
label = (event_type = 'purchase'). The oracle replays the cumulative
confusion-matrix math with standard SQL windows. Ratios are rounded to
6 decimals on both sides (single-division ratios are bit-identical
across engines, but AUC trapezoid SUMS are order-dependent → rounded
to 4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ext_spark.operators.evaluation import BinaryModelMetrics
from spark_ext_spark.plans.relational import load
from spark_ext_spark.sources.io import local_frame


def _metrics(spark: SparkSession, sf_dir: str, num_bins: int = 0) -> BinaryModelMetrics:
    ev = load(spark, sf_dir, "events")
    sl = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
         .alias("label"))
    return BinaryModelMetrics(sl, num_bins=num_bins)


_SL_CTE = """
WITH sl AS (
  SELECT value AS score,
         CAST(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
              AS DOUBLE) AS label
  FROM events
),
counts AS (
  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
  FROM sl GROUP BY score
),
cum AS (
  SELECT score,
         sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp
  FROM counts
),
tot AS (
  SELECT sum(pos) AS tot_pos, sum(neg) AS tot_neg FROM counts
)
"""


def gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _metrics(spark, sf_dir).gains()
    return g.select(F.round("reach", 6).alias("reach"),
                    F.round("recall", 6).alias("recall"))


# zero-denominator CASEs mirror the operator's curve conventions
# (evaluation.py _recall/_fpr/_reach/_precision): on a single-class or
# empty refresh DuckDB's x/0 → inf/NULL would diverge from Spark's
# pinned 0.0/1.0 values
GAINS_CURVE_SQL = _SL_CTE + """
SELECT round(CASE WHEN tot_pos + tot_neg = 0 THEN 1.0
                  ELSE (tp + fp) / (tot_pos + tot_neg) END, 6) AS reach,
       round(CASE WHEN tot_pos = 0 THEN 0.0
                  ELSE tp / tot_pos END, 6) AS recall
FROM cum, tot
UNION ALL SELECT 0.0, 0.0
UNION ALL SELECT 1.0, 1.0
"""


def roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _metrics(spark, sf_dir).roc()
    return r.select(F.round("fpr", 6).alias("fpr"),
                    F.round("tpr", 6).alias("tpr"))


ROC_CURVE_SQL = _SL_CTE + """
SELECT round(CASE WHEN tot_neg = 0 THEN 0.0 ELSE fp / tot_neg END, 6)
         AS fpr,
       round(CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END, 6)
         AS tpr
FROM cum, tot
UNION ALL SELECT 0.0, 0.0
UNION ALL SELECT 1.0, 1.0
"""


def lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    lc = _metrics(spark, sf_dir).lift()
    return lc.select(F.round("reach", 6).alias("reach"),
                     F.round("lift", 6).alias("lift"))


LIFT_CURVE_SQL = _SL_CTE + """
SELECT round(CASE WHEN tot_pos + tot_neg = 0 THEN 1.0
                  ELSE (tp + fp) / (tot_pos + tot_neg) END, 6) AS reach,
       round((CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END)
             / (CASE WHEN tot_pos + tot_neg = 0 THEN 1.0
                     ELSE (tp + fp) / (tot_pos + tot_neg) END), 6) AS lift
FROM cum, tot
"""


def auc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _metrics(spark, sf_dir)
    roc_auc = m.area_under_roc()
    pr_auc = m.area_under_pr()

    # floor(x·10⁴ + 0.5)/10⁴ on BOTH engines, not round(): Python's
    # round is banker's half-even on the binary value while DuckDB's
    # is half-away — an AUC landing on a .00005 boundary would split
    # them. The floor chain is the same double ops in the same order.
    def q4(x: float) -> float:
        import math
        return math.floor(x * 10000 + 0.5) / 10000

    return local_frame(
        spark, [(q4(roc_auc), q4(pr_auc))],
        "auc_roc double, auc_pr double")


AUC_METRICS_SQL = _SL_CTE + """
, roc AS (
  SELECT CASE WHEN tot_neg = 0 THEN 0.0 ELSE fp / tot_neg END AS fpr,
         CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END AS tpr,
         1 AS ord, score
  FROM cum, tot
  UNION ALL SELECT 0.0, 0.0, 0, 1e308
  UNION ALL SELECT 1.0, 1.0, 2, -1e308
),
pr AS (
  SELECT CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END AS recall,
         CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / (tp + fp) END AS precision,
         1 AS ord, score
  FROM cum, tot
  UNION ALL SELECT 0.0, 1.0, 0, 1e308
),
roc_tr AS (
  SELECT (fpr - lag(fpr) OVER w) * (tpr + lag(tpr) OVER w) / 2.0 AS trap
  FROM roc WINDOW w AS (ORDER BY ord, score DESC)
),
pr_tr AS (
  SELECT (recall - lag(recall) OVER w) * (precision + lag(precision) OVER w) / 2.0 AS trap
  FROM pr WINDOW w AS (ORDER BY ord, score DESC)
)
-- floor-quantize (matches the Spark side's q4); empty-input pr sums
-- to NULL -> the operator's pinned 0.0
SELECT floor((SELECT sum(trap) FROM roc_tr) * 10000 + 0.5) / 10000
         AS auc_roc,
       floor(coalesce((SELECT sum(trap) FROM pr_tr), 0.0) * 10000 + 0.5)
         / 10000 AS auc_pr
"""


def precision_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 (BinaryModelMetrics.scala:148-150): (threshold, precision)."""
    c = _metrics(spark, sf_dir).precision_by_threshold()
    return c.select(F.round("threshold", 6).alias("threshold"),
                    F.round("precision", 6).alias("precision"))


PRECISION_BY_THRESHOLD_SQL = _SL_CTE + """
SELECT round(score, 6) AS threshold,
       round(CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / (tp + fp) END, 6)
         AS precision
FROM cum, tot
"""


def recall_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 (BinaryModelMetrics.scala:152-154): (threshold, recall)."""
    c = _metrics(spark, sf_dir).recall_by_threshold()
    return c.select(F.round("threshold", 6).alias("threshold"),
                    F.round("recall", 6).alias("recall"))


RECALL_BY_THRESHOLD_SQL = _SL_CTE + """
SELECT round(score, 6) AS threshold,
       round(CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END, 6)
         AS recall
FROM cum, tot
"""


def f_measure_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 (BinaryModelMetrics.scala:136-146): (threshold, F1)."""
    c = _metrics(spark, sf_dir).f_measure_by_threshold(beta=1.0)
    return c.select(F.round("threshold", 6).alias("threshold"),
                    F.round("f_measure", 6).alias("f_measure"))


F_MEASURE_BY_THRESHOLD_SQL = _SL_CTE + """
, pr AS (
  SELECT score,
         CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / (tp + fp) END AS p,
         CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END AS r
  FROM cum, tot
)
SELECT round(score, 6) AS threshold,
       round(CASE WHEN p + r = 0 THEN 0.0
                  ELSE 2 * p * r / (p + r) END, 6) AS f_measure
FROM pr
"""


def roc_curve_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 (BinaryModelMetrics.scala:167-196): curve down-sampling to
    numBins=10 — consecutive distinct-score points chunked into groups
    of floor(n/10), each keyed by its max score with summed counts.
    Fully deterministic, so the oracle replays it with row_number."""
    r = _metrics(spark, sf_dir, num_bins=10).roc()
    return r.select(F.round("fpr", 6).alias("fpr"),
                    F.round("tpr", 6).alias("tpr"))


ROC_CURVE_BINNED_SQL = """
WITH sl AS (
  SELECT value AS score,
         CAST(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END
              AS DOUBLE) AS label
  FROM events
),
counts0 AS (
  SELECT score, sum(label) AS pos, count(*) - sum(label) AS neg
  FROM sl GROUP BY score
),
counts AS (
  SELECT max(score) AS score, sum(pos) AS pos, sum(neg) AS neg
  FROM (
    SELECT score, pos, neg,
           -- greatest(..., 1): with < 20 distinct scores the operator
           -- SKIPS binning (grouping < 2); divisor 1 reproduces that
           -- (identity bins), where the bare count//10 would be 0 and
           -- DuckDB's x // 0 = NULL collapses everything into one bin
           (row_number() OVER (ORDER BY score DESC) - 1)
             // greatest((SELECT count(*) // 10 FROM counts0), 1) AS grp
    FROM counts0
  )
  GROUP BY grp
),
cum AS (
  SELECT score,
         sum(pos) OVER (ORDER BY score DESC) AS tp,
         sum(neg) OVER (ORDER BY score DESC) AS fp
  FROM counts
),
tot AS (
  SELECT sum(pos) AS tot_pos, sum(neg) AS tot_neg FROM counts
)
SELECT round(CASE WHEN tot_neg = 0 THEN 0.0 ELSE fp / tot_neg END, 6)
         AS fpr,
       round(CASE WHEN tot_pos = 0 THEN 0.0 ELSE tp / tot_pos END, 6)
         AS tpr
FROM cum, tot
UNION ALL SELECT 0.0, 0.0
UNION ALL SELECT 1.0, 1.0
"""


def score_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18 thresholds() (BinaryModelMetrics.scala:77): the distinct
    score values, descending — the x-axis shared by every *ByThreshold
    curve."""
    t = _metrics(spark, sf_dir).thresholds()
    return t.select(F.round("threshold", 6).alias("threshold"))


SCORE_THRESHOLDS_SQL = """
SELECT round(score, 6) AS threshold
FROM (SELECT DISTINCT value AS score FROM events)
"""
