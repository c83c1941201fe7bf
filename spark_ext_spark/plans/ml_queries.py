"""ML-operator headline queries (S2 cell math, iterative LR training).

s2_cells is oracle-checked: the full S2 pipeline — trig, face/UV/ST,
and the 8-round Hilbert lookup loop — replays in DuckDB (see
_s2_cells_oracle). local_lr_model stays rows-only (iterative
optimizer); its golden-value correctness lives in
tests/test_classification.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ext_spark.operators.classification import LocalLogisticRegression
from spark_ext_spark.operators.s2cell import S2CellTransformer
from spark_ext_spark.plans.relational import load
from spark_ext_spark.sources.io import local_frame


def s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2CellTransformer (A6) over synthetic-but-deterministic lat/lon
    derived from customer keys; groups customers per level-4 cell."""
    cust = load(spark, sf_dir, "customer")
    geo = cust.select(
        "c_custkey",
        ((F.col("c_custkey") % 160) - 80 + 0.5).cast("double").alias("lat"),
        (((F.col("c_custkey") * 7) % 360) - 180 + 0.5).cast("double").alias("lon"))
    cells = S2CellTransformer(level=4).transform(geo)
    return (cells.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_customers"))
            .orderBy("cell"))


def _s2_cells_oracle(level: int = 4) -> str:
    """DuckDB replica of the FULL s2_cells pipeline — no golden
    pinning, the oracle computes tokens from scratch:

    lat/lon → XYZ (cos/sin; glibc libm on both engines, verified
    bit-identical) → largest-|component| face (+3 when the dominant
    component is negative; exact-tie inputs break to the LATER axis,
    matching _xyz_to_face_uv and canonical S2 — the synthetic grid
    never ties, but the rule is pinned the same on both engines) →
    per-face (u,v) → quadratic ST (same operand order as
    functions/s2.py, so sqrt rounding matches IEEE-exactly) → 30-bit
    (i,j) → 8 unrolled Hilbert lookup rounds against the canonical
    4096-entry traversal table (shipped as a list literal; the same
    _LOOKUP_POS the Spark UDF uses) → 64-bit id (UBIGINT; multiplies
    stand in for left shifts because DuckDB's << overflows above
    2^63) → parent(level) → hex token with trailing zeros stripped.

    Leaf-level trig ULP noise cannot flip a level-4 parent unless a
    point sits within ~2^-26 of a cell boundary; the half-degree
    synthetic grid never does, and the Hilbert/bit stages are exact
    integer ops. Verified 0 mismatches vs the scalar cell_token at
    sf0.001 and sf0.01."""
    from spark_ext_spark.functions.s2 import _LOOKUP_POS
    lut = ", ".join(str(v) for v in _LOOKUP_POS)
    new_lsb = 1 << (2 * (30 - level))
    iters = []
    prev = "h8"
    for k in range(7, -1, -1):
        cur = f"h{k}"
        iters.append(f"""{cur} AS (
  SELECT c_custkey, i, j,
         n | (CAST(t >> 2 AS UBIGINT)
              * CAST({1 << (k * 8)} AS UBIGINT)) AS n,
         t & 3 AS bits
  FROM (
    SELECT c_custkey, i, j, n,
           l[CAST(bits + (((i >> {k * 4}) & 15) << 6)
                       + (((j >> {k * 4}) & 15) << 2) AS BIGINT) + 1] AS t
    FROM {prev} CROSS JOIN lut)
)""")
        prev = cur
    return f"""
WITH lut AS (SELECT [{lut}] AS l),
geo AS (
  SELECT c_custkey,
         CAST((c_custkey % 160) - 80 + 0.5 AS DOUBLE) AS lat,
         CAST(((c_custkey * 7) % 360) - 180 + 0.5 AS DOUBLE) AS lon
  FROM customer
),
xyz AS (
  SELECT c_custkey,
         cos(radians(lat)) * cos(radians(lon)) AS x,
         cos(radians(lat)) * sin(radians(lon)) AS y,
         sin(radians(lat)) AS z
  FROM geo
),
fa AS (
  SELECT c_custkey, x, y, z,
         CASE WHEN abs(x) > abs(y) AND abs(x) > abs(z) THEN 0
              WHEN abs(x) <= abs(y) AND abs(y) > abs(z) THEN 1
              ELSE 2 END AS axis
  FROM xyz
),
fb AS (
  SELECT c_custkey, x, y, z,
         CASE WHEN (CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
              THEN axis + 3 ELSE axis END AS face
  FROM fa
),
uv AS (
  SELECT c_custkey, face,
         CASE face WHEN 0 THEN y / x WHEN 1 THEN -x / y WHEN 2 THEN -x / z
                   WHEN 3 THEN z / x WHEN 4 THEN z / y ELSE -y / z END AS u,
         CASE face WHEN 0 THEN z / x WHEN 1 THEN z / y WHEN 2 THEN -y / z
                   WHEN 3 THEN y / x WHEN 4 THEN -x / y ELSE -x / z END AS v
  FROM fb
),
st AS (
  SELECT c_custkey, face,
         CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u)
              ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS s,
         CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v)
              ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS t
  FROM uv
),
ij AS (
  SELECT c_custkey, face,
         least(1073741823, greatest(0,
             CAST(floor(s * 1073741824) AS BIGINT))) AS i,
         least(1073741823, greatest(0,
             CAST(floor(t * 1073741824) AS BIGINT))) AS j
  FROM st
),
h8 AS (
  SELECT c_custkey, i, j,
         CAST(face AS UBIGINT) * CAST({1 << 60} AS UBIGINT) AS n,
         CAST(face & 1 AS BIGINT) AS bits
  FROM ij
),
{",".join(iters)},
ids AS (
  SELECT c_custkey, n * CAST(2 AS UBIGINT) + CAST(1 AS UBIGINT) AS id
  FROM h0
),
parents AS (
  SELECT c_custkey,
         (id & ~CAST({new_lsb - 1} AS UBIGINT))
           | CAST({new_lsb} AS UBIGINT) AS pid
  FROM ids
),
tokens AS (
  SELECT c_custkey,
         coalesce(nullif(rtrim(lower(lpad(hex(pid), 16, '0')), '0'), ''),
                  'X') AS cell
  FROM parents
)
SELECT cell, count(*) AS n_customers FROM tokens GROUP BY cell
"""


S2_CELLS_SQL = _s2_cells_oracle()


def local_lr_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LocalLogisticRegression (A12): per-user features from events
    (gathered value sums), label = 'did the user ever purchase';
    returns the fitted coefficients — deterministic FISTA training
    inside a single task."""
    from pyspark.ml.feature import VectorAssembler

    ev = load(spark, sf_dir, "events")
    feats = (ev.groupBy("user_id")
             .agg(F.sum(F.when(F.col("event_type") == "view", F.col("value"))
                        .otherwise(0.0)).alias("view_value"),
                  F.sum(F.when(F.col("event_type") == "click", F.col("value"))
                        .otherwise(0.0)).alias("click_value"),
                  F.count(F.lit(1)).cast("double").alias("n_events"),
                  F.max(F.when(F.col("event_type") == "purchase", 1.0)
                        .otherwise(0.0)).alias("label")))
    assembled = VectorAssembler(
        inputCols=["view_value", "click_value", "n_events"],
        outputCol="features").transform(feats).coalesce(1)
    model = LocalLogisticRegression(regParam=0.01, elasticNetParam=0.5,
                                    maxIter=200).fit(assembled)
    coefs = [float(c) for c in model.coefficients]
    return local_frame(
        spark, [(round(model.intercept, 3), *[round(c, 3) for c in coefs])],
        "intercept double, w_view double, w_click double, w_events double")


# --- cross-engine-replayable Newton steps -----------------------------------

def _det2(a, b, c, d) -> str:
    return f"(({a})*({d}) - ({b})*({c}))"


def _det3(m) -> str:
    return ("(({})*{} - ({})*{} + ({})*{})".format(
        m[0][0], _det2(m[1][1], m[1][2], m[2][1], m[2][2]),
        m[0][1], _det2(m[1][0], m[1][2], m[2][0], m[2][2]),
        m[0][2], _det2(m[1][0], m[1][1], m[2][0], m[2][1])))


def _det4(m) -> str:
    def minor(j):
        return [[m[r][c] for c in range(4) if c != j] for r in (1, 2, 3)]
    return ("(({})*{} - ({})*{} + ({})*{} - ({})*{})".format(
        m[0][0], _det3(minor(0)), m[0][1], _det3(minor(1)),
        m[0][2], _det3(minor(2)), m[0][3], _det3(minor(3))))


def _newton_sql(n_iter: int = 2) -> str:
    """SQL text for ``n_iter`` unrolled Newton (IRLS) steps of a
    4-parameter logistic regression over per-user event features —
    executed VERBATIM by both Spark SQL and DuckDB, so every arithmetic
    expression has identical association on both engines and the
    fitted coefficients hash-match exactly.

    Determinism (the hard part — plain round() is NOT enough):

    - features live on an integer 1e-4 lattice (``floor(x*1e4 + 0.5)``
      — per-user float sums carry only ~1e-13 noise, far from the
      boundary);
    - iteration 1 (p=0.5 ⇒ weight 0.25 and residual ±0.5 constant)
      has its 14 moment sums computed as EXACT INTEGER sums over the
      lattice (associative, order-independent); the 0.5·1e-4 /
      0.25·1e-8 scale factors re-enter as identical double literals.
      This matters because ±0.5 × lattice features lands the gradient
      sums EXACTLY on the 6dp rounding grid, where Spark (HALF_UP on
      the shortest-decimal repr) and DuckDB (binary value) disagree;
    - iteration ≥2 moments involve exp(); they are quantized with
      ``floor(x*1e6 + 0.5)/1e6`` — pure double math evaluated
      identically by both engines — not round(). Off-grid values
      make a boundary hit ~1e-7-improbable; libm exp() ULP spread
      washes out in the quantizer;
    - the 4×4 Newton solve is Cramer's rule emitted once by _det4 —
      identical text, identical IEEE evaluation, in both dialects.

    Scale shape: each iteration is ONE distributed aggregation over
    users; the solve is a scalar expression."""
    # lattice features (units of 1e-4): q0 = intercept's 1.0
    qs = ["10000", "q1", "q2", "q3"]
    # real-valued features for the sigmoid
    xs = ["1.0", "(CAST(q1 AS DOUBLE) * 0.0001)",
          "(CAST(q2 AS DOUBLE) * 0.0001)", "(CAST(q3 AS DOUBLE) * 0.0001)"]

    def qf(expr: str) -> str:
        # 1e6/5e-1 literals: Spark SQL types 1000000.0 as DECIMAL and
        # long/DECIMAL division yields DECIMAL output (driver-unsafe);
        # scientific notation is DOUBLE in both dialects
        return f"floor(({expr}) * 1e6 + 5e-1) / 1e6"

    def int_moments(prefix: str) -> str:
        # p = 0.5: residual (y - 0.5) = (2y-1)/2, weight p(1-p) = 1/4;
        # exact integer sums, accumulated as DECIMAL(38,0) in both
        # dialects: the per-row products reach ~1e10, so a BIGINT
        # accumulator would overflow around 1e9 users (q.v.
        # relational._lattice_avg_4dp — same headroom rationale);
        # decimal sums stay exact to 1e38 and equally associative.
        # Scales re-applied in the solve inputs below.
        terms = [f"sum(CAST(({qs[k]}) * (2*y - 1) AS DECIMAL(38,0))) "
                 f"AS {prefix}ig{k}"
                 for k in range(4)]
        for j in range(4):
            for k in range(j, 4):
                terms.append(f"sum(CAST(({qs[j]}) * ({qs[k]}) "
                             f"AS DECIMAL(38,0))) "
                             f"AS {prefix}ih{j}{k}")
        return ",\n         ".join(terms)

    def real_moments(prefix: str) -> str:
        terms = [f"{qf(f'sum(({xs[k]})*(CAST(y AS DOUBLE) - p))')} "
                 f"AS {prefix}g{k}" for k in range(4)]
        for j in range(4):
            for k in range(j, 4):
                terms.append(
                    f"{qf(f'sum(p*(1.0 - p)*({xs[j]})*({xs[k]}))')} "
                    f"AS {prefix}h{j}{k}")
        return ",\n         ".join(terms)

    def solve(g, h, out_prefix: str, base: list[str]) -> str:
        det = _det4(h)
        cols = []
        for k in range(4):
            num = [[g[j] if c == k else h[j][c] for c in range(4)]
                   for j in range(4)]
            cols.append(f"{qf(f'({base[k]}) + {_det4(num)} / ({det})')} "
                        f"AS {out_prefix}{k}")
        return ",\n         ".join(cols)

    int_g = [f"(CAST(aig{k} AS DOUBLE) * 0.00005)" for k in range(4)]
    int_h = [[f"(CAST(aih{min(j, k)}{max(j, k)} AS DOUBLE) * 0.0000000025)"
              for k in range(4)] for j in range(4)]

    parts = [f"""WITH feats AS (
  SELECT user_id,
         CAST(floor(sum(CASE WHEN event_type = 'view' THEN value
                             ELSE 0.0 END) / 1000.0 * 10000.0 + 0.5)
              AS BIGINT) AS q1,
         CAST(floor(sum(CASE WHEN event_type = 'click' THEN value
                             ELSE 0.0 END) / 1000.0 * 10000.0 + 0.5)
              AS BIGINT) AS q2,
         CAST(count(*) * 100 AS BIGINT) AS q3,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
m1 AS (
  SELECT {int_moments('a')}
  FROM feats
),
b1 AS (
  SELECT {solve(int_g, int_h, 'b', ['0.0', '0.0', '0.0', '0.0'])}
  FROM m1
)"""]
    prev = "b1"
    for it in range(2, n_iter + 1):
        prob = (f"1.0/(1.0 + exp(-(b0*1.0 + b1*{xs[1]} + b2*{xs[2]} "
                f"+ b3*{xs[3]})))")
        c_g = [f"cg{k}" for k in range(4)]
        c_h = [[f"ch{min(j, k)}{max(j, k)}" for k in range(4)]
               for j in range(4)]
        parts.append(f"""i{it} AS (
  SELECT f.*, b.b0, b.b1, b.b2, b.b3, {prob} AS p
  FROM feats f CROSS JOIN {prev} b
),
m{it} AS (
  SELECT b0, b1, b2, b3,
         {real_moments('c')}
  FROM i{it} GROUP BY b0, b1, b2, b3
),
b{it} AS (
  SELECT {solve(c_g, c_h, 'nb', ['b0', 'b1', 'b2', 'b3'])}
  FROM m{it}
),
b{it}r AS (
  SELECT nb0 AS b0, nb1 AS b1, nb2 AS b2, nb3 AS b3 FROM b{it}
)""")
        prev = f"b{it}r"
    return (",\n".join(parts)
            + f"\nSELECT b0 AS intercept, b1 AS w_view, b2 AS w_click,"
              f" b3 AS w_events FROM {prev}")


LR_NEWTON_SQL = _newton_sql(2)


def lr_newton_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Newton (IRLS) steps of logistic regression,
    oracle-checked end-to-end: Spark SQL executes the exact text that
    DuckDB replays (LR_NEWTON_SQL), so even the iterative-optimizer
    path gets a cross-engine hash row — the complement to
    local_lr_model's rows-only FISTA training (whose converged output
    is pinned by R-glmnet goldens instead)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(LR_NEWTON_SQL)
