"""The benchmark's workloads: which declared queries each one runs.

Every name is a key of ``__spark_entry__.queries()`` with a DuckDB
oracle in ``__spark_entry__.oracle_sql()``. Queries run sequentially,
in the listed order, from one driver process (a closed loop with one
client).

BENCHMARK.json lists feature_pipeline and llm_curation. tpch_analytics
stays runnable by name; it is left out of the listed set to keep a full
round of benchmark runs within its time budget.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]  # read once during set-up to warm them


# Scale factor of the generated tables (lineitem 60k rows). Larger
# scales do not fit the benchmark's per-run time budget: one run holds
# session start, a cold pass, the oracle check and the warm passes.
SF = 0.01


# Why each listed workload exists is in BENCHMARK.json.
WORKLOADS = {w.name: w for w in (
    Workload(
        "feature_pipeline",
        ("gather", "gather_encoder_distfit", "binning"),
        ("events", "lineitem")),
    Workload(
        "llm_curation",
        ("exact_dedup", "dup_clusters", "embedding_quantize"),
        ("documents", "embeddings")),
    # Execution-bound joins, shuffles and aggregates; no UDFs and no
    # operator fits.
    Workload(
        "tpch_analytics",
        ("pricing_summary", "tpch_q5_local_supplier", "tpch_q9_product_profit",
         "tpch_q18_large_orders"),
        ("region", "nation", "customer", "supplier", "part", "orders",
         "lineitem")),
)}
