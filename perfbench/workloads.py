"""Workload definitions and host settings for the benchmark.

Each workload is a fixed job mix of registered operators.  The benchmark
runs the ops through ``registry.queries()`` exactly as the engine's own
bench does (op function → ``noop`` sink); the ``--seed`` argument only
permutes the order of the ops inside each pass.  Workload and metric
names are stable identifiers.
"""

from __future__ import annotations

import os

#: Input tables: the engine's seed-42 TPC-H-like test data at scale
#: factor 0.01, one parquet file per table, kept with the benchmark so every
#: checkout reads the same bytes.  The data never depends on --seed; the
#: seed varies the op order only, so the correctness check can be exact.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01")

#: Driver JVM heap.  The session default (24g) overcommits small hosts.
DRIVER_MEM = "3g"

#: Timed set-up repetitions per run (``setup_s`` is their median).  One
#: more set-up, which launches the driver JVM, runs first and is not timed.
SETUP_REPEATS = 5

#: Lower bound on timed warm passes per run, whatever ``--seconds`` says.
MIN_WARM_PASSES = 3


def host_cpus() -> int:
    """``$(nproc)``: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


WORKLOADS: dict[str, dict] = {
    "etl_ingest": {
        "why": ("The paper's reference ETL: docstore scan, normalize, "
                "partitioned lake write, watermark commit, plus a real "
                "micro-batch stream. Sources and streaming do most work."),
        "stresses": ["sources", "streaming", "session"],
        "bypasses": ["catalog.register_views"],
        # the docstore collection every docstore op reads is a set-up fixture
        "fixtures": ["docstore_collection"],
        "ops": [
            "pipeline_reference_etl",
            "scan_docstore_count_pushdown",
            "normalize_flatten_nested",
            "stream_foreach_batch_sink",
            "merge_upsert",
        ],
    },
    # defined and runnable, but not in BENCHMARK.json: a third workload does
    # not fit the total run-time budget of the benchmark's runs
    "sql_analytics": {
        "why": ("Read-only query surface: TPC-H shapes, subqueries, semi/anti "
                "joins, grouping sets, windows, set ops. Catalog, Catalyst "
                "and shuffle-join exec dominate; no writes or streams."),
        "stresses": ["catalog", "plan", "exec"],
        "bypasses": ["operators.eager", "sources", "streaming"],
        "fixtures": [],
        "ops": [
            "flagship_q3_topk_revenue",
            "flagship_q18_large_orders",
            "subquery_in",
            "join_semi",
            "join_anti",
            "agg_grouping_sets",
            "window_rank_dense",
            "setop_intersect",
        ],
    },
    "llm_curation": {
        "why": ("LLM-data operators: minhash dedup with a reuse index, IVF "
                "ANN, graph dup-clustering. Eager side jobs and CPU-bound "
                "kernels in the operators layer dominate."),
        "stresses": ["operators", "exec"],
        "bypasses": ["sources", "streaming", "catalog.register_views"],
        "fixtures": [],
        "ops": [
            "dedup_fuzzy_minhash",
            "sim_ann_ivf_topk",
            "graph_label_propagation",
        ],
    },
}

#: Result row counts for ops that have no DuckDB oracle entry, measured on
#: the tables in DATA_DIR.  Every op above has an
#: oracle today, so this is empty; an op added without an oracle must be
#: pinned here or its check fails.
PINNED_ROWS: dict[str, int] = {}
