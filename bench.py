"""BENCH harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1).  The FINAL stdout line is the one-line
driver contract (round-14 verdict #1 — it must be LAST so a stdout-tail
capture keeps it whole):

    {"kind": "per_query", "metric": "warm_total_sec", "value": N,
     "unit": "sec", "queries": {op: sec, ...}, "sf": ..., "cpus": N}

Preceding lines carry the full detail (cold map, wall) and a compact
summary (bucket split, control ratio, movers) for the artifacts.

Each query executes end-to-end into the ``noop`` sink so timing covers the
full distributed plan (scan → shuffle → operators) without driver-side
collect overhead distorting the numbers.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from build_pipeline_with_apache_beam_spark import registry
from build_pipeline_with_apache_beam_spark.scratch import namespace
from build_pipeline_with_apache_beam_spark.session import get_spark

# Pinned noise-control set (round-11 verdict #3): twelve cheap, structurally
# stable ops spanning unrelated families that rounds do not rework.  Their
# median warm ratio vs the prior round's artifact estimates ambient host
# noise, and the summary line reports BOTH the raw s/op and the
# control-adjusted s/op so the 2x regression gate compares like with like.
CONTROL_OPS = (
    "scalar_string_ops", "scalar_math_ops", "scalar_date_ops",
    "filter_time_range", "project_whitelist", "join_inner_equi",
    "agg_groupby_multi", "window_lag_lead", "setop_union_all",
    "sort_limit_topk", "text_token_count", "array_zip_dot",
)

# Oracle-companion bucket (round-12 verdict #4): the exact ground-truth
# dedup family exists to VERIFY the production sketches (LSH/minhash/
# simhash) — deliberately quadratic in near-dup density, annotated
# output-bound in SCALE_r*.json, and ≈34% of the sf1 wall.  Folding it
# into one headline lets a real production-op regression hide under its
# variance, so the summary reports s_per_op for BOTH buckets.
ORACLE_COMPANION_OPS = (
    "dedup_ngram_jaccard", "dedup_containment", "dedup_cluster_canonical",
    "dedup_connected_groups", "corpus_dedup_rate_curve",
)

# Ops whose WARM pass rides a persisted-index stage built by the cold pass
# (round-14 verdict #8: keep reuse ops honest — the index-build cost must
# stay visible).  The summary line reports their cold seconds beside the
# headline warm numbers.  The graph ops read the staged strong-tie cut.
REUSE_INDEX_OPS = (
    "dedup_fuzzy_minhash", "dedup_incremental_minhash",
    "dedup_minhash_recall_eval", "sql_recursive_cte",
    "graph_triangle_count", "graph_khop_reachability", "graph_assortativity",
    "graph_component_size_dist", "graph_link_prediction_scores",
    "graph_label_propagation", "graph_shortest_paths_weighted",
)


def _effective_cpus() -> int:
    """The core count Spark actually runs with (master local[N]) — NOT
    os.cpu_count(): the driver re-runs the bench at a lower
    $SPARK_GRAFT_CPUS to measure scaling, and round-14 found the summary
    claiming 32 cpus for a local[8] run (and the baseline-mismatch guard
    comparing the wrong value)."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        return os.cpu_count() or 8


def _round_no(fname: str) -> int:
    """BENCH_local_r<N>.json → N.  Numeric sort so r100 outranks r99
    (round-11 advice: lexicographic sort picks a stale baseline).  Only
    the exact canonical shape counts (round-12 advice: concatenating
    every digit run parsed a suffixed variant like ``_r12_sf1`` as round
    121, silently hijacking baseline selection) — any suffixed variant
    returns -1 and sorts below every real round."""
    m = re.fullmatch(r"BENCH_local_r(\d+)\.json", fname)
    return int(m.group(1)) if m else -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")

    qs = registry.queries()
    # iteration aid: SPARK_GRAFT_BENCH_OPS="op1,op2" restricts the sweep
    # (the driver leaves it unset and benches the full registry)
    only = {s for s in os.environ.get(
        "SPARK_GRAFT_BENCH_OPS", "").split(",") if s}
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    # warm up the JVM + parquet footer caches on the smallest table
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # two passes per query, plus a CONDITIONAL third (round-3 verdict #5 —
    # the unconditional second warm pass doubled warm wall time yet changed
    # the minimum for only 3/331 ops): pass 1 pays plan compilation +
    # codegen JIT (recorded as cold); pass 2 is the headline warm number.
    # A warm pass should never exceed its own cold pass (cold ⊇ compile +
    # JIT), so warm1 > cold flags interference (GC/noisy neighbor) and ONLY
    # then is the op re-measured and the minimum kept — steady-state
    # numbers stay comparable across rounds at ~2/3 the sweep wall.
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}

    def _run_once(name: str, fn, attempt: str) -> float:
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"# bench error {name} ({attempt}): {e}", file=sys.stderr)
            return -1.0

    # derived artifacts outlive the process that built them: drop the ones
    # an earlier run left, so the cold pass builds every one of them again
    shutil.rmtree(namespace(sf_dir), ignore_errors=True)
    t_total = time.time()
    for name, fn in sorted(qs.items()):
        cold[name] = _run_once(name, fn, "cold")
        w1 = _run_once(name, fn, "warm1")
        if w1 > 0 and 0 < cold[name] < w1:
            w2 = _run_once(name, fn, "warm2")
            warm[name] = min(w1, w2) if w2 > 0 else w1
        else:
            warm[name] = w1
        # drop cached/persisted state between queries: leaked cache blocks +
        # old shuffle files otherwise accumulate across ~250 runs and the
        # resulting GC pressure adds multi-second noise to later queries
        spark.catalog.clearCache()
    total = round(time.time() - t_total, 3)

    eff_cpus = _effective_cpus()
    warm_total = round(sum(v for v in warm.values() if v > 0), 3)
    n_ops = sum(1 for v in warm.values() if v > 0)
    print(json.dumps({
        "metric": "warm_total_sec",
        "value": warm_total,
        "unit": "sec",
        "queries": warm,
        "queries_cold": cold,
        "wall_total_sec": total,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": eff_cpus,
    }))
    # Compact summary line (round-10 verdict #5): small enough to survive
    # any stdout-tail truncation, so the headline totals are always
    # recoverable even if the per-query lines are cut.
    movers: dict[str, list[float]] = {}
    n_movers = 0
    baseline_name = None
    baseline_skip = None
    ctrl_ratio = None
    here = os.path.dirname(os.path.abspath(__file__))
    prior = sorted(
        (f for f in os.listdir(here)
         if f.startswith("BENCH_local_r") and f.endswith(".json")
         and _round_no(f) >= 0),  # canonical shape only — no variants
        key=_round_no)
    if prior:
        try:
            with open(os.path.join(here, prior[-1])) as fh:
                prev_doc = json.load(fh)
            prev = prev_doc.get("queries", {})
            baseline_name = prior[-1]
            # a baseline recorded at a different scale factor or core
            # count would flag every op as a mover — annotate and skip
            # the comparison instead (round-11 advice)
            cur_sf = float(sf) if sf.replace(".", "").isdigit() else sf
            if (prev_doc.get("sf") != cur_sf
                    or prev_doc.get("cpus") != eff_cpus):
                baseline_skip = (
                    f"baseline sf={prev_doc.get('sf')}/"
                    f"cpus={prev_doc.get('cpus')} != "
                    f"current sf={cur_sf}/cpus={eff_cpus}")
            else:
                for k, v in warm.items():
                    p = prev.get(k)
                    if p and p > 0 and v > 0 and v > 1.5 * p:
                        movers[k] = [round(p, 3), round(v, 3)]
                # keep the tail parseable even on a pathologically noisy
                # host: top 12 movers by ratio, the true count reported via
                # movers_gt_1_5x_count (computed before this truncation)
                n_movers = len(movers)
                if len(movers) > 12:
                    top = sorted(movers,
                                 key=lambda k: movers[k][1] / movers[k][0],
                                 reverse=True)[:12]
                    movers = {k: movers[k] for k in top}
                ratios = sorted(
                    warm[k] / prev[k] for k in CONTROL_OPS
                    if warm.get(k, 0) > 0 and prev.get(k, 0) > 0)
                if len(ratios) >= 6:  # median needs most controls present
                    mid = len(ratios) // 2
                    ctrl_ratio = round(
                        ratios[mid] if len(ratios) % 2
                        else (ratios[mid - 1] + ratios[mid]) / 2, 4)
        except Exception:  # noqa: BLE001 — summary must never kill the bench
            pass
    s_per_op = round(warm_total / n_ops, 4) if n_ops else None
    companion = set(ORACLE_COMPANION_OPS)
    prod_total = round(sum(
        v for k, v in warm.items() if v > 0 and k not in companion), 3)
    n_prod = sum(1 for k, v in warm.items() if v > 0 and k not in companion)
    comp_total = round(sum(
        v for k, v in warm.items() if v > 0 and k in companion), 3)
    print(json.dumps({
        "metric": "warm_total_sec",
        "value": warm_total,
        "unit": "sec",
        "summary_of": "full detail line above; final line = warm per-query",
        "n_ops": n_ops,
        "s_per_op": s_per_op,
        # two-bucket split (round-12 verdict #4): production ops vs the
        # exact ground-truth oracle-companion family — a regression in a
        # production op must not hide under the companions' variance
        "production_total_sec": prod_total,
        "s_per_op_production": (
            round(prod_total / n_prod, 4) if n_prod else None),
        "oracle_companion_total_sec": comp_total,
        "oracle_companion_ops": len(companion & set(warm)),
        # ambient-noise normalization: raw s/op deflated by the pinned
        # control set's median warm ratio vs the baseline artifact (a
        # loaded host inflates controls and subjects alike)
        "control_median_ratio": ctrl_ratio,
        "s_per_op_noise_adjusted": (
            round(s_per_op / ctrl_ratio, 4)
            if s_per_op and ctrl_ratio else None),
        # index ops: warm rides the cold pass's persisted stage, so the
        # index-build cost is reported beside the headline (r14 #8)
        "reuse_ops_cold": {
            k: cold[k] for k in REUSE_INDEX_OPS if cold.get(k, 0) > 0},
        "n_errors": sum(1 for v in warm.values() if v <= 0),
        "wall_total_sec": total,
        "movers_gt_1_5x_vs": baseline_name,
        "movers_baseline_skipped": baseline_skip,
        "movers_gt_1_5x_count": n_movers,
        "movers_gt_1_5x": movers,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": eff_cpus,
    }))
    # FINAL stdout line = the complete parseable per-query JSON (round-14
    # verdict #1: with the full line printed FIRST, the driver's stdout
    # tail truncated it mid-map two rounds running — per_query/geomean/
    # scaling all came back empty).  Warm-only + compact separators keeps
    # it as small as a full map can be; the cold map and buckets stay on
    # the lines above (same numbers, same methodology as r13/r14).  The
    # "kind" field tells this line apart from the two above it, which
    # share its metric name.
    print(json.dumps({
        "kind": "per_query",
        "metric": "warm_total_sec",
        "value": warm_total,
        "unit": "sec",
        "queries": warm,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": eff_cpus,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
