"""Scale step-up bench: measure representative ops at sf0.1 AND sf1 (10x)
and record the scaling ratio per op, plus physical-plan markers re-checked
on the real sf1 data.

The point is the 100x question: a plan that survives 10x with ~linear cost
and keeps its broadcast/pushdown/skew decisions at the bigger sf is
evidence the design scales; an op whose ratio blows past linear is flagged.

Writes SCALE_r{N}.json at the repo root:
    {"sf_small": ..., "sf_big": ..., "ratio_data": 10,
     "ops": {op: {"small_sec": s, "big_sec": s, "ratio": r, "flag": ...}},
     "plans": {op: {marker: bool}}}

Usage: python tools/bench_scale.py [small_sf_dir] [big_sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from build_pipeline_with_apache_beam_spark import registry  # noqa: E402
from build_pipeline_with_apache_beam_spark.session import get_spark  # noqa: E402

# representative set: the flagship funnel, every dedup/sim op, the heavy
# joins/aggs, streaming, and the hot text/corpus passes
SCALE_OPS = [
    "corpus_curation_funnel",
    "flagship_q3_topk_revenue", "flagship_q9_product_profit",
    "sql_tpch_q6", "agg_salted_skew", "join_skew_salted",
    "join_broadcast", "join_bucketed_colocated", "join_range_bucketized",
    "join_asof", "window_rolling_weighted_avg", "corpus_global_shuffle",
    "dedup_exact", "dedup_fuzzy_minhash", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_connected_groups",
    "dedup_incremental_minhash", "dedup_embedding_cosine",
    "sim_cosine_topk", "sim_cosine_topk_pandas", "sim_ann_lsh_topk",
    "sim_ann_ivf_topk",
    "text_gopher_filter", "text_tfidf_keywords", "text_fingerprint",
    "stream_window_append_watermark", "stream_docstore_tail",
    "stream_watermark_dedup",
    # round-3-window additions: graph analytics, basket mining, the
    # behavioral/DQ/timeseries batch, and the staged-HOF embedding ops
    "graph_degree_distribution", "graph_triangle_count",
    "graph_pagerank_trade", "graph_khop_reachability",
    "agg_market_basket_lift", "events_dau_mau_stickiness",
    "events_rfm_segmentation", "events_session_path_topk",
    "events_gini_concentration", "events_cart_abandonment",
    "reshape_session_event_arrays", "dq_distribution_drift_psi",
    "dq_null_profile", "agg_corr_matrix", "agg_weighted_median",
    "timeseries_mad_anomaly", "timeseries_cusum_changepoint",
    "timeseries_autocorrelation", "merge_cdc_apply",
    "corpus_token_budget_apportion", "corpus_importance_weights_ess",
    "text_readability_flesch", "text_hapax_ratio",
    "text_ocr_artifact_score", "scan_orc_roundtrip",
    "embedding_quantize_error", "embedding_normalize_quantize",
    # round-2-continuation additions: span dedup, sweep-line, sketches,
    # streaks, attribution, components, MG heavy hitters, span corruption
    "dedup_span_chunks", "timeseries_active_intervals",
    "agg_count_min_sketch", "window_gaps_and_islands",
    "events_attribution_last_touch", "graph_component_size_dist",
    "dedup_minhash_recall_eval", "corpus_span_corruption",
    "agg_heavy_hitters_exact",
    "join_range_gap_histogram",   # bounded-output twin of the range join
    # round-3 additions: sketch set algebra, importance weights, bigram LM,
    # link prediction, min-k sampling, footer profiling, exact containment
    "agg_kmv_distinct_intersect", "corpus_dsir_importance",
    "text_bigram_lm_quality", "graph_link_prediction_scores",
    "corpus_reservoir_sample_per_source", "scan_parquet_rowgroup_profile",
    "dedup_containment", "agg_pareto_threshold",
    # round-3 continuation: CEP row patterns, interval-overlap join,
    # SemDeDup (all three have in-bucket/in-cell quadratic hazards the
    # emit-once / MAX_BLOCK bounds must keep linear-ish)
    "events_pattern_match_cep", "join_interval_overlap", "corpus_semdedup",
    # round-3 finale: LPA communities (iterative, edge-bounded), key
    # profiling (multi-distinct single scan), Bloom semi-join reduction
    # (filter build + prefiltered shuffle), streaming CEP (session state)
    "graph_label_propagation", "dq_uniqueness_profile",
    "join_bloom_semi_reduction", "stream_cep_sessions",
    # round-5 consolidation: every op probed in ANY earlier SCALE_* artifact
    # is re-listed here so one artifact supersedes them all (r4 verdict #8)
    "corpus_dedup_rate_curve", "dedup_cluster_canonical",
    "agg_groupby_multi", "agg_bitmap_distinct", "events_user_lifecycle",
    # round-11 additions: the reworked one-job-per-iteration Lloyd trainer
    # and the newly oracle-promoted phash pipeline both need a measured
    # 10x ratio on record (corpus_dsir_importance is already listed above)
    "embedding_kmeans_train", "multimodal_phash_neardup",
    # round-12 additions: the Arrow-batched docstore legs (batch scan,
    # append round-trip, composed ETL batch+stream) and the staged
    # recursive CTE all changed this round and need fresh 10x ratios
    "scan_docstore_pushdown", "sink_docstore_append",
    "pipeline_reference_etl", "pipeline_reference_etl_stream",
    "sql_recursive_cte",
]

# plan markers that must hold on the BIG sf (static explain on real data):
# dim joins stay broadcast, scans keep pushdown, DPP still fires
PLAN_CHECKS = {
    "join_broadcast": ["BroadcastHashJoin"],
    # r9: Q3's only broadcast was the corpus-scaling filtered customer,
    # now shuffle_hash-pinned (sf3 probe) — the marker asserts the pin
    "flagship_q3_topk_revenue": ["ShuffledHashJoin", "TakeOrderedAndProject"],
    # Q9's fixed dims stay broadcast; its orders fact join is pinned
    "flagship_q9_product_profit": ["BroadcastHashJoin", "ShuffledHashJoin"],
    "scan_parquet_project": ["ReadSchema"],   # pure projection — no filter
    "filter_time_range": ["PushedFilters"],
    "join_dynamic_partition_pruning": ["dynamicpruning"],
    "sql_tpch_q6": ["PushedFilters"],
    "sort_limit_topk": ["TakeOrderedAndProject"],
}

# Round-5 gate (r4 verdict #3: "make 'ok' mean something"): any ratio
# above RATIO_GATE must carry an explicit annotation naming its measured
# root cause, or the op is flagged superlinear and the artifact FAILS the
# pytest gate (tests/test_scale_gate.py).  Nothing passes uninvestigated.
RATIO_GATE = 3.0

# op -> written-down root cause for a >3x wall ratio on 10x data.
# Two legitimate classes:
#  - output-bound / ground-truth: the RESULT cardinality grows
#    superlinearly; wall tracking output is the optimal algorithm;
#  - compute-bound linear: the small-sf run already saturates all cores,
#    so 10x data is up to ~10x wall — linear scaling, not a plan failure.
# A capped op must NOT need an output-bound annotation — that is the point
# of the cap (join_range_gap_histogram moved off this list in round 5).
ANNOTATIONS = {
    # Each annotation carries a per-op max_ratio BOUND (advice r5): an
    # annotated op is still gated — if its measured wall ratio exceeds its
    # own bound it flags "superlinear" despite the annotation, so a real
    # regression (a compute-bound-linear op jumping 3x -> 50x) cannot hide
    # behind a stale root-cause string.  Bound semantics per class:
    #  - compute-bound linear: bound = data ratio (10x data may cost up to
    #    ~10x wall when the small sf already saturates all cores);
    #  - output-bound / ground truth: bound set from the measured
    #    output-growth envelope (wall must track output, with slack);
    #  - startup-dominated streaming: absolute seconds are tiny; bound
    #    allows trigger jitter but catches a real per-row regression.
    "join_range_bucketized": {"max_ratio": 25.0, "note":
        "output-bound ground truth: emits ALL pairs within dt, output is "
        "rows x per-bucket density by definition; excluded by name, the "
        "capped production twin is join_range_gap_histogram"},
    "dedup_simhash": {"max_ratio": 20.0, "note":
        "output-bound: K replicated near-identical copies per doc give "
        "~K^2/2 TRUE near-dup pairs; finds are real"},
    "dedup_fuzzy_minhash": {"max_ratio": 20.0, "note":
        "ground-truth-bearing since r9: the banded-oracle form computes "
        "the COMPLETE exact shingle truth (df-capped inverted index) "
        "alongside the LSH pipeline — same cost class as "
        "dedup_minhash_recall_eval, quadratic only in dup density"},
    "dedup_incremental_minhash": {"max_ratio": 20.0, "note":
        "ground-truth-bearing since r9 (see dedup_fuzzy_minhash); the "
        "production pair surface stays batch-scaling "
        "(incremental_minhash_pairs)"},
    "dedup_ngram_jaccard": {"max_ratio": 20.0, "note":
        "ground truth: exact blocked all-pairs Jaccard, quadratic in "
        "near-dup density by design (it verifies the LSH ops)"},
    "dedup_connected_groups": {"max_ratio": 20.0, "note":
        "built on dedup_ngram_jaccard's exact pair set"},
    "dedup_cluster_canonical": {"max_ratio": 20.0, "note":
        "built on dedup_ngram_jaccard's exact pair set"},
    "corpus_dedup_rate_curve": {"max_ratio": 20.0, "note":
        "sweeps thresholds over dedup_ngram_jaccard's exact pair set"},
    "stream_window_append_watermark": {"max_ratio": 8.0, "note":
        "micro-batch trigger startup dominates at both sfs; absolute "
        "seconds, not per-row cost"},
    "stream_docstore_tail": {"max_ratio": 8.0, "note":
        "micro-batch trigger startup dominates"},
    "stream_watermark_dedup": {"max_ratio": 8.0, "note":
        "micro-batch trigger startup dominates"},
    "stream_cep_sessions": {"max_ratio": 8.0, "note":
        "micro-batch trigger startup dominates"},
    "agg_pareto_threshold": {"max_ratio": 6.0, "note":
        "r9 shuffle_hash pin replaced the corpus-growing orders broadcast "
        "(290 MiB at sf3), so sf1 pays the key shuffle the 100 TB plan "
        "requires; warm behavior is sublinear (measured 3x: 1.9-2.1 s at "
        "sf0.1 vs 2.2-2.6 s at sf1, ratio ~1.15) and the bound covers the "
        "probe's best-of-2 cold-start tail (observed 3.2)"},
    "dedup_containment": {"max_ratio": 16.0, "note":
        "output-bound ground truth: exact blocked containment pairs; r5 "
        "measured wall tracking output 1:1 (10.55x wall on 10.28x output "
        "rows); bound = output envelope + slack"},
    "dedup_embedding_cosine": {"max_ratio": 15.0, "note":
        "output-bound on replicated corpora: the scale-up's per-copy "
        "embedding bias keeps copies above the cosine threshold, so every "
        "copy-set is a true near-dup clique (r5: >20000x output for 6.7x "
        "wall) — LSH candidates stay bucket-bounded"},
    # compute-bound linear ops: the small-sf run saturates all 32 cores,
    # so 10x rows -> up to 10x wall; per-row cost flat; output verified
    # FLAT at both sfs (not output-bound).  Bound = data ratio.
    "text_ocr_artifact_score": {"max_ratio": 10.0, "note":
        "compute-bound linear: 4 JVM regexp_counts over every doc; "
        "sublinear per-row in every probe to date"},
    "window_rolling_weighted_avg": {"max_ratio": 10.0, "note":
        "compute-bound linear at sf0.1->sf1; the r4 8.5x was sf10->sf100 "
        "single-disk sort/spill pressure, an environment bound"},
    "join_bucketed_colocated": {"max_ratio": 10.0, "note":
        "compute-bound linear: bucketed sort-merge over 10x rows, output "
        "flat (5 rows); sublinear per-row"},
    "timeseries_active_intervals": {"max_ratio": 10.0, "note":
        "compute-bound linear: sweep-line over 10x events, output flat "
        "(2501 rows); sublinear per-row"},
    "corpus_semdedup": {"max_ratio": 12.0, "note":
        "density-driven in-cell pair work, MAX_BLOCK-tiled: 10x rows in "
        "fixed cells is up to 100x pairspace; measured strongly sublinear "
        "in the Sigma|cell|^2 work term, output flat (8 rows)"},
    "scan_parquet_rowgroup_profile": {"max_ratio": 10.0, "note":
        "linear in footer count: sf0.1 is one parquet file, sf1 a "
        "40-part directory; absolutes sub-second"},
    "events_dau_mau_stickiness": {"max_ratio": 6.0, "note":
        "two global distinct-user aggregates over day/month windows: 10x "
        "events at a fixed user population densify per-day distinct work, "
        "measured ~2.5-3.6x across rounds on a sub-second baseline (r7 "
        "2.76x, r8 3.6x with a lucky-fast small pass) — genuinely "
        "straddles the generic 3x gate, absolutes ~0.8 -> ~2.2 s"},
}


def _run(fn, spark, sf_dir) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> int:
    raw_args = sys.argv[1:]
    args, skip_next = [], False
    for a in raw_args:
        if skip_next:
            skip_next = False
            continue
        if a in ("--dense-dir", "--dense30-dir"):
            skip_next = True
            continue
        if not a.startswith("--"):
            args.append(a)
    plans_only = "--plans-only" in sys.argv
    small = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    big = (args[1] if len(args) > 1
           else os.path.join(REPO, ".scratch", "sfscale", "sf1"))
    if len(args) <= 2:
        # no default artifact name (r6 verdict #2: a stale default both
        # mislabels bare invocations and plants a file the
        # superseded-artifacts gate rejects) — the caller must name the
        # round's artifact of record explicitly.
        print("usage: bench_scale.py <small_sf_dir> <big_sf_dir> <out.json>"
              " [--dense-dir DIR] [--dense30-dir DIR] [--plans-only]", file=sys.stderr)
        return 2
    out_path = args[2]
    data_ratio = 10.0

    spark = get_spark("bench-scale")
    qs = registry.queries()

    # optional op filter for big-sf runs (skip quadratic ground-truth ops
    # whose cost is out of scope): SCALE_OPS_ONLY="op1,op2" or
    # SCALE_OPS_SKIP="op1,op2"
    only_ops = {o for o in os.environ.get("SCALE_OPS_ONLY", "").split(",") if o}
    skip_ops = {o for o in os.environ.get("SCALE_OPS_SKIP", "").split(",") if o}
    global SCALE_OPS
    if only_ops:
        SCALE_OPS = [o for o in SCALE_OPS if o in only_ops]
    if skip_ops:
        SCALE_OPS = [o for o in SCALE_OPS if o not in skip_ops]

    ops: dict[str, dict] = {}
    if plans_only:
        try:
            with open(out_path) as fh:
                ops = json.load(fh).get("ops", {})
        except OSError:
            pass
    for name in [] if plans_only else SCALE_OPS:
        fn = qs[name]
        try:
            s = _run(fn, spark, small)
            b = _run(fn, spark, big)
            ratio = round(b / s, 2) if s > 0 else None
            max_ratio = None
            if ratio is None or ratio <= RATIO_GATE:
                flag, note = "ok", None
            elif name in ANNOTATIONS:
                ann = ANNOTATIONS[name]
                max_ratio = ann["max_ratio"]
                if ratio > max_ratio:
                    # annotated ops keep a bound (advice r5): exceeding it
                    # is a regression the root-cause string cannot excuse
                    flag = "superlinear"
                    note = (f"EXCEEDED annotated bound {max_ratio}x: "
                            + ann["note"])
                else:
                    flag, note = "annotated", ann["note"]
            else:
                flag, note = "superlinear", None
            ops[name] = {"small_sec": s, "big_sec": b, "ratio": ratio,
                         "flag": flag, "annotation": note,
                         "max_ratio": max_ratio}
            print(f"{name}: {s}s -> {b}s  ratio {ratio}  [{flag}]",
                  flush=True)
        except Exception as e:  # noqa: BLE001
            ops[name] = {"small_sec": None, "big_sec": None, "ratio": None,
                         "flag": "error", "annotation": str(e)[:300]}
            print(f"{name}: ERROR {e}", flush=True)
        spark.catalog.clearCache()

    plans: dict[str, dict] = {}
    for name, markers in PLAN_CHECKS.items():
        try:
            plan = qs[name](spark, big)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            plans[name] = {m: (m.lower() in plan.lower()) for m in markers}
        except Exception as e:  # noqa: BLE001
            plans[name] = {"error": str(e)[:200]}
    for name, checks in plans.items():
        print(f"plan {name}: {checks}", flush=True)

    # dense-density probe: the capped pair family against a
    # SCALE_UP_DENSE=1 corpus (10x event density at fixed span) — the
    # scenario whose work term the round-5 cap bounds.  Recorded in the
    # same artifact so the pytest gate sees cap ratio AND drop reporting.
    # ---- density probe family (r5 verdict #8) --------------------------
    # One 10x-event/near-dup-density corpus (SCALE_UP_DENSE=1), four
    # density-sensitive shapes.  Each op carries EITHER a hard wall-ratio
    # gate (capped / tiled ops whose work term the cap bounds) OR an
    # output-bound contract (wall may grow only as fast as output does,
    # within slack) — test_scale_gate.py enforces both kinds.
    DENSITY_OPS = {
        "join_range_gap_histogram": {
            "max_ratio": 12.0,
            "drop_cols": ("dropped_left_rows", "kept_left_rows"),
            "annotation": "capped: per-bucket md5-rank admission bounds "
                          "pair work; drop mass reported in-result",
        },
        "join_interval_overlap": {
            "max_ratio": 15.0,
            "annotation": "auto-tuned bucket width shrinks in-bucket "
                          "quadratic term; output is the bounded per-day "
                          "concurrency audit, not the pairspace",
        },
        "corpus_semdedup": {
            # re-anchored round 8: the portable multiplicative sub-split
            # made the sf1 BASELINE ~40% faster (10.5 -> ~5.9 s measured
            # 3x) while the dense-corpus wall was unchanged vs r7
            # (93.8 -> 100.2 s, +-7%), so the same absolute dense budget
            # is a larger ratio against the faster denominator.
            "max_ratio": 20.0,
            "annotation": "MAX_BLOCK-tiled in-cell pairs: wall stays "
                          "strongly sublinear in the Sigma|cell|^2 term "
                          "(10x density = up to 100x pairspace; bound "
                          "re-anchored r8 after the sub-split hash made "
                          "the sf1 baseline ~40% faster at unchanged "
                          "dense-side wall)",
        },
        "dedup_fuzzy_minhash": {
            "max_ratio": None,  # output-bound: gate vs output growth
            "output_slack": 3.0,
            "annotation": "output-bound: dense corpus plants true "
                          "near-dup copies, real pairs grow ~R^2; banded "
                          "LSH keeps candidate work proportional to "
                          "output — gate is wall <= slack x output growth "
                          "(probed on the fuzzy_minhash_pairs surface: "
                          "the r9 registered op reshapes to a bounded "
                          "histogram, so its ROW count no longer carries "
                          "the output-growth signal the contract gates)",
        },
    }
    # the registered dedup_fuzzy_minhash emits a fixed-size banded-oracle
    # histogram since r9 — probe its PAIR surface, where the output-bound
    # density contract is actually defined
    from build_pipeline_with_apache_beam_spark.operators.dedup import (
        fuzzy_minhash_pairs,
        shingled_docs,
    )

    DENSITY_FNS = {"dedup_fuzzy_minhash": lambda spark, d: fuzzy_minhash_pairs(
        spark, d, shingled_docs(spark, d))}
    dense_dir = dense30_dir = None
    for i, a in enumerate(sys.argv):
        if a == "--dense-dir" and i + 1 < len(sys.argv):
            dense_dir = sys.argv[i + 1]
        if a == "--dense30-dir" and i + 1 < len(sys.argv):
            dense30_dir = sys.argv[i + 1]

    def run_density_probe(dense_dir: str, bound_scale: float) -> dict:
        """Probe the density family against one dense corpus.

        ``bound_scale`` scales each wall-ratio bound for probes denser
        than the 10x the bounds were anchored at (r10 verdict #8: the 30x
        probe uses bound_scale=3 — capped work may grow at most linearly
        with the extra rows; output-slack contracts need no scaling, the
        output ratio carries the density automatically)."""
        density: dict = {}
        for name, cfg in DENSITY_OPS.items():
            cfg = dict(cfg)
            if cfg.get("max_ratio") is not None:
                cfg["max_ratio"] = round(cfg["max_ratio"] * bound_scale, 1)
            fn = DENSITY_FNS.get(name) or qs[name]
            try:
                best_s = best_b = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, big).write.format("noop").mode(
                        "overwrite").save()
                    best_s = min(best_s, time.time() - t0)
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, dense_dir).write.format("noop").mode(
                        "overwrite").save()
                    best_b = min(best_b, time.time() - t0)
                out_s = fn(spark, big).count()
                out_b = fn(spark, dense_dir).count()
                entry = {
                    "small_sec": round(best_s, 3),
                    "big_sec": round(best_b, 3),
                    "ratio": (round(best_b / best_s, 2)
                              if best_s > 0 else None),
                    "out_rows_small": out_s, "out_rows_big": out_b,
                    "output_ratio": (round(out_b / out_s, 2)
                                     if out_s > 0 else None),
                    "max_ratio": cfg.get("max_ratio"),
                    "output_slack": cfg.get("output_slack"),
                    "annotation": cfg["annotation"],
                }
                if "drop_cols" in cfg:
                    # drop-mass reporting ops: read the in-result columns,
                    # guarding the empty-result corpus (0 pairs -> 0 rows)
                    dcol, kcol = cfg["drop_cols"]
                    rows_s = fn(spark, big).select(dcol, kcol).limit(
                        1).collect()
                    rows_b = fn(spark, dense_dir).select(dcol, kcol).limit(
                        1).collect()
                    for tag, rows in (("small", rows_s), ("big", rows_b)):
                        if not rows:
                            entry[f"{tag}_drop_share"] = None
                            continue
                        d, k = rows[0][dcol], rows[0][kcol]
                        tot = (d or 0) + (k or 0)
                        entry[f"{tag}_drop_share"] = (
                            round((d or 0) / tot, 6) if tot else None)
                    if entry.get("big_drop_share") is None:
                        entry["flag"] = "error"
                        entry["annotation"] = (
                            "empty dense result — drop-mass columns "
                            "unreadable; " + cfg["annotation"])
                if "flag" not in entry:
                    r, o = entry["ratio"], entry["output_ratio"]
                    if cfg.get("max_ratio") is not None:
                        bad = r is not None and r > cfg["max_ratio"]
                        entry["flag"] = "superlinear" if bad else "ok"
                    elif o is None:
                        # advice r6: an output-bound contract with no
                        # measurable output growth (out_rows_small == 0 or
                        # count error) must NOT vacuously pass — the wall
                        # ratio would be ungated exactly when the probe
                        # corpus failed to exercise the op.
                        entry["flag"] = "error"
                        entry["annotation"] = (
                            "output-bound gate unmeasurable (output_ratio "
                            "is None) — probe corpus produced no baseline "
                            "output; " + cfg["annotation"])
                    else:
                        bad = (r is not None
                               and r > cfg["output_slack"] * max(o, 1.0))
                        entry["flag"] = "superlinear" if bad else "ok"
                density[name] = entry
            except Exception as e:  # noqa: BLE001
                density[name] = {"flag": "error",
                                 "annotation": str(e)[:300]}
            print(f"density {name}: {density[name]}", flush=True)
        return density

    # baseline is the BIG sf: dense_dir is SCALE_UP_DENSE=1 xR of it —
    # same span, Rx event density — the pure density axis
    density = (run_density_probe(dense_dir, 1.0)
               if dense_dir and not plans_only else {})
    density30 = (run_density_probe(dense30_dir, 3.0)
                 if dense30_dir and not plans_only else {})

    result = {
        "schema_version": 2,
        "sf_small": small, "sf_big": big, "ratio_data": data_ratio,
        "ratio_gate": RATIO_GATE,
        "ops": ops, "plans": plans,
        "density_probe": {"dense_dir": dense_dir, "ops": density},
        # r10 verdict #8: one decade further on the density axis — same
        # family, 30x density, wall bounds scaled 3x (capped work may grow
        # at most linearly in the extra rows; output-slack contracts
        # carry the density in the output ratio automatically)
        "density_probe_30x": {"dense_dir": dense30_dir,
                              "density_ratio": 30, "ops": density30},
        "n_superlinear": sum(1 for o in ops.values()
                             if o.get("flag") == "superlinear"),
        "supersedes": [
            "SCALE_r02.json", "SCALE_r02_sf3.json", "SCALE_r02_sf10.json",
            "SCALE_r03.json", "SCALE_r04.json", "SCALE_r04_sf10.json",
            "SCALE_r05.json", "SCALE_r05.json(r3-era)", "SCALE_r06.json",
            "SCALE_r06_sf100.json",
            "SCALE_r07_pairfamily_sf1.json", "SCALE_r07_pairs.json",
            "SCALE_r07.json",
            "SCALE_r08_newops.json", "SCALE_r09_graphpart.json",
        ],
    }
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
