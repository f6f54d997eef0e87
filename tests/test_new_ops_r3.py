"""Round-3 operator additions: invariants beyond the DuckDB oracle.

The oracle gate proves Spark ≡ SQL; these tests prove the operators mean
what they claim (estimator accuracy, sample-size laws, plan shape).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kmv_estimates_track_exact_distinct(spark, sf_dir):
    """KMV with k=64 has relative SE ≈ 1/sqrt(k-2) ≈ 13%; demand every
    per-type estimate lands within 40% of the exact distinct count and
    exact-mode types (distinct < k) are exactly right."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.behavioral import (
        KMV_K,
        agg_kmv_distinct_intersect,
    )

    ev = load_table(spark, sf_dir, "events")
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    out = agg_kmv_distinct_intersect(spark, sf_dir).collect()
    assert out, "no pairs"
    seen = {}
    for r in out:
        seen[r["type_a"]] = r["est_a"]
        seen[r["type_b"]] = r["est_b"]
        # intersection can never exceed the smaller set's estimate
        assert r["est_intersect"] <= min(r["est_a"], r["est_b"]) + 1
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) * 0.6
    for t, est in seen.items():
        if exact[t] < KMV_K:
            assert est == exact[t], (t, est, exact[t])
        else:
            assert abs(est - exact[t]) / exact[t] < 0.40, (t, est, exact[t])


def test_reservoir_sample_is_fixed_k_and_stable(spark, sf_dir):
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.corpus import (
        RESERVOIR_K,
        corpus_reservoir_sample_per_source,
    )

    docs = load_table(spark, sf_dir, "documents")
    per_src = {r["source"]: r["n"] for r in
               docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    out = corpus_reservoir_sample_per_source(spark, sf_dir).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    for src, n in per_src.items():
        assert len(by_src[src]) == min(n, RESERVOIR_K)
    # deterministic: a second run yields the identical sample
    again = corpus_reservoir_sample_per_source(spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_dsir_scores_favor_target_like_docs(spark, sf_dir):
    """Docs sharing vocabulary with the src0 target must average a higher
    importance log-ratio than the corpus at large: check the top-decile
    mean exceeds the bottom-decile mean (the resampling signal exists)."""
    from build_pipeline_with_apache_beam_spark.operators.corpus import (
        corpus_dsir_importance,
    )

    rows = sorted(corpus_dsir_importance(spark, sf_dir).collect(),
                  key=lambda r: r["dsir_logratio"])
    k = max(len(rows) // 10, 1)
    bottom = sum(r["dsir_logratio"] for r in rows[:k]) / k
    top = sum(r["dsir_logratio"] for r in rows[-k:]) / k
    assert top > bottom
    assert all(abs(r["dsir_logratio"]) < 20 for r in rows)  # sane magnitudes


def test_dsir_tokenizes_once_via_reused_exchange(spark, sf_dir):
    """Round-10 verdict #4 regression pin: both the LM build and the
    scoring branch must consume ONE staged (doc_id, source, bucket,
    count) aggregate through AQE stage reuse — the executed plan carries
    ≥2 ReusedExchange nodes (the staged aggregate feeding both branches,
    and the per-bucket LM feeding totals + ratios).  If a future edit
    re-introduces a pushable src0 predicate below the shared groupBy,
    the exchange subtrees stop being identical, reuse vanishes, and the
    split+explode tokenize pass silently runs twice."""
    from build_pipeline_with_apache_beam_spark.operators.corpus import (
        corpus_dsir_importance,
    )

    df = corpus_dsir_importance(spark, sf_dir)
    df.collect()  # AQE reuse is a RUNTIME decision — inspect post-execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_reused = plan.count("ReusedExchange")
    assert n_reused >= 2, f"expected >=2 ReusedExchange, got {n_reused}"


def test_bigram_lm_model_broadcasts_and_scores_every_long_doc(spark, sf_dir):
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.text import (
        text_bigram_lm_quality,
    )

    df = text_bigram_lm_quality(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan, plan
    docs = load_table(spark, sf_dir, "documents")
    n_long = docs.where(F.size(F.split(F.lower("text"), " ")) >= 2).count()
    assert df.count() == n_long
    # every average bigram log-prob is negative (it is a log-probability)
    assert df.where(F.col("avg_logp") >= 0).count() == 0


def test_link_prediction_scores_are_nonadjacent_and_bounded(spark, sf_dir):
    from build_pipeline_with_apache_beam_spark.operators.graph import (
        _strong_co_supply,
        graph_link_prediction_scores,
    )

    # the tiny test sf can yield a strong graph with no non-adjacent
    # 2-paths; score against sf0.01 where the graph has structure
    sf_dir = "/root/testdata/sf0.01"
    out = graph_link_prediction_scores(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    strong = {(r["u"], r["v"])
              for r in _strong_co_supply(spark, sf_dir).collect()}
    for r in out:
        assert (r["supp_a"], r["supp_b"]) not in strong  # non-adjacent only
        assert r["supp_a"] < r["supp_b"]
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["common_neighbors"] >= 1
        assert r["adamic_adar"] > 0


def test_rowgroup_profile_matches_duckdb_and_pyarrow(spark, sf_dir):
    """The distributed footer profile must byte-match DuckDB's
    parquet_metadata() aggregation and pyarrow's footer reads (the op is
    rows-only because a static oracle string cannot carry a dynamic
    path, so the differential check lives here)."""
    import os

    import duckdb

    from build_pipeline_with_apache_beam_spark.operators.scans import (
        scan_parquet_rowgroup_profile,
    )

    got = [tuple(r) for r in
           scan_parquet_rowgroup_profile(spark, sf_dir).collect()]
    path = os.path.join(sf_dir, "lineitem.parquet")
    glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
    want = duckdb.connect().execute(f"""
        SELECT regexp_extract(file_name, '[^/]+$'), row_group_id,
               MAX(row_group_num_rows), COUNT(*),
               CAST(SUM(total_compressed_size) AS BIGINT)
        FROM parquet_metadata('{glob}')
        GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    assert got == [tuple(r) for r in want]
    assert all(r[2] > 0 and r[4] > 0 for r in got)


def test_semdedup_matches_numpy_replica(spark, sf_dir):
    """corpus_semdedup's removal decision, replicated independently in
    numpy on the collected test corpus (where every cell fits one block),
    must agree cell-by-cell — and the keep-rule laws must hold."""
    import numpy as np

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.similarity import (
        SEMDEDUP_TAU,
        _codebook,
        _with_unit_vec,
        corpus_semdedup,
    )

    out = {r["cell"]: r for r in corpus_semdedup(spark, sf_dir).collect()}
    emb = _with_unit_vec(load_table(spark, sf_dir, "embeddings"),
                         sf_dir=sf_dir).select("vec_id", "vec")
    pdf = emb.toPandas().sort_values("vec_id")
    vecs = np.stack(pdf["vec"].values)
    ids = pdf["vec_id"].to_numpy()
    cents = np.array(_codebook(sf_dir))
    dots = vecs @ cents.T
    cell = dots.argmax(axis=1)
    csim = np.round(dots.max(axis=1), 6)
    removed_per_cell = {}
    for c in np.unique(cell):
        m = cell == c
        cv, cid, cs = vecs[m], ids[m], csim[m]
        sim = cv @ cv.T
        n_removed = 0
        for i in range(len(cid)):
            dup = (sim[i] >= SEMDEDUP_TAU) & (
                (cs > cs[i]) | ((cs == cs[i]) & (cid < cid[i])))
            dup[i] = False
            n_removed += bool(dup.any())
        removed_per_cell[int(c)] = n_removed
    assert set(out) == set(int(c) for c in np.unique(cell))
    for c, row in out.items():
        assert row["n_kept"] + row["n_removed"] == row["n_vectors"]
        assert row["n_kept"] >= 1  # the farthest-from-centroid member survives
        assert row["n_removed"] == removed_per_cell[c], (
            c, row["n_removed"], removed_per_cell[c])


def test_cep_pattern_matches_python_re(spark, sf_dir):
    """The CEP journey matcher must agree with Python's re over journeys
    rebuilt independently (greedy non-overlapping scan = re.findall)."""
    import re

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.behavioral import (
        CEP_PATTERN,
        events_pattern_match_cep,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id",
        F.substring("event_type", 1, 1).alias("code")).collect()
    journeys = {}
    for r in sorted(ev, key=lambda r: (r["ts"], r["event_id"])):
        journeys.setdefault((r["user_id"], r["day"]), []).append(r["code"])
    want = {}
    for k, codes in journeys.items():
        j = "".join(codes)
        hits = re.findall(CEP_PATTERN, j)
        if hits:
            want[k] = (len(j), len(hits), hits[0])
    got = {(r["user_id"], r["day"]):
           (r["journey_len"], r["n_matches"], r["first_match"])
           for r in events_pattern_match_cep(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_interval_overlap_spot_day_brute_force(spark, sf_dir):
    """Bucket-decomposed overlap join must count each overlapping session
    pair exactly once: brute-force the busiest day driver-side."""
    from build_pipeline_with_apache_beam_spark.operators.behavioral import (
        join_interval_overlap,
        sessionize_events,
    )

    out = join_interval_overlap(spark, sf_dir).collect()
    assert out == sorted(out, key=lambda r: r["day"])
    assert all(r["n_user_pairs"] <= r["n_overlaps"] for r in out)
    busiest = max(out, key=lambda r: r["n_overlaps"])
    sess = sessionize_events(spark, sf_dir).select(
        "user_id", F.col("session_start").alias("s0"),
        F.col("session_end").alias("s1")).collect()
    n, pairs = 0, set()
    for i, a in enumerate(sess):
        for b in sess[i + 1:]:
            lo, hi = (a, b) if a["user_id"] < b["user_id"] else (b, a)
            if (lo["user_id"] < hi["user_id"] and lo["s0"] <= hi["s1"]
                    and hi["s0"] <= lo["s1"]
                    and max(lo["s0"], hi["s0"]).date() == busiest["day"]):
                n += 1
                pairs.add((lo["user_id"], hi["user_id"]))
    assert busiest["n_overlaps"] == n
    assert busiest["n_user_pairs"] == len(pairs)


def test_lpa_communities_partition_the_strong_graph(spark, sf_dir):
    """Synchronous LPA must assign every strong-graph node to exactly one
    community, labels must be node ids, and the fixed-round run must be
    deterministic."""
    from build_pipeline_with_apache_beam_spark.operators.graph import (
        _strong_co_supply,
        graph_label_propagation,
    )

    out = graph_label_propagation(spark, sf_dir).collect()
    strong = _strong_co_supply(spark, sf_dir)
    nodes = (strong.select(F.col("u").alias("n"))
             .unionAll(strong.select(F.col("v").alias("n")))
             .distinct().count())
    assert sum(r["n_members"] for r in out) == nodes
    node_ids = {r["n"] for r in
                strong.select(F.col("u").alias("n"))
                .unionAll(strong.select(F.col("v").alias("n")))
                .distinct().collect()}
    assert all(r["community"] in node_ids for r in out)
    again = graph_label_propagation(spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_uniqueness_profile_flags_the_primary_key(spark, sf_dir):
    from build_pipeline_with_apache_beam_spark.operators.relational import (
        dq_uniqueness_profile,
    )

    rows = {r["column_set"]: r
            for r in dq_uniqueness_profile(spark, sf_dir).collect()}
    assert rows["o_orderkey"]["is_key"]
    assert rows["o_orderkey"]["uniq_bp"] == 10000
    assert not rows["o_orderdate"]["is_key"]
    for r in rows.values():
        assert 0 < r["n_distinct"] <= r["n_rows"]
        assert r["is_key"] == (r["uniq_bp"] == 10000)
    # a superset combo can never be less distinct than its subset column
    assert (rows["o_custkey+o_orderdate"]["n_distinct"]
            >= rows["o_custkey"]["n_distinct"])


def test_stream_cep_sessions_matches_batch_replay(spark, sf_dir):
    """The streamed CEP sessions (multi-batch, watermarked) must equal a
    batch gaps-and-islands replay with the same watermark cutoff, and
    every emitted session must genuinely contain the pattern."""
    import re

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.behavioral import (
        CEP_PATTERN,
    )
    from build_pipeline_with_apache_beam_spark.streaming.windows import (
        q_stream_cep_sessions,
    )

    got = {(r["user_id"], r["session_start"]):
           (r["session_end"], r["journey_len"], r["n_matches"])
           for r in q_stream_cep_sessions(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("code")).collect()
    from collections import defaultdict
    from datetime import timedelta
    by_user = defaultdict(list)
    max_ts = max(r["ts"] for r in ev)
    for r in sorted(ev, key=lambda r: (r["ts"], r["event_id"])):
        by_user[r["user_id"]].append(r)
    want = {}
    for uid, rows in by_user.items():
        cur = []
        for r in rows:
            if cur and (r["ts"] - cur[-1]["ts"]) >= timedelta(minutes=30):
                _emit(want, uid, cur, max_ts, CEP_PATTERN)
                cur = []
            cur.append(r)
        _emit(want, uid, cur, max_ts, CEP_PATTERN)
    assert got == want and len(got) > 0


def _emit(want, uid, cur, max_ts, pattern):
    import re
    from datetime import timedelta

    if not cur:
        return
    end = cur[-1]["ts"] + timedelta(minutes=30)
    if end > max_ts - timedelta(hours=2):
        return  # session the watermark never closed
    j = "".join(r["code"] for r in cur)
    hits = re.findall(pattern, j)
    if hits:
        want[(uid, cur[0]["ts"])] = (end, len(j), len(hits))


def test_bloom_semi_reduction_filters_without_false_negatives(spark, sf_dir):
    """The Bloom prefilter must pass EVERY true-matching fact row (no
    false negatives) while rejecting most non-matching rows, and the
    reduced join must equal the plain join exactly."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.relational import (
        join_bloom_semi_reduction,
    )

    got = {tuple(r) for r in join_bloom_semi_reduction(spark, sf_dir).collect()}
    ords = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT")
    li = load_table(spark, sf_dir, "lineitem")
    want = {tuple(r) for r in
            (li.join(ords, li.l_orderkey == ords.o_orderkey)
             .groupBy("l_returnflag", "l_linestatus")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.round(F.sum(F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))), 4)
                  .alias("revenue"))).collect()}
    assert got == want and len(got) > 0


def test_overlap_bucket_width_rule(spark):
    """The auto-tuned bucket width (round-4) is the p95 span snapped UP to
    a day-divisor width — skewed span mixes must follow the tail, not the
    mean, and degenerate inputs fall back to the bounds."""
    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.operators.behavioral import (
        _OVERLAP_WIDTHS_S,
        _overlap_bucket_width_s,
    )

    assert all(86400 % w == 0 for w in _OVERLAP_WIDTHS_S)

    def sess_of(spans_s):
        rows = ", ".join(
            f"(timestamp'2024-01-01 00:00:00', "
            f"timestamp'2024-01-01 00:00:00' + interval {s} seconds)"
            for s in spans_s)
        return spark.sql(f"SELECT * FROM (VALUES {rows}) AS t(s0, s1)")

    # skewed mix: 95% short (2 min), 5% long (3 h) -> interpolated p95
    # (~654 s) stays near the short mass, snapping to 15 min, not hours
    assert _overlap_bucket_width_s(
        sess_of([120] * 95 + [10800] * 5)) == 900
    # heavy tail crossing p95 -> width follows the tail
    assert _overlap_bucket_width_s(
        sess_of([120] * 80 + [10800] * 20)) == 14400
    # zero-length sessions -> smallest width
    assert _overlap_bucket_width_s(sess_of([0, 0, 0])) == 60
    # beyond-a-day spans -> capped at one day
    assert _overlap_bucket_width_s(sess_of([200000] * 3)) == 86400
