"""Quality tests for the LLM-data-pipeline operators: sketch-based ops are
validated against their exact counterparts (recall/precision), multimodal
plumbing against SQL reconciliation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import load_table
from build_pipeline_with_apache_beam_spark.operators.dedup import (
    _docs_with_shingles,
    dedup_connected_groups,
    dedup_ngram_jaccard,
    dedup_simhash,
    fuzzy_minhash_pairs,
)
from build_pipeline_with_apache_beam_spark.operators.multimodal import (
    multimodal_feature_extract,
    multimodal_frame_sample,
    FRAME_STRIDE,
)
from build_pipeline_with_apache_beam_spark.operators.similarity import (
    sim_ann_ivf_topk,
    sim_ann_lsh_topk,
    sim_cosine_topk,
)


def test_minhash_precision(spark, sf_dir):
    """Every pair MinHash-LSH emits must truly meet the Jaccard threshold —
    the pipeline ends with exact verification, so precision is 1.0."""
    pairs = fuzzy_minhash_pairs(spark, sf_dir)
    assert pairs.where(F.col("jaccard") < 0.7).count() == 0
    assert pairs.count() > 0  # the corpus does contain near-dups


def test_minhash_recall_of_strong_dups(spark, sf_dir):
    """Pairs with very high true Jaccard (≥0.9) must be found with high
    probability (16 hashes / 4 bands ⇒ P(candidate | j=0.9) ≈ 0.986).
    Deterministic: hash seeds are fixed."""
    shingled = _docs_with_shingles(spark, sf_dir)
    a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    truth = (
        a.crossJoin(b).where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("j", F.size(F.array_intersect("sa", "sb"))
                    / F.size(F.array_union("sa", "sb")))
        .where(F.col("j") >= 0.9)
        .select("doc_a", "doc_b")
    )
    found = fuzzy_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_truth = truth.count()
    if n_truth == 0:
        return  # nothing this strong at this SF — precision test still covers
    n_found = truth.join(found, ["doc_a", "doc_b"], "left_semi").count()
    assert n_found / n_truth >= 0.8, f"recall {n_found}/{n_truth}"


def test_simhash_pairs_are_symmetric_free_and_bounded(spark, sf_dir):
    pairs = dedup_simhash(spark, sf_dir)
    assert pairs.where(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert pairs.where(F.col("hamming") > 3).count() == 0


def test_simhash_xxhash64_fast_path_matches_registered_op(spark, sf_dir):
    """The CPU-cheap xxhash64 hash family (the production fast path the
    md5-portable registered op documents as a 1:1 swap, round-10 verdict
    #8) is exercised against the registered md5 form on the fixture
    corpus.  The family-invariant LAW: docs with identical distinct-token
    SETS get identical signatures under ANY hash family (every per-bit
    sum is over the same hashes), so every such pair must appear in BOTH
    variants' output with hamming 0.  Full pair-set equality is
    deliberately NOT asserted — borderline pairs near the hamming-3
    threshold legitimately differ between hash families (verified: the
    two sets differ only off the identical-set core).  Both variants must
    also honor the shared output contract."""
    from build_pipeline_with_apache_beam_spark.operators.dedup import (
        simhash_pairs,
    )

    # ground truth: identical distinct-token-set pairs (377 at sf0.001)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sets = docs.select(
        "doc_id",
        F.md5(F.concat_ws("\x00", F.array_sort(
            F.array_distinct(F.split("text", " "))))).alias("k"))
    truth = {(r["doc_a"], r["doc_b"]) for r in (
        sets.alias("a").join(
            sets.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b")).collect())}
    assert truth, "fixture corpus lost its exact-dup pairs"

    for family in ("md5", "xxhash64"):
        rows = simhash_pairs(spark, sf_dir, family).collect()
        pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
        assert truth <= pairs, f"{family} missed identical-set pairs"
        zero = {(r["doc_a"], r["doc_b"]) for r in rows if r["hamming"] == 0}
        assert truth <= zero, f"{family}: identical sets must hash equal"
        # shared output contract
        assert all(r["doc_a"] < r["doc_b"] for r in rows)
        assert all(r["hamming"] <= 3 for r in rows)

    import pytest

    with pytest.raises(ValueError, match="hash_family"):
        simhash_pairs(spark, sf_dir, "fnv1a")


def test_ann_results_subset_of_exact_pairspace(spark, sf_dir):
    """ANN top-k cosines must appear in the exact pair set with identical
    scores (the approximation drops candidates, never distorts scores)."""
    exact = {(r["query_id"], r["cand_id"]): r["cosine"]
             for r in sim_cosine_topk(spark, sf_dir).collect()}
    ann = sim_ann_lsh_topk(spark, sf_dir).collect()
    assert len(ann) > 0
    # recall@10 against the exact top-k.  The synthetic embeddings are
    # near-orthogonal (no planted clusters), so hyperplane locality is weak
    # by construction — the bound only asserts "clearly above the random
    # baseline" (bucket_size/N ≈ 6% here), not production-grade recall.
    hits = sum(1 for r in ann if (r["query_id"], r["cand_id"]) in exact)
    assert hits >= len(ann) * 0.08, f"no better than random: {hits}/{len(ann)}"


def test_ivf_results_subset_of_exact_pairspace(spark, sf_dir):
    """IVF ANN: scores must match the exact kernel; recall must beat the
    random baseline (cells adapt to the data, so ≥ the LSH bound)."""
    exact = {(r["query_id"], r["cand_id"]): r["cosine"]
             for r in sim_cosine_topk(spark, sf_dir).collect()}
    ann = sim_ann_ivf_topk(spark, sf_dir).collect()
    assert len(ann) > 0
    for r in ann:
        assert r["rank"] <= 10 and -1.0001 <= r["cosine"] <= 1.0001
    hits = sum(1 for r in ann if (r["query_id"], r["cand_id"]) in exact)
    assert hits >= len(ann) * 0.08, f"no better than random: {hits}/{len(ann)}"


def test_connected_groups_consistent_with_pairs(spark, sf_dir):
    """Every emitted near-dup pair must land in one group, and group ids
    must be members of their own group (canonical representative)."""
    groups = {r["doc_id"]: r["group_id"]
              for r in dedup_connected_groups(spark, sf_dir).collect()}
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").collect()
    for p in pairs:
        assert groups[p["doc_a"]] == groups[p["doc_b"]]
    for doc, g in groups.items():
        assert groups[g] == g, f"group id {g} is not canonical"
        assert g <= doc


def test_multimodal_sizes_reconcile(spark, sf_dir, duck):
    """The mapInPandas feature stage must preserve payload byte counts
    (ASCII text ⇒ n_bytes == n_chars) and emit unit-normalized histograms.
    Runs on the library function — the registered op's surface moved to
    the blob-level companions in r10 (exact-oracle promotion)."""
    from build_pipeline_with_apache_beam_spark.operators.multimodal import (
        _media_table,
        extract_features,
    )

    feats = extract_features(_media_table(spark, sf_dir))
    want = dict(duck.execute(
        "SELECT doc_id, length(text) FROM documents").fetchall())
    got = {r["doc_id"]: r["n_bytes"] for r in feats.collect()}
    planted = {i: n for i, n in got.items() if i < 0}
    assert {i: n for i, n in got.items() if i >= 0} == want
    # the planted PNGs (-1..-3) and JPEGs (-4, -5) decode to 24x24 grids,
    # not payload size
    assert planted == {-1: 576, -2: 576, -3: 576, -4: 576, -5: 576}
    sums = feats.select(
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 2)
        .alias("s")).distinct().collect()
    assert {r["s"] for r in sums} == {1.0}


def test_multimodal_companions_reconcile(spark, sf_dir):
    """The registered decode surface: every decode must match its header's
    promise (the REAL decode ran — decoded_len is measured, not copied),
    and the planted containers route correctly."""
    rows = {r["doc_id"]: r
            for r in multimodal_feature_extract(spark, sf_dir).collect()}
    assert all(r["decode_matches_header"] for r in rows.values())
    assert {i: rows[i]["container_type"] for i in (-1, -2, -3, -4, -5)} == {
        -1: "png", -2: "png", -3: "png", -4: "jpeg", -5: "jpeg"}
    for i in (-1, -2, -3, -4, -5):
        assert (rows[i]["decoded_w"], rows[i]["decoded_h"],
                rows[i]["decoded_len"]) == (24, 24, 576)
    real = [r for i, r in rows.items() if i >= 0]
    assert all(r["container_type"] == "fake" and r["decoded_w"] is None
               for r in real)


def test_multimodal_frame_fanout(spark, sf_dir, duck):
    """ceil(n_bytes / stride) frames per doc, frame bytes re-concatenate to
    the payload length."""
    frames = multimodal_frame_sample(spark, sf_dir)
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("total_bytes"))
    bad = per_doc.join(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.length("text").alias("n_chars")),
        "doc_id",
    ).where(
        (F.col("total_bytes") != F.col("n_chars"))
        | (F.col("n_frames") != F.ceil(F.col("n_chars") / FRAME_STRIDE))
    )
    assert bad.count() == 0


def test_incremental_minhash_matches_full_pipeline(spark, sf_dir):
    """Incremental dedup (new batch vs persisted index) must reach exactly
    the same verdicts as the full-corpus pipeline restricted to new docs —
    same bands, same threshold, so no pair involving a new doc may appear
    or vanish just because the index was built incrementally."""
    from build_pipeline_with_apache_beam_spark.operators.dedup import (
        fuzzy_minhash_pairs,
        incremental_minhash_matches,
    )

    inc = {r["new_doc"]: r["n_dup_matches"]
           for r in incremental_minhash_matches(spark, sf_dir).collect()}

    full_pairs = fuzzy_minhash_pairs(spark, sf_dir).collect()
    want = {d: 0 for d in inc}
    for r in full_pairs:
        for d, other in ((r["doc_a"], r["doc_b"]), (r["doc_b"], r["doc_a"])):
            if d % 10 == 0:
                want[d] += 1
    assert inc == want


def test_minhash_signature_estimates_jaccard(spark, sf_dir):
    """The sketch theory the dedup index rests on: the fraction of agreeing
    minhash components is an unbiased Jaccard estimator, so across the
    exact-verified candidate pairs the estimate must track the true value
    (16 hashes → se ≈ 0.125; assert mean abs error well inside that)."""
    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.operators.dedup import (
        N_MINHASH,
        _docs_with_shingles,
        fuzzy_minhash_pairs,
        minhash_signatures,
    )

    pairs = fuzzy_minhash_pairs(spark, sf_dir)   # (doc_a, doc_b, jaccard)
    sigs = minhash_signatures(_docs_with_shingles(spark, sf_dir))
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(N_MINHASH)])
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(N_MINHASH)])
    agree = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
                for i in range(N_MINHASH))
    est = (pairs.join(a, "doc_a").join(b, "doc_b")
           .select("jaccard", (agree / N_MINHASH).alias("estimate")))
    rows = est.collect()
    assert rows, "no verified near-dup pairs to check"
    mae = sum(abs(r["jaccard"] - r["estimate"]) for r in rows) / len(rows)
    assert mae < 0.15, mae


def _encode_png_gray(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal stdlib PNG encoder (8-bit grayscale, filter 0 rows) — builds
    REAL PNG containers so the decoder test exercises a genuine
    parse→inflate→unfilter decode, not a passthrough."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y * width:(y + 1) * width]
                   for y in range(height))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def test_multimodal_real_png_decode(spark):
    """The real-codec branch: PNG payloads must decode to PIXELS before
    feature extraction — the byte histogram of the decoded output matches
    the known pixel distribution, not the compressed container's."""
    from build_pipeline_with_apache_beam_spark.operators.multimodal import (
        extract_features,
    )

    # 16x4 image: 32 black pixels (bin 0) + 32 white pixels (bin 7)
    pixels = bytes([0] * 32 + [255] * 32)
    png = _encode_png_gray(pixels, width=16, height=4)
    media = spark.createDataFrame(
        [(1, bytearray(png), ("image/png", len(png), "testsrc"))],
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<content_type: STRING, n_bytes: LONG, source: STRING>")

    row = extract_features(media).collect()[0]
    assert row.n_bytes == 64, "decoded size must be pixel count, not file size"
    assert row.features[0] == 0.5 and row.features[7] == 0.5
    assert sum(row.features) == 1.0


def test_multimodal_png_filtered_rows_roundtrip():
    """Unfilter logic: encode with non-zero PNG filters and assert exact
    pixel recovery (covers sub/up/average/paeth reconstruction)."""
    import struct
    import zlib

    from build_pipeline_with_apache_beam_spark.operators.multimodal import (
        _png_decode_gray,
    )

    width, height = 8, 4
    pixels = bytes(range(width * height))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    # filter each row differently: none, sub, up, paeth
    rows, prev = [], bytes(width)
    for y, ftype in enumerate([0, 1, 2, 4]):
        row = pixels[y * width:(y + 1) * width]
        if ftype == 0:
            enc = row
        elif ftype == 1:
            enc = bytes((row[x] - (row[x - 1] if x else 0)) & 0xFF
                        for x in range(width))
        elif ftype == 2:
            enc = bytes((row[x] - prev[x]) & 0xFF for x in range(width))
        else:  # paeth
            enc = []
            for x in range(width):
                a = row[x - 1] if x else 0
                b = prev[x]
                c = prev[x - 1] if x else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((row[x] - pred) & 0xFF)
            enc = bytes(enc)
        rows.append(bytes([ftype]) + enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"".join(rows)))
           + chunk(b"IEND", b""))

    assert _png_decode_gray(png) == pixels


def test_embedding_dedup_hot_bucket_split_bounds_blocks(spark, sf_dir):
    """The hot-bucket cap: every (bucket, sub_block) candidate block must
    hold <= 2*MAX_BLOCK vectors (hash splitting is approximately even), and
    at test sf — where all buckets are under the cap — the sub-split must
    be a no-op (every row in sub_block 0)."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.similarity import (
        MAX_BLOCK,
        _bucket,
        _sub_block,
        _with_unit_vec,
    )

    emb = _with_unit_vec(load_table(spark, sf_dir, "embeddings"))
    bucketed = (emb.select("vec_id", "vec", "embedding")
                .withColumn("bucket",
                            _bucket("CAST(embedding AS ARRAY<DOUBLE>)"))
                .drop("embedding"))
    sizes = bucketed.groupBy("bucket").agg(
        F.ceil(F.count(F.lit(1)) / MAX_BLOCK).alias("n_sub"))
    blocked = (bucketed.join(F.broadcast(sizes), "bucket")
               .withColumn("sub", _sub_block(F.col("vec_id"),
                                             F.col("n_sub"))))
    per_block = blocked.groupBy("bucket", "sub").count().collect()
    assert max(r["count"] for r in per_block) <= 2 * MAX_BLOCK
    # at this sf every bucket is under the cap → no recall loss
    assert {r["sub"] for r in per_block} == {0}


def test_multimodal_phash_finds_real_png_neardups(spark):
    """The perceptual-hash near-dup pipeline must catch genuinely
    near-identical images through the REAL decode path: a gradient image,
    the same image with a few perturbed pixels (near-dup), and an
    unrelated image.  Only the near-dup pair may surface at Hamming ≤ 6."""
    from build_pipeline_with_apache_beam_spark.operators.multimodal import (
        phash_neardup_pipeline,
    )

    width, height = 24, 24
    base = bytes((x * 11 + y * 3) % 256
                 for y in range(height) for x in range(width))
    near = bytearray(base)
    for i in (5, 99, 300):
        near[i] = (near[i] + 4) % 256
    other = bytes((x * x * 7 + y * 13) % 256
                  for y in range(height) for x in range(width))
    rows = [
        (1, bytearray(_encode_png_gray(base, width, height))),
        (2, bytearray(_encode_png_gray(bytes(near), width, height))),
        (3, bytearray(_encode_png_gray(other, width, height))),
    ]
    media = spark.createDataFrame(
        [(i, p, ("image/png", len(p), "testsrc")) for i, p in rows],
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<content_type: STRING, n_bytes: LONG, source: STRING>")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in phash_neardup_pipeline(media).collect()}
    assert (1, 2) in got, got
    assert got[(1, 2)] <= 6
    assert (1, 3) not in got and (2, 3) not in got


def test_tiled_block_pairs_exact_under_forced_split(spark, sf_dir):
    """Hot-block tiling (round-2 verdict #3) must be invisible in the
    results: forcing every source block to split into many sub-block
    tiles (cap far below block size) yields the byte-identical pair set
    the single-block join produces."""
    import build_pipeline_with_apache_beam_spark.operators.dedup as dd

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    baseline_cap = dd.JACCARD_MAX_BLOCK
    try:
        base = rows(dd.dedup_ngram_jaccard(spark, sf_dir))
        base_cont = rows(dd.dedup_containment(spark, sf_dir))
        dd.JACCARD_MAX_BLOCK = 3  # every block splits into tiles
        assert rows(dd.dedup_ngram_jaccard(spark, sf_dir)) == base
        assert rows(dd.dedup_containment(spark, sf_dir)) == base_cont
    finally:
        dd.JACCARD_MAX_BLOCK = baseline_cap


def test_lsh_band_cap_drops_hot_band_and_reports_mass(spark):
    """Band-frequency cap (round-2 verdict #7): a synthetic band shared
    by many docs must be excluded from candidate generation when hotter
    than the cap, and lsh_hot_bands must report exactly that band; cold
    bands are untouched."""
    from build_pipeline_with_apache_beam_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_hot_bands,
    )

    # 6 docs share signature A (one hot band family), 2 docs share B
    rows = ", ".join(f"({i}, 1, 2, 3, 4)" for i in range(6))
    rows += ", (100, 9, 9, 9, 9), (101, 9, 9, 9, 9)"
    sigs16 = spark.sql(
        "SELECT doc_id, "
        + ", ".join(f"mh_{i % 4} AS mh_{i}" for i in range(16))
        + f" FROM (VALUES {rows}) t(doc_id, mh_0, mh_1, mh_2, mh_3)")

    uncapped = lsh_candidate_pairs(sigs16, band_cap=10000)
    assert uncapped.count() == 15 + 1  # C(6,2) hot + C(2,2) cold

    capped = lsh_candidate_pairs(sigs16, band_cap=5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert pairs == {(100, 101)}  # hot family gone, cold pair survives

    hot = lsh_hot_bands(sigs16, band_cap=5)
    assert hot.count() == 4  # all 4 bands of the hot family, none cold
    assert all(r["n_docs"] == 6 for r in hot.collect())
    assert lsh_hot_bands(sigs16, band_cap=10000).count() == 0


def test_recall_eval_df_cap_is_conservative_and_reported(spark, sf_dir):
    """Forcing a low stop-shingle df-cap must only SHRINK the ground
    truth (conservative subset — n_common can only drop while set sizes
    stay exact), keep the precision law intact, and report the dropped
    shingles via eval_hot_shingles."""
    import build_pipeline_with_apache_beam_spark.operators.dedup as dd

    base = dd.minhash_eval_detail(spark, sf_dir).collect()[0]
    assert dd.eval_hot_shingles(spark, sf_dir).count() == 0  # default: uncapped
    orig = dd.SHINGLE_DF_CAP
    try:
        dd.SHINGLE_DF_CAP = 2
        capped = dd.minhash_eval_detail(spark, sf_dir).collect()[0]
        hot = dd.eval_hot_shingles(spark, sf_dir, df_cap=2)
        assert hot.count() > 0
        assert all(r["df"] > 2 for r in hot.collect())
    finally:
        dd.SHINGLE_DF_CAP = orig
    assert capped["n_truth_pairs"] <= base["n_truth_pairs"]
    assert capped["n_predicted_pairs"] == base["n_predicted_pairs"]


def test_jpeg_decoder_rejects_restart_intervals():
    """Advice r7: the stdlib JPEG decoder must fail LOUDLY on DRI/RSTn
    (restart intervals) rather than treating restart markers as entropy
    data and silently decoding garbage."""
    from build_pipeline_with_apache_beam_spark.operators.multimodal import (
        _jpeg_decode_gray,
        _make_jpeg_gray,
    )

    good = _make_jpeg_gray([[x * 8 for x in range(24)] for _ in range(24)])
    assert len(_jpeg_decode_gray(good)) == 576  # sane baseline

    # splice a DRI segment (FFDD len=4 interval=8) right after SOI
    with_dri = good[:2] + b"\xff\xdd\x00\x04\x00\x08" + good[2:]
    with pytest.raises(ValueError, match="restart"):
        _jpeg_decode_gray(with_dri)

    # splice a bare RST0 marker at the head of the entropy stream
    sos = good.index(b"\xff\xda")
    seg_len = int.from_bytes(good[sos + 2:sos + 4], "big")
    scan = sos + 2 + seg_len
    with_rst = good[:scan] + b"\xff\xd0" + good[scan:]
    with pytest.raises(ValueError, match="restart"):
        _jpeg_decode_gray(with_rst)


def test_lsh_bucket_sql_matches_engine(spark, sf_dir, duck):
    """The invariant the exact ANN oracles rest on: DuckDB's inlined-plane
    bucket expression (_bucket_sql) assigns every vector the same bucket
    as the engine (_bucket) — both sides now evaluate the RAW double
    vector (round-8 ADVICE: same products, same accumulation order)."""
    from build_pipeline_with_apache_beam_spark.operators.similarity import (
        _bucket,
        _bucket_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r["vec_id"]: r["b"] for r in emb.select(
        "vec_id",
        _bucket("CAST(embedding AS ARRAY<DOUBLE>)").alias("b"))
        .collect()}
    want = dict(duck.execute(
        f"SELECT vec_id, {_bucket_sql('embedding::DOUBLE[]')} "
        f"FROM embeddings").fetchall())
    assert got == want


def test_sub_block_split_engages_and_spreads_under_forced_cap(spark, sf_dir):
    """At test SFs every bucket is under MAX_BLOCK, so the sub-split is
    dormant in the other tests; force it with a tiny cap and assert the
    portable multiplicative hash actually ENGAGES (multiple sub-blocks),
    keeps ids in range, and spreads evenly enough to bound block size."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.operators.similarity import (
        _bucket,
        _sub_block,
        _with_unit_vec,
    )

    cap = 16  # force n_sub > 1 in every occupied bucket
    emb = _with_unit_vec(load_table(spark, sf_dir, "embeddings"))
    bucketed = (emb.select("vec_id", "vec", "embedding")
                .withColumn("bucket",
                            _bucket("CAST(embedding AS ARRAY<DOUBLE>)"))
                .drop("embedding"))
    sizes = bucketed.groupBy("bucket").agg(
        F.ceil(F.count(F.lit(1)) / cap).alias("n_sub"))
    blocked = (bucketed.join(F.broadcast(sizes), "bucket")
               .withColumn("sub", _sub_block(F.col("vec_id"),
                                             F.col("n_sub"))))
    rows = (blocked.groupBy("bucket", "sub")
            .count().join(sizes, "bucket").collect())
    assert rows
    subs_per_bucket: dict[int, set] = {}
    for r in rows:
        assert 0 <= r["sub"] < r["n_sub"], f"sub out of range: {r}"
        assert r["count"] <= 2 * cap, f"uneven split: {r}"
        subs_per_bucket.setdefault(r["bucket"], set()).add(r["sub"])
    # the split must have engaged somewhere (multiple subs in hot buckets)
    assert any(len(s) > 1 for s in subs_per_bucket.values())


def test_header_dims_sof0less_jpeg_returns_null_dims_not_raise():
    """Round-11 advice: a JPEG container without a baseline SOF0 frame
    (e.g. progressive SOF2) must yield ('jpeg', None, None) so the
    decode_matches_header gate records a mismatch ROW — an executor
    exception would abort the whole sweep for one bad asset."""
    from build_pipeline_with_apache_beam_spark.operators.multimodal import (
        _header_dims,
    )

    # JPEG magic + APP0 + a progressive SOF2 (FF C2) frame, no FF C0
    sof2 = (b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01"
            b"\x00\x00\xff\xc2\x00\x11\x08\x00\x10\x00\x10\x03")
    assert _header_dims(sof2) == ("jpeg", None, None)
    # control: a baseline SOF0 frame still parses its dims
    sof0 = (b"\xff\xd8\xff\xc0\x00\x11\x08\x00\x20\x00\x40\x03")
    assert _header_dims(sof0) == ("jpeg", 0x40, 0x20)
