"""Near-duplicate detection for training-data pipelines: MinHash+LSH,
SimHash, and blocked n-gram Jaccard.

The reference's only notion of identity is the implicit ``_id`` key
(/root/reference/normalization.py:91); these operators add the fuzzy-dedup
machinery a 100 TB corpus needs.  Everything is expressed as DataFrame
transformations (higher-order functions + hash built-ins — no Python UDFs),
so the heavy lifting stays in whole-stage codegen.

Scale design (the part that matters at 1000 executors):
- signatures are computed per-document in a single projection + one
  groupBy(doc) shuffle over exploded shingles;
- candidate generation shuffles on (band_id, band_hash) — documents only
  meet if they share a band, so the quadratic all-pairs comparison never
  materializes;
- exact verification joins only the candidate pairs back to their shingle
  sets (two hash joins on doc_id);
- skewed bands (a shingle-hash shared by millions of docs) are the known
  failure mode — AQE skew-join handles moderate skew, and bands hotter
  than BAND_CAP docs are dropped from candidate generation outright, with
  the dropped mass reported by ``lsh_hot_bands`` (no silent caps).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import (
    _staged,
    load_table,
    sized_spread,
)
from build_pipeline_with_apache_beam_spark.functions import sqlgen
from build_pipeline_with_apache_beam_spark.operators.graph import (
    connected_components,
)

N_MINHASH = 16          # signature length
N_BANDS = 4             # LSH bands (4 rows per band)
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.7
SHINGLE_WIDTH = 3


# ~128 docs per shingling task: shingling is heavily CPU-bound per row, so
# small corpora still fan out to full parallelism at bench scale (sf0.1 =
# 5000 docs → 32+ sized parts) while tiny gate corpora stop scheduling
# dozens of near-empty tasks; corpus-scale scans skip the exchange entirely
# (see catalog.sized_spread).
_DOC_ROWS_PER_PARTITION = 128


def _docs_with_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct word-3-gram shingles (array<string>), JVM-side.

    Size-aware spread (r15, guide §2.2/§6 — the r14 form unconditionally
    ``repartition(defaultParallelism)``-ed, a full-corpus shuffle at every
    scale): the test corpus is one small parquet file = ONE input split,
    and shingling is the CPU-heavy stage — without a spread it runs on a
    single core (and a single safepoint-starved codegen loop, observed
    minutes-long when the JIT declines the huge generated method).  At
    100 TB the input splits provide the parallelism and NO exchange is
    added.
    """
    # null text filtered AT THE SCAN (pushed parquet filter): the pre-r14
    # explode form emitted no signature row only for NULL text (split('',
    # ' ') = [''] still yields one '' shingle), and the DuckDB truth CTEs
    # compute from IS-NOT-NULL docs — so the scan filter matches exactly.
    # (The r14 form also dropped empty-STRING text, silently diverging from
    # the oracle on corpora with empty docs — ADVICE r14, fixed r15.)
    docs = sized_spread(  # footer-only, no job
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull()),
        sf_dir, "documents", _DOC_ROWS_PER_PARTITION)
    # Pre-split in a SEPARATE projection: `toks` is referenced more than
    # once by a non-cheap expression, so CollapseProject leaves the split
    # materialized.  Inlining `split(text, ' ')` into the lambda body makes
    # codegen re-split the whole document for every shingle position —
    # O(tokens²) per doc, measured 2-5× slower end-to-end.
    return docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        F.array_distinct(F.expr(
            f"transform(sequence(0, greatest(size(toks) - {SHINGLE_WIDTH}, 0)),"
            f" i -> concat_ws(' ', slice(toks, i + 1, {SHINGLE_WIDTH})))"
        )).alias("shingles"),
    )


def shingled_docs(spark: SparkSession,
                  sf_dir: str) -> Callable[[], DataFrame]:
    """:func:`_docs_with_shingles` as a thunk that builds it on its first
    call.  An op makes one per call and hands it to every stage builder
    that needs the shingled docs, so they are planned at most once, and a
    full stage hit plans them not at all."""
    return functools.cache(lambda: _docs_with_shingles(spark, sf_dir))


def _hashed_shingle_sets(shingled: DataFrame) -> DataFrame:
    """doc_id + ``sh``, the distinct xxhash64 of each shingle: the set form
    exact-Jaccard verification intersects and unions."""
    return shingled.select("doc_id", F.array_distinct(
        F.transform("shingles", lambda s: F.xxhash64(s))).alias("sh"))


def minhash_signatures(shingled: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """doc_id → minhash signature: min over shingles of seeded xxhash64.

    ZERO-shuffle since r14 (guide §2.4): each doc's mins are row-local
    higher-order functions (``array_min(transform(...))``), so the explode
    + groupBy(doc_id) exchange of the previous form disappears and the
    whole signature pass is one narrow projection — 3.2→0.9 s at sf0.1,
    bit-identical signatures (asserted at rewrite time: min over the same
    shingle multiset of the same ``xxhash64(i, shingle)``).  The null-text
    scan filter preserves the old explode semantics (only null-text docs
    produced no row).  At 100 TB this removes the signature pass's shuffle
    of one row per doc entirely; the banding join is the pipeline's only
    remaining exchange.
    """
    def seeded(i: int):
        # factory, NOT a default-arg lambda: pyspark passes (element, index)
        # to any two-parameter callable, silently overwriting the seed
        return lambda s: F.xxhash64(F.lit(i), s)

    # No empty/null guard HERE: a ``where(size(shingles) > 0)`` gets
    # filter-pushed below the shingle projection and recomputes the whole
    # O(tokens) shingle expression a second time (measured 0.7→3 s at
    # sf0.1).  _docs_with_shingles guarantees non-empty arrays by filtering
    # NULL text at the scan (a pushed parquet filter — free); any non-null
    # text (even '') yields ≥1 shingle, exactly the old explode semantics.
    return shingled.select(
        "doc_id",
        *[F.array_min(F.transform("shingles", seeded(i)))
          .alias(f"mh_{i}") for i in range(n_hashes)])


BAND_CAP = 10000   # drop LSH bands hotter than this many docs (B² guard)


def _stacked_bands(signatures: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per doc per band."""
    bands = signatures.select(
        "doc_id",
        *[
            F.xxhash64(*[F.col(f"mh_{b * ROWS_PER_BAND + r}")
                         for r in range(ROWS_PER_BAND)]).alias(f"band_{b}")
            for b in range(N_BANDS)
        ],
    )
    return bands.selectExpr(
        "doc_id",
        "stack({n}, {args}) AS (band_id, band_hash)".format(
            n=N_BANDS,
            args=", ".join(f"{b}, band_{b}" for b in range(N_BANDS))),
    )


def lsh_hot_bands(signatures: DataFrame,
                  band_cap: int | None = None) -> DataFrame:
    """The dropped mass the band cap removes — (band_id, band_hash,
    n_docs) for every band hotter than the cap.  Per the no-silent-caps
    discipline this is the reportable companion of
    ``lsh_candidate_pairs``: a dedup run logs/persists it so a capped
    band is an explicit, quantified recall decision, never an invisible
    one."""
    cap = BAND_CAP if band_cap is None else band_cap
    return (_stacked_bands(signatures)
            .groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > cap))


def lsh_candidate_pairs(signatures: DataFrame,
                        band_cap: int | None = None) -> DataFrame:
    """Banding: docs sharing any band of the signature become candidates.

    Shuffle key is (band_id, band_hash); the self-join never sees
    documents outside a shared bucket.

    Band-frequency cap (round-2 verdict #7): a degenerate band shared by
    B docs costs B²/2 candidate pairs — one boilerplate shingle pattern
    shared by millions of docs would melt the stage.  Bands hotter than
    ``band_cap`` (default BAND_CAP) are dropped from candidate
    generation via an anti-join against the (broadcast-small) hot-band
    list.  A pair is only lost if the cap removes EVERY band the two
    docs share; ``lsh_hot_bands`` reports exactly what was dropped, and
    ``dedup_minhash_recall_eval`` measures the recall consequence.
    """
    stacked = _stacked_bands(signatures)
    hot = lsh_hot_bands(signatures, band_cap).select("band_id", "band_hash")
    kept = stacked.join(F.broadcast(hot), ["band_id", "band_hash"],
                        "left_anti")
    a = kept.alias("a")
    # shuffle_hash: both sides are the corpus-sized banded signature table
    # (r9 sf3 audit: AQE broadcast one side at 32->129 MiB growth)
    b = kept.alias("b").hint("shuffle_hash")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def fuzzy_minhash_pairs(spark: SparkSession, sf_dir: str,
                        shingled: Callable[[], DataFrame]) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidate pairs →
    exact-Jaccard verification at the threshold.  The raw (doc_a, doc_b,
    jaccard) pair surface — what a dedup run joins back against the corpus.
    The registered op :func:`dedup_fuzzy_minhash` wraps this in the
    banded-oracle histogram DuckDB can check (the pair SET itself depends
    on the seeded banding, which is not portable SQL).  ``shingled`` is
    the op call's :func:`shingled_docs` thunk."""
    # stage 1: the signature index + hashed shingle sets (persisted — at
    # scale this is the reusable dedup index, built incrementally); stage
    # 2: LSH banding → candidate pairs, whose hit skips the signatures
    pairs = _staged(spark, lambda: lsh_candidate_pairs(_staged(
        spark, lambda: minhash_signatures(shingled()),
        sf_dir, "minhash_sigs")), sf_dir, "minhash_candidates")
    # hashed shingle sets for verification: intersect/union on fixed-width
    # longs instead of ~20-byte strings — smaller shuffle, cheaper compares;
    # xxhash64 collisions are negligible for jaccard
    hashed = _staged(spark, lambda: _hashed_shingle_sets(shingled()),
                     sf_dir, "minhash_shingle_sets")
    # stage 3: exact-jaccard verification of the candidates
    a = hashed.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = hashed.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # shuffle_hash: the hashed shingle-set index is corpus-sized with an
    # array payload — the single biggest AQE broadcast the r9 sf3 audit
    # caught (129 MiB, 4x the sf1 estimate)
    verified = (
        pairs.join(a.hint("shuffle_hash"), "doc_a")
        .join(b.hint("shuffle_hash"), "doc_b")
        .withColumn("jaccard", F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")), 4))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def _jbucket(jcol) -> F.Column:
    """Jaccard histogram bucket over [0.70, 1.00]: width 0.05, top bucket
    closed.  Integer arithmetic on round(j·10⁴) — never float boundaries —
    so the engine and the DuckDB oracle bucket identically (the rounded-4
    jaccard is integer-valued at 10⁴ scale on both sides)."""
    j10k = F.round(jcol * 10000, 0).cast("bigint")
    return F.least(
        F.floor((j10k - F.lit(7000)) / F.lit(500.0)).cast("bigint"),
        F.lit(5).cast("bigint"))


def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered, ORACLE-CHECKED face of :func:`fuzzy_minhash_pairs`
    (promoted from rows-only, round-9 verdict #2, banded-oracle pattern):
    the Jaccard histogram of the COMPLETE exact ground truth, with the
    sketch pipeline's predictions riding as per-bucket law booleans.

    - ``n_truth_pairs`` per 0.05-wide jaccard bucket is EXACT and
      engine-portable: DuckDB recomputes the full over-threshold pair set
      from raw text with string shingles (same capped inverted-index truth
      as ``dedup_minhash_recall_eval``) and buckets it with the identical
      integer arithmetic (:func:`_jbucket`).
    - ``preds_within_truth`` is pinned TRUE by the oracle: every LSH
      prediction must appear in the truth with the identical rounded
      jaccard (pair-level anti-join, evaluated corpus-wide), and no
      bucket's prediction count may exceed its truth count.  An xxhash64
      shingle collision or a df-cap-active corpus (predictions verify on
      FULL sets; truth drops stop-shingles) fails this loudly.

    The raw (doc_a, doc_b, jaccard) surface stays available via
    :func:`fuzzy_minhash_pairs`; corpus-level precision/recall live in
    ``dedup_minhash_recall_eval``.  A bucket appears iff the truth
    occupies it (predictions ⊆ truth, so no prediction-only bucket can
    exist)."""
    shingled = shingled_docs(spark, sf_dir)
    truth = _exact_truth_with_jaccard(spark, sf_dir, shingled)
    pred = _staged(spark, lambda: fuzzy_minhash_pairs(spark, sf_dir, shingled),
                   sf_dir, "fmh_pred")
    tb = truth.withColumn("bk", _jbucket(F.col("jaccard")))
    pb = pred.withColumn("bk", _jbucket(F.col("jaccard")))
    outside = (pb.join(truth.hint("shuffle_hash"),
                       ["doc_a", "doc_b", "jaccard"], "left_anti")
               .agg(F.count(F.lit(1)).alias("n_outside")))
    n_truth = tb.groupBy("bk").agg(F.count(F.lit(1)).alias("n_truth_pairs"))
    n_pred = pb.groupBy("bk").agg(F.count(F.lit(1)).alias("n_pred"))
    return (n_truth.join(n_pred, "bk", "left")
            .crossJoin(outside)
            .select(F.round(F.lit(0.7) + F.lit(0.05) * F.col("bk"), 2)
                    .alias("bucket_lo"),
                    "n_truth_pairs",
                    ((F.col("n_outside") == 0)
                     & (F.coalesce("n_pred", F.lit(0))
                        <= F.col("n_truth_pairs")))
                    .alias("preds_within_truth"))
            .orderBy("bucket_lo"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: per-bit signed sums of token hashes.

    All 64 bit-aggregates run in one groupBy(doc_id) pass (map-side partial
    agg); near-dup candidates then block on 16-bit sub-bands (hamming ≤ 3
    guarantees ≥ 1 exact sub-band match by pigeonhole).

    ORACLE-CHECKED (promoted from rows-only, round-9 verdict #2): the
    per-token hash is the ENGINE-PORTABLE md5 chunking — four 16-bit
    integers from the first 16 hex digits of ``md5(tok)`` — the same
    portability pattern as ``agg_kmv_distinct_intersect``/
    ``corpus_span_corruption``, so DuckDB replays signature, banding, and
    hamming verification bit-for-bit.  SimHash is internally consistent
    under ANY 64-bit hash family; the CPU-cheap seeded-xxhash64 form (the
    pre-r10 production path) is :func:`simhash_pairs` with
    ``hash_family="xxhash64"`` — registered-op-equivalent on the fixture
    corpus by test (tests/test_llm_ops.py), kept off the registry because
    it has no SQL twin.
    """
    return simhash_pairs(spark, sf_dir, hash_family="md5")


def simhash_pairs(spark: SparkSession, sf_dir: str,
                  hash_family: str = "md5") -> DataFrame:
    """SimHash near-dup pair pipeline, parameterized by the per-token
    64-bit hash family (round-10 verdict #8): ``"md5"`` is the
    engine-portable registered form (DuckDB replays it bit-for-bit);
    ``"xxhash64"`` is the 1:1 production fast path — one JVM xxhash64 per
    token instead of an md5 digest + hex conv — identical banding,
    hamming, and output contract.  Everything after the four 16-bit chunk
    columns exist is SHARED code, so the variants cannot drift."""
    # size-aware spread of the tokenize+hash stage (r15, guide §2.2/§6):
    # the test corpus is one parquet file = one input split; at 100 TB the
    # splits provide the parallelism natively and no exchange is added
    docs = sized_spread(load_table(spark, sf_dir, "documents"),
                        sf_dir, "documents", _DOC_ROWS_PER_PARTITION)
    # hash once per token in its own projection — inlining the hash chunks
    # into the 64 per-bit aggregates below would recompute the digest 64×
    # per row.  c0..c3 are the 64 hash bits as four 16-bit ints.
    if hash_family == "md5":
        chunks = [F.conv(F.substring(F.md5("tok"), 4 * i + 1, 4), 16, 10)
                  .cast("long").alias(f"c{i}") for i in range(4)]
    elif hash_family == "xxhash64":
        chunks = [F.shiftrightunsigned(F.xxhash64("tok"), 16 * i)
                  .bitwiseAND(F.lit(0xFFFF)).alias(f"c{i}") for i in range(4)]
    else:
        raise ValueError(f"unknown simhash hash_family: {hash_family!r}")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).select("doc_id", *chunks)
    # staged like minhash (see catalog._staged): the 64-agg sketch is the persisted
    # index; the band self-join below reads it as a plain parquet relation.
    # Per-bit aggregate is sum of the raw bit (branch-free) plus one shared
    # count; "majority of signed ±1 sums > 0" ⟺ "2·Σbit > n" — same bits,
    # half the per-row expression work in the hot partial-agg loop.
    # F.expr strings, not Column operators (see functions/sqlgen):
    # composing the 64 aggregates + the 64-term reconstruction from pyspark
    # Columns cost ~1.8 s of py4j round-trips PER CALL.
    bit_sums = _staged(spark, lambda: toks.groupBy("doc_id").agg(
        F.expr("count(1)").alias("n_toks"),
        *[F.expr(f"sum(shiftrightunsigned(c{b // 16}, {b % 16}) & 1)")
          .alias(f"s_{b}") for b in range(64)]
    ), sf_dir, f"simhash_bits_{hash_family}")
    sim_sql = " + ".join(
        f"(CASE WHEN s_{b} * 2 > n_toks THEN CAST(1 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        f" * {sqlgen.lit(1 << b if b < 63 else -(1 << 63))})"
        for b in range(64))
    simhash = bit_sums.select("doc_id", F.expr(sim_sql).alias("simhash"))
    # 4 × 16-bit bands; hamming ≤ 3 ⟹ at least one band identical
    bands = simhash.select(
        "doc_id", "simhash",
        *[F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
          .alias(f"b_{i}") for i in range(4)],
    )
    stacked = bands.selectExpr(
        "doc_id", "simhash",
        "stack(4, 0, b_0, 1, b_1, 2, b_2, 3, b_3) AS (band_id, band_val)")
    # shuffle_hash: the banded sketch table scales with the corpus
    # (r9 sf3 audit: 24 -> 64 MiB AQE broadcast)
    a, b = stacked.alias("a"), stacked.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                 .alias("hamming"))
        .where(F.col("hamming") <= 3)  # filter BEFORE the distinct shuffle
        .distinct()
    )
    return pairs


JACCARD_MAX_BLOCK = 1024  # per-tile row cap for the exact pair family


def _tiled_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked self-join on ``source``, TILED: the shared candidate
    generator for the exact token-set family (jaccard / containment /
    rate curve).

    All-pairs within a block is inherently quadratic — that is the
    semantics of exact ground truth — but the naive self-join puts a
    whole block's B²/2 comparisons on ONE reducer, so a hot source stalls
    the stage at 100× data (round-2 verdict, What's wrong #2).  Tiling
    keeps the result byte-identical while bounding every task: each block
    is split into n_sub = ceil(B / JACCARD_MAX_BLOCK) deterministic
    sub-blocks, each row is exploded across the n_sub partner tiles, and
    the join key becomes (source, sub_a, sub_b) — n_sub² tasks of at most
    JACCARD_MAX_BLOCK² comparisons each, instead of one task of B².
    Every (doc_a < doc_b) pair lands in exactly one tile, so no pair is
    dropped or duplicated.  Blocks under the cap degenerate to n_sub = 1
    (sub = tile = 0), i.e. the original single-block join.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    # token sets as xxhash64 LONGS, not strings (r14, guide §2.3 narrower
    # types): the quadratic tile compare does array_intersect/union per
    # pair, and 8-byte long equality beats ~8-20-byte string hashing —
    # measured 5.0→2.0 s for the jaccard leg at sf0.1 with the identical
    # 114,683-pair output.  Same collision posture as the minhash shingle
    # sets: xxhash64 collisions are negligible and would fail the DuckDB
    # string-token oracle LOUDLY, never silently.
    t = docs.select("doc_id", "source",
                    F.array_distinct(F.transform(
                        F.split("text", " "),
                        lambda tok: F.xxhash64(tok))).alias("toks"))
    sizes = t.groupBy("source").agg(
        F.ceil(F.count(F.lit(1)) / JACCARD_MAX_BLOCK).cast("int")
        .alias("n_sub"))
    blocked = (t.join(F.broadcast(sizes), "source")
               .withColumn("sub",
                           F.pmod(F.xxhash64("doc_id"),
                                  F.col("n_sub")).cast("int")))
    partner = F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1))
    a = blocked.select(F.col("doc_id").alias("doc_a"), "source",
                       F.col("toks").alias("toks_a"),
                       F.col("sub").alias("sub_a"),
                       partner.alias("tile_b"))
    b = blocked.select(F.col("doc_id").alias("doc_b"),
                       F.col("source").alias("source_b"),
                       F.col("toks").alias("toks_b"),
                       F.col("sub").alias("sub_b"),
                       partner.alias("tile_a"))
    # shuffle_hash hint: Catalyst's size estimate for the build side
    # ignores the token-array payload and the partner-tile explode, so
    # left alone it BROADCASTS the whole corpus slice and runs every
    # pair comparison inside the probe side's input-split tasks —
    # parallelism capped at file count, per-task work unbounded, the
    # exact failure tiling exists to prevent (observed at sf10: 20
    # stuck scan tasks).  Forcing a shuffle join makes the tile key
    # (source, sub, tile) the partition key, which is the whole point.
    return a.join(b.hint("shuffle_hash"),
                  (F.col("source") == F.col("source_b"))
                  & (F.col("sub_a") == F.col("tile_a"))
                  & (F.col("tile_b") == F.col("sub_b"))
                  & (F.col("doc_a") < F.col("doc_b")))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact token-set Jaccard (the oracle-checkable ground truth
    for the sketch-based ops): pairs within the same ``source`` block on a
    deterministic doc sample, Jaccard ≥ 0.5.

    Blocking is the scale lever: all-pairs is quadratic, per-block pairs
    are quadratic only in block size — and the block self-join is tiled
    (see ``_tiled_source_pairs``) so no single task ever exceeds
    JACCARD_MAX_BLOCK² comparisons however hot a block gets.  (In
    production the block key is a cheap sketch — length bucket, simhash
    band — rather than a metadata column.)
    """
    return (
        _tiled_source_pairs(spark, sf_dir)
        .withColumn("jaccard", F.round(
            F.size(F.array_intersect("toks_a", "toks_b"))
            / F.size(F.array_union("toks_a", "toks_b")), 4))
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "source", "jaccard")
    )


def dedup_connected_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of near-duplicate pairs → canonical group ids.

    Pair emission (minhash/simhash/jaccard) is only half of dedup: A~B and
    B~C must collapse into ONE group even when A~C was never emitted.  The
    grouping is ``graph.connected_components`` — the pointer-jumping
    min-label loop ``graph_component_size_dist`` also runs — over the
    sampled documents as vertices: near-dup clusters are shallow, so it
    converges in a handful of rounds, all executor-side, with the driver
    reading one changed-label count per round.  Edges here are the
    deterministic exact-Jaccard pairs, so a DuckDB recursive CTE can verify
    the grouping exactly.
    """
    # stage the pair computation BEFORE mirroring: mirroring the lazy plan
    # would run the jaccard self-join twice
    pairs = _staged(spark, lambda: dedup_ngram_jaccard(spark, sf_dir)
                    .select(F.col("doc_a").alias("u"),
                            F.col("doc_b").alias("v")), sf_dir, "cc_pairs")
    vertices = (load_table(spark, sf_dir, "documents")
                .where(F.col("doc_id") % 4 == 0)
                .select(F.col("doc_id").alias("node")))
    return (connected_components(pairs, vertices)
            .select(F.col("node").alias("doc_id"), "group_id"))


def incremental_minhash_pairs(spark: SparkSession, sf_dir: str,
                              docs: Callable[[], DataFrame]) -> DataFrame:
    """Incremental dedup, pair surface: a new ingest batch checked against
    the persisted signature index WITHOUT re-deduplicating history.

    The daily-ingest shape at 100 TB: signatures are computed only for the
    new batch (here: doc_id % 10 == 0 stands in for today's arrivals), the
    historical index is a parquet re-read, and banding joins NEW × (HISTORY
    ∪ NEW) — so per-run cost scales with the batch, not the corpus.  Exact
    Jaccard verifies candidates as usual.  Emits the verified
    (new_doc, cand_doc, jaccard) matches; :func:`incremental_minhash_matches`
    rolls them up per new doc, and the registered
    :func:`dedup_incremental_minhash` reshapes the rollup into the
    banded-oracle form (the pair set depends on the seeded banding, which is
    not portable SQL).  ``docs`` is the op call's :func:`shingled_docs`
    thunk.
    """
    is_new = F.col("doc_id") % 10 == 0

    def shingled(rows: Column) -> DataFrame:
        return docs().where(rows)

    def _bands(sigs: DataFrame) -> DataFrame:
        withb = sigs.select(
            "doc_id",
            *[F.xxhash64(*[F.col(f"mh_{b * ROWS_PER_BAND + r}")
                           for r in range(ROWS_PER_BAND)]).alias(f"band_{b}")
              for b in range(N_BANDS)])
        return withb.selectExpr(
            "doc_id",
            "stack({n}, {args}) AS (band_id, band_hash)".format(
                n=N_BANDS,
                args=", ".join(f"{b}, band_{b}" for b in range(N_BANDS))))

    def candidates() -> DataFrame:
        # persisted index over history — the whole point of the
        # incremental shape: history is signed ONCE and re-read as parquet
        # on every subsequent ingest, so per-run cost scales with the
        # batch, not the corpus.  The batch stages are keyed on their
        # inputs too, so an unchanged batch is not re-signed either.
        hist_sigs = _staged(
            spark, lambda: minhash_signatures(shingled(~is_new)),
            sf_dir, "inc_index_sigs")
        new_sigs = _staged(
            spark, lambda: minhash_signatures(shingled(is_new)),
            sf_dir, "inc_new_sigs")
        new_b = _bands(new_sigs).alias("a")
        # shuffle_hash: the history index side is corpus-sized (sf3 audit)
        all_b = _bands(hist_sigs.unionByName(new_sigs)).alias("b") \
            .hint("shuffle_hash")
        return (
            new_b.join(all_b, (F.col("a.band_id") == F.col("b.band_id"))
                       & (F.col("a.band_hash") == F.col("b.band_hash"))
                       & (F.col("a.doc_id") != F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("new_doc"),
                    F.col("b.doc_id").alias("cand_doc"))
            .distinct()
        )

    # shingle sets split the same way — and the a-side of the verification
    # join is the BATCH sets only (new_doc is always a batch doc), a
    # batch-sized build side instead of corpus-sized
    hist_sets = _staged(
        spark, lambda: _hashed_shingle_sets(shingled(~is_new)),
        sf_dir, "inc_index_sets")
    new_sets = _staged(
        spark, lambda: _hashed_shingle_sets(shingled(is_new)),
        sf_dir, "inc_new_sets")
    a = new_sets.select(F.col("doc_id").alias("new_doc"),
                        F.col("sh").alias("sh_a"))
    b = (hist_sets.unionByName(new_sets)
         .select(F.col("doc_id").alias("cand_doc"),
                 F.col("sh").alias("sh_b")))
    ratio = (F.size(F.array_intersect("sh_a", "sh_b"))
             / F.size(F.array_union("sh_a", "sh_b")))
    # shuffle_hash on both shingle-set joins: corpus-sized array payload
    # (r9 sf3 audit; see fuzzy_minhash_pairs)
    return (
        _staged(spark, candidates, sf_dir, "inc_candidates")
        .join(a.hint("shuffle_hash"), "new_doc")
        .join(b.hint("shuffle_hash"), "cand_doc")
        .withColumn("_r", ratio)
        .where(F.col("_r") >= JACCARD_THRESHOLD)
        .select("new_doc", "cand_doc", F.round("_r", 4).alias("jaccard"))
    )


def _new_doc_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental batch axis: one row per arriving doc — straight off
    the documents table so the DuckDB twin (doc_id % 10 = 0) is exact."""
    return (load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 10 == 0)
            .select(F.col("doc_id").alias("new_doc")))


def incremental_minhash_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-new-doc rollup of :func:`incremental_minhash_pairs`: duplicate
    match count + verdict for every doc in the batch (the user surface a
    daily ingest filters on)."""
    verified = incremental_minhash_pairs(spark, sf_dir,
                                         shingled_docs(spark, sf_dir))
    return (
        _new_doc_axis(spark, sf_dir)
        .join(verified.groupBy("new_doc")
              .agg(F.count(F.lit(1)).alias("n_dup_matches")),
              "new_doc", "left")
        .select("new_doc",
                F.coalesce("n_dup_matches", F.lit(0)).alias("n_dup_matches"),
                (F.coalesce("n_dup_matches", F.lit(0)) > 0)
                .alias("is_duplicate"))
        .orderBy("new_doc")
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered, ORACLE-CHECKED face of the incremental pipeline
    (promoted from rows-only, round-9 verdict #2, banded-oracle pattern):
    per new doc,

    - ``n_truth_matches`` is EXACT and engine-portable — DuckDB recomputes,
      from raw text with string shingles, how many other documents truly sit
      over the Jaccard threshold (the same capped inverted-index truth as
      ``dedup_minhash_recall_eval``);
    - ``has_truth_match`` is the exact per-doc verdict the truth implies;
    - ``matches_within_truth`` rides as the law boolean the oracle pins
      TRUE: every verified prediction must appear in the truth with the
      identical rounded jaccard, and per-doc prediction counts can never
      exceed the truth (an xxhash64 collision or a df-cap-active corpus
      fails this loudly, never silently).

    Raw per-doc match counts stay available via
    :func:`incremental_minhash_matches`; the batch-equivalence law
    (incremental ≡ full pipeline restricted to new docs) is tested in
    tests/test_llm_ops.py."""
    docs = shingled_docs(spark, sf_dir)
    pred = _staged(spark,
                   lambda: incremental_minhash_pairs(spark, sf_dir, docs),
                   sf_dir, "inc_pred")
    truth = _exact_truth_with_jaccard(spark, sf_dir, docs)
    # truth matches per new doc: every truth pair touching the doc
    tm = (truth.select(F.explode(F.array("doc_a", "doc_b")).alias("new_doc"))
          .where(F.col("new_doc") % 10 == 0)
          .groupBy("new_doc").agg(F.count(F.lit(1)).alias("n_truth")))
    # pair-level subset law, evaluated once corpus-wide: normalize the
    # directed prediction to the unordered (doc_a < doc_b) truth key
    pred_norm = pred.select(
        "new_doc",
        F.least("new_doc", "cand_doc").alias("doc_a"),
        F.greatest("new_doc", "cand_doc").alias("doc_b"), "jaccard")
    outside = (pred_norm.join(truth.hint("shuffle_hash"),
                              ["doc_a", "doc_b", "jaccard"],
                              "left_anti")
               .agg(F.count(F.lit(1)).alias("n_outside")))
    n_pred = pred.groupBy("new_doc").agg(F.count(F.lit(1)).alias("n_pred"))
    # per-new-doc tables scale with the batch (10% of the corpus): pinned
    return (
        _new_doc_axis(spark, sf_dir)
        .join(tm.hint("shuffle_hash"), "new_doc", "left")
        .join(n_pred.hint("shuffle_hash"), "new_doc", "left")
        .crossJoin(outside)
        .select("new_doc",
                F.coalesce("n_truth", F.lit(0)).alias("n_truth_matches"),
                (F.coalesce("n_truth", F.lit(0)) > 0).alias("has_truth_match"),
                ((F.col("n_outside") == 0)
                 & (F.coalesce("n_pred", F.lit(0))
                    <= F.coalesce("n_truth", F.lit(0))))
                .alias("matches_within_truth"))
        .orderBy("new_doc")
    )



DEDUP_CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def corpus_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate burden as a function of similarity threshold: pair
    count and affected-document count at each Jaccard cut — the curve that
    picks a dedup threshold for a training cut (how much data each setting
    would remove).

    ONE pass of the blocked exact-Jaccard pairs at the loosest cut feeds
    every threshold (explode over the tiny threshold axis + filter), so
    the curve costs the same as the single-threshold op; at 100 TB the
    pair set, not the thresholds, dominates.
    """
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard")
    thr = F.explode(F.array(
        *[F.lit(t) for t in DEDUP_CURVE_THRESHOLDS])).alias("threshold")
    at_thr = (pairs.select("doc_a", "doc_b", "jaccard", thr)
              .where(F.col("jaccard") >= F.col("threshold")))
    n_pairs = at_thr.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (at_thr.select(
        "threshold", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("threshold").agg(F.countDistinct("d").alias("n_docs")))
    return n_pairs.join(n_docs, "threshold").orderBy("threshold")



def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplication: token-set containment |A∩B| / |A| —
    the measure that catches a document EMBEDDED inside a larger one
    (quote farms, scraped aggregations), which symmetric Jaccard misses
    because the union dwarfs the intersection.

    Same blocked-and-tiled self-join discipline as dedup_ngram_jaccard
    (per-source blocks, doc_id % 4 sample, per-task comparison cap via
    ``_tiled_source_pairs``), but both directions are emitted from ONE
    ordered pair comparison (containment of a in b AND b in a share the
    intersection computation).  Flags pairs where either direction ≥ 0.8
    while Jaccard may be far lower.
    """
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    pairs = (_tiled_source_pairs(spark, sf_dir)
             .select("doc_a", "doc_b", "source",
                     inter.alias("n_common"),
                     F.size("toks_a").alias("n_a"),
                     F.size("toks_b").alias("n_b")))
    c_ab = F.col("n_common") / F.col("n_a")
    c_ba = F.col("n_common") / F.col("n_b")
    return (pairs
            .where((c_ab >= 0.8) | (c_ba >= 0.8))
            .select("doc_a", "doc_b", "source",
                    F.round(c_ab, 4).alias("containment_a_in_b"),
                    F.round(c_ba, 4).alias("containment_b_in_a"))
            .orderBy("doc_a", "doc_b"))


SPAN_TOKENS = 10        # C4/Dolma-style span width for span-level dedup


def dedup_span_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (C4/Dolma-style) duplication profile: cut every document
    into non-overlapping ``SPAN_TOKENS``-token spans and measure, per doc,
    the fraction of spans that also occur verbatim in at least one OTHER
    document.  This is the chunk-granularity middle ground between exact
    whole-doc dedup and MinHash — the operator production pipelines use to
    strip boilerplate spans repeated across a crawl.

    Scale shape: one projection builds the span array per doc (JVM
    higher-order functions, no Python), posexplode shuffles spans once on
    the span text (the same key the frequency aggregate needs), and the
    doc-level rollup shuffles one row per span back on doc_id.  Cost is
    O(total tokens); no self-join, no pairwise comparison — at 100 TB the
    hot key is a boilerplate span shared by millions of docs, which AQE
    skew-split handles because the per-span payload is just (doc_id, nd).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_spans = F.ceil(F.size(toks) / F.lit(SPAN_TOKENS)).cast("int")
    # guard the 1..n_spans index range: empty/whitespace-only docs yield a
    # descending sequence(1,0) otherwise (the ADVICE.md corpus_curation_funnel
    # hazard), so build spans only when at least one token exists
    spans_expr = F.when(
        F.size(toks) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_spans, F.lit(1))),
            lambda i: F.array_join(
                F.slice(toks, (i - 1) * SPAN_TOKENS + 1, SPAN_TOKENS), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = (docs.select("doc_id", spans_expr.alias("spans"))
             .select("doc_id", F.explode("spans").alias("span")))
    freq = (spans.groupBy("span")
            .agg(F.count_distinct("doc_id").alias("nd")))
    # hint-pinned (round-8 audit): AQE broadcast the span-frequency table
    # at sf1 (80 MiB) — a corpus-growing side, so that plan dies at scale;
    # the shuffle join is the documented intent (freq is already
    # hash-partitioned on span by its groupBy)
    return (spans.join(freq.hint("shuffle_hash"), "span")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                 .alias("n_dup_spans"))
            .select("doc_id", "n_spans", "n_dup_spans",
                    F.round(F.col("n_dup_spans") / F.col("n_spans"), 4)
                    .alias("dup_span_frac"))
            .orderBy("doc_id"))


SHINGLE_DF_CAP = 4096   # drop stop-shingles hotter than this many docs


def eval_hot_shingles(spark: SparkSession, sf_dir: str,
                      df_cap: int | None = None) -> DataFrame:
    """The dropped mass the recall-eval df-cap removes: (h, df) for every
    shingle hash whose document frequency exceeds the cap.  The
    reportable companion of ``dedup_minhash_recall_eval``'s inverted
    index, mirroring ``lsh_hot_bands`` — a capped stop-shingle is an
    explicit, quantified decision, never an invisible one."""
    cap = SHINGLE_DF_CAP if df_cap is None else df_cap
    shingled = _docs_with_shingles(spark, sf_dir)
    inv = (shingled.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.transform("shingles", lambda s: F.xxhash64(s)))).alias("h")))
    return (inv.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > cap))


def _exact_truth_with_jaccard(spark: SparkSession, sf_dir: str,
                              shingled: Callable[[], DataFrame]) -> DataFrame:
    """COMPLETE exact shingle-Jaccard ground truth over the threshold:
    (doc_a, doc_b, jaccard rounded 4) — the shared truth side of the
    banded oracles (``dedup_minhash_recall_eval``, ``dedup_fuzzy_minhash``,
    ``dedup_incremental_minhash``).

    Exact but NOT all-pairs: an inverted shingle index joins only documents
    sharing ≥ 1 shingle (a pair with Jaccard > 0 always appears), so cost
    is Σ_shingle C(df, 2), bounded by shingle document frequency.  Shingles
    hotter than ``SHINGLE_DF_CAP`` are dropped from the index (anti-join);
    set sizes stay uncapped, so capped truth ⊆ uncapped truth —
    conservative, never inflated — and ``eval_hot_shingles`` reports the
    dropped mass.  The threshold filter runs on the UNROUNDED ratio (both
    ints divide to the identical IEEE double in DuckDB), then rounds to 4
    for the emitted value.

    Staged once per sf: three registered ops (recall eval, fuzzy
    histogram, incremental) share this exact-truth index, and a hit runs
    none of :func:`_exact_truth_plan` — not even its ``mh_eval_sets``
    stage.  ``shingled`` is the op call's :func:`shingled_docs` thunk,
    shared with its pair builder."""
    return _staged(spark, lambda: _exact_truth_plan(spark, sf_dir, shingled),
                   sf_dir, "exact_truth")


def _exact_truth_plan(spark: SparkSession, sf_dir: str,
                      shingled: Callable[[], DataFrame]) -> DataFrame:
    """The lazy plan :func:`_exact_truth_with_jaccard` stages: hashed
    shingle sets (an eager ``mh_eval_sets`` stage) → capped inverted index
    → pair self-join → exact ratio at the threshold."""
    hashed = _staged(spark, lambda: _hashed_shingle_sets(shingled()),
                     sf_dir, "mh_eval_sets")
    sizes = hashed.select("doc_id", F.size("sh").alias("n"))
    inv = hashed.select("doc_id", F.explode("sh").alias("h"))
    hot = (inv.groupBy("h")
           .agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > SHINGLE_DF_CAP).select("h"))
    inv = inv.join(F.broadcast(hot), "h", "left_anti")
    # shuffle_hash: the inverted index is corpus-sized (docs × shingles
    # rows); the explode-side estimate undershoots the broadcast threshold
    # and AQE broadcast one side of the self-join (192 MiB at sf1,
    # tools/broadcast_audit.py) — shingle-partitioned shuffle scales
    common = (inv.alias("a")
              .join(inv.alias("b").hint("shuffle_hash"),
                    (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    ratio = (F.col("n_common")
             / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    # shuffle_hash: the per-doc size table scales with the corpus
    return (common
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("n_a"))
                  .hint("shuffle_hash"), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("n_b"))
                  .hint("shuffle_hash"), "doc_b")
            .where(ratio >= JACCARD_THRESHOLD)
            .select("doc_a", "doc_b", F.round(ratio, 4).alias("jaccard")))


def minhash_eval_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: precision/recall/F1 of the MinHash+LSH
    pipeline against COMPLETE exact shingle-Jaccard ground truth — the
    measure-don't-guess op that tells you whether 16 hashes / 4 bands is
    enough before you spend a 100 TB pass on it.

    Ground truth is exact but NOT all-pairs: an inverted shingle index
    joins only documents that share at least one shingle (any pair with
    Jaccard > 0 appears; pairs sharing nothing can't reach the threshold),
    so the cost is Σ_shingle C(df, 2) — bounded by shingle document
    frequency, not |docs|².  Shingles hotter than ``SHINGLE_DF_CAP`` docs
    (stop-shingle boilerplate, the Σ C(df,2) blow-up term) are DROPPED
    from the index via an anti-join, the same guard as the LSH band cap;
    ``eval_hot_shingles`` reports exactly what was dropped (no silent
    caps), and because n_common can only shrink while set sizes stay
    exact, a capped truth is a strict SUBSET of the uncapped truth —
    conservative, never inflated.  The default cap is far above any df
    in the test corpora, so the shipped numbers are uncapped.

    Because the LSH pipeline exact-verifies its candidates, precision is
    1.0 by construction; recall isolates banding misses (pairs whose
    signatures agreed in no band).  This detail frame keeps every raw
    metric for the law tests; the registered op
    :func:`dedup_minhash_recall_eval` reshapes it into the banded-oracle
    form DuckDB can check."""
    # truth and the verified pair set are staged parquet indexes shared
    # with dedup_fuzzy_minhash
    shingled = shingled_docs(spark, sf_dir)
    t = _exact_truth_with_jaccard(spark, sf_dir, shingled).select(
        "doc_a", "doc_b")
    p = _staged(spark, lambda: fuzzy_minhash_pairs(spark, sf_dir, shingled),
                sf_dir, "fmh_pred").select("doc_a", "doc_b")
    # shuffle_hash: both pair sets scale with dup density x corpus
    both = (t.withColumn("in_t", F.lit(1))
            .join(p.withColumn("in_p", F.lit(1)).hint("shuffle_hash"),
                  ["doc_a", "doc_b"], "full_outer"))
    m = both.agg(
        F.sum(F.coalesce("in_t", F.lit(0))).alias("n_truth_pairs"),
        F.sum(F.coalesce("in_p", F.lit(0))).alias("n_predicted_pairs"),
        F.sum(F.when(F.col("in_t").isNotNull()
                     & F.col("in_p").isNotNull(), 1).otherwise(0))
        .alias("n_hits"))
    precision = F.round(F.try_divide("n_hits", "n_predicted_pairs"), 4)
    recall = F.round(F.try_divide("n_hits", "n_truth_pairs"), 4)
    return m.select(
        "n_truth_pairs", "n_predicted_pairs", "n_hits",
        precision.alias("precision"), recall.alias("recall"),
        F.round(F.try_divide(2 * precision * recall, precision + recall), 4)
        .alias("f1"))


MINHASH_RECALL_FLOOR = 0.5
"""Sketch-quality gate for the banded oracle: at the 0.7 Jaccard threshold
the 16-hash / 4-band S-curve admits a pair with probability ≥ 1-(1-0.7⁴)⁴
≈ 0.89, so corpus recall ≥ 0.5 holds with wide margin (measured 0.93–0.96
across the test SFs); a breach means the banding itself regressed."""


def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered, ORACLE-CHECKED face of :func:`minhash_eval_detail`
    (promoted from rows-only, round-6 verdict #8, banded-oracle pattern):

    - ``n_truth_pairs`` is EXACT and engine-portable — DuckDB recomputes
      the complete shingle-Jaccard ground truth from raw text with string
      shingles (the engine's xxhash64-hashed shingle sets are
      collision-free at these corpus sizes, so the counts coincide; a
      collision would fail the gate loudly, not silently).
    - the sketch-side counts ride as law booleans the oracle pins to TRUE:
      precision is 1.0 by construction (candidates are exact-verified),
      hits can never exceed truth (predictions ⊆ truth), and corpus recall
      clears ``MINHASH_RECALL_FLOOR`` (the S-curve bound, see above).

    Full metric values (counts, precision/recall/F1) stay available via
    :func:`minhash_eval_detail`, which the law tests exercise."""
    m = minhash_eval_detail(spark, sf_dir)
    return m.select(
        F.coalesce("n_truth_pairs", F.lit(0)).alias("n_truth_pairs"),
        (F.coalesce("n_hits", F.lit(0))
         == F.coalesce("n_predicted_pairs", F.lit(0)))
        .alias("precision_is_one"),
        (F.coalesce("n_hits", F.lit(0))
         <= F.coalesce("n_truth_pairs", F.lit(0)))
        .alias("hits_within_truth"),
        ((F.coalesce("n_truth_pairs", F.lit(0)) == 0)
         | (F.col("recall") >= MINHASH_RECALL_FLOOR))
        .alias("recall_ge_floor"))


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: within each near-dup cluster keep ONE canonical
    document (longest text; doc_id breaks ties) and mark the rest dropped —
    the decision table a curation pipeline joins back to filter the corpus.

    Composes the connected-components grouping with a per-group max_by
    selection: one aggregate on group_id picks the canonical, one
    group_id-keyed join labels every member.  The canonical table has one
    row PER CLUSTER — corpus-growing, so it is shuffle_hash-pinned, not
    broadcast (the r9 sf3 audit measured it at 16 MiB and scaling with
    the corpus; the join reuses the hash partitioning its groupBy already
    produced).  Emits (doc_id, group_id, canonical_id, keep, n_members);
    singleton clusters keep their only member, so keeps sum to exactly
    one per cluster — the invariant the test asserts."""
    labels = dedup_connected_groups(spark, sf_dir)
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 4 == 0)
            .select("doc_id", F.length("text").alias("n_len")))
    members = labels.join(docs, "doc_id")
    canon = (members.groupBy("group_id")
             .agg(F.expr("max_by(doc_id, struct(n_len, -doc_id))")
                  .alias("canonical_id"),
                  F.count(F.lit(1)).alias("n_members")))
    return (members.join(canon.hint("shuffle_hash"), "group_id")
            .select("doc_id", "group_id", "canonical_id", "n_members",
                    (F.col("doc_id") == F.col("canonical_id")).alias("keep"))
            .orderBy("doc_id"))


QUERIES = {
    "dedup_cluster_canonical": dedup_cluster_canonical,
    "dedup_minhash_recall_eval": dedup_minhash_recall_eval,
    "dedup_span_chunks": dedup_span_chunks,
    "dedup_fuzzy_minhash": dedup_fuzzy_minhash,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "corpus_dedup_rate_curve": corpus_dedup_rate_curve,
    "dedup_containment": dedup_containment,
    "dedup_connected_groups": dedup_connected_groups,
}

# Shared truth side of the three banded minhash oracles — the SQL twin of
# _exact_truth_with_jaccard: word-3-gram string shingles (same construction
# as _docs_with_shingles), the SHINGLE_DF_CAP stop-shingle drop replicated
# via anti-join (round-8 ADVICE; set sizes sz stay UNCAPPED on both sides),
# unrounded-ratio threshold, jaccard rounded to 4.  String vs xxhash64
# shingles coincide absent collisions; a collision fails the gate loudly.
_TRUTH_CTES = f"""toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), idx AS (
            SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - {SHINGLE_WIDTH}, 0)
                                   + 1)) AS i
            FROM toks
        ), sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(t[i + 1 : i + {SHINGLE_WIDTH}], ' ') AS s
            FROM idx
        ), sz AS (
            SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        ), hot AS (
            SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {SHINGLE_DF_CAP}
        ), shc AS (
            SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hot USING (s)
        ), common AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
            FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), truth AS (
            SELECT da, db, ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS j
            FROM common
            JOIN sz sa ON sa.doc_id = da
            JOIN sz sb ON sb.doc_id = db
            WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
        )"""

# --- dedup_simhash exact replay (round-9 verdict #2 promotion) ---------
# chunk i = first-16-hex-digit window [4i+1, 4i+4] of md5(tok) as a 16-bit
# int — the same STRPOS nibble arithmetic as behavioral._MD5_48_SQL, so
# DuckDB and Spark's conv(substring(md5,...),16,10) agree digit-for-digit.
_SH_CHUNKS = ",\n           ".join(
    " + ".join(
        f"(STRPOS('0123456789abcdef', SUBSTRING(MD5(tok), {4 * i + j + 1}, 1))"
        f" - 1) * {16 ** (3 - j)}"
        for j in range(4)) + f" AS c{i}"
    for i in range(4))
_SH_BIT_SUMS = ",\n           ".join(
    f"SUM((c{b // 16} >> {b % 16}) & 1) AS s_{b}" for b in range(64))
# signed-long assembly: bit 63 contributes -(2**63); the negative term is
# ADDED LAST so no intermediate BIGINT sum overflows
_SH_ASSEMBLE = " + ".join(
    f"(CASE WHEN 2 * s_{b} > n THEN 1 ELSE 0 END)"
    + (f" * CAST({1 << b} AS BIGINT)" if b < 63
       else " * CAST(-9223372036854775808 AS BIGINT)")
    for b in list(range(63)) + [63])

ORACLE = {
    # Exact replay (round-9 verdict #2 promotion): DuckDB recomputes the
    # md5-chunk token hashes, the 64 per-bit majorities, the signed-long
    # simhash, the 4×16-bit bands, and the hamming≤3 verification —
    # bit-for-bit the engine's pipeline, value-hash-compared.
    "dedup_simhash": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents
        ), h AS (
            SELECT doc_id,
           {_SH_CHUNKS}
            FROM toks
        ), bits AS (
            SELECT doc_id, COUNT(*) AS n,
           {_SH_BIT_SUMS}
            FROM h GROUP BY doc_id
        ), sim AS (
            SELECT doc_id, CAST({_SH_ASSEMBLE} AS BIGINT) AS simhash
            FROM bits
        ), band AS (
            SELECT doc_id, simhash, i AS band_id,
                   (simhash >> (16 * i)) & 65535 AS band_val
            FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(i)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM band a JOIN band b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    # Banded oracle (round-6 verdict #8): DuckDB recomputes the EXACT
    # ground-truth pair count from raw text with string shingles — the
    # same word-3-gram construction as _docs_with_shingles — and pins the
    # sketch-side law booleans to TRUE (precision 1.0 by construction,
    # predictions ⊆ truth, corpus recall over the S-curve floor).
    "dedup_minhash_recall_eval": f"""
        WITH {_TRUTH_CTES}
        SELECT COUNT(*) AS n_truth_pairs,
               TRUE AS precision_is_one,
               TRUE AS hits_within_truth,
               TRUE AS recall_ge_floor
        FROM truth
    """,
    # Banded oracle (round-9 verdict #2): DuckDB recomputes the exact
    # ground-truth jaccard HISTOGRAM (0.05-wide buckets over [0.70, 1.00],
    # identical integer bucketing as _jbucket) and pins the pair-level
    # prediction-subset law TRUE.
    "dedup_fuzzy_minhash": f"""
        WITH {_TRUTH_CTES}, bk AS (
            SELECT LEAST(CAST(FLOOR((CAST(ROUND(j * 10000) AS BIGINT) - 7000)
                                    / 500.0) AS BIGINT), 5) AS b
            FROM truth
        )
        SELECT ROUND(0.7::DOUBLE + 0.05::DOUBLE * b, 2) AS bucket_lo,
               COUNT(*)::BIGINT AS n_truth_pairs,
               TRUE AS preds_within_truth
        FROM bk GROUP BY b ORDER BY bucket_lo
    """,
    # Banded oracle (round-9 verdict #2): per arriving doc (doc_id % 10 = 0),
    # the exact truth-match count and verdict, with the engine's
    # prediction-subset law pinned TRUE.
    "dedup_incremental_minhash": f"""
        WITH {_TRUTH_CTES}, nd AS (
            SELECT doc_id AS new_doc FROM documents WHERE doc_id % 10 = 0
        ), tm AS (
            SELECT d AS new_doc, COUNT(*) AS m
            FROM (SELECT UNNEST([da, db]) AS d FROM truth)
            WHERE d % 10 = 0 GROUP BY 1
        )
        SELECT new_doc, COALESCE(m, 0)::BIGINT AS n_truth_matches,
               COALESCE(m, 0) > 0 AS has_truth_match,
               TRUE AS matches_within_truth
        FROM nd LEFT JOIN tm USING (new_doc)
        ORDER BY new_doc
    """,
    "dedup_span_chunks": """
        WITH t AS (
            SELECT doc_id, str_split(text, ' ') AS toks FROM documents
        ), spans AS (
            SELECT doc_id,
                   array_to_string(
                       list_slice(toks, (i - 1) * 10 + 1, i * 10), ' ')
                       AS span
            FROM t, UNNEST(range(1, CAST(GREATEST(
                     CEIL(len(toks) / 10.0), 1) AS BIGINT) + 1)) AS u(i)
            WHERE len(toks) >= 1
        ), freq AS (
            SELECT span, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY 1
        )
        SELECT doc_id, COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               ROUND(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 4) AS dup_span_frac
        FROM spans JOIN freq USING (span)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "dedup_containment": """
        WITH t AS (
            SELECT doc_id, source, list_distinct(str_split(text, ' ')) AS toks
            FROM documents WHERE doc_id % 4 = 0
        ), pairs AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.source,
                   len(list_intersect(a.toks, b.toks)) AS n_common,
                   len(a.toks) AS n_a, len(b.toks) AS n_b
            FROM t a JOIN t b
              ON a.source = b.source AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, source,
               ROUND(n_common * 1.0 / n_a, 4) AS containment_a_in_b,
               ROUND(n_common * 1.0 / n_b, 4) AS containment_b_in_a
        FROM pairs
        WHERE n_common * 1.0 / n_a >= 0.8 OR n_common * 1.0 / n_b >= 0.8
        ORDER BY doc_a, doc_b
    """,
    "corpus_dedup_rate_curve": """
        WITH t AS (
            SELECT doc_id, source, list_distinct(str_split(text, ' ')) AS toks
            FROM documents WHERE doc_id % 4 = 0
        ), pairs AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                         / len(list_distinct(list_concat(a.toks, b.toks))), 4)
                       AS jaccard
            FROM t a JOIN t b
              ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks)) * 1.0
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        ), thr AS (SELECT UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[])
                       AS threshold),
        at_thr AS (
            SELECT threshold, doc_a, doc_b
            FROM pairs, thr WHERE jaccard >= threshold
        ), np AS (
            SELECT threshold, COUNT(1) AS n_pairs
            FROM at_thr GROUP BY threshold
        ), nd AS (
            SELECT threshold, COUNT(DISTINCT d) AS n_docs
            FROM (SELECT threshold, UNNEST([doc_a, doc_b]) AS d FROM at_thr)
            GROUP BY threshold
        )
        SELECT threshold, n_pairs, CAST(n_docs AS BIGINT) AS n_docs
        FROM np JOIN nd USING (threshold)
        ORDER BY threshold
    """,
    "dedup_ngram_jaccard": """
        WITH t AS (
            SELECT doc_id, source, list_distinct(str_split(text, ' ')) AS toks
            FROM documents WHERE doc_id % 4 = 0
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.source,
               ROUND(len(list_intersect(a.toks, b.toks)) * 1.0
                     / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
        FROM t a JOIN t b
          ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks)) * 1.0
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
    """,
    "dedup_connected_groups": """
        WITH t AS MATERIALIZED (
            SELECT doc_id, source, list_distinct(str_split(text, ' ')) AS toks
            FROM documents WHERE doc_id % 4 = 0
        ), pairs AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM t a JOIN t b
              ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks)) * 1.0
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        ), edges AS MATERIALIZED (
            SELECT doc_a, doc_b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        -- min-label propagation with pointer jumping, unrolled:
        -- l' = least(own, min over neighbours, label-of-label) per
        -- round — jumping halves label depth, so 10 rounds cover
        -- component diameter 2^10.  Replaces the recursive
        -- transitive closure, whose working set is quadratic in
        -- cluster size on dense dup graphs (35-48 min at sf1).
        ), l0 AS MATERIALIZED (
            SELECT doc_id AS n, doc_id AS l FROM t
        ), l1 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l0 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l0 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l0 j ON p.l = j.n
        ), l2 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l1 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l1 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l1 j ON p.l = j.n
        ), l3 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l2 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l2 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l2 j ON p.l = j.n
        ), l4 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l3 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l3 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l3 j ON p.l = j.n
        ), l5 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l4 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l4 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l4 j ON p.l = j.n
        ), l6 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l5 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l5 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l5 j ON p.l = j.n
        ), l7 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l6 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l6 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l6 j ON p.l = j.n
        ), l8 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l7 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l7 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l7 j ON p.l = j.n
        ), l9 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l8 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l8 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l8 j ON p.l = j.n
        ), l10 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l9 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l9 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l9 j ON p.l = j.n
        )
        SELECT n AS doc_id, l AS group_id FROM l10 ORDER BY doc_id
    """,
    "dedup_cluster_canonical": """
        WITH t AS MATERIALIZED (
            SELECT doc_id, source, list_distinct(str_split(text, ' ')) AS toks
            FROM documents WHERE doc_id % 4 = 0
        ), pairs AS MATERIALIZED (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM t a JOIN t b
              ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks)) * 1.0
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
        ), edges AS MATERIALIZED (
            SELECT doc_a, doc_b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        -- min-label propagation with pointer jumping, unrolled:
        -- l' = least(own, min over neighbours, label-of-label) per
        -- round — jumping halves label depth, so 10 rounds cover
        -- component diameter 2^10.  Replaces the recursive
        -- transitive closure, whose working set is quadratic in
        -- cluster size on dense dup graphs (35-48 min at sf1).
        ), l0 AS MATERIALIZED (
            SELECT doc_id AS n, doc_id AS l FROM t
        ), l1 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l0 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l0 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l0 j ON p.l = j.n
        ), l2 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l1 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l1 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l1 j ON p.l = j.n
        ), l3 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l2 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l2 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l2 j ON p.l = j.n
        ), l4 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l3 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l3 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l3 j ON p.l = j.n
        ), l5 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l4 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l4 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l4 j ON p.l = j.n
        ), l6 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l5 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l5 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l5 j ON p.l = j.n
        ), l7 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l6 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l6 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l6 j ON p.l = j.n
        ), l8 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l7 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l7 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l7 j ON p.l = j.n
        ), l9 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l8 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l8 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l8 j ON p.l = j.n
        ), l10 AS MATERIALIZED (
            SELECT p.n,
                   LEAST(p.l, COALESCE(nm.m, p.l), COALESCE(j.l, p.l)) AS l
            FROM l9 p
            LEFT JOIN (SELECT e.doc_a AS n, MIN(x.l) AS m
                       FROM edges e JOIN l9 x ON e.doc_b = x.n
                       GROUP BY e.doc_a) nm ON p.n = nm.n
            LEFT JOIN l9 j ON p.l = j.n
        ), labels AS MATERIALIZED (
            SELECT n AS doc_id, l AS group_id FROM l10
        ), m AS (
            SELECT l.doc_id, l.group_id, LENGTH(d.text) AS n_len
            FROM labels l JOIN documents d USING (doc_id)
        ), canon AS (
            SELECT group_id, doc_id AS canonical_id FROM (
                SELECT group_id, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY group_id
                           ORDER BY n_len DESC, doc_id) AS rn
                FROM m) WHERE rn = 1
        ), cnt AS (
            SELECT group_id, COUNT(*) AS n_members FROM m GROUP BY 1
        )
        SELECT m.doc_id, m.group_id, canonical_id, n_members,
               m.doc_id = canonical_id AS keep
        FROM m JOIN canon USING (group_id) JOIN cnt USING (group_id)
        ORDER BY m.doc_id
    """,
}
