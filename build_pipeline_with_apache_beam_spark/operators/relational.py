"""Relational core: joins, aggregations, window functions, sort/limit, set ops.

The reference has none of these (SURVEY.md §2A: no joins, no aggregations
beyond counts, no window functions) — this module is the capability extension
that turns the ETL pipeline into a query engine.  Everything is declarative
DataFrame API so Catalyst chooses the physical strategy; the only hints we
give are ``broadcast()`` for dimension tables, which at 100 TB is the
difference between a map-side hash join and a full shuffle of the fact table.

Scale notes per operator family:
- equi-joins on fact tables shuffle both sides by the join key; AQE converts
  to broadcast at runtime when the built side turns out small, and splits
  skewed partitions (skewJoin.enabled).
- aggregations are hash-based with automatic partial (map-side) aggregation,
  so the shuffle carries one row per (partition, group), not per input row.
- top-k is TakeOrderedAndProject: per-partition heaps, no global sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark import catalog
from build_pipeline_with_apache_beam_spark.catalog import _staged, load_table
from build_pipeline_with_apache_beam_spark.functions import sqlgen


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 shape on lineitem.

    scan → filter(l_shipdate) → groupBy(returnflag, linestatus) →
    sum/avg/count → orderBy.  Partial aggregation means the shuffle moves at
    most (#partitions × #groups) rows — at 100 TB with 4 groups that is
    kilobytes, so the scan dominates and the filter/pruning push-down is the
    whole game.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # DECIMAL aggregation: the fixture's measures are exact 4-decimal
    # values, so summing them as DECIMAL is lossless AND exact — the same
    # answer on any engine, any parallelism, any scale factor.  Float sums
    # associate differently across partition counts and start flipping the
    # 4th decimal around a few million rows (observed at sf1); TPC-H
    # itself specifies these columns as DECIMAL for exactly this reason.
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    n = F.count(F.lit(1))

    def r4(c):
        # round the DECIMAL (exact half-up on the true value), THEN cast:
        # rounding after the double cast ties on .xxxx5 boundaries, which
        # 60M-row sums actually hit
        return F.round(c, 4).cast("double")

    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            r4(F.sum(qty)).alias("sum_qty"),
            r4(F.sum(price)).alias("sum_base_price"),
            r4(F.sum(price * (1 - disc))).alias("sum_disc_price"),
            r4(F.sum(price * (1 - disc) * (1 + tax))).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx distinct with a tolerance-banded oracle (round-3 verdict
    #3): raw sketch estimates are engine-specific, so the comparable output
    is the EXACT count (which DuckDB recomputes) plus a boolean asserting
    the sketch landed within 3× its declared rsd (0.05 → 15% band; Spark's
    HLL++ is deterministic for fixed data, so the boolean is stable).

    At 100 TB the sketch replaces an exact count-distinct's full shuffle of
    the distinct keys with fixed-size mergeable state per partition; the
    exact companion here exists for the gate, not the production path.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r14 perf (guide §2.3/§2.4): two countDistinct on DIFFERENT columns in
    # one agg plan via Expand — every fact row multiplied ×3 through two
    # aggregate passes.  Splitting each exact distinct into its own
    # distinct-then-count (map-side partial dedup, shuffle carries distinct
    # keys only) and keeping both HLL sketches in ONE expand-free pass is
    # 2.11→0.62 s at sf0.1 with bit-identical output (HLL++ is
    # deterministic for fixed data); at 100 TB it removes the 3× expand of
    # the fact table from the shuffle entirely.
    # isNotNull matches countDistinct's NULL handling exactly (ADVICE r14:
    # distinct-then-count would otherwise count a NULL key as a group) —
    # latent on TPC-H (keys non-null), free at the scan (pushed filter)
    o = (li.select("l_orderkey").where(F.col("l_orderkey").isNotNull())
         .groupBy("l_orderkey").agg(F.count(F.lit(1)))
         .agg(F.count(F.lit(1)).alias("n_orders_exact")))
    p = (li.select("l_partkey").where(F.col("l_partkey").isNotNull())
         .groupBy("l_partkey").agg(F.count(F.lit(1)))
         .agg(F.count(F.lit(1)).alias("n_parts_exact")))
    h = li.agg(F.approx_count_distinct("l_orderkey").alias("_ao"),
               F.approx_count_distinct("l_partkey").alias("_ap"))
    return o.crossJoin(p).crossJoin(h).select(
        "n_orders_exact", "n_parts_exact",
        (F.abs(F.col("_ao") - F.col("n_orders_exact"))
         <= 0.15 * F.col("n_orders_exact")).alias("orders_within_band"),
        (F.abs(F.col("_ap") - F.col("n_parts_exact"))
         <= 0.15 * F.col("n_parts_exact")).alias("parts_within_band"),
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.sql(spark, sf_dir, """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               COUNT(1) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: sum(CASE WHEN) / FILTER (WHERE ...)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.sum(F.when(F.col("value") > 100, F.col("value"))
                          .otherwise(F.lit(0.0))), 4).alias("sum_big"),
            F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("n_even_users"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi join, shuffle-hash-pinned: customer SCALES with
    the corpus (it is not a fixed dim in this schema), and the round-9 sf3
    probe showed AQE's compressed estimate keeps it under the broadcast
    threshold while the in-memory build side grows past 130 MiB — a plan
    that dies at 100 TB.  Key-partitioned shuffle is the scalable shape;
    genuine fixed dims stay broadcast in join_broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust.hint("shuffle_hash"),
                    orders.o_custkey == cust.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small dim: map-side hash join, zero shuffle
    of the probe side — mandatory at 100 TB when the dim fits in memory."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation_name"),
                F.col("r_name").alias("region_name"))
    )


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides are corpus-scaling facts — shuffle_hash pin (round-9 sf3
    probe: AQE broadcast 259 MiB of orders at sf3; see join_inner_equi)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders.hint("shuffle_hash"),
                  cust.c_custkey == orders.o_custkey, "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers having at least one 'F' order.  Left-semi keeps only
    the probe side's columns, so the shuffle carries no payload from orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    # shuffle_hash: the filtered order keys still scale with the corpus
    # (round-9 sf3 probe; see join_inner_equi)
    return (
        cust.join(orders.hint("shuffle_hash"),
                  cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # shuffle_hash: order keys scale with the corpus (round-9 sf3 probe)
    return (
        cust.join(orders.hint("shuffle_hash"),
                  cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (band) join: customers bucketed into literal acctbal bands.

    Physical plan is BroadcastNestedLoopJoin with the 4-row band table
    broadcast — O(N × bands) work, no shuffle of the big side; this is the
    only sane shape for a theta join at scale (never NLJ two big sides).
    """
    cust = load_table(spark, sf_dir, "customer")
    # a VALUES LocalRelation (see functions/sqlgen)
    bands = spark.sql("""
        SELECT * FROM VALUES
            ('low', CAST(-99999.0 AS DOUBLE), CAST(2500.0 AS DOUBLE)),
            ('mid', 2500.0D, 5000.0D),
            ('high', 5000.0D, 7500.0D),
            ('top', 7500.0D, 99999.0D)
        AS bands(band_name, lo, hi)
    """)
    return (
        cust.join(F.broadcast(bands),
                  (cust.c_acctbal >= bands.lo) & (cust.c_acctbal < bands.hi))
        .select("c_custkey", "c_acctbal", "band_name")
    )


# ---------------------------------------------------------------------------
# Composed flagship workloads (multi-join + agg + order/limit in one plan)
# ---------------------------------------------------------------------------

def flagship_q3_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem →
    revenue per order → top-10.

    The plan to want at 100 TB: both fact joins shuffle on their keys,
    partial aggregation before the final shuffle, and the top-10 via
    per-partition heaps.  Both joins are shuffle_hash-PINNED (round 9):
    the segment-filtered customer and date-filtered orders both scale
    with the corpus, and the sf3 probe measured AQE still broadcasting
    them (162 MiB in-memory) because the compressed estimate undershoots
    the threshold — "AQE will flip it eventually" was measured false.
    Ordering ties are broken on the rounded revenue + unique l_orderkey so
    the limit boundary is deterministic across engines.
    """
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
              .alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def flagship_q5_multijoin_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join (region→nation→customer/supplier→orders→
    lineitem) with the local-supplier condition, revenue per nation.

    region/nation are explicit broadcasts; customer/orders/lineitem/supplier
    shuffle on join keys and AQE handles the rest.  The c_nationkey =
    s_nationkey condition makes this a genuine multi-way join, not a star.
    """
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        # orders/customer scale with the corpus — shuffle_hash (r9 sf3
        # audit); supplier/nation/region are the genuine fixed dims
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(cust.hint("shuffle_hash"), (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == sup.s_nationkey))
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        # decimal sum: per-nation revenue is corpus-scale (~6e11 at sf10 —
        # dims held fixed as the corpus grows), where float flips the 4th
        # decimal (r13 sweep family fix)
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                           * (1 - F.col("l_discount").cast("decimal(8,4)"))),
                     4).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def window_row_number_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (unique o_orderkey tiebreaker)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                           F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return (
        sup.select(
            "s_suppkey", "s_nationkey", "s_acctbal",
            F.rank().over(w).alias("bal_rank"),
            F.dense_rank().over(w).alias("bal_dense_rank"),
        )
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total over event time (unique event_id tiebreak)."""
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        ev.select(
            "user_id", "event_id", "ts",
            F.round(F.sum("value").over(w), 4).alias("running_value"),
        )
    )


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id", "event_id",
            F.lag("value", 1).over(w).alias("prev_value"),
            F.lead("value", 1).over(w).alias("next_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sort / limit / set operations
# ---------------------------------------------------------------------------

def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100: TakeOrderedAndProject (per-partition heap + merge),
    never a full sort at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    a = cust.select(F.col("c_custkey").alias("entity_key"),
                    F.col("c_name").alias("entity_name"),
                    F.lit("customer").alias("kind"))
    b = sup.select(F.col("s_suppkey").alias("entity_key"),
                   F.col("s_name").alias("entity_name"),
                   F.lit("supplier").alias("kind"))
    return a.unionAll(b)


def setop_union_allow_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: ``unionByName(allowMissingColumns=True)`` aligns
    by NAME and null-fills columns one side lacks — how generations of a
    feed with additive schema change concatenate without positional-union
    corruption (the silent killer when column orders diverge)."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    a = cust.select(F.col("c_custkey").alias("entity_key"),
                    F.col("c_acctbal").alias("acctbal"),
                    F.col("c_mktsegment").alias("segment"),
                    F.lit("customer").alias("kind"))
    # supplier generation lacks `segment`
    b = sup.select(F.col("s_suppkey").alias("entity_key"),
                   F.col("s_acctbal").alias("acctbal"),
                   F.lit("supplier").alias("kind"))
    return (a.unionByName(b, allowMissingColumns=True)
            .select("entity_key", F.round("acctbal", 4).alias("acctbal"),
                    "segment", "kind"))


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation keys present among both customers and suppliers (INTERSECT =
    distinct semantics in both engines)."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(sup.select(F.col("s_nationkey").alias("nationkey")))
    )


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation keys with customers but no suppliers (EXCEPT, distinct)."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .subtract(sup.select(F.col("s_nationkey").alias("nationkey")))
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with deterministic representative: min doc_id per text.

    (``dropDuplicates`` keeps an arbitrary row per key — fine in production,
    not oracle-checkable; min-per-group pins the representative.)  At scale
    this is a single hash shuffle on the dedup key; for very wide rows,
    dedup on a hash of the key column instead to shrink the shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"),
             F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "text", "dup_count")
    )


N_BUCKETS = 8


def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint report: each row is one check with its
    violation count — nulls, duplicate keys, referential integrity, and a
    domain rule.  Every check is a single aggregate or anti-join count, so
    the whole report is a handful of scans that AQE runs concurrently; at
    100 TB you run this on every ingest batch, not the whole lake."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    checks = [
        orders.agg(F.lit("orders.o_custkey_not_null").alias("check"),
                   F.sum(F.when(F.col("o_custkey").isNull(), 1)
                         .otherwise(0)).alias("violations")),
        (orders.groupBy("o_orderkey").count().where(F.col("count") > 1)
         .agg(F.lit("orders.o_orderkey_unique").alias("check"),
              F.count(F.lit(1)).alias("violations"))),
        (orders.join(cust.hint("shuffle_hash"),
                     orders["o_custkey"] == cust["c_custkey"],
                     "left_anti")
         .agg(F.lit("orders.o_custkey_fk_customer").alias("check"),
              F.count(F.lit(1)).alias("violations"))),
        orders.agg(F.lit("orders.o_totalprice_positive").alias("check"),
                   F.sum(F.when(F.col("o_totalprice") <= 0, 1)
                         .otherwise(0)).alias("violations")),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.withColumn("violations",
                          F.coalesce(F.col("violations").cast("long"),
                                     F.lit(0)))


def timeseries_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward) per key: only
    ``purchase`` rows carry a value; every other event sees the user's most
    recent purchase value.  One shuffle + sort per key, then an
    ignore-nulls window — same merge shape as the as-of join."""
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    observed = F.when(F.col("event_type") == "purchase",
                      F.round("value", 4))
    return ev.select(
        "user_id", "event_id", "event_type",
        F.last(observed, ignorenulls=True).over(w).alias("last_purchase_value"))


def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance/correlation/covariance
    per group — all algebraic (sum-of-powers decompositions), so map-side
    partial aggregation applies and the shuffle carries constant-size
    state per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
                 F.round(F.var_samp("l_quantity"), 2).alias("var_qty"),
                 F.round(F.corr("l_extendedprice", "l_quantity"), 4)
                 .alias("corr_price_qty"),
                 F.round(F.covar_samp("l_discount", "l_tax"), 6)
                 .alias("covar_disc_tax")))


def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: the attribute of the extreme row without a
    self-join back (min_by/max_by carry the companion value through the
    partial-agg merge).  Ordered by the unique o_orderkey so ties cannot
    make the result engine-dependent."""
    orders = load_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_custkey")
            .agg(F.min_by("o_orderpriority", "o_orderkey")
                 .alias("first_order_priority"),
                 F.max_by("o_orderstatus", "o_orderkey")
                 .alias("last_order_status"),
                 F.count(F.lit(1)).alias("n_orders")))


def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series with gaps zero-filled: generate the complete
    hour spine with ``sequence`` + ``explode`` (a generated column, not a
    driver loop), left-join the actual hourly aggregates, and coalesce
    misses to zero.  The spine generation is O(hours) regardless of data
    volume, so at 100 TB the cost is still the one aggregation shuffle."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 4).alias("total")))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    return (spine.join(hourly, "hour", "left")
            .select("hour",
                    F.coalesce("n", F.lit(0)).alias("n"),
                    F.coalesce("total", F.lit(0.0)).alias("total")))


EWMA_ALPHA = 0.3


def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average — the RECURSIVE
    aggregate (s_i = alpha*x_i + (1-alpha)*s_{i-1}) that SQL window frames
    cannot express directly.  Each user's value series is collected sorted
    once (one groupBy shuffle) and the recursion runs as a higher-order
    ``aggregate`` seeded with the first observation, left-to-right — the
    same fold DuckDB's list_reduce performs, so the oracle matches bitwise.

    Scale note: per-group state is the user's series; EWMA forgets
    geometrically, so an unbounded history would be truncated to a bounded
    tail (slice of the sorted array) without changing the answer at 4dp —
    the shape stays one shuffle either way.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"]).alias("vals"))
    vals = F.col("vals")
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: EWMA_ALPHA * x + (1 - EWMA_ALPHA) * acc)
    return (per_user.select(
        "user_id", F.size(vals).alias("n_events"),
        F.round(F.element_at(vals, -1), 4).alias("last_value"),
        F.round(ewma, 4).alias("ewma_value"))
        .orderBy("user_id"))


def timeseries_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the purchase stream onto a dense hourly grid with LINEAR
    interpolation across gaps (the middle ground between gap-fill-zero and
    forward-fill): missing hours get prev + (next-prev) * elapsed/gap.

    Shape: one hourly aggregate, the generated hour spine, and two
    ignore-nulls window passes (previous/next known point) — no self-join,
    so at 100 TB the cost stays the aggregation shuffle plus two sorts of
    the (tiny) hourly axis.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase")
    # all-integer hourly mean: values are exact 4-decimal, so sum basis
    # points (bigint) and floor-divide by the count — engine-exact at any
    # row count AND free of round-half boundaries (float AVG flips the 4th
    # decimal on big buckets; rounded exact division still ties on .5)
    bp = F.round(F.col("value") * 10000).cast("long")
    hourly = (ev.select(F.date_trunc("hour", "ts").alias("hour"),
                        bp.alias("_bp"))
              .groupBy("hour")
              .agg((F.expr("sum(_bp) div count(1)") / 10000).alias("v")))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(F.explode(F.sequence(
        "lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    g = spine.join(hourly, "hour", "left")
    wb = W.orderBy("hour").rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = W.orderBy("hour").rowsBetween(W.currentRow, W.unboundedFollowing)
    prev_v = F.last("v", ignorenulls=True).over(wb)
    next_v = F.first("v", ignorenulls=True).over(wf)
    prev_t = F.last(F.when(F.col("v").isNotNull(), F.col("hour")),
                    ignorenulls=True).over(wb)
    next_t = F.first(F.when(F.col("v").isNotNull(), F.col("hour")),
                     ignorenulls=True).over(wf)
    # EXACT integer interpolation: endpoints scaled to basis points
    # (bigint), weighted by integer second offsets, one floor division.
    # Float interpolation diverges from the SQL oracle in the low bits on
    # floor/round boundaries; integer arithmetic is engine-identical.
    prev_i = F.round(prev_v * 10000).cast("long")
    next_i = F.round(next_v * 10000).cast("long")
    t, tp, tn = (F.unix_timestamp("hour"), F.unix_timestamp(prev_t),
                 F.unix_timestamp(next_t))
    interp_i = F.expr(
        "(_prev_i * (_tn - _t) + _next_i * (_t - _tp)) div (_tn - _tp)")
    staged = g.select(
        "hour", "v", prev_v.alias("pv"), next_v.alias("nv"),
        prev_i.alias("_prev_i"), next_i.alias("_next_i"),
        t.alias("_t"), tp.alias("_tp"), tn.alias("_tn"))
    value = (F.when(F.col("v").isNotNull(), F.col("v"))
             .when(F.col("pv").isNull(), F.col("nv"))
             .when(F.col("nv").isNull(), F.col("pv"))
             .otherwise(interp_i / 10000))
    return (staged.select("hour", F.col("v").isNotNull().alias("observed"),
                          value.alias("value"))
            .orderBy("hour"))


def timeseries_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream into daily OHLC bars per event type:
    open/close via min_by/max_by on the timestamp (argmin/argmax — one hash
    agg, no self-join back to find boundary rows), high/low/volume as plain
    aggregates.  The event stream carries unique timestamps, so ts itself is
    the deterministic boundary key (a stream with ts collisions would use a
    struct(ts, event_id) ordering key instead).  One map-side-combined
    shuffle of #days×#types groups — the canonical telemetry rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.min_by("value", F.col("ts")).alias("open"),
             F.max_by("value", F.col("ts")).alias("close"),
             F.round(F.max("value"), 4).alias("high"),
             F.round(F.min("value"), 4).alias("low"),
             F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("volume"))
        .orderBy("day", "event_type")
    )


def dq_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: z-score of each day's event count against
    that event type's own daily distribution, flagging |z| > 2.

    Two-level plan: the daily-count aggregate shrinks the data to
    #days×#types rows, then the per-type mean/stddev is a window over that
    tiny frame — the heavy table is touched once.  This is the data-quality
    monitor a 100 TB ingest runs after every load."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    w = W.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return (
        daily.select("day", "event_type", "n",
                     F.round(z, 4).alias("zscore"),
                     (F.abs(z) > 2.0).alias("is_anomaly"))
        .orderBy("day", "event_type")
    )


def dq_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness report per event type: latest event time, lag behind
    a fixed audit point, and the reference's 25-hour freshness verdict
    (retrieval.py:210-212's guard, turned from a driver-side abort into a
    queryable per-stream report).

    A min/max aggregate over the scan — metadata-cheap at any scale, and at
    100 TB the parquet footer stats answer max(ts) without reading rows.
    """
    as_of = F.lit("2024-01-08 00:00:00").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    lag_h = (F.unix_micros(as_of) - F.unix_micros(F.max("ts"))) / 3.6e9
    return (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("latest_ts"),
             F.count(F.lit(1)).alias("n_events"),
             F.round(lag_h, 4).alias("lag_hours"),
             (lag_h <= 25.0).alias("is_fresh"))
        .orderBy("event_type")
    )


def agg_grouping_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id(): the bitmask that tells subtotal rows apart
    from rows whose grouping column is genuinely NULL — without it a cube
    over nullable keys is ambiguous.  Labels each row's aggregation level
    explicitly."""
    li = load_table(spark, sf_dir, "lineitem")
    gid = F.grouping_id("l_returnflag", "l_linestatus")
    level = (F.when(gid == 0, "cell").when(gid == 1, "flag_total")
             .when(gid == 2, "status_total").otherwise("grand_total"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             gid.cast("int").alias("gid"),
             level.alias("level"))
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


def window_cumulative_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative share of the day's total per event type: running sum over
    the ordered daily aggregate divided by its full-partition total — the
    Pareto ('what fraction of volume do the top types cover') report."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.sum("value").alias("total")))
    run = (W.partitionBy("day").orderBy(F.desc("total"), "event_type")
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    full = W.partitionBy("day")
    return (daily.select(
        "day", "event_type", F.round("total", 4).alias("total"),
        F.round(F.sum("total").over(run) / F.sum("total").over(full), 4)
        .alias("cum_share"))
        .orderBy("day", F.desc("total"), "event_type"))


def agg_multi_col_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct cardinality: distinct (user, type) pairs per
    day vs single-column distincts — the composite-key cardinality query
    behind interaction-matrix sizing.  One Expand-based multi-distinct
    aggregate, single scan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id", "event_type").alias("n_user_type"),
             F.countDistinct("user_id").alias("n_users"),
             F.countDistinct("event_type").alias("n_types"))
        .orderBy("day")
    )


def window_moving_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling extrema channel: 7-row trailing min/max of value per event
    type (the Donchian-channel / envelope pattern) with a breakout flag
    when the current value touches the channel's top."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("event_type").orderBy("ts", "event_id")
         .rowsBetween(-6, W.currentRow))
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    return (
        ev.select("event_id", "event_type", "value",
                  F.round(lo, 4).alias("chan_lo"),
                  F.round(hi, 4).alias("chan_hi"),
                  (F.col("value") >= hi).alias("at_top"))
        .orderBy("event_id")
    )


def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram: 8 buckets holding equal row
    counts, each reporting its value range — the optimizer-statistics shape
    (range boundaries adapt to the distribution, unlike fixed-width
    agg_value_histogram).  ntile assigns buckets in one ranked window over
    (value, event_id); the boundary report is a tiny per-bucket aggregate.

    Scale note: the global ntile is the EXACT small-data form (single sort
    partition — fine for per-group histograms, not a corpus-wide one); at
    100 TB the same report comes from approx_percentile boundaries +
    agg_value_histogram-style bucket assignment, both shuffle-light.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.orderBy("value", "event_id")
    bucketed = ev.select("value", F.ntile(8).over(w).alias("bucket"))
    return (
        bucketed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.round(F.min("value"), 4).alias("lo"),
             F.round(F.max("value"), 4).alias("hi"))
        .orderBy("bucket")
    )


_HIST_LO, _HIST_HI, _HIST_BUCKETS = 0.0, 1000.0, 10


def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a groupBy over a computed bucket id — the
    one-pass distributed histogram (map-side partial counts per bucket;
    the shuffle carries #buckets rows per partition)."""
    ev = load_table(spark, sf_dir, "events")
    w = (_HIST_HI - _HIST_LO) / _HIST_BUCKETS
    bucket = F.least(F.greatest(
        F.floor((F.col("value") - _HIST_LO) / w), F.lit(0)),
        F.lit(_HIST_BUCKETS - 1)).cast("int")
    return (ev.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("value"), 4).alias("lo_seen"),
                 F.round(F.max("value"), 4).alias("hi_seen")))


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): null keys
    match each other instead of vanishing — the semantics a dimension join
    on an optional attribute needs.  Still a hash join: null-safe equality
    is a valid equi-key, so no fallback to nested loops."""
    ev = load_table(spark, sf_dir, "events")
    left = (ev.groupBy(F.nullif(F.col("user_id") % 5, F.lit(0)).alias("grp"))
            .agg(F.count(F.lit(1)).alias("n_events")))
    right = (ev.where(F.col("event_type") == "purchase")
             .groupBy(F.nullif(F.col("user_id") % 5, F.lit(0)).alias("grp2"))
             .agg(F.round(F.sum("value"), 4).alias("purchase_value")))
    return (left.join(right, left["grp"].eqNullSafe(right["grp2"]))
            .select("grp", "n_events", "purchase_value"))


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE/upsert: apply a deterministic change-set over a base
    snapshot — updates override matching keys, inserts append new ones.

    Expressed as union + keep-first-by-priority (one shuffle on the key),
    the shape lakehouse MERGE INTO compiles to for upsert-only merges; at
    100 TB the win is that the base side arrives hash-partitioned from the
    previous compaction, so only the (small) change-set shuffles.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("c_acctbal"))
    updates = (cust.where(F.col("c_custkey") % 10 == 0)
               .select("c_custkey", "c_name",
                       F.round(F.col("c_acctbal") + 1000.0, 4)
                       .alias("c_acctbal")))
    # insert keys offset past the DATA's max key, not a constant: a fixed
    # +1M collided with real custkeys at sf10 (keys stride past 1.5M), and
    # an insert landing on an update's key made the pri tie-break — and
    # thus the whole merge — engine-nondeterministic (r13 sf10 sweep)
    max_key = cust.agg((F.max("c_custkey") + 1).alias("_ins_base"))
    inserts = updates.crossJoin(F.broadcast(max_key)).select(
        (F.col("c_custkey") + F.col("_ins_base")).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"))
    changes = updates.unionByName(inserts).withColumn("pri", F.lit(0))
    merged = (cust.withColumn("pri", F.lit(1)).unionByName(changes))
    w = W.partitionBy("c_custkey").orderBy("pri")
    return (merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("c_custkey", "c_name", "c_acctbal"))


_RANGE_W_US = 120_000_000  # 2-minute bucket/range width, microseconds


def join_range_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-to-big range join, bucketized: pairs of events ≤ 2 minutes apart
    (no equi key at all — the follow-within-Δt / IP-range / interval-overlap
    shape).

    A naive theta join is a nested loop over N² pairs.  Bucketizing the
    time axis at the range width turns it into an EQUI join: the left side
    expands to the (at most 2) buckets its range can touch, the right side
    keeps its own bucket, the join key is the bucket id, and the exact
    range predicate filters residuals inside each bucket.  Work drops from
    N² to Σ|bucket|² — at 100 TB this is the difference between impossible
    and one shuffle.  (join_theta_range demonstrates the broadcast-NLJ
    fallback for when one side is tiny.)

    GROUND-TRUTH-ONLY at high density: the OUTPUT is every pair within Δt,
    so at a fixed time span the result cardinality itself is quadratic in
    event density — wall time tracking the output is the optimal algorithm.
    The op is excluded by name from the scale-probe linear gate
    (tools/bench_scale.py NOT_GATED / tests/test_scale_gate.py); the
    production form with bounded output AND capped work is
    join_range_gap_histogram (per-bucket pair budget + reported drop mass).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    a = (ev.select(F.col("event_id").alias("e1_id"), us.alias("t1"))
         .withColumn("bkt", F.explode(F.array(
             F.expr(f"t1 div {_RANGE_W_US}"),
             F.expr(f"t1 div {_RANGE_W_US}") + 1))))
    b = ev.select(F.col("event_id").alias("e2_id"), us.alias("t2"),
                  F.expr(f"unix_micros(ts) div {_RANGE_W_US}").alias("bkt2"))
    # shuffle_hash: fact-fact bucket join — same estimate-undershoot
    # broadcast risk as join_range_gap_histogram (129 MiB at sf1,
    # tools/broadcast_audit.py); bucket-partitioned shuffle scales
    return (a.join(b.hint("shuffle_hash"), (F.col("bkt") == F.col("bkt2"))
                   & (F.col("t2") >= F.col("t1"))
                   & (F.col("t2") <= F.col("t1") + _RANGE_W_US)
                   & (F.col("e1_id") != F.col("e2_id")))
            .select("e1_id", "e2_id",
                    (F.col("t2") - F.col("t1")).alias("gap_us")))


_RANGE_PAIR_BUDGET = 20_000  # max candidate pairs per 2-min bucket


def join_range_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketized big-to-big range join with a BOUNDED output: instead
    of materializing every event pair within 2 minutes (quadratic-ish rows
    that no driver should collect), aggregate the pairspace into a 10-second
    gap histogram — pair count and distinct left events per gap bin.

    Bounded output, capped work.  At a FIXED time span the pairspace is
    quadratic in event density, so an uncapped version has the scale-killer
    shape (13-row output, unbounded join work).  The fix is the same pair
    budget the LSH band join uses: per 2-min bucket, admit at most
    ``_RANGE_PAIR_BUDGET / |right-rows-in-bucket|`` left rows, chosen
    DETERMINISTICALLY by md5 rank (portable to the DuckDB oracle, so the
    kept mass is still verified exactly), and report the dropped mass in
    ``dropped_left_rows`` / ``kept_left_rows`` columns — never silently.
    Per-bucket join work is then ≤ the budget at any density: 10× denser
    data grows the work ~linearly (more rows ranked) instead of 100×.

    The bucket-size table joined for admission is span-bounded (one row per
    2-min bucket — 21.6k rows / 30 days, ~263k / year), hence broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    a = (ev.select(F.col("event_id").alias("e1_id"), us.alias("t1"))
         .withColumn("bkt", F.explode(F.array(
             F.expr(f"t1 div {_RANGE_W_US}"),
             F.expr(f"t1 div {_RANGE_W_US}") + 1))))
    b = ev.select(F.col("event_id").alias("e2_id"), us.alias("t2"),
                  F.expr(f"unix_micros(ts) div {_RANGE_W_US}").alias("bkt2"))
    bkt_sz = (b.groupBy(F.col("bkt2").alias("bkt"))
              .agg(F.count(F.lit(1)).alias("bkt_n")))
    # bkt_sz is span-bounded per WINDOW in production, but the scale-up
    # fixture stretches the span with sf (37 MiB at sf3) — the admit
    # window below already shuffles on bkt, so the join reuses it free
    admit = (a.join(bkt_sz.hint("shuffle_hash"), "bkt")
             .withColumn("rk", F.row_number().over(
                 W.partitionBy("bkt").orderBy(
                     F.md5(F.concat_ws("|", F.col("e1_id").cast("string"),
                                       F.col("bkt").cast("string"))),
                     "e1_id")))
             .withColumn("kept", F.col("rk") <= F.greatest(
                 F.lit(1).cast("long"),
                 F.floor(F.lit(_RANGE_PAIR_BUDGET) / F.col("bkt_n")))))
    mass = admit.agg(
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("dropped_left_rows"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("kept_left_rows"))
    kept = admit.filter("kept").select("e1_id", "t1", "bkt")
    # shuffle_hash: fact-fact bucket join — Catalyst's estimate undershoots
    # the broadcast threshold and broadcast the exploded left side (129 MiB
    # at sf1, tools/broadcast_audit.py); bucket-partitioned shuffle scales
    pairs = (kept.join(b.hint("shuffle_hash"), (F.col("bkt") == F.col("bkt2"))
                       & (F.col("t2") >= F.col("t1"))
                       & (F.col("t2") <= F.col("t1") + _RANGE_W_US)
                       & (F.col("e1_id") != F.col("e2_id")))
             .select("e1_id", (F.col("t2") - F.col("t1")).alias("gap_us")))
    hist = (pairs.groupBy(F.expr("gap_us div 10000000").alias("gap_10s_bin"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("e1_id").alias("n_left_events")))
    # 1-row × 13-row cross join: attaches the drop report to every bin
    return hist.crossJoin(F.broadcast(mass)).orderBy("gap_10s_bin")


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-style aggregation, made deterministic: the per-group distinct
    set is sorted before serialization (collect_set order is otherwise
    partition-dependent).  At 100 TB collect aggregates are the ones
    map-side partial aggregation can't shrink when groups are hot — the
    salted two-stage pattern (agg_salted_skew) is their pressure valve."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus")))
                 .alias("statuses"),
                 F.countDistinct("l_linestatus").alias("n_statuses")))


def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via bucketed tables.

    Both sides are saved ``bucketBy(N, join_key)`` + ``sortBy(join_key)``,
    so bucket i of lineitem only ever joins bucket i of orders: the sort-
    merge join runs with ZERO exchanges (asserted in tests/test_plans.py).
    At 100 TB this is THE lever for repeated fact-fact joins — pay the
    bucketed layout once at ingest, then every downstream join on that key
    skips both shuffles.  (Bucket metadata lives in the session catalog
    here; a production deployment uses a persistent metastore.)
    """
    import shutil
    from urllib.parse import urlparse

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    li_tbl, ord_tbl = f"bkt_lineitem_{sf_tag}", f"bkt_orders_{sf_tag}"
    # the in-memory catalog is session-scoped but warehouse files persist:
    # a fresh session must clear the stale location before re-creating
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    if not spark.catalog.tableExists(li_tbl):
        shutil.rmtree(os.path.join(warehouse, li_tbl), ignore_errors=True)
        (load_table(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_extendedprice", "l_discount")
         .write.bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable(li_tbl))
    if not spark.catalog.tableExists(ord_tbl):
        shutil.rmtree(os.path.join(warehouse, ord_tbl), ignore_errors=True)
        (load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority")
         .write.bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable(ord_tbl))
    li, orders = spark.table(li_tbl), spark.table(ord_tbl)
    # force the sort-merge path: at test SFs the orders side is broadcast-
    # small, which would bypass the bucketed layout this op demonstrates
    # (at 100 TB neither fact side broadcasts and SMJ is what Spark picks)
    li = li.hint("merge")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            # decimal revenue sum: engine-exact on multi-million-row groups
            .agg(F.round(F.sum(price * (1 - disc)), 4).cast("double")
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered dedup: keep the NEWEST event per (user, type) — the CDC/
    upsert-compaction pattern, vs dropDuplicates' arbitrary survivor.
    One shuffle on the dedup key; row_number + rn=1 filter evaluates
    streaming within each sorted partition."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id",
                    F.col("ts").alias("latest_ts"),
                    F.round("value", 4).alias("value")))


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer equi-join: customers × order aggregates, keeping both
    customer-less orders and order-less customers (nulls on the absent
    side).  Same shuffle profile as the inner join — both sides hash on the
    key; AQE may still broadcast the smaller side."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    per_cust = (load_table(spark, sf_dir, "orders")
                .groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spend")))
    return (cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"],
                      "full_outer")
            .select("c_custkey", "c_name", "o_custkey", "total_spend"))


N_SALT = 16


def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation — the explicit skew-mitigation pattern.

    ``event_type`` has only 5 values, so a plain groupBy sends every row for
    a hot key to ONE reducer.  Stage 1 groups by (key, salt) spreading each
    hot key over N_SALT reducers; stage 2 merges the per-salt partials.  The
    second shuffle carries ≤ keys × N_SALT rows — nothing.  (For algebraic
    aggregates Spark's map-side partial aggregation already does this
    implicitly; the explicit salt is the pattern for the cases it can't
    cover: exact distincts, collect-style aggregates, skewed join keys.)
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)))
    partial = (salted.groupBy("event_type", "salt")
               .agg(F.sum("value").alias("pv"),
                    F.count(F.lit(1)).alias("pn")))
    return (partial.groupBy("event_type")
            .agg(F.round(F.sum("pv"), 4).alias("total_value"),
                 F.sum("pn").alias("n_events")))


def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: the same engine through ``spark.sql`` over registered
    views (TPC-H Q6 shape).  Catalyst compiles this to the identical plan the
    DataFrame API would produce — one scan with pushed filters + one agg."""
    return catalog.sql(spark, sf_dir, """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
               COUNT(1) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.08
          AND l_quantity < 24
    """)


TRADE_EDGE_MIN = 40     # min lineitem count for a nation→nation trade edge


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted nation→nation trade edges: the 6-way fact collapse
    :func:`sql_recursive_cte` stages once and recurses over."""
    return catalog.sql(spark, sf_dir, f"""
        -- orders/customer scale with the corpus: shuffle_hash-pinned
        -- (round-9 sf3 probe; the dim joins below stay broadcast)
        SELECT /*+ SHUFFLE_HASH(o, c) */
               cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_name <> sn.n_name
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRADE_EDGE_MIN}
    """)


def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``WITH RECURSIVE``: BFS minimum-hop reachability over the
    nation-level trade graph, written entirely in SQL — the iterative
    query class (org charts, BOM explosions, graph reachability) that
    previously required driver-side loops (``graph_khop_reachability``)
    now runs as ONE declarative statement on both engines.

    The recursion is depth-bounded (hops < 3) and the frontier is the
    25-nation graph, so the unrolled plan stays small.  The heavy lifting
    — collapsing the fact table into the weighted edge list — is STAGED
    once before the recursive statement (round-11 verdict #7): inlining
    it as a CTE re-ran the 6-way join/agg inside the recursion machinery
    every step (67 Spark jobs, 3.5 s warm at sf0.1); recursing over the
    materialized 25-nation edge list cuts that to ~31 jobs / <2 s — the
    same lineage-cut pattern the CC/LPA iterations use, and exactly what
    a production engine does with an iteration-invariant subplan.  The
    edge list is nation-bounded (≤ 25×24 rows at ANY sf), so it stages
    as a collected SQL ``VALUES`` literal inlined into the recursive
    statement — no checkpoint blocks to leak across repeated invocations
    and no session-global temp view for concurrent callers to race on
    (round-12 advice).
    """
    # The 6-way fact collapse is iteration-invariant AND nation-bounded
    # (≤ 25×24 rows at any sf), so it is a persisted stage (r15, guide
    # §2.3 — r14 verdict #5): built once per sf by the first call, re-read
    # as a tiny parquet after — the same persisted-index shape as the
    # dedup signature stages.  The recursion itself runs fresh on every
    # invocation.
    edge_rows = _staged(spark, lambda: _trade_edges(spark, sf_dir), sf_dir,
                        "trade_edges"
                        ).collect()  # driver-bounded: ≤ 25*24 rows
    edges_body = sqlgen.values([(r["src"], r["dst"]) for r in edge_rows],
                               "src STRING, dst STRING")
    return spark.sql(f"""
        WITH RECURSIVE reach(nation, hops) AS (
            SELECT CAST('NATION_0' AS STRING), 0
            UNION ALL
            SELECT e.dst, r.hops + 1
            FROM reach r JOIN ({edges_body}) e ON e.src = r.nation
            WHERE r.hops < 3
        )
        SELECT nation, MIN(hops) AS min_hops
        FROM reach GROUP BY nation ORDER BY nation
    """)


def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 ``spark.sql(query, args=...)``): named
    parameters bind as literals in the analyzed plan — injection-safe and
    plan-cache-friendly, the way an engine exposes templated queries to
    applications.  Same pushdown/pruning as inline literals."""
    return catalog.sql(
        spark, sf_dir,
        """
        SELECT o_orderpriority, COUNT(1) AS n_orders,
               -- decimal sum: float flips the 4th decimal at sf10 (~1e11)
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
                    AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= CAST(:start AS TIMESTAMP)
          AND o_orderdate < CAST(:end AS TIMESTAMP)
          AND o_totalprice > :floor
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"start": "1996-01-01 00:00:00", "end": "1997-01-01 00:00:00",
              "floor": 1000.0},
    )


def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint surface: force a shuffled hash join where Catalyst
    would default to sort-merge.  SHJ skips both sort phases — the right
    call when one side is modest (build fits per-task memory) but above the
    broadcast threshold; the hint is advisory plan control, asserted in
    tests/test_plans.py."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders.hint("shuffle_hash"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        # decimal revenue sum: engine-exact on multi-million-row groups
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                           * (1 - F.col("l_discount").cast("decimal(8,4)"))),
                     4).cast("double").alias("revenue"))
        .orderBy("o_orderpriority")
    )


def agg_having_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING over a scalar subquery: customers whose order volume exceeds
    the average customer's.  The scalar aggregate broadcasts (one row), so
    the HAVING filter is map-side after the group-by — no second shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
                     F.count(F.lit(1)).alias("n_orders")))
    avg_spend = per_cust.agg(F.avg("total_spend").alias("a"))
    return (per_cust.join(F.broadcast(avg_spend))
            .where(F.col("total_spend") > F.col("a"))
            .select("o_custkey", "total_spend", "n_orders"))


def window_ntile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(),
                                              F.col("c_custkey"))
    return cust.select(
        "c_custkey", "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute each purchase to the user's latest prior click.

    Implemented the merge-based way — union both event kinds, ONE shuffle
    + sort per user, and carry the last click timestamp forward with an
    ignore-nulls window — instead of the naive range self-join whose
    candidate set is quadratic per user.  At 100 TB this is the difference
    between a sort within co-partitioned keys and an exploding theta join;
    it is how kdb/Pandas ``merge_asof`` semantics map onto Spark.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = (ev.where(F.col("event_type").isin("click", "purchase"))
              .select("event_id", "user_id", "ts", "event_type", "value"))
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    attributed = tagged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("event_type") == "click", F.col("ts")),
               ignorenulls=True).over(w))
    return (attributed.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id",
                    F.col("ts").alias("purchase_ts"), "last_click_ts",
                    F.round("value", 4).alias("purchase_value")))


ASOF_NEAREST_TOL_US = 3_600_000_000  # 1-hour tolerance, microseconds


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event as-of join: each purchase matched to the closest click
    in EITHER direction within a 1-hour tolerance (ties prefer the earlier
    click) — the bidirectional variant of join_asof, pandas
    ``merge_asof(direction='nearest')``.

    Same merge-based shape: union both event kinds, ONE shuffle + sort per
    user, prior click via backward ignore-nulls last() and next click via
    forward ignore-nulls first() — never a quadratic range self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = (ev.where(F.col("event_type").isin("click", "purchase"))
              .select("event_id", "user_id", "ts", "event_type"))
    wb = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, -1))
    wf = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(1, W.unboundedFollowing))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    t = (tagged
         .withColumn("prev_click", F.last(click_ts, ignorenulls=True).over(wb))
         .withColumn("next_click", F.first(click_ts, ignorenulls=True).over(wf))
         .where(F.col("event_type") == "purchase"))
    gap_prev = F.unix_micros("ts") - F.unix_micros("prev_click")
    gap_next = F.unix_micros("next_click") - F.unix_micros("ts")
    use_prev = F.col("prev_click").isNotNull() & (
        F.col("next_click").isNull() | (gap_prev <= gap_next))
    nearest = F.when(use_prev, F.col("prev_click")).otherwise(F.col("next_click"))
    gap = F.when(use_prev, gap_prev).otherwise(gap_next)
    return (t.select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"),
        F.when(gap <= ASOF_NEAREST_TOL_US, nearest).alias("nearest_click_ts"),
        F.when(gap <= ASOF_NEAREST_TOL_US, gap).alias("gap_us"),
        F.when(gap <= ASOF_NEAREST_TOL_US,
               F.when(use_prev, F.lit("before")).otherwise(F.lit("after")))
        .alias("direction"))
        .orderBy("event_id"))


def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in regression aggregates: OLS slope/intercept/R² of extended
    price against quantity per return flag (regr_slope / regr_intercept /
    regr_r2 / regr_count).

    Each is algebraic (sums of x, y, xy, x², y²), so the whole fit is one
    two-phase hash aggregate — the covariance sums combine map-side and
    the shuffle carries 5 numbers per group at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.regr_slope(y, x), 4).alias("slope"),
             F.round(F.regr_intercept(y, x), 4).alias("intercept"),
             F.round(F.regr_r2(y, x), 4).alias("r2"),
             F.regr_count(y, x).alias("n_rows"))
        .orderBy("l_returnflag")
    )


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via roaring-style bitmaps: per (group,
    bucket) a fixed-size bitmap of bit positions, then the distinct count
    is the sum of bitmap popcounts — Spark's bitmap_construct_agg /
    bitmap_count surface.

    Why it matters at 100 TB: COUNT(DISTINCT key) shuffles every distinct
    key; the bitmap form shuffles one bounded bitmap per (group, bucket)
    and composes incrementally (bitmaps OR-merge across days/partitions),
    which is how warehouses maintain exact distinct counts under streaming
    ingest.  The oracle is plain COUNT(DISTINCT) — same answer, different
    physics.
    """
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.groupBy("event_type",
                   F.bitmap_bucket_number(F.col("user_id")).alias("bkt"))
        .agg(F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id"))).alias("bm"))
    )
    return (per_bucket.groupBy("event_type")
            .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_users"))
            .orderBy("event_type"))


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: child rows whose
    FK has no parent (orders→customer, lineitem→orders, customer→nation),
    one row per relationship with child/orphan counts.

    Each check is a LEFT ANTI join — the filtering side carries no
    payload, dims broadcast, and the fact-to-fact check shuffles on the
    join key once.  The fixture is referentially intact, so expected
    orphans are zero — which is exactly what a DQ gate asserts nightly.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")

    def check(name: str, child: DataFrame, key, parent: DataFrame,
              pkey, bcast: bool) -> DataFrame:
        # bcast=True ONLY for genuine fixed dims (nation); fact-scaling
        # parents pin to shuffle_hash — the round-9 sf3 probe measured AQE
        # broadcasting 162 MiB of customer keys here otherwise
        p = parent.select(pkey)
        orphans = child.join(
            F.broadcast(p) if bcast else p.hint("shuffle_hash"),
            child[key] == p[pkey], "left_anti")
        return child.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).alias("n_child_rows")).join(
            orphans.agg(F.count(F.lit(1)).alias("n_orphans")))

    return (check("orders->customer", orders, "o_custkey", cust,
                  "c_custkey", False)
            .unionByName(check("lineitem->orders", li, "l_orderkey",
                               orders, "o_orderkey", False))
            .unionByName(check("customer->nation", cust, "c_nationkey",
                               nation, "n_nationkey", True))
            .orderBy("relationship"))


def _exact_rank_quantiles(df: DataFrame, key: str,
                          specs: list[tuple[str, list[float]]],
                          extra_cols: tuple[str, ...] = (),
                          extra_aggs: tuple = ()) -> DataFrame:
    """Exact interpolated per-group quantiles via rank arithmetic over ONE
    group-key exchange (r15, guide §5 — r14 verdict #3): ``percentile`` is
    a TypedImperativeAggregate that buffers EVERY value of a group inside
    one ObjectHashAggregate buffer — an executor OOM waiting to happen at
    100 TB group sizes, because that buffer cannot spill.  Here each value
    column gets a row_number window over a SORT (distributes across the
    group-key exchange and spills gracefully), all columns stack on the
    same hash partitioning (one exchange, one scan total), and quantiles
    are pure rank arithmetic.

    Replicates Percentile's math EXACTLY (same doubles): position =
    p·(n−1); result = (⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi with the same
    left-to-right double ops, and the same short-circuit to v_lo when the
    position is integral or the two endpoint values are equal.  NULLs sort
    last and are excluded from n (count of non-nulls), matching the
    aggregate.  specs: [(col, [p, ...]), ...] → output key, q{j}_{i};
    ``extra_cols`` ride through and ``extra_aggs`` run in the same final
    groupBy (how agg_approx_percentile folds its GK sketch into this one
    pass).
    """
    from pyspark.sql import Window as W

    d = df.select(key, *extra_cols,
                  *[F.col(c).cast("double").alias(f"_v{j}")
                    for j, (c, _) in enumerate(specs)])
    for j, _ in enumerate(specs):
        ow = W.partitionBy(key).orderBy(F.col(f"_v{j}").asc_nulls_last())
        frame = ow.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        d = d.select("*", F.row_number().over(ow).alias(f"_rn{j}"),
                     F.count(F.col(f"_v{j}")).over(frame).alias(f"_n{j}"))

    def pos(j: int, p: float) -> F.Column:
        return F.lit(p) * (F.col(f"_n{j}") - F.lit(1))

    aggs = []
    for j, (_, ps) in enumerate(specs):
        aggs.append(F.max(f"_n{j}").alias(f"_n{j}"))
        for i, p in enumerate(ps):
            aggs.append(F.max(F.when(F.col(f"_rn{j}") - 1
                                     == F.floor(pos(j, p)),
                                     F.col(f"_v{j}"))).alias(f"_lo{j}_{i}"))
            aggs.append(F.max(F.when(F.col(f"_rn{j}") - 1
                                     == F.ceil(pos(j, p)),
                                     F.col(f"_v{j}"))).alias(f"_hi{j}_{i}"))
    g = d.groupBy(key).agg(*aggs, *extra_aggs)
    outs = [F.col(key)]
    for j, (_, ps) in enumerate(specs):
        for i, p in enumerate(ps):
            q, lo, hi = pos(j, p), F.floor(pos(j, p)), F.ceil(pos(j, p))
            lo_v, hi_v = F.col(f"_lo{j}_{i}"), F.col(f"_hi{j}_{i}")
            outs.append(
                F.when((hi == lo) | (hi_v == lo_v), lo_v)
                .otherwise((hi.cast("double") - q) * lo_v
                           + (q - lo.cast("double")) * hi_v)
                .alias(f"q{j}_{i}"))
    extra_names = [list(g.columns)[-len(extra_aggs) + k]
                   for k in range(len(extra_aggs))] if extra_aggs else []
    return g.select(*outs, *extra_names)


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per group with a tolerance-banded oracle
    (round-3 verdict #3): sketch values are engine-specific, so the output
    carries the EXACT interpolated quantiles (DuckDB quantile_cont parity,
    4dp) plus booleans asserting the GK sketch (accuracy 10000) landed
    within 1% relative error of each — deterministic for fixed data.

    approx_percentile keeps a bounded-size mergeable sketch per group, so
    at 100 TB the shuffle carries O(groups × sketch) instead of every
    value.  The exact companion (r15, guide §5) is computed by
    :func:`_exact_rank_quantiles` — a distributed, spillable window sort —
    instead of the old full-buffer ``percentile`` leg, with bit-identical
    values (collect-compared and oracle-reverified).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # ONE scan + ONE exchange: the GK sketch (r14: one array-form sketch
    # serves both quantiles, bit-identical to two) rides the SAME final
    # groupBy as the rank-arithmetic picks via extra_aggs
    ex = _exact_rank_quantiles(
        li, "l_returnflag", [("l_extendedprice", [0.5, 0.95])],
        extra_cols=("l_extendedprice",),
        extra_aggs=(F.approx_percentile("l_extendedprice",
                                        F.array(F.lit(0.5), F.lit(0.95)),
                                        F.lit(10000)).alias("_ap"),
                    F.count(F.lit(1)).alias("n_rows")))
    return (
        ex.select(
            "l_returnflag", "n_rows",
            F.round(F.col("q0_0"), 4).alias("p50_exact"),
            F.round(F.col("q0_1"), 4).alias("p95_exact"),
            (F.abs(F.element_at("_ap", 1) - F.col("q0_0"))
             <= 0.01 * F.col("q0_0")).alias("p50_within_1pct"),
            (F.abs(F.element_at("_ap", 2) - F.col("q0_1"))
             <= 0.01 * F.col("q0_1")).alias("p95_within_1pct"))
        .orderBy("l_returnflag")
    )


def join_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a tolerance window: attribute each click to
    the user's NEXT purchase within 2 hours, or null if none.

    Same merge-based scheme as join_asof but mirrored — a following-frame
    ignore-nulls FIRST carries the next purchase backward — plus a residual
    tolerance predicate applied after the match (nulling misses, exactly
    pandas ``merge_asof(direction='forward', tolerance=...)``).  Still one
    shuffle + one sort per user key; tolerance never re-expands the
    candidate set the way a range self-join would.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = (ev.where(F.col("event_type").isin("click", "purchase"))
              .select("event_id", "user_id", "ts", "event_type", "value"))
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(1, W.unboundedFollowing))
    nxt = F.first(
        F.when(F.col("event_type") == "purchase", F.col("ts")),
        ignorenulls=True).over(w)
    # materialize the window BEFORE the click filter: re-stating the window
    # expression after .where() would recompute it over clicks only
    within = F.col("nxt") <= F.col("ts") + F.expr("INTERVAL 2 HOURS")
    return (
        tagged.withColumn("nxt", nxt)
        .where(F.col("event_type") == "click")
        .select(
            "event_id", "user_id", F.col("ts").alias("click_ts"),
            F.when(within, F.col("nxt")).alias("next_purchase_ts"),
            F.coalesce(within, F.lit(False)).alias("converted"),
        )
    )


def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — matches ANSI
    PERCENTILE_CONT / DuckDB quantile_cont).

    r15 (guide §5 — r14 verdict #3): computed by rank arithmetic over a
    distributed window sort (:func:`_exact_rank_quantiles`) instead of the
    ``percentile`` aggregate, whose ObjectHashAggregate buffer holds every
    value of a group in one task's memory and cannot spill — the exact
    form now scales to 100 TB group sizes (sort spills; the interpolation
    touches ≤ 2 rows per quantile).  Values are bit-identical to the old
    aggregate (same interpolation doubles; collect-compared and
    oracle-reverified)."""
    li = load_table(spark, sf_dir, "lineitem")
    # both value columns stack their sort+rank windows over ONE group-key
    # exchange (one scan) — see _exact_rank_quantiles
    ex = _exact_rank_quantiles(li, "l_returnflag",
                               [("l_extendedprice", [0.25, 0.5, 0.75]),
                                ("l_quantity", [0.5])])
    return ex.select(
        "l_returnflag",
        F.round(F.col("q0_0"), 4).alias("p25_price"),
        F.round(F.col("q0_1"), 4).alias("p50_price"),
        F.round(F.col("q0_2"), 4).alias("p75_price"),
        F.round(F.col("q1_0"), 4).alias("p50_qty"),
    )


_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long → wide: per-user sum of value by event type.

    The pivot values are declared explicitly — without the list Spark runs
    an extra distinct() job over the pivot column to discover them, which at
    100 TB is a full scan you don't want just to name columns."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (ev.groupBy("user_id")
               .pivot("event_type", _PIVOT_TYPES)
               .agg(F.round(F.sum("value"), 4)))
    return pivoted.select(
        "user_id", *[F.col(t).alias(f"sum_{t}") for t in _PIVOT_TYPES])


def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long (melt): lineitem measures to (measure, val) pairs.
    Pure projection — no shuffle; output is 3× the rows, same bytes."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber",
                  "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(["l_orderkey", "l_linenumber"],
                 ["l_quantity", "l_extendedprice", "l_discount"],
                 "measure", "val")
        .withColumn("val", F.round("val", 4))
    )



def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an ordered per-key frame.

    last_value needs the full-partition frame (unbounded both ways) —
    with the default frame it would just echo the current row; nth_value
    anchors on the 2nd event.  One shuffle on user_id, one sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return ev.select(
        "event_id", "user_id",
        F.first_value("event_type").over(w).alias("first_type"),
        F.last_value("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag semantics: duplicates survive to the minimum
    multiplicity of the two sides (vs intersect's set semantics)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    return (
        clicks.intersectAll(views)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("multiplicity"))
        .orderBy("user_id")
    )


def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference: each right-side occurrence cancels one
    left-side occurrence, the multiset form of anti join."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id")
    return (
        clicks.exceptAll(purchases)
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("n_unmatched"))
        .orderBy("user_id")
    )


def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregates: every/any (bool_and/bool_or) plus
    bit_or fold — all algebraic, constant-size partial state."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.every(F.col("value") > 0).alias("all_positive"),
            F.some(F.col("value") > 400).alias("any_big"),
            F.bit_or(F.col("user_id")).alias("userbits_or"),
            F.bit_and(F.col("user_id")).alias("userbits_and"),
        )
        .orderBy("event_type")
    )


def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: per-nation sorted name list.

    collect_list has no ordering guarantee under distributed execution, so
    the sort happens INSIDE the aggregate expression (array_sort before
    join) — the only portable way to make string_agg reproducible.
    """
    cust = load_table(spark, sf_dir, "customer")
    top = cust.where(F.col("c_custkey") <= 30)
    return (
        top.groupBy("c_nationkey")
        .agg(F.array_join(F.array_sort(F.collect_list("c_name")), "|")
             .alias("names"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("c_nationkey")
    )



def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: turn a change stream (each
    customer's orders over time) into validity intervals via lead() —
    ``valid_to`` of one version is ``valid_from`` of the next, open-ended
    for the current version.

    One shuffle on the business key + one per-key sort; no self-join.  This
    is the CDC-compaction complement to merge_upsert: upsert keeps only the
    latest, SCD2 keeps the full history queryable by as-of time.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.where(F.col("o_custkey") <= 200)
        .select(
            F.col("o_custkey").alias("cust_id"),
            F.col("o_orderkey").alias("version_id"),
            F.col("o_totalprice").alias("attr_value"),
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        )
        .orderBy("cust_id", "valid_from", "version_id")
    )


def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches as first-class aggregation state, with a
    tolerance-banded oracle (round-3 verdict #3): sketch internals are
    engine-specific, so the comparable output is the exact distinct-user
    count (DuckDB recomputes it) plus a boolean asserting the merged
    DataSketches estimate landed within 5% (lgK 12 → rsd ≈ 1.6%, 3σ band).

    Per-group DataSketches HLL via hll_sketch_agg, then a second-level
    hll_union_agg over the per-group sketches — the two-level rollup that
    makes 100 TB distinct-count dashboards incremental: partial sketches
    are tiny, mergeable, and never rescan history.  The exact companion
    exists for the gate, not the production path.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sketch"))
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
         .cast("bigint").alias("_approx"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_users_exact"))
    return (merged.crossJoin(F.broadcast(exact))
            .select(
                "n_groups", "n_users_exact",
                (F.abs(F.col("_approx") - F.col("n_users_exact"))
                 <= 0.05 * F.col("n_users_exact")).alias("within_band")))



def agg_count_if_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / any_value / exact median — the remaining everyday
    aggregates.  any_value is pinned by taking it over a single-valued
    group expression so the result is deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.median("l_quantity").alias("median_qty"),
            F.any_value(F.upper("l_returnflag")).alias("flag_upper"),
        )
        .orderBy("l_returnflag")
    )


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the lineitem measures,
    unpivoted to (var_x, var_y, corr) rows.

    All six correlations are algebraic co-moment aggregates computed in a
    SINGLE scan + two-phase agg (one 1-row result), then unpivoted with
    stack() — at 100 TB this is one pass over the fact table regardless of
    how many pairs are requested, vs. one job per pair in the naive
    df.stat.corr loop."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    one = li.agg(*[F.round(F.corr(a, b), 4).alias(f"c_{i}")
                   for i, (a, b) in enumerate(pairs)])
    stack_args = ", ".join(f"'{a}', '{b}', c_{i}"
                           for i, (a, b) in enumerate(pairs))
    return (one.select(F.expr(
        f"stack({len(pairs)}, {stack_args}) as (var_x, var_y, corr)"))
        .orderBy("var_x", "var_y"))


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median quantity per return flag: the smallest
    quantity whose cumulative extended-price weight reaches half the
    flag's total.

    Weights are summed as DECIMAL(18,4) so cumulative sums are exact and
    the half-total comparison (2·cum ≥ total, kept in integer-exact
    decimal space) can never flip on float summation order.  The window
    runs over DISTINCT (flag, quantity) groups — the fact table collapses
    first, so the sort is over the value domain, not the rows."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (li.groupBy("l_returnflag", "l_quantity")
         .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
              .alias("w")))
    wq = (W.partitionBy("l_returnflag").orderBy("l_quantity")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wt = W.partitionBy("l_returnflag")
    cand = g.select(
        "l_returnflag", "l_quantity",
        (F.sum("w").over(wq) * 2 >= F.sum("w").over(wt)).alias("reached"))
    return (cand.where("reached")
            .groupBy("l_returnflag")
            .agg(F.min("l_quantity").alias("weighted_median_qty"))
            .orderBy("l_returnflag"))


def timeseries_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on the daily-revenue series: flag days
    whose revenue deviates from the series median by more than 3 robust
    z-units (1.4826·MAD).

    The fact table collapses to one exact DECIMAL row per day first; the
    median/MAD pass then runs over the tiny daily series (bounded by
    calendar days, not data volume), broadcast back as a 1-row aggregate.
    Daily sums are rounded before the double cast so both engines score
    identical series."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4)
                  .cast("double").alias("revenue")))
    med = daily.agg(F.expr("percentile(revenue, 0.5)").alias("med"))
    dev = (daily.crossJoin(F.broadcast(med))
           .select("day", "revenue", "med",
                   F.abs(F.col("revenue") - F.col("med")).alias("adev")))
    mad = dev.agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (dev.crossJoin(F.broadcast(mad))
            .select("day", "revenue",
                    F.round((F.col("revenue") - F.col("med"))
                            / (F.lit(1.4826) * F.col("mad")), 2)
                    .alias("robust_z"))
            .where(F.abs("robust_z") > 3)
            .orderBy("day"))


def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection on the daily error-rate series:
    S_i = max(0, S_{i-1} + (rate_i − mean − slack)), alarm when S_i > h.

    The recursive max(0,·) has no direct window form, but the identity
    S_i = P_i − min(0, min_{j≤i} P_j) (P = running sum of deviations)
    turns it into two prefix windows — so the whole detector is windows
    over the DAILY series, which is bounded by the calendar, not data
    volume; the fact table collapses to one row per day first (two-phase
    counts, integer-exact rates)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.when(F.col("event_type") == "error", 1)
                        .otherwise(0)).alias("n_err"),
                  F.count(F.lit(1)).alias("n")))
    rated = daily.select(
        "day", (F.col("n_err") / F.col("n")).alias("rate"))
    mean = rated.agg(F.avg("rate").alias("mu"))
    slack = 0.005
    dev = (rated.crossJoin(F.broadcast(mean))
           .select("day", "rate",
                   (F.col("rate") - F.col("mu") - slack).alias("d")))
    wp = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    staged = dev.select("day", "rate", F.sum("d").over(wp).alias("p"))
    s = F.col("p") - F.least(F.lit(0.0), F.min("p").over(wp))
    h = 0.02
    return (staged.select("day", F.round("rate", 4).alias("rate"),
                          F.round(s, 4).alias("cusum"),
                          (s > h).alias("alarm"))
            .orderBy("day"))


def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC changelog (update / delete / no-op) to a snapshot —
    the third MERGE flavor next to merge_upsert (insert-or-replace) and
    merge_scd2_history (versioning): latest change per key wins, deletes
    actually remove rows.

    The changelog is derived from events (latest event per user: purchase
    ⇒ balance update, error ⇒ delete); it collapses to ONE row per key
    before touching the snapshot, so the merge is a single left join on
    the (usually broadcastable) change set, never a row-at-a-time replay.
    """
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                         F.col("event_id").desc())
    latest = (ev.where(F.col("event_type").isin("purchase", "error"))
              .withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1)
              .select((F.col("user_id") + 1).alias("key"),
                      F.col("event_type").alias("op"),
                      F.round("value", 2).alias("new_bal")))
    merged = cust.join(F.broadcast(latest),
                       cust.c_custkey == latest.key, "left")
    return (merged.where(F.col("op").isNull() | (F.col("op") != "error"))
            .select("c_custkey", "c_name", "c_mktsegment",
                    F.round(F.when(F.col("op") == "purchase",
                                   F.col("new_bal"))
                            .otherwise(F.col("c_acctbal")), 2)
                    .alias("acctbal"),
                    F.coalesce(F.col("op"), F.lit("unchanged"))
                    .alias("last_op")))


def agg_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: top-20 co-purchased part pairs
    by lift, at minimum support 3 — the recommender/affinity primitive.

    Baskets are the distinct (order, part) rows; the pair self-join is
    per-order, so its cost is Σ C(k_o, 2) over orders — bounded by basket
    size (~4 lines in TPC-H shape), linear in orders at any scale.  Lift
    is computed from exact integer counts, so both engines order the
    same doubles; ties break on the part ids."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    item = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_item"))
    n_orders = basket.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders"))
    a, b = basket.alias("a"), basket.alias("b")
    # shuffle_hash: the self-join's build side is the full basket table
    # (corpus-sized) — Catalyst's post-distinct size estimate undershoots
    # the 64 MiB broadcast threshold and would BROADCAST it (measured
    # 267 MiB at sf1 by tools/broadcast_audit.py); co-partitioning both
    # sides on l_orderkey is the linear-cost plan at any scale
    pair = (a.join(b.hint("shuffle_hash"),
                   (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("part_x"),
                     F.col("b.l_partkey").alias("part_y"))
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= 3))
    ix = item.select(F.col("l_partkey").alias("part_x"),
                     F.col("n_item").alias("n_x"))
    iy = item.select(F.col("l_partkey").alias("part_y"),
                     F.col("n_item").alias("n_y"))
    lift = (F.col("support").cast("double") * F.col("n_orders")
            / (F.col("n_x") * F.col("n_y")))
    return (pair.join(F.broadcast(ix), "part_x")
            .join(F.broadcast(iy), "part_y")
            .crossJoin(F.broadcast(n_orders))
            .orderBy(lift.desc(), "part_x", "part_y")
            .limit(20)
            .select("part_x", "part_y", "support", "n_x", "n_y",
                    F.round(lift, 4).alias("lift")))


def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1..7 — the
    seasonality probe run before choosing a forecasting model.

    The fact table collapses to the exact daily series once; each lag is
    then a Pearson correlation between the series and its lag-shifted
    self over the tiny calendar-bounded frame (lag + corr are both
    algebraic, one aggregate per lag over ≤ |days| rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4)
                  .cast("double").alias("x")))
    w = W.orderBy("day")
    shifted = daily.select(
        "day", "x",
        *[F.lag("x", k).over(w).alias(f"x_{k}") for k in range(1, 8)])
    acfs = shifted.agg(
        *[F.round(F.corr("x", f"x_{k}"), 3).alias(f"acf_{k}")
          for k in range(1, 8)])
    stack_args = ", ".join(f"{k}, acf_{k}" for k in range(1, 8))
    return (acfs.select(F.expr(
        f"stack(7, {stack_args}) as (lag, acf)"))
        .orderBy("lag"))


def dq_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of document-length distributions:
    src0 (the "expected" population) vs every other source, over fixed
    length buckets — the drift gate an ML platform runs before letting a
    new data drop into training.

    PSI = Σ (a_i − e_i)·ln(a_i / e_i) over bucket shares (ε-floored so
    empty buckets stay finite).  Fixed bucket edges make both engines
    bucket identically; the whole op is two tiny grouped aggregates
    joined broadcast — one corpus pass."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.when(F.col("n_chars") < 200, 0)
              .when(F.col("n_chars") < 400, 1)
              .when(F.col("n_chars") < 600, 2)
              .when(F.col("n_chars") < 800, 3)
              .otherwise(4))
    counts = (docs.select("source", bucket.alias("bucket"))
              .groupBy("source", "bucket")
              .agg(F.count(F.lit(1)).alias("n")))
    tot = counts.groupBy("source").agg(F.sum("n").alias("n_tot"))
    shares = (counts.join(tot, "source")
              .select("source", "bucket",
                      (F.col("n") / F.col("n_tot")).alias("share")))
    expected = (shares.where(F.col("source") == "src0")
                .select("bucket", F.col("share").alias("e")))
    eps = 1e-6
    actual = shares.where(F.col("source") != "src0")
    a = F.greatest(F.col("share"), F.lit(eps))
    e = F.greatest(F.coalesce(F.col("e"), F.lit(0.0)), F.lit(eps))
    return (actual.join(F.broadcast(expected), "bucket", "left")
            .groupBy("source")
            .agg(F.round(F.sum((a - e) * F.log(a / e)), 4).alias("psi"))
            .orderBy("source"))


def dq_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the orders table in ONE pass: null count,
    distinct count, and fill rate per column, unpivoted to a row per
    column — the first thing a data platform materializes about every
    table it ingests.

    All per-column aggregates ride a single two-phase pass (no
    per-column jobs); stack() unpivots the 1-row result."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__total"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
             .alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct")]
    one = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__total, {c}__nulls, {c}__distinct" for c in cols)
    return (one.select(F.expr(
        f"stack({len(cols)}, {stack_args})"
        " as (column_name, n_total, n_nulls, n_distinct)"))
        .select("column_name", "n_total", "n_nulls", "n_distinct",
                F.round(1.0 - F.col("n_nulls") / F.col("n_total"), 4)
                .alias("fill_rate"))
        .orderBy("column_name"))


def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-significant-
    digit distribution vs the Benford expectation, with each digit's
    chi-square contribution — the forensic screen for fabricated or
    systematically generated monetary data.

    The first digit is taken from the decimal string rendering (strip
    sign/zero/point, keep the lead digit), NOT via log10 — float log at
    exact powers of ten can land a hair below the integer and misbucket
    10^k by a full digit class.  One two-phase count per digit."""
    orders = load_table(spark, sf_dir, "orders")
    first_digit = F.substring(
        F.regexp_replace(F.col("o_totalprice").cast("string"),
                         r"[^1-9]", ""), 1, 1).cast("int")
    obs = (orders.where(F.col("o_totalprice") > 0)
           .select(first_digit.alias("digit"))
           .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = obs.agg(F.sum("n").alias("n_tot"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return (obs.crossJoin(F.broadcast(tot))
            .select("digit", "n",
                    F.round(F.col("n") / F.col("n_tot"), 4)
                     .alias("observed_share"),
                    F.round(benford, 4).alias("benford_share"),
                    F.round(F.pow(F.col("n") / F.col("n_tot") - benford, 2)
                            / benford * F.col("n_tot"), 2)
                     .alias("chi2_term"))
            .orderBy("digit"))


def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day median of daily revenue — the robust trend
    line a dashboard draws through spiky series.

    Spark has no percentile-over-window, so the frame is collected as a
    window array (≤7 elements), sorted with array_sort, and the
    interpolated median is read out with element_at — all JVM HOFs over
    a bounded frame, zero Python, no self-join.  The daily collapse is
    exact DECIMAL so both engines see identical series."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4)
                  .cast("double").alias("revenue")))
    w = (W.orderBy("day").rowsBetween(-6, W.currentRow))
    staged = daily.select(
        "day", "revenue",
        F.array_sort(F.collect_list("revenue").over(w)).alias("fr"))
    n = F.size("fr")
    mid_hi = (n / 2 + 1).cast("int")          # n even: upper middle
    mid_odd = ((n + 1) / 2).cast("int")       # n odd: exact middle
    med = F.when(n % 2 == 1, F.element_at("fr", mid_odd)) \
           .otherwise((F.element_at("fr", (n / 2).cast("int"))
                       + F.element_at("fr", mid_hi)) / 2.0)
    return (staged.select("day", "revenue",
                          F.round(med, 4).alias("median7"))
            .orderBy("day"))


def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of supplier revenue concentration per
    nation (0–10000 scale) with an antitrust-style band label — the
    market-structure complement to the Gini op.

    Two-level aggregate: the fact table collapses to exact DECIMAL
    revenue per (nation, supplier) first, then shares and the
    sum-of-squares ride a per-nation aggregate over the supplier-sized
    table."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (li.join(supp, li.l_suppkey == supp.s_suppkey)
           .join(F.broadcast(nation),
                 supp.s_nationkey == nation.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                .alias("rev")))
    tot = rev.groupBy("nation").agg(F.sum("rev").alias("rev_tot"))
    share = (rev.join(tot, "nation")
             .select("nation",
                     (F.col("rev").cast("double")
                      / F.col("rev_tot").cast("double")).alias("s")))
    hhi = F.sum(F.col("s") * F.col("s")) * 10000
    return (share.groupBy("nation")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 F.round(hhi, 2).alias("hhi"),
                 F.when(hhi < 1500, "competitive")
                  .when(hhi < 2500, "moderate")
                  .otherwise("concentrated").alias("band"))
            .orderBy("nation"))


def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily revenue:
    trend (centered 7-day mean) + day-of-week seasonal + residual — the
    STL-lite every ops dashboard runs on its KPI series.

    The fact table collapses to the exact DECIMAL daily series once;
    trend is a centered window mean, the seasonal profile is one tiny
    per-weekday aggregate of detrended values broadcast back, and the
    residual is a projection.  Weekday numbering is normalized to
    0=Sunday on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4)
                  .cast("double").alias("revenue")))
    w = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day", "revenue",
        (F.dayofweek("day") - 1).alias("dow"),
        F.avg("revenue").over(w).alias("trend"))
    seasonal = (trended.groupBy("dow")
                .agg(F.avg(F.col("revenue") - F.col("trend"))
                     .alias("seasonal")))
    return (trended.join(F.broadcast(seasonal), "dow")
            .select("day",
                    F.round("revenue", 2).alias("revenue"),
                    F.round("trend", 2).alias("trend"),
                    F.round("seasonal", 2).alias("seasonal"),
                    F.round(F.col("revenue") - F.col("trend")
                            - F.col("seasonal"), 2).alias("residual"))
            .orderBy("day"))


def timeseries_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete KPI-anomaly pipeline: seasonal decomposition (centered
    7-day trend + day-of-week profile) feeding a ROBUST residual test —
    a day is anomalous when its residual sits more than 3 robust z-units
    (1.4826·MAD) from the residual median.  Deseasonalizing first is what
    separates "weekend dip" from "real incident"; the MAD scale keeps the
    threshold itself immune to the anomalies it hunts.

    Same scale shape as the decompose: one exact daily collapse, windows
    and aggregates on the calendar-bounded axis, and two tiny broadcast
    joins (seasonal profile, MAD scale).  Output: flagged days only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4)
                  .cast("double").alias("revenue")))
    w = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day", "revenue",
        (F.dayofweek("day") - 1).alias("dow"),
        F.avg("revenue").over(w).alias("trend"))
    seasonal = (trended.groupBy("dow")
                .agg(F.avg(F.col("revenue") - F.col("trend"))
                     .alias("seasonal")))
    resid = (trended.join(F.broadcast(seasonal), "dow")
             .select("day", "revenue",
                     (F.col("revenue") - F.col("trend") - F.col("seasonal"))
                     .alias("residual")))
    med = resid.agg(F.expr("percentile(residual, 0.5)").alias("med"))
    mad = (resid.crossJoin(F.broadcast(med))
           .agg(F.expr("percentile(abs(residual - med), 0.5)").alias("mad"),
                F.first("med").alias("med")))
    rz = (F.col("residual") - F.col("med")) / (1.4826 * F.col("mad"))
    return (resid.crossJoin(F.broadcast(mad))
            .where(F.abs(rz) > 3)
            .select("day", F.round("revenue", 2).alias("revenue"),
                    F.round("residual", 2).alias("residual"),
                    F.round(rz, 4).alias("robust_z"))
            .orderBy("day"))


def timeseries_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (ŷ_t = y_{t−7}) on daily
    revenue: MAE, MAPE and mean bias per weekday — the accuracy floor any
    real forecasting model must beat, measured the way a forecast platform
    measures it (holdout = every day with a lag-7 ancestor).

    One exact DECIMAL daily collapse, one lag window over the calendar-
    bounded series, one tiny per-weekday aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                .cast("decimal(18,4)")), 4)
                  .cast("double").alias("y")))
    w = W.orderBy("day")
    t = daily.select("day", "y", F.lag("y", 7).over(w).alias("yhat"))
    scored = t.where(F.col("yhat").isNotNull())
    err = F.col("y") - F.col("yhat")
    return (scored.groupBy((F.dayofweek("day") - 1).alias("dow"))
            .agg(F.count(F.lit(1)).alias("n_days"),
                 F.round(F.avg(F.abs(err)), 2).alias("mae"),
                 F.round(F.avg(F.abs(err) / F.col("y")), 4).alias("mape"),
                 F.round(F.avg(err), 2).alias("bias"))
            .orderBy("dow"))


def agg_pareto_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 question answered exactly: how many top customers (and
    what share of the base) generate 80% of revenue.

    Customer totals collapse to exact DECIMAL first; the cumulative-share
    window then runs over per-customer rows ORDERED BY total — bounded by
    the customer dimension, not fact rows — and one conditional aggregate
    reads off the threshold.  The 2·cum ≥ … comparison style keeps the
    threshold in exact decimal space (no float cliff at the boundary).

    Two-phase (no unpartitioned window over the customer dimension):
    range-bucket customers by revenue (bucket index is a monotone
    function of ``rev``, so global order rev DESC ≡ bucket DESC then
    rev DESC within bucket), per-bucket partial sums, a cumulative scan
    over the ≤256 bucket-level rows locates the bucket where the running
    share crosses 80%, and ONLY that boundary bucket — |customers|/256
    rows in expectation — is ranked exactly.  The 5·cum ≥ 4·total
    comparison keeps the threshold in exact decimal space (no float
    cliff at the boundary); bucketing may use doubles because
    decimal→double is monotone and only ordering matters there."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # shuffle_hash: orders is a corpus-scaling fact — the round-9 sf3 probe
    # measured AQE broadcasting 290 MiB of it (compressed estimate under
    # the threshold), the exact plan this op cannot take at 100 TB
    per_cust = (li.join(orders.hint("shuffle_hash"),
                        li.l_orderkey == orders.o_orderkey)
                .groupBy("o_custkey")
                .agg(F.sum(F.col("l_extendedprice")
                           .cast("decimal(18,4)")).alias("rev")))
    n_buckets = 256
    bounds = per_cust.agg(
        F.min(F.col("rev").cast("double")).alias("lo"),
        F.max(F.col("rev").cast("double")).alias("hi"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum("rev").alias("tot"))
    bucketed = (per_cust.crossJoin(F.broadcast(bounds))  # 1-row broadcast
                .withColumn(
                    "bucket",
                    F.when(F.col("hi") <= F.col("lo"), F.lit(0))
                    .otherwise(F.least(
                        F.floor((F.col("rev").cast("double") - F.col("lo"))
                                * n_buckets / (F.col("hi") - F.col("lo"))),
                        F.lit(n_buckets - 1))))
                .select("o_custkey", "rev", "bucket"))
    grp = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("rev").alias("s_b"))
    # bucket-level cumulative scan as a broadcast triangular self-join
    # (≤256×256 pairs) — keeps the whole plan free of unpartitioned
    # windows, which tests/test_plans.py asserts
    g2 = grp.select(F.col("bucket").alias("b2"),
                    F.col("n_b").alias("n2"), F.col("s_b").alias("s2"))
    lvl = (grp.join(F.broadcast(g2), F.col("b2") >= F.col("bucket"))
           .groupBy("bucket", "n_b", "s_b")
           .agg(F.sum("s2").alias("cum_s"), F.sum("n2").alias("cum_n"))
           .crossJoin(F.broadcast(bounds.select("n_total", "tot"))))
    boundary_info = (lvl.filter(F.col("cum_s") * 5 >= F.col("tot") * 4)
                     .orderBy(F.col("bucket").desc()).limit(1)
                     .select(F.col("bucket").alias("bstar"),
                             (F.col("cum_s") - F.col("s_b")).alias("s_excl"),
                             (F.col("cum_n") - F.col("n_b")).alias("n_excl"),
                             "tot", "n_total"))
    # exact rank only inside the boundary bucket
    w_sum = (W.partitionBy("bucket")
             .orderBy(F.col("rev").desc(), "o_custkey")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    w_rn = W.partitionBy("bucket").orderBy(F.col("rev").desc(), "o_custkey")
    ranked = (bucketed
              .join(F.broadcast(boundary_info),
                    F.col("bucket") == F.col("bstar"))
              .select(
                  (F.col("n_excl") + F.row_number().over(w_rn)).alias("rk"),
                  ((F.col("s_excl") + F.sum("rev").over(w_sum)) * 5
                   >= F.col("tot") * 4).alias("reached"),
                  "n_total"))
    return ranked.agg(
        F.max("n_total").alias("n_customers"),
        F.min(F.when(F.col("reached"), F.col("rk"))).cast("long")
         .alias("top_customers_for_80pct"),
        F.round(F.min(F.when(F.col("reached"), F.col("rk")))
                / F.max("n_total"), 4).alias("share_of_customers"))


def timeseries_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval count by sweep-line: how many orders are
    "in flight" (between order date and their last line's ship date) on
    each day.  The naive formulation is an interval-stabbing theta join
    (days × orders — quadratic); the scalable shape is event differencing:
    +1 at each interval open, -1 the day after it closes, then ONE running
    sum over the per-day net deltas.

    Scale shape: the heavy work is two linear aggregations (per-order max
    ship date: shuffle on l_orderkey; per-day net delta: shuffle on day).
    The running sum's unpartitioned window rides the per-day axis, whose
    cardinality is bounded by the calendar (a few thousand rows at ANY
    data scale), so the single-partition sort is safe by construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    closed = (li.groupBy("l_orderkey")
              .agg(F.max(F.to_date("l_shipdate")).alias("last_ship")))
    # clamp: the synthetic data contains orders whose last ship date
    # precedes the order date; an inverted interval would make the sweep
    # dip below the true stabbing count, so an order is active at least
    # on its own order day
    # shuffle_hash: both sides scale with the corpus, and `closed` is
    # already hash-partitioned on l_orderkey by its groupBy (round-9 sf3
    # probe caught AQE broadcasting 290 MiB of orders here)
    spans = (orders.join(closed.hint("shuffle_hash"),
                         orders.o_orderkey == closed.l_orderkey)
             .select(F.to_date("o_orderdate").alias("open_day"),
                     F.greatest("last_ship", F.to_date("o_orderdate"))
                     .alias("close_day")))
    deltas = (spans.select(F.col("open_day").alias("day"),
                           F.lit(1).alias("delta"))
              .unionAll(spans.select(
                  F.date_add("close_day", 1).alias("day"),
                  F.lit(-1).alias("delta"))))
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (per_day.select(
        "day", F.sum("net").over(w).cast("long").alias("n_active"))
        .orderBy("day"))


CMS_WIDTH = 256         # counters per hash row (2 hex digits of md5)
CMS_DEPTH = 4           # independent hash rows
CMS_TOPK = 20           # heavy hitters to read back out of the sketch


def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built AS a DataFrame aggregation, then read back
    for the top-K heaviest users: depth×width counter matrix where row
    ``s`` buckets each key by two hex digits of ``md5(s:key)``, and a
    key's estimate is the MIN over rows of its bucket counter.  The sketch
    guarantees estimate ≥ true count; collisions only ever overcount.

    Unlike HLL/approx_percentile, every step is a deterministic function
    of the data, so a portable oracle exists (DuckDB md5 = Spark md5) and
    the gate checks exact equality of the estimates — a sketch op that is
    NOT rows-only.

    Scale shape: building the sketch is one explode(depth) + groupBy
    (depth×width = 1024 cells max, map-side partial combine does almost
    all the work); reading it back broadcasts the 1024-cell sketch to the
    heavy-hitter rows.  At 100 TB the sketch size is UNCHANGED — that is
    the point of a sketch.
    """
    ev = load_table(spark, sf_dir, "events")
    seeds = F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    cell = (ev.select(F.col("user_id"), F.explode(seeds).alias("s"))
            .select("s", F.conv(F.substring(
                F.md5(F.concat_ws(":", "s", "user_id")), 1, 2), 16, 10)
                .cast("int").alias("bucket")))
    sketch = cell.groupBy("s", "bucket").agg(F.count(F.lit(1)).alias("c"))
    top = (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
           .orderBy(F.col("exact_n").desc(), "user_id").limit(CMS_TOPK))
    probe = top.select(
        "user_id", "exact_n", F.explode(seeds).alias("s"),
    ).select("user_id", "exact_n", "s",
             F.conv(F.substring(
                 F.md5(F.concat_ws(":", "s", "user_id")), 1, 2), 16, 10)
             .cast("int").alias("bucket"))
    return (probe.join(F.broadcast(sketch), ["s", "bucket"])
            .groupBy("user_id", "exact_n")
            .agg(F.min("c").alias("cms_estimate"))
            .select("user_id", "exact_n", "cms_estimate",
                    (F.col("cms_estimate") - F.col("exact_n"))
                    .alias("overcount"))
            .orderBy(F.col("exact_n").desc(), "user_id"))


HH_K = 50               # heavy hitter = more than 1/K of all events


def agg_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with > 1/K of all corpus occurrences)
    in two communication-efficient passes — the Misra-Gries shape that
    finds exact frequent items over 100 TB without shuffling full
    per-key counts:

    pass 1 (mapInPandas, per partition): a Misra-Gries summary with 4·K
    counters.  MG guarantees any key with LOCAL frequency > 1/(4K) of its
    partition survives, so every GLOBAL > 1/K key survives in at least
    one partition — candidates are a guaranteed superset, and only
    O(partitions · K) candidate rows ever shuffle (with a real crawl's
    million-token vocabulary, that is the entire point).

    pass 2: exact recount of occurrences semi-joined to the (broadcast)
    candidate set, filtered against the global total.  The final output
    is therefore exact — identical to the full groupBy — which is what
    the oracle checks.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    m = 4 * HH_K

    def mg_candidates(batches):
        counters: dict = {}
        for pdf in batches:
            for key, cnt in pdf["token"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(cnt)
                if len(counters) > m:
                    # MG decrement step, batched: subtract the (m+1)-th
                    # largest count from everyone, drop the non-positive
                    cut = sorted(counters.values(), reverse=True)[m]
                    counters = {k: v - cut for k, v in counters.items()
                                if v - cut > 0}
        yield pd.DataFrame({"token": list(counters.keys())})

    cands = (toks.mapInPandas(mg_candidates, "token string")
             .distinct())
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (toks.join(F.broadcast(cands), "token", "left_semi")
            .groupBy("token").agg(F.count(F.lit(1)).alias("n_occurrences"))
            .crossJoin(F.broadcast(total))
            .where(F.col("n_occurrences") * HH_K > F.col("n_total"))
            .select("token", "n_occurrences",
                    F.round(F.col("n_occurrences") / F.col("n_total"), 4)
                    .alias("share"))
            .orderBy(F.col("n_occurrences").desc(), "token"))


_UNIQ_COMBOS = [
    ("o_orderkey",),
    ("o_custkey",),
    ("o_orderdate",),
    ("o_custkey", "o_orderdate"),
    ("o_orderstatus", "o_orderpriority"),
]


def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: for each declared column combination over
    ``orders``, the distinct-count, a uniqueness ratio in exact integer
    basis points, and whether the combo is a candidate key — the profiling
    pass a warehouse runs before trusting a merge/upsert key
    (``merge_upsert``'s precondition, and the uniqueness half of
    ``dq_constraint_report``).

    One scan: all distinct-counts are computed in a single aggregate (the
    planner expands multi-distinct into one Expand + two-phase aggregate —
    map-side partials, no per-combo rescan), then the 1×N result row is
    unpivoted to a row per combo with a stack() projection.  Exact integer
    basis points, not a rounded double, so the readout is
    engine-portable."""
    ords = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, combo in enumerate(_UNIQ_COMBOS):
        if len(combo) == 1:
            # single column: NULL-skipping in both engines
            expr = F.count_distinct(F.col(combo[0]))
        else:
            # multi-column: count over a struct, which is never NULL even
            # when a field is — matching the oracle's COUNT(DISTINCT (a,b))
            # row-struct semantics.  Bare count_distinct(a, b) would skip
            # any row with a NULL field and silently under-report
            # uniqueness on nullable combos (round-3 ADVICE).
            expr = F.count_distinct(F.struct(*[F.col(c) for c in combo]))
        aggs.append(expr.alias(f"d{i}"))
    one = ords.agg(*aggs)
    stack_args = ", ".join(
        f"'{'+'.join(combo)}', d{i}" for i, combo in enumerate(_UNIQ_COMBOS))
    return (one.select(
        F.col("n_rows"),
        F.expr(f"stack({len(_UNIQ_COMBOS)}, {stack_args}) "
               "AS (column_set, n_distinct)"))
        .select("column_set", "n_rows", "n_distinct",
                F.expr("(10000 * n_distinct) div n_rows").alias("uniq_bp"),
                (F.col("n_distinct") == F.col("n_rows")).alias("is_key"))
        .orderBy("column_set"))


_BLOOM_BITS = 1 << 16   # 64 Kbit filter = 1024 longs of broadcast metadata
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3            # hash functions


def join_bloom_semi_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction with a hand-built Bloom filter: the classic
    100 TB technique for a selective dim⋈fact join when the dim key set is
    too big to broadcast as an IN-list but its BITS are not.  The urgent
    orders' keys aggregate into a 64 Kbit Bloom filter (one distinct-
    positions pass + a per-word bit_or — all distributed), the ≤1024-long
    word array broadcasts as a literal, and the fact scan drops every row
    whose key misses the filter BEFORE the shuffle.  False positives are
    removed by the exact join that follows, so the result is byte-equal to
    the plain join (which is exactly what the oracle checks) — the filter
    only cuts shuffled volume, it never changes the answer (Bloom filters
    have no false negatives).

    Production notes the docstring owes at scale: m must be sized to the
    creation-side cardinality (64 Kbit ≈ 1 % FP at ~6 k keys, saturating
    as n grows — a real deployment picks m ≈ 10·n bits), and Spark's own
    InjectRuntimeFilter does this automatically when size estimates allow;
    this op is the explicit, estimate-independent form.  Driver state is
    the fixed 1024-word mask (bounded index metadata, like the IVF
    codebook), never key data.
    """
    ords = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT")
    keys = ords.select("o_orderkey")
    pos = keys.select(F.explode(F.array(*[
        F.pmod(F.xxhash64("o_orderkey", F.lit(i)), F.lit(_BLOOM_BITS))
        for i in range(_BLOOM_K)])).alias("p")).distinct()
    words = (pos.groupBy((F.col("p") / 64).cast("int").alias("w"))
             .agg(F.bit_or(F.expr(
                 "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"))
                 .alias("mask")))
    masks = [0] * _BLOOM_WORDS
    for r in words.collect():  # driver-bounded: <= 1024 (word, mask) rows of filter metadata
        masks[r["w"]] = r["mask"]
    # one F.expr (see functions/sqlgen) of BIGINT words: a saturated
    # filter's words are small negatives (≈ -1) that fit int32, and an
    # ARRAY<INT> element under shiftrightunsigned(x, 41) shifts by
    # 41 & 31 = 9 (Java int semantics) — silently dropping true matches
    arr = F.expr(sqlgen.array(masks))
    li = load_table(spark, sf_dir, "lineitem").withColumn("_bf", arr)
    # ONE forall HOF instead of k AND-ed bit tests (r15, guide §2.3
    # per-task work, measured 3.45 → 0.96 s at sf0.1 with identical
    # output): the unrolled form inlined pmod(xxhash64(...)) TWICE per
    # probe (word index + bit index — a pre-projection didn't help,
    # filter pushdown substitutes the aliases right back) and embedded
    # the 1024-word mask literal once PER REFERENCE — 15 copies of an
    # 8 KB array in one Filter condition, far past the codegen method
    # limit, so the whole probe ran interpreted.  Inside the lambda each
    # position and the mask array are bound ONCE; & 1, not % 2 (Java %
    # keeps the dividend's sign — a word with bit 63 set would test -1).
    probe = F.expr(
        f"forall(transform(sequence(0, {_BLOOM_K - 1}),"
        f" i -> pmod(xxhash64(l_orderkey, i), {_BLOOM_BITS})),"
        " p -> (shiftrightunsigned(_bf[CAST(p / 64 AS INT)],"
        " CAST(p % 64 AS INT)) & 1) = 1)")
    pre = li.where(probe).drop("_bf")
    # the exact-verify side is the filtered fact (corpus-growing): pinned
    return (pre.join(ords.hint("shuffle_hash"),
                     pre.l_orderkey == ords.o_orderkey)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 # decimal sum: float revenue sums flip the 4th decimal
                 # at sf10 magnitudes (~1e11 — caught by the r13 sweep)
                 F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                               * (1 - F.col("l_discount")
                                  .cast("decimal(8,4)"))), 4)
                 .cast("double").alias("revenue"))
            .orderBy("l_returnflag", "l_linestatus"))


QUERIES = {
    "join_bloom_semi_reduction": join_bloom_semi_reduction,
    "dq_uniqueness_profile": dq_uniqueness_profile,
    "sql_recursive_cte": sql_recursive_cte,
    "agg_heavy_hitters_exact": agg_heavy_hitters_exact,
    "timeseries_active_intervals": timeseries_active_intervals,
    "agg_count_min_sketch": agg_count_min_sketch,
    "agg_pareto_threshold": agg_pareto_threshold,
    "timeseries_forecast_backtest": timeseries_forecast_backtest,
    "agg_hhi_concentration": agg_hhi_concentration,
    "timeseries_seasonal_decompose": timeseries_seasonal_decompose,
    "timeseries_stl_anomaly": timeseries_stl_anomaly,
    "agg_benford_deviation": agg_benford_deviation,
    "window_rolling_median": window_rolling_median,
    "dq_distribution_drift_psi": dq_distribution_drift_psi,
    "dq_null_profile": dq_null_profile,
    "timeseries_autocorrelation": timeseries_autocorrelation,
    "agg_market_basket_lift": agg_market_basket_lift,
    "merge_cdc_apply": merge_cdc_apply,
    "timeseries_cusum_changepoint": timeseries_cusum_changepoint,
    "agg_corr_matrix": agg_corr_matrix,
    "agg_weighted_median": agg_weighted_median,
    "timeseries_mad_anomaly": timeseries_mad_anomaly,
    "agg_groupby_multi": agg_groupby_multi,
    "agg_count_distinct": agg_count_distinct,
    "agg_approx_count_distinct": agg_approx_count_distinct,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_grouping_sets": agg_grouping_sets,
    "agg_filtered": agg_filtered,
    "join_inner_equi": join_inner_equi,
    "join_broadcast": join_broadcast,
    "join_left_outer": join_left_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_theta_range": join_theta_range,
    "flagship_q3_topk_revenue": flagship_q3_topk_revenue,
    "flagship_q5_multijoin_volume": flagship_q5_multijoin_volume,
    "window_row_number_topn": window_row_number_topn,
    "window_first_last_nth": window_first_last_nth,
    "setop_intersect_all": setop_intersect_all,
    "setop_except_all": setop_except_all,
    "agg_bool_bit": agg_bool_bit,
    "agg_count_if_median": agg_count_if_median,
    "agg_string_agg_ordered": agg_string_agg_ordered,
    "window_rank_dense": window_rank_dense,
    "window_running_sum": window_running_sum,
    "window_lag_lead": window_lag_lead,
    "sort_limit_topk": sort_limit_topk,
    "setop_union_all": setop_union_all,
    "setop_union_allow_missing": setop_union_allow_missing,
    "setop_intersect": setop_intersect,
    "setop_except": setop_except,
    "dedup_exact": dedup_exact,
    "join_asof": join_asof,
    "agg_percentile": agg_percentile,
    "reshape_pivot": reshape_pivot,
    "reshape_unpivot": reshape_unpivot,
    "sql_tpch_q6": sql_tpch_q6,
    "sql_parameterized": sql_parameterized,
    "join_hint_shuffle_hash": join_hint_shuffle_hash,
    "agg_having_subquery": agg_having_subquery,
    "window_ntile_ranks": window_ntile_ranks,
    "agg_salted_skew": agg_salted_skew,
    "join_full_outer": join_full_outer,
    "dedup_keep_latest": dedup_keep_latest,
    "join_bucketed_colocated": join_bucketed_colocated,
    "agg_collect_sorted": agg_collect_sorted,
    "join_range_bucketized": join_range_bucketized,
    "join_null_safe": join_null_safe,
    "merge_upsert": merge_upsert,
    "join_asof_nearest": join_asof_nearest,
    "agg_linear_regression": agg_linear_regression,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "dq_referential_integrity": dq_referential_integrity,
    "timeseries_ewma": timeseries_ewma,
    "join_range_gap_histogram": join_range_gap_histogram,
    "timeseries_resample_interpolate": timeseries_resample_interpolate,
    "merge_scd2_history": merge_scd2_history,
    "agg_hll_sketch_merge": agg_hll_sketch_merge,
    "agg_approx_percentile": agg_approx_percentile,
    "join_asof_forward_tolerance": join_asof_forward_tolerance,
    "timeseries_gap_fill": timeseries_gap_fill,
    "timeseries_ohlc_bars": timeseries_ohlc_bars,
    "dq_anomaly_zscore": dq_anomaly_zscore,
    "dq_freshness_report": dq_freshness_report,
    "agg_equidepth_histogram": agg_equidepth_histogram,
    "agg_multi_col_distinct": agg_multi_col_distinct,
    "window_moving_minmax": window_moving_minmax,
    "agg_grouping_id_report": agg_grouping_id_report,
    "window_cumulative_share": window_cumulative_share,
    "agg_value_histogram": agg_value_histogram,
    "timeseries_forward_fill": timeseries_forward_fill,
    "agg_stats_moments": agg_stats_moments,
    "agg_min_max_by": agg_min_max_by,
    "dq_constraint_report": dq_constraint_report,
}

ORACLE = {
    # Tolerance-banded oracles for the sketch aggregates (round-3 verdict
    # #3): DuckDB verifies the EXACT companion values; the within-band
    # booleans (computed Spark-side against the declared error) must
    # hash-match literal TRUE.
    "agg_approx_count_distinct": """
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders_exact,
               COUNT(DISTINCT l_partkey) AS n_parts_exact,
               TRUE AS orders_within_band, TRUE AS parts_within_band
        FROM lineitem
    """,
    "agg_approx_percentile": """
        SELECT l_returnflag, COUNT(*) AS n_rows,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
               TRUE AS p50_within_1pct, TRUE AS p95_within_1pct
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_hll_sketch_merge": """
        SELECT COUNT(DISTINCT event_type) AS n_groups,
               COUNT(DISTINCT user_id) AS n_users_exact,
               TRUE AS within_band
        FROM events
    """,
    "join_bloom_semi_reduction": """
        SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n_items,
               CAST(ROUND(SUM(l.l_extendedprice::DECIMAL(18,4)
                              * (1 - l.l_discount::DECIMAL(8,4))), 4)
                    AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "dq_uniqueness_profile": """
        WITH s AS (
            SELECT COUNT(*) AS n_rows,
                   COUNT(DISTINCT o_orderkey) AS d0,
                   COUNT(DISTINCT o_custkey) AS d1,
                   COUNT(DISTINCT o_orderdate) AS d2,
                   COUNT(DISTINCT (o_custkey, o_orderdate)) AS d3,
                   COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS d4
            FROM orders
        ), rows_ AS (
            SELECT 'o_orderkey' AS column_set, n_rows, d0 AS n_distinct FROM s
            UNION ALL
            SELECT 'o_custkey', n_rows, d1 FROM s
            UNION ALL
            SELECT 'o_orderdate', n_rows, d2 FROM s
            UNION ALL
            SELECT 'o_custkey+o_orderdate', n_rows, d3 FROM s
            UNION ALL
            SELECT 'o_orderstatus+o_orderpriority', n_rows, d4 FROM s
        )
        SELECT column_set, n_rows, n_distinct,
               (10000 * n_distinct) // n_rows AS uniq_bp,
               n_distinct = n_rows AS is_key
        FROM rows_ ORDER BY column_set
    """,
    "sql_recursive_cte": """
        WITH RECURSIVE edges AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            WHERE cn.n_name <> sn.n_name
            GROUP BY 1, 2
            HAVING COUNT(*) >= 40
        ),
        reach(nation, hops) AS (
            SELECT 'NATION_0', 0
            UNION ALL
            SELECT e.dst, r.hops + 1
            FROM reach r JOIN edges e ON e.src = r.nation
            WHERE r.hops < 3
        )
        SELECT nation, MIN(hops) AS min_hops
        FROM reach GROUP BY nation ORDER BY nation
    """,
    "agg_heavy_hitters_exact": """
        WITH toks AS (
            SELECT UNNEST(str_split(text, ' ')) AS token FROM documents
        ), tot AS (SELECT COUNT(*) AS n_total FROM toks)
        SELECT token, COUNT(*) AS n_occurrences,
               ROUND(COUNT(*) * 1.0 / ANY_VALUE(t.n_total), 4) AS share
        FROM toks CROSS JOIN tot t
        GROUP BY token
        HAVING COUNT(*) * 50 > ANY_VALUE(t.n_total)
        ORDER BY n_occurrences DESC, token
    """,
    "timeseries_active_intervals": """
        WITH closed AS (
            SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS last_ship
            FROM lineitem GROUP BY 1
        ), spans AS (
            SELECT CAST(o_orderdate AS DATE) AS open_day,
                   GREATEST(last_ship, CAST(o_orderdate AS DATE))
                       AS close_day
            FROM orders JOIN closed ON o_orderkey = l_orderkey
        ), deltas AS (
            SELECT open_day AS day, 1 AS delta FROM spans
            UNION ALL
            SELECT close_day + 1 AS day, -1 AS delta FROM spans
        ), per_day AS (
            SELECT day, SUM(delta) AS net FROM deltas GROUP BY 1
        )
        SELECT day,
               CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_active
        FROM per_day ORDER BY day
    """,
    "agg_count_min_sketch": """
        WITH seeds AS (SELECT UNNEST(range(0, 4)) AS s),
        cell AS (
            SELECT s,
                   16 * (strpos('0123456789abcdef',
                         substr(md5(s || ':' || user_id), 1, 1)) - 1)
                   + (strpos('0123456789abcdef',
                      substr(md5(s || ':' || user_id), 2, 1)) - 1) AS bucket
            FROM events CROSS JOIN seeds
        ), sketch AS (
            SELECT s, bucket, COUNT(*) AS c FROM cell GROUP BY 1, 2
        ), top AS (
            SELECT user_id, COUNT(*) AS exact_n FROM events
            GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 20
        ), probe AS (
            SELECT user_id, exact_n, s,
                   16 * (strpos('0123456789abcdef',
                         substr(md5(s || ':' || user_id), 1, 1)) - 1)
                   + (strpos('0123456789abcdef',
                      substr(md5(s || ':' || user_id), 2, 1)) - 1) AS bucket
            FROM top CROSS JOIN seeds
        )
        SELECT user_id, exact_n, MIN(c) AS cms_estimate,
               MIN(c) - exact_n AS overcount
        FROM probe JOIN sketch USING (s, bucket)
        GROUP BY user_id, exact_n
        ORDER BY exact_n DESC, user_id
    """,
    "agg_pareto_threshold": """
        WITH per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY o_custkey
        ), flagged AS (
            SELECT SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                       ROWS UNBOUNDED PRECEDING) * 5
                   >= SUM(rev) OVER () * 4 AS reached
            FROM per_cust
        )
        SELECT COUNT(*) AS n_customers,
               CAST(COUNT(*) - SUM(CASE WHEN reached THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS top_customers_for_80pct,
               ROUND((COUNT(*) - SUM(CASE WHEN reached THEN 1 ELSE 0 END)
                      + 1) / CAST(COUNT(*) AS DOUBLE), 4)
                   AS share_of_customers
        FROM flagged
    """,
    "timeseries_forecast_backtest": """
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                        AS DOUBLE) AS y
            FROM lineitem GROUP BY 1
        ), t AS (
            SELECT day, y, LAG(y, 7) OVER (ORDER BY day) AS yhat
            FROM daily
        )
        SELECT dayofweek(day) AS dow,
               COUNT(*) AS n_days,
               ROUND(AVG(ABS(y - yhat)), 2) AS mae,
               ROUND(AVG(ABS(y - yhat) / y), 4) AS mape,
               ROUND(AVG(y - yhat), 2) AS bias
        FROM t WHERE yhat IS NOT NULL
        GROUP BY 1 ORDER BY dow
    """,
    "agg_hhi_concentration": """
        WITH rev AS (
            SELECT n.n_name AS nation, s.s_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ), tot AS (
            SELECT nation, SUM(rev) AS rev_tot FROM rev GROUP BY 1
        ), share AS (
            SELECT r.nation,
                   CAST(r.rev AS DOUBLE) / CAST(t.rev_tot AS DOUBLE) AS s
            FROM rev r JOIN tot t ON r.nation = t.nation
        )
        SELECT nation, COUNT(*) AS n_suppliers,
               ROUND(SUM(s * s) * 10000, 2) AS hhi,
               CASE WHEN SUM(s * s) * 10000 < 1500 THEN 'competitive'
                    WHEN SUM(s * s) * 10000 < 2500 THEN 'moderate'
                    ELSE 'concentrated' END AS band
        FROM share GROUP BY nation ORDER BY nation
    """,
    "timeseries_stl_anomaly": """
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                        AS DOUBLE) AS revenue
            FROM lineitem GROUP BY 1
        ), trended AS (
            SELECT day, revenue,
                   dayofweek(day) AS dow,
                   AVG(revenue) OVER (ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
            FROM daily
        ), seasonal AS (
            SELECT dow, AVG(revenue - trend) AS seasonal
            FROM trended GROUP BY dow
        ), resid AS (
            SELECT day, revenue,
                   revenue - trend - s.seasonal AS residual
            FROM trended t JOIN seasonal s ON t.dow = s.dow
        ), med AS (
            SELECT QUANTILE_CONT(residual, 0.5) AS med FROM resid
        ), mad AS (
            SELECT QUANTILE_CONT(ABS(residual - med), 0.5) AS mad,
                   ANY_VALUE(med) AS med
            FROM resid CROSS JOIN med
        )
        SELECT day, ROUND(revenue, 2) AS revenue,
               ROUND(residual, 2) AS residual,
               ROUND((residual - med) / (1.4826 * mad), 4) AS robust_z
        FROM resid CROSS JOIN mad
        WHERE ABS((residual - med) / (1.4826 * mad)) > 3
        ORDER BY day
    """,
    "timeseries_seasonal_decompose": """
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                        AS DOUBLE) AS revenue
            FROM lineitem GROUP BY 1
        ), trended AS (
            SELECT day, revenue,
                   dayofweek(day) AS dow,
                   AVG(revenue) OVER (ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
            FROM daily
        ), seasonal AS (
            SELECT dow, AVG(revenue - trend) AS seasonal
            FROM trended GROUP BY dow
        )
        SELECT day,
               ROUND(revenue, 2) AS revenue,
               ROUND(trend, 2) AS trend,
               ROUND(s.seasonal, 2) AS seasonal,
               ROUND(revenue - trend - s.seasonal, 2) AS residual
        FROM trended t JOIN seasonal s ON t.dow = s.dow
        ORDER BY day
    """,
    "agg_benford_deviation": """
        WITH obs AS (
            SELECT CAST(SUBSTRING(REGEXP_REPLACE(
                       CAST(o_totalprice AS VARCHAR), '[^1-9]', '', 'g'),
                       1, 1) AS INT) AS digit,
                   COUNT(*) AS n
            FROM orders WHERE o_totalprice > 0
            GROUP BY 1
        ), tot AS (SELECT SUM(n) AS n_tot FROM obs)
        SELECT digit, n,
               ROUND(CAST(n AS DOUBLE) / n_tot, 4) AS observed_share,
               ROUND(LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit), 4)
                   AS benford_share,
               ROUND(POW(CAST(n AS DOUBLE) / n_tot
                         - LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit), 2)
                     / LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit) * n_tot, 2)
                   AS chi2_term
        FROM obs CROSS JOIN tot
        ORDER BY digit
    """,
    "window_rolling_median": """
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                        AS DOUBLE) AS revenue
            FROM lineitem GROUP BY 1
        )
        SELECT day, revenue,
               ROUND(QUANTILE_CONT(revenue, 0.5) OVER (
                   ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
                   AS median7
        FROM daily ORDER BY day
    """,
    "dq_distribution_drift_psi": """
        WITH counts AS (
            SELECT source,
                   CASE WHEN n_chars < 200 THEN 0
                        WHEN n_chars < 400 THEN 1
                        WHEN n_chars < 600 THEN 2
                        WHEN n_chars < 800 THEN 3
                        ELSE 4 END AS bucket,
                   COUNT(*) AS n
            FROM documents GROUP BY 1, 2
        ), tot AS (
            SELECT source, SUM(n) AS n_tot FROM counts GROUP BY source
        ), shares AS (
            SELECT c.source, c.bucket,
                   CAST(c.n AS DOUBLE) / t.n_tot AS share
            FROM counts c JOIN tot t ON c.source = t.source
        ), expected AS (
            SELECT bucket, share AS e FROM shares WHERE source = 'src0'
        )
        SELECT a.source,
               ROUND(SUM((GREATEST(a.share, 1e-6)
                          - GREATEST(COALESCE(x.e, 0.0), 1e-6))
                     * LN(GREATEST(a.share, 1e-6)
                          / GREATEST(COALESCE(x.e, 0.0), 1e-6))), 4)
                   AS psi
        FROM shares a LEFT JOIN expected x ON a.bucket = x.bucket
        WHERE a.source <> 'src0'
        GROUP BY a.source ORDER BY a.source
    """,
    "dq_null_profile": """
        WITH one AS (
            SELECT COUNT(*) AS total,
                   SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n1,
                   COUNT(DISTINCT o_orderkey) AS d1,
                   SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n2,
                   COUNT(DISTINCT o_custkey) AS d2,
                   SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS n3,
                   COUNT(DISTINCT o_orderstatus) AS d3,
                   SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS n4,
                   COUNT(DISTINCT o_totalprice) AS d4,
                   SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS n5,
                   COUNT(DISTINCT o_orderdate) AS d5,
                   SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                       AS n6,
                   COUNT(DISTINCT o_orderpriority) AS d6
            FROM orders
        ), rows_out AS (
            SELECT 'o_orderkey' AS column_name, total, n1 AS n_nulls,
                   d1 AS n_distinct FROM one
            UNION ALL SELECT 'o_custkey', total, n2, d2 FROM one
            UNION ALL SELECT 'o_orderstatus', total, n3, d3 FROM one
            UNION ALL SELECT 'o_totalprice', total, n4, d4 FROM one
            UNION ALL SELECT 'o_orderdate', total, n5, d5 FROM one
            UNION ALL SELECT 'o_orderpriority', total, n6, d6 FROM one
        )
        SELECT column_name, total AS n_total,
               CAST(n_nulls AS BIGINT) AS n_nulls, n_distinct,
               ROUND(1.0 - CAST(n_nulls AS DOUBLE) / total, 4) AS fill_rate
        FROM rows_out ORDER BY column_name
    """,
    "timeseries_autocorrelation": """
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                        AS DOUBLE) AS x
            FROM lineitem GROUP BY 1
        ), shifted AS (
            SELECT x,
                   LAG(x, 1) OVER (ORDER BY day) AS x_1,
                   LAG(x, 2) OVER (ORDER BY day) AS x_2,
                   LAG(x, 3) OVER (ORDER BY day) AS x_3,
                   LAG(x, 4) OVER (ORDER BY day) AS x_4,
                   LAG(x, 5) OVER (ORDER BY day) AS x_5,
                   LAG(x, 6) OVER (ORDER BY day) AS x_6,
                   LAG(x, 7) OVER (ORDER BY day) AS x_7
            FROM daily
        ), acfs AS (
            SELECT ROUND(CORR(x, x_1), 3) AS a1,
                   ROUND(CORR(x, x_2), 3) AS a2,
                   ROUND(CORR(x, x_3), 3) AS a3,
                   ROUND(CORR(x, x_4), 3) AS a4,
                   ROUND(CORR(x, x_5), 3) AS a5,
                   ROUND(CORR(x, x_6), 3) AS a6,
                   ROUND(CORR(x, x_7), 3) AS a7
            FROM shifted
        )
        SELECT 1 AS lag, a1 AS acf FROM acfs
        UNION ALL SELECT 2, a2 FROM acfs
        UNION ALL SELECT 3, a3 FROM acfs
        UNION ALL SELECT 4, a4 FROM acfs
        UNION ALL SELECT 5, a5 FROM acfs
        UNION ALL SELECT 6, a6 FROM acfs
        UNION ALL SELECT 7, a7 FROM acfs
        ORDER BY lag
    """,
    "agg_market_basket_lift": """
        WITH basket AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), item AS (
            SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY 1
        ), no AS (
            SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket
        ), pair AS (
            SELECT a.l_partkey AS part_x, b.l_partkey AS part_y,
                   COUNT(*) AS support
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 3
        )
        SELECT part_x, part_y, support,
               ix.n_item AS n_x, iy.n_item AS n_y,
               ROUND(CAST(support AS DOUBLE) * n_orders
                     / (ix.n_item * iy.n_item), 4) AS lift
        FROM pair
        JOIN item ix ON pair.part_x = ix.l_partkey
        JOIN item iy ON pair.part_y = iy.l_partkey
        CROSS JOIN no
        ORDER BY CAST(support AS DOUBLE) * n_orders
                 / (ix.n_item * iy.n_item) DESC, part_x, part_y
        LIMIT 20
    """,
    "merge_cdc_apply": """
        WITH latest AS (
            SELECT user_id + 1 AS key, event_type AS op,
                   ROUND(value, 2) AS new_bal
            FROM (
                SELECT user_id, event_type, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
                WHERE event_type IN ('purchase', 'error')
            ) WHERE rn = 1
        )
        SELECT c_custkey, c_name, c_mktsegment,
               ROUND(CASE WHEN op = 'purchase' THEN new_bal
                          ELSE c_acctbal END, 2) AS acctbal,
               COALESCE(op, 'unchanged') AS last_op
        FROM customer c LEFT JOIN latest ON c.c_custkey = latest.key
        WHERE op IS NULL OR op <> 'error'
    """,
    "timeseries_cusum_changepoint": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS n_err,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        ), rated AS (
            SELECT day, CAST(n_err AS DOUBLE) / n AS rate FROM daily
        ), mean AS (SELECT AVG(rate) AS mu FROM rated),
        dev AS (
            SELECT day, rate, rate - mu - 0.005::DOUBLE AS d
            FROM rated CROSS JOIN mean
        ), staged AS (
            SELECT day, rate,
                   SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p
            FROM dev
        )
        SELECT day, ROUND(rate, 4) AS rate,
               ROUND(p - LEAST(0.0::DOUBLE,
                     MIN(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)), 4)
                   AS cusum,
               p - LEAST(0.0::DOUBLE,
                   MIN(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
                   > 0.02::DOUBLE AS alarm
        FROM staged
        ORDER BY day
    """,
    "agg_corr_matrix": """
        WITH one AS (
            SELECT ROUND(CORR(l_quantity, l_extendedprice), 4) AS c0,
                   ROUND(CORR(l_quantity, l_discount), 4) AS c1,
                   ROUND(CORR(l_quantity, l_tax), 4) AS c2,
                   ROUND(CORR(l_extendedprice, l_discount), 4) AS c3,
                   ROUND(CORR(l_extendedprice, l_tax), 4) AS c4,
                   ROUND(CORR(l_discount, l_tax), 4) AS c5
            FROM lineitem
        )
        SELECT 'l_quantity' AS var_x, 'l_extendedprice' AS var_y, c0 AS corr FROM one
        UNION ALL SELECT 'l_quantity', 'l_discount', c1 FROM one
        UNION ALL SELECT 'l_quantity', 'l_tax', c2 FROM one
        UNION ALL SELECT 'l_extendedprice', 'l_discount', c3 FROM one
        UNION ALL SELECT 'l_extendedprice', 'l_tax', c4 FROM one
        UNION ALL SELECT 'l_discount', 'l_tax', c5 FROM one
        ORDER BY var_x, var_y
    """,
    "agg_weighted_median": """
        WITH g AS (
            SELECT l_returnflag, l_quantity,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS w
            FROM lineitem GROUP BY 1, 2
        ), cand AS (
            SELECT l_returnflag, l_quantity,
                   SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                                ROWS UNBOUNDED PRECEDING) * 2
                   >= SUM(w) OVER (PARTITION BY l_returnflag) AS reached
            FROM g
        )
        SELECT l_returnflag, MIN(l_quantity) AS weighted_median_qty
        FROM cand WHERE reached
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "timeseries_mad_anomaly": """
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS day,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                        AS DOUBLE) AS revenue
            FROM lineitem GROUP BY 1
        ), med AS (SELECT QUANTILE_CONT(revenue, 0.5) AS med FROM daily),
        dev AS (
            SELECT day, revenue, med, ABS(revenue - med) AS adev
            FROM daily CROSS JOIN med
        ), mad AS (SELECT QUANTILE_CONT(adev, 0.5) AS mad FROM dev)
        SELECT day, revenue,
               ROUND((revenue - med) / (1.4826 * mad), 2) AS robust_z
        FROM dev CROSS JOIN mad
        WHERE ABS(ROUND((revenue - med) / (1.4826 * mad), 2)) > 3
        ORDER BY day
    """,
    "agg_groupby_multi": """
        WITH d AS (
            SELECT l_returnflag, l_linestatus,
                   l_quantity::DECIMAL(18,4) AS qty,
                   l_extendedprice::DECIMAL(18,4) AS price,
                   l_discount::DECIMAL(8,4) AS disc,
                   l_tax::DECIMAL(8,4) AS tax
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        )
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(qty), 4) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(price), 4) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(price * (1 - disc)), 4) AS DOUBLE)
                   AS sum_disc_price,
               CAST(ROUND(SUM(price * (1 - disc) * (1 + tax)), 4) AS DOUBLE)
                   AS sum_charge,
               ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(1), 4) AS avg_qty,
               ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(1), 4) AS avg_price,
               ROUND(CAST(SUM(disc) AS DOUBLE) / COUNT(1), 4) AS avg_disc,
               COUNT(1) AS count_order
        FROM d
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "agg_count_distinct": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey) AS n_parts
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_rollup": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(1) AS n_rows
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "agg_cube": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(1) AS n_rows
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "agg_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(1) AS n_rows
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "agg_filtered": """
        SELECT event_type,
               ROUND(SUM(CASE WHEN value > 100 THEN value ELSE 0.0 END), 4) AS sum_big,
               COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_even_users,
               COUNT(1) AS n_rows
        FROM events GROUP BY event_type
    """,
    "join_inner_equi": """
        SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    "join_broadcast": """
        SELECT c_custkey, c_name, n_name AS nation_name, r_name AS region_name
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    """,
    "join_left_outer": """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    "join_anti": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "join_theta_range": """
        SELECT c_custkey, c_acctbal, band_name
        FROM customer
        JOIN (VALUES ('low', -99999.0, 2500.0), ('mid', 2500.0, 5000.0),
                     ('high', 5000.0, 7500.0), ('top', 7500.0, 99999.0))
             AS bands(band_name, lo, hi)
          ON c_acctbal >= lo AND c_acctbal < hi
    """,
    "flagship_q3_topk_revenue": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "flagship_q5_multijoin_volume": """
        SELECT n_name,
               CAST(ROUND(SUM(l_extendedprice::DECIMAL(18,4)
                              * (1 - l_discount::DECIMAL(8,4))), 4) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC
    """,
    "join_asof": """
        WITH tagged AS (
            SELECT event_id, user_id, ts, event_type, value
            FROM events WHERE event_type IN ('click', 'purchase')
        ), attributed AS (
            SELECT event_id, user_id, ts, event_type, value,
                   LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS last_click_ts
            FROM tagged
        )
        SELECT event_id, user_id, ts AS purchase_ts, last_click_ts,
               ROUND(value, 4) AS purchase_value
        FROM attributed WHERE event_type = 'purchase'
    """,
    "agg_percentile": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
               ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
               ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "reshape_pivot": """
        SELECT user_id,
               ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS sum_click,
               ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 4) AS sum_view,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4) AS sum_purchase,
               ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 4) AS sum_signup,
               ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 4) AS sum_error
        FROM events GROUP BY user_id
    """,
    "reshape_unpivot": """
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               ROUND(l_quantity, 4) AS val FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               ROUND(l_extendedprice, 4) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
               ROUND(l_discount, 4) FROM lineitem
    """,
    "sql_parameterized": """
        SELECT o_orderpriority, COUNT(1) AS n_orders,
               CAST(ROUND(SUM(o_totalprice::DECIMAL(18,4)), 4) AS DOUBLE)
                   AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND o_totalprice > 1000.0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "join_hint_shuffle_hash": """
        SELECT o_orderpriority, COUNT(1) AS n_lines,
               CAST(ROUND(SUM(l_extendedprice::DECIMAL(18,4)
                              * (1 - l_discount::DECIMAL(8,4))), 4) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "sql_tpch_q6": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
               COUNT(1) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.08
          AND l_quantity < 24
    """,
    "agg_having_subquery": """
        WITH pc AS (
            SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS total_spend,
                   COUNT(1) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, total_spend, n_orders FROM pc
        WHERE total_spend > (SELECT AVG(total_spend) FROM pc)
    """,
    "window_ntile_ranks": """
        SELECT c_custkey, c_mktsegment,
               NTILE(4) OVER w AS balance_quartile,
               ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 4) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey)
    """,
    "agg_salted_skew": """
        SELECT event_type, ROUND(SUM(value), 4) AS total_value,
               COUNT(1) AS n_events
        FROM events GROUP BY event_type
    """,
    "join_full_outer": """
        SELECT c_custkey, c_name, o_custkey, total_spend
        FROM customer
        FULL OUTER JOIN (
            SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS total_spend
            FROM orders GROUP BY o_custkey
        ) po ON c_custkey = po.o_custkey
    """,
    "dedup_keep_latest": """
        SELECT user_id, event_type, event_id, ts AS latest_ts,
               ROUND(value, 4) AS value
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "join_bucketed_colocated": """
        SELECT o_orderpriority,
               CAST(ROUND(SUM(l_extendedprice::DECIMAL(18,4)
                              * (1 - l_discount::DECIMAL(8,4))), 4) AS DOUBLE)
                   AS revenue,
               COUNT(1) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "agg_collect_sorted": """
        SELECT l_returnflag,
               string_agg(DISTINCT l_linestatus, ','
                          ORDER BY l_linestatus) AS statuses,
               COUNT(DISTINCT l_linestatus) AS n_statuses
        FROM lineitem GROUP BY l_returnflag
    """,
    "join_range_bucketized": """
        SELECT a.event_id AS e1_id, b.event_id AS e2_id,
               epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        FROM events a JOIN events b
          ON b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL 2 MINUTE
         AND a.event_id <> b.event_id
    """,
    "join_null_safe": """
        WITH l AS (
            SELECT NULLIF(user_id % 5, 0) AS grp, COUNT(1) AS n_events
            FROM events GROUP BY 1
        ), r AS (
            SELECT NULLIF(user_id % 5, 0) AS grp2,
                   ROUND(SUM(value), 4) AS purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        )
        SELECT grp, n_events, purchase_value
        FROM l JOIN r ON l.grp IS NOT DISTINCT FROM r.grp2
    """,
    "dq_constraint_report": """
        SELECT 'orders.o_custkey_not_null' AS check,
               COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS violations
        FROM orders
        UNION ALL
        SELECT 'orders.o_orderkey_unique',
               COUNT(1) FILTER (cnt > 1)
        FROM (SELECT o_orderkey, COUNT(1) AS cnt FROM orders
              GROUP BY o_orderkey)
        UNION ALL
        SELECT 'orders.o_custkey_fk_customer', COUNT(1)
        FROM orders WHERE NOT EXISTS (
            SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        UNION ALL
        SELECT 'orders.o_totalprice_positive',
               COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END)
        FROM orders
    """,
    "timeseries_forward_fill": """
        SELECT user_id, event_id, event_type,
               LAST_VALUE(CASE WHEN event_type = 'purchase'
                               THEN ROUND(value, 4) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_purchase_value
        FROM events
    """,
    "agg_stats_moments": """
        SELECT l_returnflag,
               ROUND(stddev_samp(l_extendedprice), 2) AS sd_price,
               ROUND(var_samp(l_quantity), 2) AS var_qty,
               ROUND(corr(l_extendedprice, l_quantity), 4) AS corr_price_qty,
               ROUND(covar_samp(l_discount, l_tax), 6) AS covar_disc_tax
        FROM lineitem GROUP BY l_returnflag
    """,
    "agg_min_max_by": """
        SELECT o_custkey,
               min_by(o_orderpriority, o_orderkey) AS first_order_priority,
               max_by(o_orderstatus, o_orderkey) AS last_order_status,
               COUNT(1) AS n_orders
        FROM orders GROUP BY o_custkey
    """,
    "join_asof_forward_tolerance": """
        WITH tagged AS (
            SELECT event_id, user_id, ts, event_type
            FROM events WHERE event_type IN ('click', 'purchase')
        ), n AS (
            SELECT *,
                   FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN ts END
                               IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 1 FOLLOWING
                                      AND UNBOUNDED FOLLOWING) AS nxt
            FROM tagged
        )
        SELECT event_id, user_id, ts AS click_ts,
               CASE WHEN nxt <= ts + INTERVAL 2 HOUR THEN nxt END
                   AS next_purchase_ts,
               COALESCE(nxt <= ts + INTERVAL 2 HOUR, FALSE) AS converted
        FROM n
        WHERE event_type = 'click'
    """,
    "timeseries_ohlc_bars": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
               ARG_MIN(value, ts) AS open,
               ARG_MAX(value, ts) AS close,
               ROUND(MAX(value), 4) AS high,
               ROUND(MIN(value), 4) AS low,
               COUNT(1) AS n_events,
               ROUND(SUM(value), 4) AS volume
        FROM events
        GROUP BY 1, 2
        ORDER BY day, event_type
    """,
    "agg_grouping_id_report": """
        SELECT l_returnflag, l_linestatus, COUNT(1) AS n_rows,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
               CASE GROUPING(l_returnflag, l_linestatus)
                    WHEN 0 THEN 'cell'
                    WHEN 1 THEN 'flag_total'
                    WHEN 2 THEN 'status_total'
                    ELSE 'grand_total' END AS level
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
    """,
    "window_cumulative_share": """
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   event_type, SUM(value) AS total
            FROM events GROUP BY 1, 2
        )
        SELECT day, event_type, ROUND(total, 4) AS total,
               ROUND(SUM(total) OVER (PARTITION BY day
                                      ORDER BY total DESC, event_type
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)
                     / SUM(total) OVER (PARTITION BY day), 4) AS cum_share
        FROM daily
        ORDER BY day, total DESC, event_type
    """,
    "agg_multi_col_distinct": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               COUNT(DISTINCT (user_id, event_type)) AS n_user_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT event_type) AS n_types
        FROM events
        GROUP BY day
        ORDER BY day
    """,
    "window_moving_minmax": """
        SELECT event_id, event_type, value,
               ROUND(MIN(value) OVER w, 4) AS chan_lo,
               ROUND(MAX(value) OVER w, 4) AS chan_hi,
               value >= MAX(value) OVER w AS at_top
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "agg_equidepth_histogram": """
        WITH b AS (
            SELECT value,
                   NTILE(8) OVER (ORDER BY value, event_id) AS bucket
            FROM events
        )
        SELECT bucket, COUNT(1) AS n_rows,
               ROUND(MIN(value), 4) AS lo,
               ROUND(MAX(value), 4) AS hi
        FROM b
        GROUP BY bucket
        ORDER BY bucket
    """,
    "dq_freshness_report": """
        SELECT event_type,
               MAX(ts) AS latest_ts,
               COUNT(1) AS n_events,
               ROUND((epoch_us(TIMESTAMP '2024-01-08 00:00:00')
                      - epoch_us(MAX(ts))) / 3.6e9, 4) AS lag_hours,
               ((epoch_us(TIMESTAMP '2024-01-08 00:00:00')
                 - epoch_us(MAX(ts))) / 3.6e9) <= 25.0 AS is_fresh
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "dq_anomaly_zscore": """
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   event_type, COUNT(1) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT day, event_type, n,
               ROUND((n - AVG(n) OVER (PARTITION BY event_type))
                     / STDDEV_SAMP(n) OVER (PARTITION BY event_type), 4)
                   AS zscore,
               ABS((n - AVG(n) OVER (PARTITION BY event_type))
                   / STDDEV_SAMP(n) OVER (PARTITION BY event_type)) > 2.0
                   AS is_anomaly
        FROM daily
        ORDER BY day, event_type
    """,
    "timeseries_gap_fill": """
        WITH b AS (
            SELECT date_trunc('hour', CAST(MIN(ts) AS TIMESTAMP)) AS lo,
                   date_trunc('hour', CAST(MAX(ts) AS TIMESTAMP)) AS hi
            FROM events
        ), spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM b
        ), hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                   COUNT(1) AS n, ROUND(SUM(value), 4) AS total
            FROM events GROUP BY 1
        )
        SELECT s.hour, COALESCE(h.n, 0) AS n,
               COALESCE(h.total, 0.0) AS total
        FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
    """,
    "agg_value_histogram": """
        SELECT CAST(LEAST(GREATEST(FLOOR(value / 100.0), 0), 9) AS INT)
                   AS bucket,
               COUNT(1) AS n,
               ROUND(MIN(value), 4) AS lo_seen,
               ROUND(MAX(value), 4) AS hi_seen
        FROM events GROUP BY 1
    """,
    "join_range_gap_histogram": f"""
        WITH b AS (
            SELECT event_id AS e2_id, epoch_us(ts) AS t2,
                   epoch_us(ts) // 120000000 AS bkt2
            FROM events
        ), bsz AS (
            SELECT bkt2 AS bkt, COUNT(1) AS bkt_n FROM b GROUP BY 1
        ), a0 AS (
            SELECT event_id AS e1_id, epoch_us(ts) AS t1,
                   epoch_us(ts) // 120000000 + d.off AS bkt
            FROM events, (VALUES (0), (1)) d(off)
        ), admit AS (
            SELECT a0.*, bkt_n,
                   ROW_NUMBER() OVER (
                       PARTITION BY a0.bkt
                       ORDER BY md5(CAST(e1_id AS VARCHAR) || '|' ||
                                    CAST(a0.bkt AS VARCHAR)), e1_id) AS rk
            FROM a0 JOIN bsz ON a0.bkt = bsz.bkt
        ), flagged AS (
            SELECT *, rk <= GREATEST(1, FLOOR({_RANGE_PAIR_BUDGET} / bkt_n)) AS kept
            FROM admit
        ), mass AS (
            SELECT SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS dropped_left_rows,
                   SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS kept_left_rows
            FROM flagged
        ), pairs AS (
            SELECT a.e1_id, b.t2 - a.t1 AS gap_us
            FROM (SELECT * FROM flagged WHERE kept) a JOIN b
              ON a.bkt = b.bkt2
             AND b.t2 >= a.t1 AND b.t2 <= a.t1 + 120000000
             AND a.e1_id <> b.e2_id
        )
        SELECT gap_us // 10000000 AS gap_10s_bin,
               COUNT(1) AS n_pairs,
               CAST(COUNT(DISTINCT e1_id) AS BIGINT) AS n_left_events,
               CAST(dropped_left_rows AS BIGINT) AS dropped_left_rows,
               CAST(kept_left_rows AS BIGINT) AS kept_left_rows
        FROM pairs, mass
        GROUP BY 1, 4, 5
        ORDER BY gap_10s_bin
    """,
    "timeseries_ewma": """
        WITH s AS (
            SELECT user_id,
                   list(value ORDER BY ts, event_id) AS vals
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(len(vals) AS INT) AS n_events,
               ROUND(vals[-1], 4) AS last_value,
               ROUND(CAST(list_reduce(vals,
                          (acc, x) -> 0.3 * x + 0.7 * acc) AS DOUBLE), 4)
                   AS ewma_value
        FROM s
        ORDER BY user_id
    """,
    "timeseries_resample_interpolate": """
        WITH p AS (
            SELECT * FROM events WHERE event_type = 'purchase'
        ), hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                   (SUM(CAST(ROUND(value * 10000) AS BIGINT)) // COUNT(1))
                       / 10000.0 AS v
            FROM p GROUP BY 1
        ), bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo,
                   date_trunc('hour', MAX(ts)) AS hi
            FROM p
        ), spine AS (
            SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ), g AS (
            SELECT spine.hour, hourly.v
            FROM spine LEFT JOIN hourly ON spine.hour = hourly.hour
        ), w AS (
            SELECT hour, v,
                   last_value(v IGNORE NULLS) OVER
                       (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS prev_v,
                   first_value(v IGNORE NULLS) OVER
                       (ORDER BY hour ROWS BETWEEN CURRENT ROW
                                              AND UNBOUNDED FOLLOWING) AS next_v,
                   last_value(CASE WHEN v IS NOT NULL THEN hour END
                              IGNORE NULLS) OVER
                       (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS prev_t,
                   first_value(CASE WHEN v IS NOT NULL THEN hour END
                               IGNORE NULLS) OVER
                       (ORDER BY hour ROWS BETWEEN CURRENT ROW
                                              AND UNBOUNDED FOLLOWING) AS next_t
            FROM g
        )
        SELECT hour, v IS NOT NULL AS observed,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN prev_v IS NULL THEN next_v
                    WHEN next_v IS NULL THEN prev_v
                    ELSE (CAST(ROUND(prev_v * 10000) AS BIGINT)
                          * CAST(epoch(next_t) - epoch(hour) AS BIGINT)
                          + CAST(ROUND(next_v * 10000) AS BIGINT)
                          * CAST(epoch(hour) - epoch(prev_t) AS BIGINT))
                         // CAST(epoch(next_t) - epoch(prev_t) AS BIGINT)
                         / 10000.0
               END AS value
        FROM w
        ORDER BY hour
    """,
    "agg_bitmap_distinct": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_distinct_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "dq_referential_integrity": """
        SELECT 'orders->customer' AS relationship,
               (SELECT COUNT(1) FROM orders) AS n_child_rows,
               (SELECT COUNT(1) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey))
                   AS n_orphans
        UNION ALL
        SELECT 'lineitem->orders',
               (SELECT COUNT(1) FROM lineitem),
               (SELECT COUNT(1) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT COUNT(1) FROM customer),
               (SELECT COUNT(1) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE n.n_nationkey = c.c_nationkey))
        ORDER BY relationship
    """,
    "agg_linear_regression": """
        SELECT l_returnflag,
               ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
                   AS intercept,
               ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
               regr_count(l_extendedprice, l_quantity) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "join_asof_nearest": """
        WITH tagged AS (
            SELECT event_id, user_id, ts, event_type
            FROM events WHERE event_type IN ('click', 'purchase')
        ), t AS (
            SELECT *,
                   last_value(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_click,
                   first_value(CASE WHEN event_type = 'click' THEN ts END
                               IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       AS next_click
            FROM tagged
        ), p AS (
            SELECT event_id, user_id, ts, prev_click, next_click,
                   date_diff('microsecond', prev_click, ts) AS gap_prev,
                   date_diff('microsecond', ts, next_click) AS gap_next,
                   (prev_click IS NOT NULL AND (next_click IS NULL
                    OR date_diff('microsecond', prev_click, ts)
                       <= date_diff('microsecond', ts, next_click)))
                       AS use_prev
            FROM t WHERE event_type = 'purchase'
        )
        SELECT event_id, user_id, ts AS purchase_ts,
               CASE WHEN g <= 3600000000 THEN nc END AS nearest_click_ts,
               CASE WHEN g <= 3600000000 THEN g END AS gap_us,
               CASE WHEN g <= 3600000000
                    THEN (CASE WHEN use_prev THEN 'before' ELSE 'after' END)
               END AS direction
        FROM (SELECT *,
                     CASE WHEN use_prev THEN prev_click ELSE next_click END AS nc,
                     CASE WHEN use_prev THEN gap_prev ELSE gap_next END AS g
              FROM p)
        ORDER BY event_id
    """,
    "merge_upsert": """
        WITH base AS (
            SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS c_acctbal
            FROM customer
        ), updates AS (
            SELECT c_custkey, c_name,
                   ROUND(c_acctbal + 1000.0, 4) AS c_acctbal
            FROM base WHERE c_custkey % 10 = 0
        ), inserts AS (
            SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer)
                       AS c_custkey,
                   'NEW ' || c_name AS c_name, 0.0 AS c_acctbal
            FROM updates
        ), merged AS (
            SELECT *, 0 AS pri FROM updates
            UNION ALL SELECT *, 0 FROM inserts
            UNION ALL SELECT *, 1 FROM base
        )
        SELECT c_custkey, c_name, c_acctbal FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                         ORDER BY pri) AS rn
            FROM merged
        ) WHERE rn = 1
    """,
    "window_row_number_topn": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders) t
        WHERE rn <= 3
    """,
    "window_rank_dense": """
        SELECT s_suppkey, s_nationkey, s_acctbal,
               RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS bal_rank,
               DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS bal_dense_rank
        FROM supplier
    """,
    "window_running_sum": """
        SELECT user_id, event_id, ts,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS running_value
        FROM events
    """,
    "window_lag_lead": """
        SELECT user_id, event_id,
               LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
               LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        FROM events
    """,
    "sort_limit_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "setop_union_allow_missing": """
        SELECT entity_key, ROUND(acctbal, 4) AS acctbal, segment, kind
        FROM (
            SELECT c_custkey AS entity_key, c_acctbal AS acctbal,
                   c_mktsegment AS segment, 'customer' AS kind
            FROM customer
            UNION ALL
            SELECT s_suppkey, s_acctbal, NULL, 'supplier' FROM supplier
        )
    """,
    "setop_union_all": """
        SELECT c_custkey AS entity_key, c_name AS entity_name, 'customer' AS kind
        FROM customer
        UNION ALL
        SELECT s_suppkey AS entity_key, s_name AS entity_name, 'supplier' AS kind
        FROM supplier
    """,
    "setop_intersect": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "setop_except": """
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "dedup_exact": """
        SELECT MIN(doc_id) AS doc_id, text, COUNT(1) AS dup_count
        FROM documents GROUP BY text
    """,
    "window_first_last_nth": """
        SELECT event_id, user_id,
               FIRST_VALUE(event_type) OVER w AS first_type,
               LAST_VALUE(event_type) OVER w AS last_type,
               NTH_VALUE(event_type, 2) OVER w AS second_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    """,
    "setop_intersect_all": """
        SELECT user_id, COUNT(1) AS multiplicity FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT ALL
            SELECT user_id FROM events WHERE event_type = 'view')
        GROUP BY user_id ORDER BY user_id
    """,
    "setop_except_all": """
        SELECT user_id, COUNT(1) AS n_unmatched FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT ALL
            SELECT user_id FROM events WHERE event_type = 'purchase')
        GROUP BY user_id ORDER BY user_id
    """,
    "agg_bool_bit": """
        SELECT event_type,
               BOOL_AND(value > 0) AS all_positive,
               BOOL_OR(value > 400) AS any_big,
               BIT_OR(user_id) AS userbits_or,
               BIT_AND(user_id) AS userbits_and
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "agg_string_agg_ordered": """
        SELECT c_nationkey,
               STRING_AGG(c_name, '|' ORDER BY c_name) AS names,
               COUNT(1) AS n
        FROM customer WHERE c_custkey <= 30
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "merge_scd2_history": """
        SELECT o_custkey AS cust_id,
               o_orderkey AS version_id,
               o_totalprice AS attr_value,
               o_orderdate AS valid_from,
               LEAD(o_orderdate) OVER w AS valid_to,
               LEAD(o_orderdate) OVER w IS NULL AS is_current
        FROM orders
        WHERE o_custkey <= 200
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY cust_id, valid_from, version_id
    """,
    "agg_count_if_median": """
        SELECT l_returnflag,
               COUNT(1) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               MEDIAN(l_quantity) AS median_qty,
               UPPER(l_returnflag) AS flag_upper
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
}
