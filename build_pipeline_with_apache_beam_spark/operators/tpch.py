"""Composed flagship workloads: TPC-H query shapes on the driver star schema.

The reference has no joins or aggregations at all (SURVEY.md §2A) — these
composed workloads are the proof that the engine's relational core composes
into full analytic queries: multi-join + conditional agg + subquery + top-k
in one Catalyst plan.  Q1/Q3/Q5/Q6 shapes live in ``relational``; this module
adds the remaining canonical shapes, adapted to the available columns
(no partsupp table; p_type has flat values instead of three-word strings).

Scale strategy, uniform across the suite:
- dimension sides (customer, nation, part at fact-relative scale) are
  broadcast — no shuffle of the fact table for dim joins;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key once, and AQE
  handles skew/coalescing at runtime;
- every aggregate is hash-based with map-side partial aggregation, so the
  shuffle after the join carries group cardinality, not row cardinality;
- top-k is TakeOrderedAndProject (per-partition heaps), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark import catalog
from build_pipeline_with_apache_beam_spark.catalog import load_table


def flagship_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: order-priority checking — correlated EXISTS against lineitem.

    Counts orders in one quarter having at least one line shipped after the
    order date.  Catalyst rewrites the EXISTS to a left-semi join on
    l_orderkey with the extra non-equi condition attached, so each order is
    counted once no matter how many qualifying lines it has.
    """
    return catalog.sql(spark, sf_dir, """
        SELECT o_orderpriority, COUNT(1) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          -- MERGE hint: the semi join's build side is corpus-sized
          -- lineitem; the post-filter size estimate undershoots the
          -- broadcast threshold (measured 267 MiB broadcast at sf1 by
          -- tools/broadcast_audit.py) — sort-merge on l_orderkey scales
          AND EXISTS (SELECT /*+ MERGE(lineitem) */ 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


def flagship_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue lost to returned items.

    customer ⋈ orders(quarter) ⋈ lineitem(returnflag='R') ⋈ nation.
    The orders filter lands before the fact join (Catalyst pushes it), the
    two dim joins broadcast, and the final top-20 is TakeOrderedAndProject.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        # the quarter-filtered orders side still scales with the corpus:
        # pinned (r9 sf3 audit measured a 32 MiB growing AQE broadcast)
        .join(orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
            .hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        # customer scales with the corpus — shuffle_hash, never broadcast
        # (r9 sf3 audit); nation is the genuine fixed dim
        .join(cust.hint("shuffle_hash"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def flagship_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: customer order-count distribution (two-level aggregation).

    LEFT OUTER join so zero-order customers land in the c_count=0 bucket;
    the join condition carries the non-join predicate (priority filter).
    Second aggregation is tiny (distinct order counts), so the plan cost is
    one fact shuffle + one kilobyte-scale regroup.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # shuffle_hash: the priority-filtered orders side scales with the
    # corpus (round-9 sf3 probe: AQE broadcast 131 MiB of it)
    per_cust = (
        cust.join(
            orders.where(F.col("o_orderpriority") != "1-URGENT")
            .hint("shuffle_hash"),
            F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def flagship_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: promo revenue share — conditional agg over a broadcast dim join.

    One output row; the entire reduction is algebraic (two sums), so the
    post-join shuffle carries one row per partition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                              .otherwise(F.lit(0.0))) / F.sum(rev), 4)
            .alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def flagship_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: large-volume orders — HAVING subquery into a 3-way join.

    The IN subquery (orders whose line quantities sum past the threshold)
    becomes a join against an aggregate whose key set is distinct, so the
    inner join is row-equivalent to the semi join.  Every join here is
    shuffle_hash-PINNED (round 9): the qualifying-order set, the filtered
    customer, and orders all scale with the corpus, and the sf3 probe
    measured AQE still broadcasting the 37 MiB aggregate — small today,
    linear in the corpus, dead at 100 TB.

    Round-12 rewrite: the textbook Q18 re-joins raw lineitem and
    re-aggregates SUM(l_quantity) over five group columns — but the
    per-order sum ALREADY exists in the HAVING aggregate, and
    l_orderkey is the orders primary key, so carrying ``total_qty``
    out of ``big`` is value-identical (the aggregate-reuse/join-
    elimination rewrite Catalyst doesn't do for you).  Measured at sf1:
    one lineitem scan+shuffle instead of two (no ReusedExchange existed
    — the two branches' subplans differ, so Spark couldn't dedupe them)
    and no 5-column re-aggregation; 5.6 → ~2.8 s.
    """
    return catalog.sql(spark, sf_dir, """
        SELECT /*+ SHUFFLE_HASH(orders, customer, big) */
               c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               big.total_qty
        FROM (SELECT l_orderkey, ROUND(SUM(l_quantity), 4) AS total_qty
              FROM lineitem
              GROUP BY l_orderkey HAVING SUM(l_quantity) > 180) big
        JOIN orders   ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """)


def flagship_q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: discounted revenue under an OR-of-ANDs predicate.

    The disjunction spans both join sides; Catalyst extracts the common
    l_partkey = p_partkey conjunct as the join key and keeps the residual
    OR as a post-join filter, instead of falling back to a nested-loop join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return joined.where(branch1 | branch2 | branch3).agg(
        # decimal sum: single-group corpus-scale revenue flips the 4th
        # decimal in float at sf10 magnitudes (r13 sweep family fix)
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                      * (1 - F.col("l_discount").cast("decimal(8,4)"))), 4)
        .cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def flagship_q22_anti_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: wealthy customers with no orders — anti join + scalar subquery.

    The scalar subquery (global positive-balance average) broadcasts as a
    one-row build side; the NOT EXISTS (no urgent orders) is a left-anti
    join on c_custkey against the filtered orders.  Grouped by nation key
    in lieu of TPC-H's phone prefix.
    """
    return catalog.sql(spark, sf_dir, """
        SELECT c_nationkey,
               COUNT(1) AS numcust,
               ROUND(SUM(c_acctbal), 4) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT /*+ SHUFFLE_HASH(o) */ 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """)


QUERIES = {
    "flagship_q4_priority_exists": flagship_q4_priority_exists,
    "flagship_q10_returned_items": flagship_q10_returned_items,
    "flagship_q13_custdist": flagship_q13_custdist,
    "flagship_q14_promo_share": flagship_q14_promo_share,
    "flagship_q18_large_orders": flagship_q18_large_orders,
    "flagship_q19_disjunctive_pred": flagship_q19_disjunctive_pred,
    "flagship_q22_anti_scalar": flagship_q22_anti_scalar,
}

ORACLE = {
    "flagship_q4_priority_exists": """
        SELECT o_orderpriority, COUNT(1) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "flagship_q10_returned_items": """
        SELECT c_custkey, c_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "flagship_q13_custdist": """
        SELECT c_count, COUNT(1) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "flagship_q14_promo_share": """
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4)
                   AS promo_revenue_pct,
               COUNT(1) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    "flagship_q18_large_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               ROUND(SUM(l_quantity), 4) AS total_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING SUM(l_quantity) > 180)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "flagship_q19_disjunctive_pred": """
        SELECT CAST(ROUND(SUM(l_extendedprice::DECIMAL(18,4)
                              * (1 - l_discount::DECIMAL(8,4))), 4) AS DOUBLE)
                   AS revenue,
               COUNT(1) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
    """,
    "flagship_q22_anti_scalar": """
        SELECT c_nationkey,
               COUNT(1) AS numcust,
               ROUND(SUM(c_acctbal), 4) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
}
