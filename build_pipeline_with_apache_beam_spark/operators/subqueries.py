"""Subquery surface: IN / NOT IN / EXISTS / correlated scalar / LATERAL.

The reference's only subquery is SQLite-side: the correlated scalar
``UPDATE ... WHERE id = (SELECT MAX(ROWID) ...)`` in its mark-done step
(/root/reference/normalization.py:45-51) and the ``ORDER BY id DESC LIMIT 1``
watermark read (/root/reference/retrieval.py:43).  The engine generalizes
that into the full ANSI subquery surface, expressed through ``spark.sql`` so
Catalyst's decorrelation rewrites do the planning:

- IN / EXISTS            → RewritePredicateSubquery → left-semi join
- NOT IN (nullable key)  → null-aware anti join (NAAJ broadcast hash join)
- correlated scalar      → RewriteCorrelatedScalarSubquery → aggregate + join
- LATERAL (ORDER+LIMIT)  → DecorrelateInnerQuery → window-style per-key top-k

Scale notes: every rewrite lands on a join whose build side here is the
150-row-per-SF customer dim — broadcastable at any scale factor, so none of
these shuffle the fact table for the predicate itself.  The null-aware NOT IN
is the one to watch at 100 TB: if the build side exceeds the broadcast
threshold Spark falls back to BroadcastNestedLoopJoin; keep NOT IN subqueries
dimension-sized (or rewrite to NOT EXISTS, which has a shuffle-able plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from build_pipeline_with_apache_beam_spark import catalog


def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders from one market segment via an IN subquery (→ semi join)."""
    return catalog.sql(spark, sf_dir, """
        SELECT o_orderstatus,
               COUNT(1) AS n_orders,
               -- decimal sum: ~2.5e11/group at sf10, float flips 4th dec
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4)
                    AS DOUBLE) AS total_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


def subquery_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a nullable outer key — ANSI three-valued-logic semantics.

    ``NULLIF(o_custkey, 7)`` injects NULLs on the outer side: those rows
    compare UNKNOWN and must be dropped, which a plain anti join would keep.
    Spark plans this as a null-aware anti join (single-key NAAJ).
    """
    return catalog.sql(spark, sf_dir, """
        SELECT o_orderstatus, COUNT(1) AS n_orders
        FROM orders
        WHERE NULLIF(o_custkey, 7) NOT IN
              (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


def subquery_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their nation's average balance (correlated scalar).

    Catalyst decorrelates to one aggregate over customer grouped by nation +
    a join back — the per-outer-row subquery never executes N times.
    """
    return catalog.sql(spark, sf_dir, """
        SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS acctbal
        FROM customer c1
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        ORDER BY c_custkey
    """)


def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with at least one high-quantity shipment (correlated EXISTS).

    Rewrites to a left-semi join of supplier against the filtered lineitem —
    the EXISTS probe never materializes duplicates, so the output cardinality
    is bounded by the supplier dim regardless of fact-table size.
    """
    return catalog.sql(spark, sf_dir, """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (SELECT /*+ SHUFFLE_HASH(l) */ 1 FROM lineitem l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
        ORDER BY s_suppkey
    """)


def subquery_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 customers by balance via a LATERAL subquery.

    The correlated ORDER BY + LIMIT inside LATERAL is the SQL form of a
    per-key top-k; Catalyst decorrelates it to a ranked window rather than
    re-executing the inner query per outer row.  Deterministic tie-break on
    c_custkey so the oracle comparison is exact.
    """
    return catalog.sql(spark, sf_dir, """
        SELECT n_name, t.c_name, ROUND(t.c_acctbal, 4) AS acctbal
        FROM nation
        JOIN LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t ON TRUE
        ORDER BY n_name, acctbal DESC, t.c_name
    """)


def subquery_exists_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS in the SELECT list (not the WHERE clause) — compiles to an
    ExistenceJoin: a semi-join variant that emits a boolean column instead
    of filtering, so the outer cardinality is preserved.  The scalable form
    of "flag rows that have a match" — no count subquery, no left join +
    dedup."""
    return catalog.sql(spark, sf_dir, """
        SELECT o_orderkey,
               EXISTS (SELECT /*+ SHUFFLE_HASH(lineitem) */ 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
                   AS has_big_line
        FROM orders
        ORDER BY o_orderkey
    """)


def subquery_all_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`> ALL (subquery)` emulated with a scalar MAX subquery — Spark SQL
    has no ALL/ANY quantified comparisons, but x > ALL(S) ≡ x > MAX(S)
    (on a non-empty, non-null S), which Catalyst turns into one scalar
    aggregate broadcast into the filter.  The DuckDB oracle runs the
    genuine `> ALL` syntax, so the rewrite is verified against real
    quantified-comparison semantics, not against itself.

    Finds orders strictly larger than EVERY order of the low-key customer cohort — the
    "beats the whole cohort" filter."""
    return catalog.sql(spark, sf_dir, """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders
                              WHERE o_custkey < 20)
        ORDER BY o_orderkey
    """)


def sql_cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One WITH clause referenced TWICE (per-nation revenue joined against
    its own average) — exercises Catalyst's CTE handling: the reused
    subtree either inlines into both consumers (and the scan runs twice,
    cheap here) or materializes once under ReusedExchange; either way the
    semantics must match DuckDB's single-evaluation CTE exactly."""
    return catalog.sql(spark, sf_dir, """
        WITH nation_rev AS (
            SELECT s.s_nationkey AS nationkey,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS rev
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey
        )
        SELECT n.n_name AS nation,
               CAST(ROUND(r.rev, 4) AS DOUBLE) AS revenue,
               CAST(ROUND(r.rev - (SELECT AVG(rev) FROM nation_rev), 4)
                    AS DOUBLE) AS vs_avg
        FROM nation_rev r JOIN nation n ON r.nationkey = n.n_nationkey
        WHERE r.rev > (SELECT AVG(rev) FROM nation_rev)
        ORDER BY nation
    """)


QUERIES = {
    "subquery_all_comparison": subquery_all_comparison,
    "sql_cte_reuse": sql_cte_reuse,
    "subquery_in": subquery_in,
    "subquery_not_in_null_aware": subquery_not_in_null_aware,
    "subquery_scalar_correlated": subquery_scalar_correlated,
    "subquery_exists_correlated": subquery_exists_correlated,
    "subquery_lateral_topk": subquery_lateral_topk,
    "subquery_exists_projection": subquery_exists_projection,
}

ORACLE = {
    "sql_cte_reuse": """
        WITH nation_rev AS (
            SELECT s.s_nationkey AS nationkey,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS rev
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey
        )
        SELECT n.n_name AS nation,
               CAST(ROUND(r.rev, 4) AS DOUBLE) AS revenue,
               CAST(ROUND(r.rev - (SELECT AVG(rev) FROM nation_rev), 4)
                    AS DOUBLE) AS vs_avg
        FROM nation_rev r JOIN nation n ON r.nationkey = n.n_nationkey
        WHERE r.rev > (SELECT AVG(rev) FROM nation_rev)
        ORDER BY nation
    """,
    "subquery_all_comparison": """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_totalprice > ALL (SELECT o_totalprice FROM orders
                                  WHERE o_custkey < 20)
        ORDER BY o_orderkey
    """,
    "subquery_in": """
        SELECT o_orderstatus,
               COUNT(1) AS n_orders,
               CAST(ROUND(SUM(o_totalprice::DECIMAL(18,4)), 4) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "subquery_not_in_null_aware": """
        SELECT o_orderstatus, COUNT(1) AS n_orders
        FROM orders
        WHERE NULLIF(o_custkey, 7) NOT IN
              (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "subquery_scalar_correlated": """
        SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS acctbal
        FROM customer c1
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        ORDER BY c_custkey
    """,
    "subquery_exists_correlated": """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
        ORDER BY s_suppkey
    """,
    "subquery_lateral_topk": """
        SELECT n_name, t.c_name, ROUND(t.c_acctbal, 4) AS acctbal
        FROM nation
        JOIN LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t ON TRUE
        ORDER BY n_name, acctbal DESC, t.c_name
    """,
    "subquery_exists_projection": """
        SELECT o_orderkey,
               EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
                   AS has_big_line
        FROM orders
        ORDER BY o_orderkey
    """,
}
