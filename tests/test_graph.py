"""Structural invariants for the graph operators.

Oracle parity (values vs DuckDB) is covered by the parametrized sweep in
test_oracle_parity.py; these tests pin the graph-theoretic identities that
a correct implementation must satisfy regardless of data, so a future
refactor that still happens to match the oracle on one fixture can't
silently break the math.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.operators import dedup, graph


def test_degree_histogram_mass_equals_edge_count(spark, sf_dir):
    """sum(degree * n_parts) over the histogram == |distinct edges|."""
    hist = graph.graph_degree_distribution(spark, sf_dir)
    mass = hist.agg(
        F.sum(F.col("degree") * F.col("n_parts")).alias("m")).first()["m"]
    edges = graph._part_supplier_edges(spark, sf_dir).count()
    assert mass == edges


def test_triangle_census_identities(spark, sf_dir):
    row = graph.graph_triangle_count(spark, sf_dir).first()
    # each triangle contributes 3 wedges; wedges can exist without closure
    assert row["n_wedges"] >= 3 * row["n_triangles"]
    # clustering coefficient is a ratio in [0, 1]
    assert 0.0 <= row["clustering"] <= 1.0
    # an edge needs two endpoints; node count bounds edge count
    n = row["n_nodes"]
    assert row["n_edges"] <= n * (n - 1) // 2


def test_pagerank_mass_is_conserved_up_to_dangling_leak(spark, sf_dir):
    rows = graph.graph_pagerank_trade(spark, sf_dir).collect()
    assert all(r["pagerank"] > 0 for r in rows)
    total = sum(r["pagerank"] for r in rows)
    # with no dangling leak total == 1; leak only ever removes mass,
    # and the teleport term alone guarantees at least 0.15
    assert 0.15 <= total <= 1.0 + 1e-6 * len(rows)


def test_iterative_ops_leave_the_cache_empty(spark, sf_dir):
    """Sinking an iterative graph op, or the dedup grouping that runs the
    same components loop, leaves the session's CacheManager empty: inputs
    several jobs read are localCheckpoint leaves, never ``persist()``-ed,
    so a returned frame pins no cached blocks and needs no unpersist."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for op in (graph.graph_khop_reachability,
               graph.graph_shortest_paths_weighted,
               graph.graph_component_size_dist,
               graph.graph_label_propagation,
               graph.graph_triangle_count,
               dedup.dedup_connected_groups):
        op(spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert cache.isEmpty(), op.__name__
