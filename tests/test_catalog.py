"""The catalog's one table read path: every table scan passes a stored
schema (so a warm ``load_table`` starts no Spark job), the stored schema
is exactly what a bare parquet read infers, and the SQL-form operators
register, through ``catalog.sql``, only the tables their query names."""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from build_pipeline_with_apache_beam_spark.catalog import (
    TABLES,
    load_table,
    raw_table,
    read_schema,
)
from build_pipeline_with_apache_beam_spark.operators.relational import (
    agg_grouping_sets,
    sql_parameterized,
)
from build_pipeline_with_apache_beam_spark.operators.subqueries import (
    subquery_in,
)
from build_pipeline_with_apache_beam_spark.scratch import derived_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "build_pipeline_with_apache_beam_spark")
TESTDATA = "/root/testdata"
SF_DIRS = {
    "sf0.001": os.path.join(TESTDATA, "sf0.001"),
    "sf0.01": os.path.join(TESTDATA, "sf0.01"),
    "sf0.1": os.path.join(TESTDATA, "sf0.1"),
    "perfbench": os.path.join(REPO, "perfbench", "data", "sf0.01"),
}


def test_warm_load_table_starts_no_job(spark, sf_dir, calling_thread_jobs):
    for name in TABLES:
        load_table(spark, sf_dir, name)  # commit the stored schema
        assert calling_thread_jobs(
            lambda: load_table(spark, sf_dir, name)) == 0, name


@pytest.mark.parametrize("tag", sorted(SF_DIRS))
def test_stored_table_schema_equals_a_bare_read(spark, tag):
    sf = SF_DIRS[tag]
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    for name in TABLES:
        inferred = spark.read.parquet(
            os.path.join(sf, f"{name}.parquet")).schema
        assert raw_table(spark, sf, name).schema == inferred, name
        assert read_schema(
            derived_path(sf, f"table_schema-{name}")) == inferred, name


def test_nanos_events_drop_reads_back_coerced(spark, tmp_path):
    """An older drop's TIMESTAMP(NANOS) ``ts`` is stored as the long the
    files hold (``nanosAsLong``) and still coerced by ``load_table``."""
    sf = str(tmp_path)
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_000_000_000,
                        1_700_000_001_500_000_000], pa.timestamp("ns")),
    }), os.path.join(sf, "events.parquet"))
    raw_table(spark, sf, "events")  # commit the stored schema
    ev = load_table(spark, sf, "events")
    assert ev.schema["ts"].dataType == TimestampType()
    micros = [r[0] for r in ev.selectExpr("unix_micros(ts)").collect()]
    assert micros == [1_700_000_000_000_000, 1_700_000_001_500_000]


@pytest.mark.parametrize("op, names", [
    (subquery_in, {"orders", "customer"}),
    (agg_grouping_sets, {"lineitem"}),
    (sql_parameterized, {"orders"}),
])
def test_sql_op_registers_only_the_tables_it_names(spark, sf_dir, op, names):
    op(spark, sf_dir)  # warm
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    op(spark, sf_dir).collect()
    assert {t.name for t in spark.catalog.listTables()
            if t.isTemporary} == names


def _view_registrations(pkg: str) -> list[str]:
    """``path:line`` of every ``register_views`` call, and every
    ``createOrReplaceTempView`` of a table name, outside ``catalog.py``."""
    found = []
    for root, dirs, files in os.walk(pkg):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(
                    pkg, "catalog.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                called = (fn.attr if isinstance(fn, ast.Attribute)
                          else getattr(fn, "id", None))
                table_view = called == "createOrReplaceTempView" and any(
                    isinstance(a, ast.Constant) and a.value in TABLES
                    for a in node.args)
                if called == "register_views" or table_view:
                    found.append(
                        f"{os.path.relpath(path, pkg)}:{node.lineno}")
    return found


def test_views_of_tables_are_registered_by_the_catalog_only():
    """SQL-form operators query tables through ``catalog.sql``: no other
    module registers a table view itself."""
    assert _view_registrations(PKG) == []
