"""The staging helper's contract (``catalog._staged``): a builder is called
only when a stage is written, a hit builds and runs nothing, and the
memoized re-read carries the schema parquet inference would return.  Also the
footer-only table statistics (``catalog.table_meta``) the spread rule reads."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import _staged, table_meta
from build_pipeline_with_apache_beam_spark.operators.dedup import (
    dedup_fuzzy_minhash,
)
from build_pipeline_with_apache_beam_spark.scratch import namespace


@pytest.fixture()
def sf(tmp_path):
    """An empty sf dir; its scratch namespace is removed afterwards."""
    yield str(tmp_path)
    shutil.rmtree(namespace(str(tmp_path)), ignore_errors=True)


def _once(frame):
    """A builder that returns ``frame()`` once and raises on a second call."""
    calls = []

    def build():
        calls.append(1)
        if len(calls) > 1:
            raise AssertionError("builder called on a reuse hit")
        return frame()

    return build


def _jobs_in_group(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_staged_rejects_a_dataframe(spark, sf):
    """The builder contract fails at the call, not in a later verdict."""
    with pytest.raises(TypeError, match="callable"):
        _staged(spark, spark.range(3), sf, "not_a_builder")


def test_reuse_hit_never_calls_builder(spark, sf):
    build = _once(lambda: spark.range(5))
    first = _staged(spark, build, sf, "reuse_probe")
    again = _staged(spark, build, sf, "reuse_probe")
    assert sorted(r.id for r in again.collect()) == list(range(5))
    assert again.schema == first.schema
    # a changed input re-keys the stage, so the builder runs again
    open(os.path.join(sf, "t.parquet"), "w").close()
    with pytest.raises(AssertionError, match="reuse hit"):
        _staged(spark, build, sf, "reuse_probe")


def test_reused_reread_schema_equals_inferred(spark, sf):
    """The memoized schema is the inferred one (every column nullable),
    not the written frame's (``id`` is declared non-null), both on the
    call that writes the stage and on a hit."""
    def frame():
        return spark.range(4).select(
            "id", F.array(F.col("id"), F.lit(None).cast("long")).alias("xs"),
            F.when(F.col("id") > 1, F.lit("big")).alias("tag"))

    inferred = _staged(spark, frame, sf, "schema_probe")
    hit = _staged(spark, frame, sf, "schema_probe")
    bare = spark.read.parquet(os.path.dirname(hit.inputFiles()[0]))
    assert hit.schema == inferred.schema == bare.schema
    assert hit.schema != frame().schema
    assert all(f.nullable for f in hit.schema.fields)
    assert sorted(hit.collect()) == sorted(inferred.collect())


def test_fresh_stage_runs_only_its_write_jobs(spark, sf, tmp_path_factory):
    """A stage the call writes is re-read with the written frame's schema:
    the call starts the jobs of the write alone, no parquet
    schema-inference job on top."""
    def frame():
        return spark.range(6).select("id", (F.col("id") * 2).alias("y"))

    sc = spark.sparkContext

    def jobs(fn) -> int:
        group = f"staged-fresh-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "fresh stage")
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(_jobs_in_group(spark, group))

    plain = str(tmp_path_factory.mktemp("plain") / "out")
    write_jobs = jobs(lambda: frame().write.parquet(plain))
    assert write_jobs
    assert jobs(lambda: _staged(spark, frame, sf, "fresh_probe")) \
        == write_jobs


def test_warm_fuzzy_minhash_runs_no_job_before_its_sink(spark, sf_dir):
    """A second ``dedup_fuzzy_minhash`` call builds its plan from reused
    stages alone: no Spark job starts until the sink, and the
    ``mh_eval_sets`` stage under the reused exact truth is not rewritten."""
    dedup_fuzzy_minhash(spark, sf_dir)
    stage_files = glob.glob(os.path.join(
        namespace(sf_dir), "mh_eval_sets-*", "*"))
    assert stage_files, "cold call staged no mh_eval_sets files"
    mtimes = {f: os.stat(f).st_mtime_ns for f in stage_files}

    sc = spark.sparkContext
    group = f"staged-warm-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm dedup_fuzzy_minhash")
    try:
        df = dedup_fuzzy_minhash(spark, sf_dir)
        assert _jobs_in_group(spark, group) == []
        df.write.format("noop").mode("overwrite").save()
        assert _jobs_in_group(spark, group), "sink ran no job in the group"
    finally:
        sc._jsc.clearJobGroup()
    assert {f: os.stat(f).st_mtime_ns for f in stage_files} == mtimes


def test_table_meta_walks_a_hive_partitioned_table(spark, tmp_path):
    """A ``dt=``-partitioned table directory: ``table_meta`` walks the
    partition dirs, so its row count is the sum of every part file's
    footer and every file counts as a split — a (0, 0) here would make
    ``sized_spread`` squeeze the scan into one task."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    (spark.range(1000).withColumn("dt", F.col("id") % 3)
     .repartition(2).write.partitionBy("dt").parquet(path))
    parts = glob.glob(os.path.join(path, "dt=*", "*.parquet"))
    assert len({os.path.dirname(p) for p in parts}) == 3
    footer_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    assert table_meta(str(tmp_path), "t") == (footer_rows, len(parts))
    assert footer_rows == 1000
