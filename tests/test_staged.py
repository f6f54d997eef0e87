"""The staging helper's contract (``catalog._staged``): a builder is called
only when a stage is written, a hit builds and runs nothing, the memoized
re-read carries the schema parquet inference would return, and a small
stage reads as one partition.  Also the footer-only table statistics
(``catalog.table_meta``) the spread rule reads, and the staged IVF index
(``similarity._ivf_index``): its rows equal a numpy recomputation, and a
warm IVF op reads it without starting a job before its sink or caching
anything."""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import (
    _ONE_TASK_ROWS,
    _min_partition_bytes,
    _staged,
    load_table,
    table_meta,
)
from build_pipeline_with_apache_beam_spark.operators.dedup import (
    dedup_fuzzy_minhash,
)
from build_pipeline_with_apache_beam_spark.operators.similarity import (
    _TRAIN_SAMPLE,
    _codebook,
    _ivf_codebook_from_matrix,
    _ivf_index,
    _with_unit_vec,
    corpus_semdedup,
    sim_ann_ivf_topk,
)
from build_pipeline_with_apache_beam_spark.scratch import (
    namespace,
    parquet_files,
)


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


def _in_group(spark, fn):
    """``fn()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    group = f"staged-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, _jobs_in_group(spark, group)


def _stage_dir(sf: str, name: str) -> str:
    (path,) = glob.glob(os.path.join(namespace(sf), f"{name}-*"))
    return path


def _stage_bytes(sf: str, name: str) -> int:
    return sum(os.path.getsize(f)
               for f in parquet_files(_stage_dir(sf, name)))


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_stage_reads_as_one_partition(spark, sf):
    """A stage whose files total at most the session's
    ``coalescePartitions.minPartitionSize`` and whose n rows have
    n² <= ``_ONE_TASK_ROWS`` is read through ``Coalesce 1``: one
    partition, although the write left four files."""
    def frame():
        return spark.range(0, 400, numPartitions=4)

    df = _staged(spark, frame, sf, "small_layout_probe")
    assert len(df.inputFiles()) == 4
    assert _stage_bytes(sf, "small_layout_probe") \
        <= _min_partition_bytes(spark)
    assert 400 * 400 <= _ONE_TASK_ROWS
    assert df.rdd.getNumPartitions() == 1
    assert "Coalesce 1" in _executed(df)
    assert sorted(r.id for r in df.collect()) == list(range(400))


def test_stage_with_a_large_self_join_keeps_its_scan_splits(spark, sf):
    """A stage far under the byte bound whose n rows could fan out to
    n² > ``_ONE_TASK_ROWS`` rows in a self-join keeps its scan splits, so
    a fan-out consumer is not run in one task."""
    def frame():
        return spark.range(0, 5000, numPartitions=4)

    df = _staged(spark, frame, sf, "fanout_layout_probe")
    assert _stage_bytes(sf, "fanout_layout_probe") \
        <= _min_partition_bytes(spark)
    assert 5000 * 5000 > _ONE_TASK_ROWS
    bare = spark.read.parquet(_stage_dir(sf, "fanout_layout_probe"))
    assert df.rdd.getNumPartitions() == bare.rdd.getNumPartitions() > 1
    assert "Coalesce" not in _executed(df)


def test_large_stage_keeps_its_scan_splits(spark, sf):
    """A stage over the bound is a plain scan: as many partitions as a
    bare parquet read of the same files, and no coalesce."""
    def frame():
        return (spark.range(0, 200_000, numPartitions=4)
                .select("id", F.rand(7).alias("x"), F.randn(8).alias("y")))

    df = _staged(spark, frame, sf, "large_layout_probe")
    assert _stage_bytes(sf, "large_layout_probe") \
        > _min_partition_bytes(spark)
    bare = spark.read.parquet(_stage_dir(sf, "large_layout_probe"))
    assert df.rdd.getNumPartitions() == bare.rdd.getNumPartitions() > 1
    assert "Coalesce" not in _executed(df)


def test_layout_decision_starts_no_job(spark, sf):
    """Re-reading a committed stage, small or large, and deciding its
    layout starts no Spark job."""
    def small():
        return spark.range(10)

    def large():
        return spark.range(0, 200_000, numPartitions=2).select(
            "id", F.rand(3).alias("x"))

    for name, frame in (("small_decide", small), ("large_decide", large)):
        _staged(spark, frame, sf, name)
        _, jobs = _in_group(spark, lambda: _staged(spark, frame, sf, name))
        assert jobs == [], name


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


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on its decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def test_ivf_index_matches_a_numpy_recomputation(spark, sf_dir):
    """Every row of the staged IVF index carries the unit vector, cell,
    probe cells and centroid similarity recomputed here from the collected
    unit vectors and the codebook trained on them (dots folded left to
    right, as the engine's ``aggregate`` does); that codebook is the one
    ``_codebook`` trains straight off the parquet for the index builder
    and the DuckDB oracle."""
    emb = _with_unit_vec(load_table(spark, sf_dir, "embeddings"),
                         sf_dir).select("vec_id", "vec")
    pdf = emb.toPandas().sort_values("vec_id")
    cents = _ivf_codebook_from_matrix(np.stack(
        pdf[pdf["vec_id"] < _TRAIN_SAMPLE]["vec"].values))
    assert _codebook(sf_dir) == cents
    idx = _ivf_index(spark, sf_dir).toPandas().sort_values("vec_id")
    assert idx["vec_id"].tolist() == pdf["vec_id"].tolist()
    for vec, row in zip(pdf["vec"], idx.itertuples()):
        assert list(row.vec) == list(vec)
        dots = np.array([sum((x * y for x, y in zip(vec, c)), 0.0)
                         for c in cents])
        cell = int(np.argmax(dots))
        masked = np.where(np.arange(len(dots)) == cell, -9.0, dots)
        assert row.cell == cell
        assert list(row.probes) == [cell, int(np.argmax(masked))]
        assert row.cent_sim == _round6(float(dots.max()))


@pytest.mark.parametrize("op", [sim_ann_ivf_topk, corpus_semdedup])
def test_warm_codebook_op_runs_no_job_before_its_sink(spark, sf_dir, op):
    """A warm IVF op reads the staged index: it starts no Spark job before
    its sink (no schema read, no codebook training or ``toPandas``), and a
    warm ``sim_ann_ivf_topk`` runs at most 2 jobs in all."""
    op(spark, sf_dir).write.format("noop").mode("overwrite").save()
    df, build_jobs = _in_group(spark, lambda: op(spark, sf_dir))
    assert build_jobs == []
    _, sink_jobs = _in_group(
        spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert sink_jobs, "sink ran no job in the group"
    if op is sim_ann_ivf_topk:
        assert len(sink_jobs) <= 2


def test_ivf_ops_leave_the_cache_empty(spark, sf_dir):
    """Sinking an IVF op leaves the session's CacheManager empty: the ops
    read the staged index and ``persist()`` nothing, so a returned frame
    pins no cached blocks and needs no unpersist."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for op in (sim_ann_ivf_topk, corpus_semdedup):
        op(spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert cache.isEmpty(), op.__name__
