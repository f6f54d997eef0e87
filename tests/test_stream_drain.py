"""The one stream reader and drain (``streaming/drain.py``): every
committed stream-source dir stores the schema a bare parquet read infers,
a warm file-source stream op starts no job on the calling thread before
its sink, a drain that outlives its deadline raises with no query left
running, and no other package module starts or waits on a stream query."""

from __future__ import annotations

import ast
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from build_pipeline_with_apache_beam_spark.catalog import (
    read_schema,
    write_schema,
)
from build_pipeline_with_apache_beam_spark.scratch import derived_path
from build_pipeline_with_apache_beam_spark.streaming.drain import (
    drain_each,
    read_source,
)
from build_pipeline_with_apache_beam_spark.streaming.stateful import (
    q_stream_upsert_foreach_batch,
)
from build_pipeline_with_apache_beam_spark.streaming.windows import (
    _stage_events_source,
    q_stream_cep_sessions,
    q_stream_foreach_batch_sink,
    q_stream_session_window_watermark,
    q_stream_static_enrich_join,
    q_stream_stream_interval_join,
    q_stream_window_append_watermark,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "build_pipeline_with_apache_beam_spark")
PERFBENCH_DATA = os.path.join(REPO, "perfbench", "data", "sf0.01")

# op -> the committed stream-source dirs it reads
SOURCES = {
    q_stream_foreach_batch_sink: ("events_src",),
    q_stream_window_append_watermark: ("wmwin_src",),
    q_stream_stream_interval_join: ("ssj_click", "ssj_purch"),
    q_stream_session_window_watermark: ("sesswin_src",),
    q_stream_cep_sessions: ("cep_src",),
    q_stream_upsert_foreach_batch: ("upsert_src",),
}


def test_every_stored_source_schema_equals_a_bare_read(spark, sf_dir):
    for op, names in SOURCES.items():
        op(spark, sf_dir)
        for name in names:
            path = derived_path(sf_dir, name)
            assert read_schema(path) == spark.read.parquet(path).schema, name


@pytest.mark.parametrize("layout", ["sf_dir", "perfbench", "nanos_drop"])
def test_events_source_schema_is_the_raw_table_schema(spark, sf_dir,
                                                      tmp_path, layout):
    """The events replay stores ``ts`` as its files hold it: a nanos long
    in older drops (``nanosAsLong``), not the catalog's coerced view."""
    src_sf = {"sf_dir": sf_dir, "perfbench": PERFBENCH_DATA}.get(layout)
    if layout == "perfbench" and not os.path.isdir(src_sf):
        pytest.skip("perfbench data not present")
    if layout == "nanos_drop":
        src_sf = str(tmp_path / "drop")
        os.makedirs(src_sf)
        pq.write_table(pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000,
                            1_700_000_001_000_000_000], pa.timestamp("ns")),
            "value": pa.array([0.5, 1.5], pa.float64()),
        }), os.path.join(src_sf, "events.parquet"))
    src_dir = str(tmp_path / "src")
    _stage_events_source(src_sf, src_dir)
    stored = read_schema(src_dir)
    assert stored == spark.read.parquet(src_dir).schema
    if layout == "nanos_drop":
        assert stored["ts"].dataType == LongType()


def test_warm_file_stream_ops_start_only_their_sink_job(spark, sf_dir,
                                                        calling_thread_jobs):
    """Warm, the source dirs are committed with their schemas, so the
    calling thread runs no schema inference and no table read: its one
    job is the collect of the sink read back.  (The stream's own batches
    run on the query's thread.)"""
    for op in (q_stream_foreach_batch_sink, q_stream_window_append_watermark):
        op(spark, sf_dir)  # commit the sources
        assert calling_thread_jobs(
            lambda: op(spark, sf_dir).collect()) == 1, op.__name__


def test_drain_past_its_deadline_raises_and_stops_the_query(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.range(3)
    df.write.parquet(src)
    write_schema(src, df.schema)

    def slow_batch(batch_df, batch_id: int) -> None:
        time.sleep(3)

    with pytest.raises(TimeoutError, match="half-drained"):
        drain_each(read_source(spark, src), slow_batch,
                   str(tmp_path / "ckpt"), timeout_sec=0.5)
    assert spark.streams.active == []


def test_warm_static_enrich_join_runs_no_schema_job(spark, sf_dir,
                                                   calling_thread_jobs):
    """The static user→segment dimension is a ``load_table`` of events,
    which reads the stored table schema: a warm call starts 3 jobs on the
    calling thread, none of them a schema inference (an inferring read
    of events adds a fourth)."""
    def run():
        q_stream_static_enrich_join(spark, sf_dir).write.format(
            "noop").mode("overwrite").save()

    run()  # commit the source and the table schema
    assert calling_thread_jobs(run) == 3


# the stream-query lifecycle calls only streaming/drain.py may make
_LIFECYCLE = {"writeStream", "processAllAvailable", "awaitTermination"}


def _stream_lifecycle_calls(pkg: str) -> list[str]:
    """``path:line attr`` of every ``_LIFECYCLE`` attribute read under
    ``pkg`` outside ``streaming/drain.py``."""
    found = []
    for root, dirs, names in os.walk(pkg):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in names:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if not name.endswith(".py") or rel == os.path.join(
                    "streaming", "drain.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            found += [f"{rel}:{node.lineno} {node.attr}"
                      for node in ast.walk(tree)
                      if isinstance(node, ast.Attribute)
                      and node.attr in _LIFECYCLE]
    return found


def test_only_the_drain_starts_a_stream_query():
    """Every stream op runs through ``drain_each``: no other package
    module calls ``.writeStream`` or waits on a query itself."""
    assert _stream_lifecycle_calls(PKG) == []
