"""Docstore connector: manifest pruning, the read contract, parity.

The oracle-parity suite already diffs `scan_docstore_pushdown` against
DuckDB; these tests pin the connector's mechanics — that a query window
prunes whole files via the manifest (metadata-only, no Spark job), that a
malformed line fails the read, that non-finite values round-trip through
both the batch and the stream reader, and the append and stream-offset
protocols.
"""

from __future__ import annotations

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.sources.docstore import (
    MANIFEST,
    append_batch,
    build_collection,
    open_docstore,
    scan_docstore_pushdown,
)
from build_pipeline_with_apache_beam_spark.streaming.drain import drain_each


def test_manifest_prunes_files_from_pushed_ts_range(spark, sf_dir):
    """A 3-day window reads at most the 4 day files it can touch, and the
    pruning is a driver-side manifest walk: building the read runs no
    Spark job."""
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        day_files = {os.path.join(root, m["file"]) for m in json.load(fh)}
    assert len(day_files) > 7  # one file per event-day; the window is 3 days

    lo = 1704672000000000  # 2024-01-08 00:00:00 UTC in micros
    hi = 1704931199999999  # 2024-01-10 23:59:59.999999 UTC
    sc = spark.sparkContext
    group = "docstore-window-prune"
    sc.setJobGroup(group, "window pruning")
    try:
        read = open_docstore(spark, sf_dir, window=(lo, hi))
        files = {f.removeprefix("file://") for f in read.inputFiles()}
    finally:
        sc.setJobGroup("", "")
    assert 0 < len(files) <= 4, f"pruning failed: {len(files)} files"
    assert files <= day_files
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 0, f"window pruning ran {n_jobs} Spark jobs"


@pytest.mark.parametrize("tail_cap", [0, 1])
def test_stream_restart_consumes_only_new_files(spark, sf_dir, tmp_path,
                                                tail_cap):
    """Kill-and-restart semantics: a second run against the same checkpoint
    must pick up exactly the files appended since the committed offset —
    no reprocessing, no gaps (the at-least-once contract the reference
    hand-rolls with SQLite watermarks, retrieval.py:30-60).  With a cap
    the restarted reader has only the checkpoint to resume from."""
    import shutil

    src = build_collection(spark, sf_dir)
    # private copy so we can append without touching the shared collection
    root = str(tmp_path / "coll")
    shutil.copytree(src, root)
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    head, tail = manifest[:-2], manifest[-2:]
    held_back = [os.path.join(root, m["file"]) for m in tail]
    parked = [p + ".parked" for p in held_back]
    for p, q in zip(held_back, parked):
        os.rename(p, q)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(head, fh)

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once():
        stream = open_docstore(spark, sf_dir, stream=True, path=root,
                               tail_cap=str(tail_cap))

        def fb(df, bid):
            df.write.mode("append").parquet(sink)

        drain_each(stream, fb, ckpt, timeout_sec=120)

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first > 0

    # "new data arrives": restore the held-back files + full manifest
    for p, q in zip(held_back, parked):
        os.rename(q, p)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    run_once()

    total = spark.read.parquet(sink).count()
    n_events = sum(1 for m in manifest
                   for _ in open(os.path.join(root, m["file"])))
    # every event exactly once across both runs: restart added only the tail
    assert n_first == sum(m["n"] for m in head)
    assert total == n_events, (n_first, total, n_events)
    assert total > n_first


def test_docstore_scan_matches_native_parquet_read(spark, sf_dir):
    """End-to-end through the registered source: same rows as filtering the
    parquet events table directly."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table

    got = scan_docstore_pushdown(spark, sf_dir)
    lo, hi = "2024-01-08 00:00:00", "2024-01-14 23:59:59.999999"
    want = (load_table(spark, sf_dir, "events")
            .where(F.col("ts").between(lo, hi)
                   & (F.col("event_type") == "purchase")))
    assert got.count() == want.count()
    assert got.where(F.col("event_type") != "purchase").count() == 0


def test_concurrent_appends_serialize_without_loss(spark, sf_dir, tmp_path):
    """Two threads appending batches concurrently: the manifest lock
    serializes the commits, so BOTH batches land (no lost manifest entry)
    and the collection re-reads with every appended row."""
    import shutil
    import threading

    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.catalog import load_table

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "appcoll")
    shutil.copytree(src, root)

    ev = load_table(spark, sf_dir, "events")
    base_n = open_docstore(spark, sf_dir, path=root).count()

    def one_batch(tag, offset):
        late = (ev.orderBy("event_id").limit(50)
                .select((F.col("event_id") + offset).alias("event_id"),
                        F.unix_micros("ts").alias("ts_micros"),
                        "user_id", "event_type", "value"))
        append_batch(spark, root, late, name=f"batch-{tag}")

    ta = threading.Thread(target=one_batch, args=("a", 20_000_000))
    tb = threading.Thread(target=one_batch, args=("b", 30_000_000))
    ta.start(); tb.start(); ta.join(120); tb.join(120)

    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    names = {m["file"] for m in manifest}
    assert {"batch-a.jsonl", "batch-b.jsonl"} <= names, "manifest entry lost"
    total = open_docstore(spark, sf_dir, path=root).count()
    assert total == base_n + 100


def test_append_batch_refuses_duplicate_name_and_skips_empty(spark, sf_dir,
                                                             tmp_path):
    """A committed batch file can never be truncated: re-using a batch
    name raises before any data is touched.  An empty batch publishes
    nothing (no manifest entry, no Infinity stats)."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        append_batch,
        build_collection,
    )

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "dupcoll")
    shutil.copytree(src, root)
    ev = load_table(spark, sf_dir, "events")
    batch = (ev.limit(5)
             .select((F.col("event_id") + 50_000_000).alias("event_id"),
                     F.unix_micros("ts").alias("ts_micros"),
                     "user_id", "event_type", "value"))

    entry = append_batch(spark, root, batch, name="b1")
    assert entry["file"] == "b1.jsonl"
    before = open(os.path.join(root, "b1.jsonl")).read()
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="b1")
    assert open(os.path.join(root, "b1.jsonl")).read() == before

    empty = batch.where("event_id < 0")
    assert append_batch(spark, root, empty, name="b-empty") is None
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    assert all(m["file"] != "b-empty.jsonl" for m in manifest)


def test_stream_read_failure_retries_without_loss(spark, sf_dir, tmp_path):
    """R9 redelivery on the SOURCE side: a partition read that dies after
    emitting some rows is retried by Spark (local[N, 2]), the micro-batch
    re-reads the file from offset zero, and the sink ends up with every
    row exactly as committed — no loss, no duplicate batch commit."""
    import shutil

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "failcoll")
    shutil.copytree(src, root)
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    # poison the first file's FIRST read attempt
    victim = os.path.join(root, manifest[0]["file"])
    open(victim + ".fail_once", "w").close()

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    stream = open_docstore(spark, sf_dir, stream=True, path=root)

    def fb(df, bid):
        df.write.mode("append").parquet(sink)

    q = (stream.writeStream.foreachBatch(fb)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    n_expected = sum(1 for m in manifest
                     for _ in open(os.path.join(root, m["file"])))
    got = spark.read.parquet(sink)
    assert got.count() == n_expected
    assert got.select("event_id").distinct().count() == n_expected


def test_filter_that_empties_every_file_yields_zero_rows(spark, sf_dir):
    """Edge of the Arrow path: a pushed row-level filter that matches
    nothing (but prunes no files — value has no manifest stats) must
    produce an empty scan, not a crash on empty batch iterators."""
    root = build_collection(spark, sf_dir)
    got = (open_docstore(spark, sf_dir, path=root)
           .where(F.col("value") > 1e12))
    assert got.count() == 0


def test_window_before_first_day_counts_zero(spark, sf_dir):
    """A window before the collection's first day prunes every file; the
    read of zero files must yield no rows instead of failing."""
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        first = min(m["min_ts"] for m in json.load(fh))
    got = open_docstore(spark, sf_dir, window=(0, first - 1))
    assert got.inputFiles() == []
    assert got.count() == 0


def test_multipart_append_one_entry_no_driver_bytes(spark, sf_dir,
                                                    tmp_path):
    """Round-12: a batch written across several partitions publishes its
    staged part files DIRECTLY (hard links, no driver concatenation) as
    ONE manifest entry — streaming offsets count entries, so the batch
    still commits atomically and re-reads losslessly."""
    import shutil

    from build_pipeline_with_apache_beam_spark.catalog import load_table

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "mp_coll")
    shutil.copytree(src, root)
    base_n = open_docstore(spark, sf_dir, path=root).count()

    ev = load_table(spark, sf_dir, "events")
    late = (ev.limit(120)
            .select((F.col("event_id") + 70_000_000).alias("event_id"),
                    F.unix_micros("ts").alias("ts_micros"),
                    "user_id", "event_type", "value")
            .repartition(4))  # force a multi-part staged write
    entry = append_batch(spark, root, late, name="mp-batch")
    assert "files" in entry and len(entry["files"]) > 1, entry
    assert all(n.startswith("mp-batch-p") for n in entry["files"])

    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    assert manifest[-1] == entry  # ONE entry for the whole batch
    total = open_docstore(spark, sf_dir, path=root).count()
    assert total == base_n + 120
    # duplicate batch name still refused, any partitioning
    import pytest as _pytest
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, late, name="mp-batch")


def test_count_documents_manifest_only_runs_zero_jobs(spark, sf_dir):
    """Round-12 verdict #7: a count over a window that fully covers
    every overlapping file is answered from manifest row-count stats —
    ZERO Spark jobs, zero file bytes; a mid-day window opens ONLY the two
    boundary files.  (Why not a pushed-down COUNT(*): see
    count_documents' docstring.)"""
    from datetime import datetime, timezone

    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        build_collection,
        count_documents,
    )

    root = build_collection(spark, sf_dir)

    def micros(s):
        return int(datetime.fromisoformat(s).replace(
            tzinfo=timezone.utc).timestamp() * 1_000_000)

    from build_pipeline_with_apache_beam_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")

    # leg 1: whole-collection window → pure metadata, no Spark job
    sc = spark.sparkContext
    group = "count-manifest-only"
    sc.setJobGroup(group, "manifest-only count")
    stats: dict = {}
    try:
        n = count_documents(spark, root, micros("2020-01-01 00:00:00"),
                            micros("2030-01-01 00:00:00"), stats=stats)
    finally:
        sc.setJobGroup("", "")
    assert n == events.count()
    assert stats["n_opened"] == 0
    assert stats["n_manifest_only"] == stats["n_entries"]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs == 0, f"manifest-only count ran {n_jobs} Spark jobs"

    # leg 2: mid-day window → exactly the two boundary day-files opened,
    # count still exact
    lo, hi = micros("2024-01-08 12:00:00"), micros("2024-01-14 11:59:59")
    stats2: dict = {}
    n2 = count_documents(spark, root, lo, hi, stats=stats2)
    want = events.where(
        (F.unix_micros("ts") >= lo) & (F.unix_micros("ts") <= hi)).count()
    assert n2 == want
    assert stats2["n_opened"] == 2, stats2
    assert stats2["n_manifest_only"] >= 1
    assert stats2["n_pruned"] >= 1


def test_append_batch_reclaims_stale_claim_from_dead_producer(
        spark, sf_dir, tmp_path):
    """A crash between sentinel creation and manifest publish must not
    block the batch name forever: an at-least-once producer retrying the
    same name (its natural idempotence key) reclaims the dead claim and
    commits.  A claim held by a LIVE process stays refused, as does a
    name whose batch actually committed."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        append_batch,
        build_collection,
    )

    src = build_collection(spark, sf_dir)
    root = str(tmp_path / "stalecoll")
    shutil.copytree(src, root)
    ev = load_table(spark, sf_dir, "events")
    batch = (ev.limit(5)
             .select((F.col("event_id") + 60_000_000).alias("event_id"),
                     F.unix_micros("ts").alias("ts_micros"),
                     "user_id", "event_type", "value"))

    # 1. stale claim: dead pid in the sentinel, no manifest entry, plus an
    #    orphan data file the crash left linked but uncommitted
    dead_pid = 2 ** 22 + 12345  # beyond pid_max on this host — never alive
    with open(os.path.join(root, ".bz.claimed"), "w") as fh:
        fh.write(str(dead_pid))
    with open(os.path.join(root, "bz.jsonl"), "w") as fh:
        fh.write('{"orphan": true}\n')
    entry = append_batch(spark, root, batch, name="bz")
    assert entry is not None and entry["n"] == 5
    # the orphan bytes were replaced by the retried batch's real data
    assert '"orphan"' not in open(os.path.join(root, "bz.jsonl")).read()
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    assert sum(1 for m in manifest if m.get("file") == "bz.jsonl") == 1

    # 2. live claim: sentinel owned by THIS process — refused
    with open(os.path.join(root, ".blive.claimed"), "w") as fh:
        fh.write(str(os.getpid()))
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="blive")

    # 3. committed batch whose producer has since died: entry exists in
    #    the manifest, so the name stays taken even with a dead-pid claim
    with open(os.path.join(root, ".bz.claimed"), "w") as fh:
        fh.write(str(dead_pid))
    before = open(os.path.join(root, "bz.jsonl")).read()
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="bz")
    assert open(os.path.join(root, "bz.jsonl")).read() == before

    # 4. legacy zero-byte sentinel (no pid recorded): never reclaimed
    open(os.path.join(root, ".blegacy.claimed"), "w").close()
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="blegacy")

    # 5. claim recorded by ANOTHER host (r15, ADVICE r14): os.kill liveness
    #    is host-local, so even a "dead-looking" pid is refused when the
    #    sentinel's hostname differs — a live appender on a second machine
    #    sharing the collection root must never have its claim stolen
    with open(os.path.join(root, ".bremote.claimed"), "w") as fh:
        fh.write(f"some-other-host:{dead_pid}")
    with _pytest.raises(ValueError, match="must be unique"):
        append_batch(spark, root, batch, name="bremote")


def _collection_with(spark, root: str, batch_sql: str) -> None:
    """An empty collection at ``root`` with one appended batch."""
    os.makedirs(root)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        fh.write("[]")
    append_batch(spark, root, spark.sql(batch_sql).coalesce(1), name="b")


def test_malformed_line_fails_the_read(spark, sf_dir, tmp_path):
    """A collection file with one unparseable line makes the read raise
    instead of returning a count: a lenient parse would turn the line into
    an all-null row that an unwindowed count includes."""
    root = str(tmp_path / "badcoll")
    os.makedirs(root)
    with open(os.path.join(root, "bad.jsonl"), "w") as fh:
        fh.write('{"event_id": 1, "ts_micros": 1, "user_id": 1, '
                 '"event_type": "click", "value": 1.0}\n'
                 '{"event_id": 2, "ts_mi\n')
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump([{"file": "bad.jsonl", "min_ts": 1, "max_ts": 2,
                    "n": 2}], fh)
    with pytest.raises(Exception):
        open_docstore(spark, sf_dir, path=root).count()


_NON_FINITE_SQL = """
    SELECT * FROM VALUES
        (1L, 1L, 1L, 'click', CAST('NaN' AS DOUBLE)),
        (2L, 2L, 1L, 'click', CAST('Infinity' AS DOUBLE)),
        (3L, 3L, 1L, 'click', CAST('-Infinity' AS DOUBLE)),
        (4L, 4L, 1L, 'click', CAST('-0.0' AS DOUBLE)),
        (5L, 5L, 1L, 'click', 0.25D)
    AS t(event_id, ts_micros, user_id, event_type, value)"""
_NON_FINITE_BITS = [struct.pack(">d", v) for v in
                    (float("nan"), float("inf"), float("-inf"), -0.0, 0.25)]


def _bits(rows) -> list[bytes]:
    return [struct.pack(">d", r["value"])
            for r in sorted(rows, key=lambda r: r["event_id"])]


def test_non_finite_values_round_trip_bit_exactly(spark, sf_dir, tmp_path):
    """append_batch writes NaN/±Inf as Spark's quoted tokens; a batch read
    of the collection returns every value bit for bit, -0.0 included."""
    root = str(tmp_path / "nfcoll")
    _collection_with(spark, root, _NON_FINITE_SQL)
    rows = open_docstore(spark, sf_dir, path=root).collect()
    assert _bits(rows) == _NON_FINITE_BITS


def test_stream_tail_reads_non_finite_values(spark, sf_dir, tmp_path):
    """The stream reader parses the same file the batch read does: the
    quoted non-finite tokens fall back to a line-wise parse and arrive
    bit for bit."""
    root = str(tmp_path / "nfstream")
    _collection_with(spark, root, _NON_FINITE_SQL)
    got: list = []
    q = (open_docstore(spark, sf_dir, stream=True, path=root)
         .writeStream
         .foreachBatch(lambda df, _bid: got.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    assert _bits(got) == _NON_FINITE_BITS


def test_stream_source_registers_once_per_session(spark, sf_dir,
                                                  monkeypatch):
    """Two stream opens in one session register the Python data source
    once; re-registering logs a 'replaced' warning on every open."""
    calls: list = []
    registration = type(spark.dataSource)
    register = registration.register

    def counting(self, source):
        calls.append(source)
        return register(self, source)

    monkeypatch.setattr(registration, "register", counting)
    for _ in range(2):
        assert open_docstore(spark, sf_dir, stream=True).isStreaming
    assert len(calls) <= 1  # none when an earlier open registered it


def test_stream_opens_on_a_second_session(spark, sf_dir, tmp_path):
    """A stream opened on ``spark.newSession()`` after one opened on
    ``spark`` reads every row.  Each session has its own data-source
    manager, so the second open registers the source with its own session
    instead of failing with DATA_SOURCE_ALREADY_EXISTS."""
    root = build_collection(spark, sf_dir)
    assert open_docstore(spark, sf_dir, stream=True, path=root).isStreaming
    other = spark.newSession()
    got: list = []
    q = (open_docstore(other, sf_dir, stream=True, path=root)
         .writeStream
         .foreachBatch(lambda df, _bid: got.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    with open(os.path.join(root, MANIFEST)) as fh:
        n_expected = sum(m["n"] for m in json.load(fh))
    assert n_expected > 0
    assert len(got) == n_expected
