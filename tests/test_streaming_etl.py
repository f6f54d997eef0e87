"""The streaming twin of the reference ETL (round-9 verdict #1).

Three laws:
1. **stream == batch**: the drained multi-batch stream's final lake state
   must equal the batch pipeline's survivors, value for value;
2. **really multi-batch**: the rate-capped tail must process the
   collection in more than one micro-batch (otherwise this is just the
   single-trigger drain the engine already had);
3. **kill/resume**: failing the query mid-run and restarting from the
   same checkpoint must reach the identical final state — no loss (every
   user present) and no duplication (one row per user) — with the
   watermark only ever advancing.

Reference anchors: retrieval.py:198-254 (the incremental driver loop),
normalization.py:133-170 (the per-window pipeline), normalization.py:164
(the mark-done-early bug the commit-after-sink order fixes).
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.plans import etl
from build_pipeline_with_apache_beam_spark.plans.etl import (
    _runlog_funnel,
    pipeline_reference_etl,
    pipeline_reference_etl_stream,
    run_etl_stream,
)
from build_pipeline_with_apache_beam_spark.sources.docstore import (
    MANIFEST,
    build_collection,
)
from build_pipeline_with_apache_beam_spark.scratch import run_dir
from build_pipeline_with_apache_beam_spark.streaming.watermark import (
    WatermarkStore,
)

LAKE_SCHEMA = ("event_id BIGINT, user_id BIGINT, value DOUBLE, "
               "ts TIMESTAMP, dt STRING")


def _dirs(sf_dir: str, tag: str) -> tuple[str, str, str]:
    return tuple(run_dir(sf_dir, f"etls_test_{kind}_{tag}")
                 for kind in ("lake", "wm", "ckpt"))


def _committed(ckpt: str) -> int:
    """The docstore offset (files consumed) of the last batch a streaming
    checkpoint committed; 0 when it committed none.  Reads Spark's offset
    log: ``offsets/<batchId>`` is written before the batch and
    ``commits/<batchId>`` after it, and the source's offset line is the
    reader's own ``{"file_idx": N}``."""
    try:
        done = max(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                   if f.isdigit())
    except (OSError, ValueError):
        return 0
    with open(os.path.join(ckpt, "offsets", str(done))) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    return int(json.loads(lines[-1])["file_idx"])


def _lake_rows(spark, lake):
    return (spark.read.schema(LAKE_SCHEMA)
            .json(os.path.join(lake, "current"))
            .select("event_id", "user_id", "value").collect())


def test_stream_funnel_matches_batch_and_is_multibatch(spark, sf_dir):
    out = pipeline_reference_etl_stream(spark, sf_dir).collect()[0]
    want = pipeline_reference_etl(spark, sf_dir).collect()[0]
    assert out.asDict() == want.asDict()
    assert out["watermark_advanced"] is True


def test_stream_runs_in_multiple_batches(spark, sf_dir):
    lake, wm, ckpt = _dirs(sf_dir, "multibatch")
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        total = len(json.load(fh))
    assert total >= 3, "fixture must have enough day-files to batch"
    cap = max(1, -(-total // 3))
    run_etl_stream(spark, sf_dir, lake, wm, ckpt, tail_cap=cap)
    assert _committed(ckpt) >= total
    n_batches = len([f for f in os.listdir(os.path.join(ckpt, "commits"))
                     if f.isdigit()])
    assert n_batches >= 3, f"expected a real multi-batch run, got {n_batches}"


def test_stream_kill_resume_reaches_identical_state(spark, sf_dir,
                                                    monkeypatch):
    """Run 1 fails in its second batch, after the first batch committed;
    a fresh query restarts from the SAME checkpoint and drains the rest.
    Final lake must equal an uninterrupted run's lake exactly."""
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        total = len(json.load(fh))
    cap = max(1, total // 4)

    # uninterrupted reference run
    lake0, wm0, ckpt0 = _dirs(sf_dir, "uninterrupted")
    run_etl_stream(spark, sf_dir, lake0, wm0, ckpt0, tail_cap=cap)
    assert _committed(ckpt0) >= total
    want = sorted(map(tuple, _lake_rows(spark, lake0)))

    # killed run: the second batch's publish raises, so the query dies
    # with exactly the first batch's files committed
    lake1, wm1, ckpt1 = _dirs(sf_dir, "killed")
    real_publish = etl.publish_lake_version
    published = []

    def publish_once(lake_dir: str, tmp: str) -> None:
        if published:
            raise RuntimeError("injected kill in the second batch")
        real_publish(lake_dir, tmp)
        published.append(tmp)

    monkeypatch.setattr(etl, "publish_lake_version", publish_once)
    with pytest.raises(Exception, match="injected kill"):
        run_etl_stream(spark, sf_dir, lake1, wm1, ckpt1, tail_cap=cap)
    monkeypatch.setattr(etl, "publish_lake_version", real_publish)
    partial = _committed(ckpt1)
    assert 0 < partial < total, (partial, total)
    # monotonicity baseline: only meaningful if the killed run actually
    # committed a watermark record — with an empty run-log
    # last_processed() returns the DEFAULT EPOCH (a windowing floor,
    # 2024-09, which post-dates the January event data by design)
    wm_at_kill = (WatermarkStore(wm1).last_processed()
                  if WatermarkStore(wm1).history() else None)

    # resume from the same checkpoint: must pick up at the committed
    # offset and drain the remainder
    run_etl_stream(spark, sf_dir, lake1, wm1, ckpt1, tail_cap=cap)
    assert _committed(ckpt1) >= total
    got = sorted(map(tuple, _lake_rows(spark, lake1)))
    assert got == want, "resumed final state differs from uninterrupted run"
    # no duplication: exactly one row per user
    users = [r[1] for r in got]
    assert len(users) == len(set(users))
    # the watermark only ever advances
    if wm_at_kill is not None:
        assert WatermarkStore(wm1).last_processed() >= wm_at_kill
    # run-log funnel idempotence (round-10 advice): every record carries a
    # batch_id, the normal kill/resume path never duplicates one, and the
    # deduped funnel equals the uninterrupted run's
    hist1 = WatermarkStore(wm1).history()
    ids = [r["batch_id"] for r in hist1]
    assert len(ids) == len(set(ids)), f"duplicate batch_ids in run-log: {ids}"
    funnel0 = _runlog_funnel(WatermarkStore(wm0).history())
    assert _runlog_funnel(hist1) == funnel0
    # inject the redelivery the at-least-once contract permits (a crash
    # between store.commit and Spark's commits/<batchId> write): a second
    # record for an ALREADY-COMMITTED batch_id must not change the funnel
    dup = hist1[0]
    WatermarkStore(wm1).commit(
        window_start=datetime.fromisoformat(dup["window_start"]),
        window_end=datetime.fromisoformat(dup["window_end"]),
        record_count=dup["record_count"],
        n_scanned=dup["n_scanned"], n_valid=dup["n_valid"],
        batch_id=dup["batch_id"])
    redelivered = WatermarkStore(wm1).history()
    assert len(redelivered) == len(hist1) + 1  # raw log DID grow
    assert _runlog_funnel(redelivered) == funnel0  # funnel did NOT


def test_stream_commit_order_is_sink_then_watermark(spark, sf_dir):
    """After any prefix of batches, every committed watermark record's
    count must be reproducible from the lake AT THAT POINT — i.e. the
    run-log never claims more than the sink holds (the reference marks
    done before its pipeline runs; this pins the fixed order)."""
    lake, wm, ckpt = _dirs(sf_dir, "commitorder")
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        total = len(json.load(fh))
    run_etl_stream(spark, sf_dir, lake, wm, ckpt,
                   tail_cap=max(1, -(-total // 3)))
    hist = WatermarkStore(wm).history()
    assert hist, "no watermark commits recorded"
    final_n = (spark.read.schema(LAKE_SCHEMA)
               .json(os.path.join(lake, "current")).count())
    # record_count per commit is the lake size after that batch's swap —
    # monotone non-decreasing, ending exactly at the final lake size
    counts = [r["record_count"] for r in hist]
    assert counts == sorted(counts)
    assert counts[-1] == final_n


def test_runlog_funnel_null_batch_ids_kept_individually():
    """Round-11 advice: records carrying batch_id=None (or no batch_id)
    must each survive the funnel — .get's default never fires for an
    explicit null, so the key must be type-tagged, and an integer
    batch_id can never collide with a keyed-by-index foreign record."""
    hist = [
        {"batch_id": None, "n_scanned": 1, "n_valid": 1},
        {"batch_id": None, "n_scanned": 2, "n_valid": 2},
        {"n_scanned": 4, "n_valid": 4},
        {"batch_id": 7, "n_scanned": 8, "n_valid": 8},
        {"batch_id": 7, "n_scanned": 16, "n_valid": 16},  # redelivery: last wins
    ]
    assert _runlog_funnel(hist) == (1 + 2 + 4 + 16, 1 + 2 + 4 + 16)


@pytest.mark.parametrize("crash_point", ["before_publish", "after_publish"])
def test_lake_swap_crash_window_leaves_old_xor_new(spark, sf_dir, crash_point):
    """Round-12 verdict #6: hard-kill the process INSIDE the lake
    version-and-swap (a subprocess os._exit(137) at the chaos hook, the
    power-cut stand-in) and prove (a) a reader at that instant sees
    exactly the old or the new version — `current` exists, points at a
    FULLY-committed version dir (_SUCCESS present), parses, one row per
    user — and (b) a resume from the same checkpoint reaches the
    uninterrupted run's exact final state."""
    import subprocess
    import sys

    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        total = len(json.load(fh))
    if total < 3:
        pytest.skip("collection too small for a mid-run crash")

    # uninterrupted reference run (same cap as the worker)
    lake0, wm0, ckpt0 = _dirs(sf_dir, f"chaosref_{crash_point}")
    run_etl_stream(spark, sf_dir, lake0, wm0, ckpt0, tail_cap=1)
    assert _committed(ckpt0) >= total
    want = sorted(map(tuple, _lake_rows(spark, lake0)))

    lake1, wm1, ckpt1 = _dirs(sf_dir, f"chaos_{crash_point}")
    worker = os.path.join(os.path.dirname(__file__), "etl_crash_worker.py")
    env = {k: v for k, v in os.environ.items()
           if k != "SPARK_GRAFT_ETL_CRASH"}
    proc = subprocess.run(
        [sys.executable, worker, sf_dir, lake1, wm1, ckpt1, crash_point],
        env=env, timeout=600, capture_output=True, text=True)
    if proc.returncode == 0:
        pytest.skip("worker drained before the armed batch — nothing to "
                    "crash")
    assert proc.returncode == 137, (
        f"worker died abnormally (rc={proc.returncode}):\n{proc.stderr[-2000:]}")

    # (a) the reader's view at the instant of death: old XOR new, never
    # missing or torn
    current = os.path.join(lake1, "current")
    assert os.path.islink(current), "current missing/non-atomic after crash"
    target = os.path.realpath(current)
    assert os.path.exists(os.path.join(target, "_SUCCESS")), (
        "current points at an uncommitted version dir")
    # (an EMPTY published version is legitimate — batch 0 may hold no
    # in-window rows; the law is old-XOR-new, not nonempty)
    mid = spark.read.schema(LAKE_SCHEMA).json(current).collect()
    users = [r["user_id"] for r in mid]
    assert len(users) == len(set(users)), "torn lake: duplicate users"

    # (b) resume from the same checkpoint → identical final state
    run_etl_stream(spark, sf_dir, lake1, wm1, ckpt1, tail_cap=1)
    assert _committed(ckpt1) >= total
    got = sorted(map(tuple, _lake_rows(spark, lake1)))
    assert got == want, "resumed final state differs from uninterrupted run"
    # crash debris is bounded: at most the live version dir remains live,
    # everything else was GC'd by the resumed run's publishes
    leftovers = [e for e in os.listdir(lake1)
                 if e != "current"
                 and e != os.path.basename(os.path.realpath(current))
                 and os.path.isdir(os.path.join(lake1, e))]
    assert not leftovers, f"unreaped version debris: {leftovers}"


def test_gc_reaps_orphans_and_skips_without_symlink(tmp_path):
    """GC reaps the version dirs ``current`` does not point at, and reaps
    nothing while ``current`` is not a symlink (no liveness anchor)."""
    from build_pipeline_with_apache_beam_spark.plans.etl import (
        _gc_lake_versions,
    )

    lake = tmp_path / "lake"
    lake.mkdir()
    (lake / "v_orphan").mkdir()

    # no `current` at all, or a real dir in its place — GC is a no-op
    _gc_lake_versions(str(lake))
    assert (lake / "v_orphan").exists(), "GC reaped with no liveness anchor"
    (lake / "current").mkdir()
    _gc_lake_versions(str(lake))
    assert (lake / "v_orphan").exists(), "GC reaped with no liveness anchor"
    (lake / "current").rmdir()

    # healthy lake: orphan version dirs are reaped, the live one is not
    (lake / "v_live").mkdir()
    (lake / "v_live" / "_SUCCESS").touch()
    os.symlink("v_live", str(lake / "current"))
    _gc_lake_versions(str(lake))
    assert (lake / "v_live").exists()
    assert not (lake / "v_orphan").exists()
