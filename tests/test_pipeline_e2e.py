"""End-to-end reference-flow parity: the complete retrieval+normalization
pipeline (/root/reference/retrieval.py + normalization.py) run the Spark-first
way — JSONL array-lines source → incremental 20-min windows from a watermark
store → 13-key normalize with nested flattening → dt=/hr= partitioned lake
write → count reconciliation (the reference's only invariant, its SQLite
record_count columns) — with regression checks for the reference bugs the
engine must not have (double processing N6, premature commit N5).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F
from pyspark.sql import types as T

from build_pipeline_with_apache_beam_spark.operators.normalize import (
    normalize_balance_log,
    parse_json_array_lines,
)
from build_pipeline_with_apache_beam_spark.sources.sinks import (
    write_partitioned_json,
)
from build_pipeline_with_apache_beam_spark.streaming.runner import (
    IncrementalRunner,
)
from build_pipeline_with_apache_beam_spark.streaming.watermark import (
    WatermarkStore,
)

EPOCH = datetime(2024, 9, 1, 10, 0, tzinfo=timezone.utc)

SCHEMA = T.StructType([
    T.StructField("_id", T.StringType()),
    T.StructField("accountId", T.StringType()),
    T.StructField("resource", T.MapType(T.StringType(), T.StringType())),
    T.StructField("amount", T.DoubleType()),
    T.StructField("notes", T.StringType()),
    T.StructField("createdAt", T.TimestampType()),
    T.StructField("extraField", T.StringType()),
])


def _make_source_files(src_dir: str) -> int:
    """120 records across 2 h of createdAt, 10 per array-line, plus one
    malformed line (must vanish, retrieval.py:97-113 semantics)."""
    os.makedirs(src_dir, exist_ok=True)
    records = []
    for i in range(120):
        created = EPOCH + timedelta(minutes=i)
        records.append({
            "_id": f"id-{i:04d}",
            "accountId": f"acc-{i % 7}",
            "resource": {} if i % 5 == 0 else {"kind": "topup", "n": str(i)},
            "amount": float(i),
            "notes": f"note {i}",
            "createdAt": created.strftime("%Y-%m-%d %H:%M:%S"),
            "extraField": "MUST BE DROPPED",
        })
    lines = [json.dumps(records[i:i + 10]) for i in range(0, 120, 10)]
    lines.insert(3, "{not valid json [")
    with open(os.path.join(src_dir, "batch.jsonl"), "w") as fh:
        fh.write("\n".join(lines))
    return 120


def test_reference_flow_end_to_end(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    lake_dir = str(tmp_path / "lake")
    n_source = _make_source_files(src_dir)

    def source():
        raw = spark.read.text(src_dir)
        parsed = parse_json_array_lines(raw, "value", SCHEMA)
        return normalize_balance_log(parsed)   # whitelist + flatten

    windows_written = []

    def sink(df, w_start, w_end):
        out = os.path.join(lake_dir, w_start.strftime("%H%M"))
        write_partitioned_json(df, out, ts_col="createdAt")
        n = spark.read.json(out).count() if os.path.exists(out) else 0
        windows_written.append((w_start, n))
        return n

    store = WatermarkStore(str(tmp_path / "wm"), default_epoch=EPOCH)
    runner = IncrementalRunner(store, source, sink, ts_col="createdAt",
                               window=timedelta(minutes=20))
    now = EPOCH + timedelta(hours=2)

    results = runner.run_once(now=now)

    # six 20-min windows, 20 records each; the malformed line contributed 0
    assert [r["record_count"] for r in results] == [20] * 6
    assert sum(r["record_count"] for r in results) == n_source

    # the reference's reconciliation invariant: lake rows == committed counts
    # recursive lookup: the per-window roots each carry their own dt=/hr=
    # tree, so partition discovery over a glob of them would conflict
    lake = spark.read.option("recursiveFileLookup", "true").json(lake_dir)
    assert lake.count() == n_source

    # N6 regression: a second run at the same clock must process NOTHING
    assert runner.run_once(now=now) == []

    # whitelist projection dropped the extra field (normalization.py:91-95)
    assert "extraField" not in lake.columns
    # flatten semantics (idiomatic mode): {} → '', dict → compact JSON text
    flat = {r["_id"]: r["resource"] for r in
            lake.select("_id", "resource").collect()}
    assert flat["id-0000"] == ""                       # empty dict
    assert json.loads(flat["id-0001"]) == {"kind": "topup", "n": "1"}

    # dt=/hr= layout exists (normalization.py:119-123's lake shape)
    some_window = os.path.join(lake_dir, "1000")
    dt_dirs = [d for d in os.listdir(some_window) if d.startswith("dt=")]
    assert dt_dirs == ["dt=2024-09-01"]
    hr_dirs = os.listdir(os.path.join(some_window, dt_dirs[0]))
    assert any(h.startswith("hr=10") for h in hr_dirs)


def test_sink_failure_blocks_commit(spark, tmp_path):
    """N5 regression (premature commit): a failing sink must leave the
    watermark untouched so the window is retried next run."""
    src_dir = str(tmp_path / "incoming")
    _make_source_files(src_dir)

    def source():
        raw = spark.read.text(src_dir)
        return normalize_balance_log(
            parse_json_array_lines(raw, "value", SCHEMA))

    calls = {"n": 0}

    def flaky_sink(df, w_start, w_end):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("sink unavailable")
        return df.count()

    store = WatermarkStore(str(tmp_path / "wm"), default_epoch=EPOCH)
    runner = IncrementalRunner(store, source, flaky_sink, ts_col="createdAt",
                               window=timedelta(minutes=20))
    now = EPOCH + timedelta(minutes=40)

    try:
        runner.run_once(now=now)
        raise AssertionError("sink failure must propagate")
    except RuntimeError:
        pass
    assert store.last_processed() == EPOCH      # nothing committed

    results = runner.run_once(now=now)          # retry succeeds
    assert [r["record_count"] for r in results] == [20, 20]


def test_reference_etl_funnel_consistency(spark, sf_dir, duck):
    """The composed reference-ETL run (round-9 verdict #6): the funnel
    must reconcile stage-by-stage with independent SQL recomputation, the
    sink must be lossless (n_sunk measured by RE-READING the lake), and
    the watermark may only advance after the sink succeeded."""
    from build_pipeline_with_apache_beam_spark.plans.etl import (
        _WINDOW_HI,
        _WINDOW_LO,
        pipeline_reference_etl,
    )

    r = pipeline_reference_etl(spark, sf_dir).collect()
    assert len(r) == 1
    row = r[0]
    n_scanned, n_valid = duck.execute(f"""
        SELECT COUNT(*),
               COUNT(*) FILTER (WHERE event_id % 7 <> 0)
        FROM events
        WHERE ts >= TIMESTAMP '{_WINDOW_LO}'
          AND ts <= TIMESTAMP '{_WINDOW_HI}'
          AND event_type = 'purchase'""").fetchone()
    n_unique = duck.execute(f"""
        SELECT COUNT(DISTINCT user_id) FROM events
        WHERE ts >= TIMESTAMP '{_WINDOW_LO}'
          AND ts <= TIMESTAMP '{_WINDOW_HI}'
          AND event_type = 'purchase' AND event_id % 7 <> 0""").fetchone()[0]
    assert row["n_scanned"] == n_scanned
    assert row["n_valid"] == n_valid
    assert 0 < row["n_valid"] < row["n_scanned"]     # validation attrited
    assert row["n_unique"] == n_unique
    assert row["n_sunk"] == row["n_unique"]          # lossless sink
    assert row["watermark_advanced"] is True


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_reference_etl_on_empty_collection_returns_zero_funnel(
        spark, sf_dir, tmp_path, monkeypatch):
    """An empty collection (every file pruned is the same case) still runs
    the lake write, so the funnel observation completes with zero counts
    instead of leaving ``Observation.get`` waiting for metrics."""
    import threading

    from build_pipeline_with_apache_beam_spark.plans.etl import (
        pipeline_reference_etl,
    )
    from build_pipeline_with_apache_beam_spark.sources.docstore import MANIFEST

    (tmp_path / MANIFEST).write_text("[]")
    monkeypatch.setenv("SPARK_GRAFT_DOCSTORE_PATH", str(tmp_path))
    got: list = []
    run = threading.Thread(
        target=lambda: got.extend(pipeline_reference_etl(spark, sf_dir)
                                  .collect()),
        daemon=True)
    run.start()
    run.join(timeout=120)
    assert not run.is_alive(), "pipeline_reference_etl blocked"
    assert [tuple(r) for r in got] == [(0, 0, 0, 0, True)]


def test_reference_etl_returns_a_frame_that_does_not_rescan(spark, sf_dir):
    """The funnel is counted during the lake write: the returned frame is
    a literal row, so collecting or sinking it scans no docstore."""
    from build_pipeline_with_apache_beam_spark.plans.etl import (
        pipeline_reference_etl,
    )

    plan = _physical_plan(pipeline_reference_etl(spark, sf_dir))
    # a SELECT without FROM plans as `Scan OneRowRelation`, which reads
    # nothing; any other scan node would read data again
    scans = [ln for ln in plan.splitlines()
             if "Scan" in ln and "OneRowRelation" not in ln]
    assert scans == [], plan


def test_reference_etl_observes_funnel_above_user_shuffle(spark, sf_dir):
    """The funnel's CollectMetrics must sit in the write's result stage,
    above the user_id Exchange: a retried shuffle-map stage would apply
    its accumulator updates again and over-count the funnel."""
    from pyspark.sql import Observation

    from build_pipeline_with_apache_beam_spark.plans.etl import (
        _observed_survivors,
    )

    lines = _physical_plan(
        _observed_survivors(spark, sf_dir, Observation())).splitlines()
    metrics = [i for i, ln in enumerate(lines) if "CollectMetrics" in ln]
    shuffle = [i for i, ln in enumerate(lines)
               if "Exchange hashpartitioning(user_id" in ln]
    scans = [i for i, ln in enumerate(lines) if "Scan" in ln]
    assert len(metrics) == 1 and len(shuffle) == 1 and len(scans) == 1, \
        "\n".join(lines)
    assert "FileScan json" in lines[scans[0]], lines[scans[0]]
    # a tree string lists a parent above its children
    assert metrics[0] < shuffle[0] < scans[0], "\n".join(lines)
