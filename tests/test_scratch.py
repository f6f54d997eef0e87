"""The scratch namespace (``scratch.py``): content-addressed derived
artifacts committed by rename, per-process run dirs, and one namespace per
sf dir whose name carries the sf dir's basename."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from build_pipeline_with_apache_beam_spark import catalog
from build_pipeline_with_apache_beam_spark.scratch import (
    SCRATCH,
    derived,
    namespace,
    run_dir,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sf(root, name: str = "sf") -> str:
    """A fake sf dir holding one table file."""
    sf = os.path.join(str(root), name)
    os.makedirs(sf)
    with open(os.path.join(sf, "t.parquet"), "wb") as fh:
        fh.write(b"rows")
    return sf


@pytest.fixture()
def sf(tmp_path):
    path = _sf(tmp_path)
    yield path
    shutil.rmtree(namespace(path), ignore_errors=True)


def _writer(content: str):
    calls = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write(content)

    return write, calls


def _run(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
        capture_output=True, text=True, timeout=120)


def test_concurrent_writers_of_one_key_share_one_commit(sf):
    code = f"""
        import os, time
        from build_pipeline_with_apache_beam_spark.scratch import derived

        def write(tmp):
            os.makedirs(tmp)
            with open(os.path.join(tmp, "data"), "w") as fh:
                fh.write(str(os.getpid()))
            time.sleep(2)  # both writers miss before either commits

        path = derived({sf!r}, "race", write)
        print(path, open(os.path.join(path, "data")).read())
    """
    procs = [subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(code)],
        env={**os.environ, "PYTHONPATH": REPO}, cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for _ in range(2)]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(out.split())
    (path_a, seen_a), (path_b, seen_b) = outs
    assert path_a == path_b
    # both read the one committed copy, written by one of the two
    assert seen_a == seen_b
    assert seen_a in {str(p.pid) for p in procs}
    with open(os.path.join(path_a, "data")) as fh:
        assert fh.read() == seen_a
    assert not [e for e in os.listdir(namespace(sf)) if e.startswith(".tmp-")]


def test_touching_a_table_file_rekeys_and_drops_the_old_copy(sf):
    write, calls = _writer("v1")
    first = derived(sf, "probe", write)
    assert derived(sf, "probe", write) == first and len(calls) == 1

    table = os.path.join(sf, "t.parquet")
    st = os.stat(table)
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = derived(sf, "probe", write)
    assert second != first and len(calls) == 2
    assert not os.path.exists(first)  # one copy per artifact per sf dir
    assert os.path.basename(second).startswith("probe-")


def test_commit_removes_dead_writers_temp_dirs_only(sf):
    """A writer that died inside ``derived`` left its ``.tmp-<pid>-*``
    dir; the next commit in the namespace removes it, and keeps the temp
    dir of a writer that is still alive."""
    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True)
    ns = namespace(sf)
    orphan = os.path.join(ns, f".tmp-{int(dead.stdout)}-x")
    live = os.path.join(ns, f".tmp-{os.getpid()}-x")
    for d in (orphan, live):
        os.makedirs(os.path.join(d, "part"))
    derived(sf, "probe", _writer("v1")[0])
    assert not os.path.exists(orphan)
    assert os.path.isdir(live)


def test_sf_dirs_sharing_a_basename_get_different_namespaces(tmp_path):
    a = _sf(tmp_path / "a", "sf1")
    b = _sf(tmp_path / "b", "sf1")
    try:
        assert namespace(a) != namespace(b)
        assert os.path.basename(namespace(a)).startswith("sf1.")
        write_a, _ = _writer("a")
        write_b, _ = _writer("b")
        with open(os.path.join(derived(a, "x", write_a), "data")) as fh:
            assert fh.read() == "a"
        with open(os.path.join(derived(b, "x", write_b), "data")) as fh:
            assert fh.read() == "b"
    finally:
        for sf in (a, b):
            shutil.rmtree(namespace(sf), ignore_errors=True)


def test_run_dir_is_empty_per_call_and_removed_at_exit(sf):
    proc = _run(f"""
        import os
        from build_pipeline_with_apache_beam_spark.scratch import run_dir

        d = run_dir({sf!r}, "lake")
        open(os.path.join(d, "part"), "w").close()
        assert run_dir({sf!r}, "lake") == d and os.listdir(d) == []
        print(os.path.dirname(d))
    """)
    assert proc.returncode == 0, proc.stderr
    root = proc.stdout.strip()
    assert os.path.dirname(root) == namespace(sf)
    assert os.path.basename(root).startswith("run-")
    assert not os.path.exists(root)


def test_new_run_root_removes_dead_processes_roots_only(sf):
    """A process killed before its exit handler ran left its
    ``run-<pid>-*`` root; the next process to create a root in the
    namespace removes it, and keeps the root of a process still alive."""
    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True)
    ns = namespace(sf)
    orphan = os.path.join(ns, f"run-{int(dead.stdout)}-x")
    live = os.path.join(ns, f"run-{os.getpid()}-x")
    for d in (orphan, live):
        os.makedirs(os.path.join(d, "sink"))
    fresh = run_dir(sf, "lake")
    assert os.path.basename(os.path.dirname(fresh)).startswith(
        f"run-{os.getpid()}-")
    assert not os.path.exists(orphan)
    assert os.path.isdir(live)


def test_every_scratch_entry_of_an_sf_dir_carries_its_basename(tmp_path):
    """What a wipe by data tag relies on (``perfbench/run.py``'s
    ``_wipe_fixtures`` deletes the top-level entries that contain the data
    dir's basename): every entry a derived artifact or a run dir of sf dir
    ``X`` creates contains ``X``, so the wipe leaves nothing of ``X``."""
    tag = "sfwipeprobe"
    sf = _sf(tmp_path, tag)
    os.makedirs(SCRATCH, exist_ok=True)
    before = set(os.listdir(SCRATCH))
    derived(sf, "fixture", _writer("x")[0])
    run_dir(sf, "sink")
    created = set(os.listdir(SCRATCH)) - before
    assert created and all(tag in e for e in created)
    for e in created:
        shutil.rmtree(os.path.join(SCRATCH, e))
    assert not os.path.exists(namespace(sf))


def test_staged_rereads_a_committed_stage_in_a_new_process(spark, sf):
    """A second process re-reads a committed stage with the schema stored
    beside it: its builder never runs, and the first read starts no Spark
    job (no parquet schema inference)."""
    first = catalog._staged(spark, lambda: spark.range(7), sf, "probe")
    out = _run(f"""
        import json, os
        os.environ.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
        from build_pipeline_with_apache_beam_spark import catalog
        from build_pipeline_with_apache_beam_spark.session import get_spark

        def build():
            raise AssertionError("builder called for a committed stage")

        spark = get_spark("stage-reread")
        sc = spark.sparkContext
        sc.setJobGroup("reread", "first read of a committed stage")
        again = catalog._staged(spark, build, {sf!r}, "probe")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup("reread"))
        sc._jsc.clearJobGroup()
        print(json.dumps({{"jobs": jobs, "schema": again.schema.json(),
                          "ids": sorted(r.id for r in again.collect())}}))
    """)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["jobs"] == []
    assert got["schema"] == first.schema.json()
    assert got["ids"] == list(range(7))
