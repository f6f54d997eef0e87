"""Closed-loop benchmark of the spark-graft engine, one client, one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run has three parts, all in one process and one driver JVM:

1. set-up: start a SparkSession, scan the first table, build the
   ``.scratch/`` fixtures the workload's ops read.  The first set-up
   launches the driver JVM and is not timed; ``SETUP_REPEATS`` more are,
   and ``setup_s`` is their median;
2. one cold pass over the workload's ops in the fresh session of the last
   set-up (plan compilation, JIT warm-up and ``reuse=True`` index builds);
3. one untimed warm-up pass, then timed warm passes: at least
   ``MIN_WARM_PASSES``, and more while another fits in ``--seconds``.

Each op is called through ``registry.queries()`` and its DataFrame is
sunk to the ``noop`` format, as the engine's own bench does; ``--seed``
permutes the op order in every pass.  After the timed passes each op's
last output is checked once, untimed, against the DuckDB oracle
(``oracle_checksum``) or, for an op without an oracle, a pinned row count.

With ``--trace 1`` warm passes alternate untraced and traced; the traced
passes time every layer from the outside (``tracing.py``), the spans are
written to ``.perfbench/traces/``, and the per-layer metrics plus the
tracing overhead are reported instead of the end-to-end ones.

The last stdout line is one JSON object:
``{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "build_pipeline_with_apache_beam_spark"
OUT = os.path.join(ROOT, ".perfbench")
#: A run that is still going after this many seconds is abandoned.
RUN_DEADLINE_S = 170

sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def configure_environment() -> dict:
    """Pin the host settings and keep every file the run writes inside the
    checkout.  Must run before the first SparkSession starts the JVM."""
    cpus = W.host_cpus()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": W.DRIVER_MEM,
        # Python workers import the package (the docstore source runs on
        # them), whatever directory the benchmark was launched from
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(ROOT, ".scratch", "spark-local"),
        "SPARK_GRAFT_ORACLE_SF_DIR": W.DATA_DIR,
        "TMPDIR": tmp,
    }
    os.environ.update(settings)
    return settings


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.name = workload
        self.spec = W.WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.settings = configure_environment()
        self.data_dir = W.DATA_DIR
        # the engine keys its .scratch/ artifacts by the data directory name
        self.data_tag = os.path.basename(W.DATA_DIR)
        self.cpus = W.host_cpus()

        from build_pipeline_with_apache_beam_spark import registry

        import tracing

        self.tracing = tracing
        self.queries = registry.queries()
        missing = [op for op in self.spec["ops"] if op not in self.queries]
        if missing:
            raise KeyError(f"ops not registered: {missing}")
        self.oracles = registry.oracle_sql()
        self.rng = random.Random(seed)
        self.run_id = f"{workload}-seed{seed}-{os.getpid()}"
        self.tracer = tracing.Tracer(self.run_id)
        self.spark = None
        self.status = None
        self.listener = None
        self.errors: list[str] = []
        self.attempted = 0
        self.raised = 0
        self.last_df: dict = {}

    # -- set-up -----------------------------------------------------------

    def _wipe_fixtures(self) -> None:
        """Remove every .scratch/ artifact derived from the benchmark's
        tables, so each set-up (and each run) builds them again."""
        scratch = os.path.join(ROOT, ".scratch")
        if not os.path.isdir(scratch):
            return
        for entry in os.listdir(scratch):
            if self.data_tag in entry:
                shutil.rmtree(os.path.join(scratch, entry),
                              ignore_errors=True)

    def _build_fixture(self, name: str) -> None:
        if name != "docstore_collection":
            raise KeyError(f"unknown fixture {name!r}")
        from build_pipeline_with_apache_beam_spark.sources import docstore

        docstore.build_collection(self.spark, self.data_dir)

    def setup(self) -> dict:
        """One set-up: a fresh session, the first scan, the fixtures."""
        from build_pipeline_with_apache_beam_spark.catalog import load_table
        from build_pipeline_with_apache_beam_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self._wipe_fixtures()
        tr = self.tracer
        with tr.span("setup") as sp:
            with tr.span("session.start") as start:
                self.spark = get_spark("perfbench", extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                })
            with tr.span("session.first_scan") as scan:
                load_table(self.spark, self.data_dir, "lineitem").count()
            with tr.span("session.fixture_build") as build:
                for fixture in self.spec["fixtures"]:
                    self._build_fixture(fixture)
        return {key: s["end"] - s["start"] for key, s in (
            ("setup_s", sp), ("start_s", start), ("first_scan_s", scan),
            ("fixture_build_s", build))}

    # -- passes -----------------------------------------------------------

    def _order(self) -> list[str]:
        ops = list(self.spec["ops"])
        self.rng.shuffle(ops)
        return ops

    def _op_failed(self, name: str, e: Exception) -> None:
        self.raised += 1
        msg = f"{name}: {type(e).__name__}: {e}"
        self.errors.append(msg[:500])
        print(f"# op error {msg}"[:2000], file=sys.stderr)

    def _run_op(self, name: str) -> float:
        fn = self.queries[name]
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            ok = True
        except Exception as e:  # noqa: BLE001 — an op failure is a result
            ok, df = False, None
            self._op_failed(name, e)
        dt = time.perf_counter() - t0
        if ok:
            self.last_df[name] = df
        # drop cached blocks between ops, as the engine's bench does
        self.spark.catalog.clearCache()
        return dt

    def _run_op_traced(self, name: str) -> tuple[float, dict]:
        tr, sc = self.tracer, self.spark.sparkContext
        fn = self.queries[name]
        self.attempted += 1
        self.listener.op = name
        n_triggers = len(self.listener.triggers)
        # a job group per op separates its jobs from stream-thread jobs,
        # which do not inherit the caller's group
        sc.setJobGroup(f"perfbench:{name}", name)
        ok, df = True, None
        t0 = time.perf_counter()
        with tr.span("op", op=name) as op_sp:
            try:
                with tr.span("build"):
                    df = fn(self.spark, self.data_dir)
                with tr.span("plan") as plan_sp:
                    plan_sp["phases"] = self.tracing.plan_phases_ms(df)
                with tr.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — an op failure is a result
                ok = False
                self._op_failed(name, e)
        dt = time.perf_counter() - t0
        sc._jsc.clearJobGroup()
        if ok:
            self.last_df[name] = df
        self.spark.catalog.clearCache()
        self.listener.settle()
        jobs = self.status.new_jobs()
        rec = self._layer_record(op_sp, jobs,
                                 self.listener.triggers[n_triggers:])
        return dt, rec

    def _quiesce(self) -> None:
        """Collect garbage in both runtimes before a pass, so a collection
        left over from the previous pass does not land inside this one."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def run_pass(self, traced: bool) -> dict:
        if traced:
            # jobs of earlier untraced passes belong to no traced op
            self.status.skip_existing()
        order = self._order()
        ops, layers = {}, []
        steal0, total0 = cpu_ticks()
        t0 = time.perf_counter()
        for name in order:
            if traced:
                dt, rec = self._run_op_traced(name)
                layers.append(rec)
            else:
                dt = self._run_op(name)
            ops[name] = dt
        wall = time.perf_counter() - t0
        steal1, total1 = cpu_ticks()
        return {"wall_s": wall, "ops": ops,
                "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                "order": order, "traced": traced,
                "layers": layers}

    # -- layer accounting (traced passes) ---------------------------------

    def _layer_record(self, op_sp: dict, jobs: list[dict],
                      triggers: list[dict]) -> dict:
        tr = self.tracer
        spans = tr.descendants(op_sp)
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(s)

        def total(name: str) -> float:
            return sum(s["end"] - s["start"] for s in by_name.get(name, []))

        def outermost(prefix: str) -> list[dict]:
            ids = {s["id"]: s for s in spans}
            return [s for s in spans if s["name"].startswith(prefix)
                    and not (s["parent"] in ids
                             and ids[s["parent"]]["name"].startswith(prefix))]

        def innermost(t: float) -> dict:
            # the deepest span open at time t (spans nest, so latest start)
            best = op_sp
            for s in spans:
                if s["start"] <= t <= s["end"] and s["start"] >= best["start"]:
                    best = s
            return best

        def dur(j: dict) -> float:
            if j["submitted"] is None or j["completed"] is None:
                return 0.0
            return max(0.0, j["completed"] - j["submitted"])

        # a streaming query sets its own job group (its run id) on the
        # stream thread; jobs without a group come from helper threads of
        # the calling thread (e.g. the Arrow collect server)
        stream_jobs, by_layer = [], {}
        for j in jobs:
            if j["group"] not in (None, f"perfbench:{op_sp['op']}"):
                stream_jobs.append(j)
                continue
            owner = innermost(j["submitted"] or op_sp["start"])["name"]
            by_layer.setdefault(owner.split(".")[0] if "." in owner
                                else owner, []).append(j)

        stage_cache: dict[int, dict] = {}

        def stages(js: list[dict]) -> list[dict]:
            # each stage of the given jobs once
            ids = dict.fromkeys(sid for j in js for sid in j["stages"])
            for sid in ids:
                if sid not in stage_cache:
                    stage_cache[sid] = self.status.stage_metrics(sid)
            return [stage_cache[sid] for sid in ids]

        exec_jobs = by_layer.get("exec", [])
        exec_stages = stages(exec_jobs)
        # the lake is written by sink calls and by streaming sinks
        write_stages = stages(by_layer.get("sources", []) + stream_jobs)
        build = (by_name.get("build") or [None])[0]
        exec_sp = (by_name.get("exec") or [None])[0]
        plan = (by_name.get("plan") or [None])[0]
        eager = by_layer.get("build", [])
        eager_s = sum(dur(j) for j in eager)
        trig_ms = [t["ms"].get("triggerExecution", 0) for t in triggers]
        build_self = tr.self_time(build) if build else 0.0
        exec_wall = (exec_sp["end"] - exec_sp["start"]) if exec_sp else 0.0
        run_ms = sum(s.get("run_ms", 0) for s in exec_stages)
        spreads = by_name.get("catalog.sized_spread", [])
        rec = {
            "op": op_sp["op"],
            "catalog.load_table_calls": len(by_name.get("catalog.load_table", [])),
            "catalog.load_table_s": total("catalog.load_table"),
            "catalog.register_views_s": total("catalog.register_views"),
            "catalog.schema_jobs": len(by_layer.get("catalog", [])),
            "catalog.table_meta_s": total("catalog.table_meta"),
            "catalog.spread_calls": len(spreads),
            "catalog.spread_exchanges": sum(1 for s in spreads
                                            if s.get("exchange")),
            "catalog.s": sum(s["end"] - s["start"]
                             for s in outermost("catalog.")),
            "operators.build_s": build_self - eager_s - sum(trig_ms) / 1000,
            "operators.eager_jobs": len(eager),
            "operators.eager_s": eager_s,
            "exec.s": exec_wall,
            "exec.jobs": len(exec_jobs),
            "exec.stages": len(exec_stages),
            "exec.tasks": sum(s.get("tasks", 0) for s in exec_stages),
            "exec.task_busy_frac": (run_ms / 1000 / (exec_wall * self.cpus)
                                    if exec_wall > 0 else 0.0),
            "exec.input_bytes": sum(s.get("input_bytes", 0) for s in exec_stages),
            "exec.shuffle_read_bytes": sum(s.get("shuffle_read_bytes", 0)
                                           for s in exec_stages),
            "exec.shuffle_write_bytes": sum(s.get("shuffle_write_bytes", 0)
                                            for s in exec_stages),
            "exec.spill_bytes": sum(s.get("spill_bytes", 0)
                                    for s in stages(jobs)),
            "sources.docstore_scan_s": sum(
                s["end"] - s["start"] for s in outermost("sources.docstore")),
            "sources.sink_write_s": sum(
                s["end"] - s["start"] for s in outermost("sources.sink_write")),
            "sources.bytes_written": sum(s.get("output_bytes", 0)
                                         for s in write_stages),
            "streaming.triggers": len(triggers),
            "streaming.rows": sum(t["rows"] for t in triggers),
            "streaming.jobs": len(stream_jobs),
            "trigger_ms": trig_ms,
            "trigger_phase_ms": {p: sum(t["ms"].get(p, 0) for t in triggers)
                                 for p in self.tracing.TRIGGER_PHASES},
            "plan_ms": (plan or {}).get("phases",
                                        dict.fromkeys(self.tracing.PLAN_PHASES,
                                                      0.0)),
        }
        return rec

    # -- correctness ------------------------------------------------------

    def check(self) -> list[str]:
        """Compare each op's last output against its oracle, once."""
        from build_pipeline_with_apache_beam_spark.oracle import duck_connect
        from build_pipeline_with_apache_beam_spark.oracle_checksum import (
            compare_checksum,
        )

        bad = []
        con = duck_connect(self.data_dir)
        try:
            for name in sorted(self.spec["ops"]):
                ok, msg = self._check_one(name, con, compare_checksum)
                if not ok:
                    bad.append(f"{name}: {msg}")
                    print(f"# check failed {name}: {msg}"[:2000],
                          file=sys.stderr)
        finally:
            con.close()
        return bad

    def _check_one(self, name, con, compare_checksum) -> tuple[bool, str]:
        if name not in self.last_df:
            return False, "no successful execution"

        def compare(df) -> tuple[bool, str]:
            if name in self.oracles:
                return compare_checksum(df, con, self.oracles[name])
            if name not in W.PINNED_ROWS:
                return False, "no oracle and no pinned row count"
            n = df.count()
            return (n == W.PINNED_ROWS[name],
                    f"{n} rows, pinned {W.PINNED_ROWS[name]}")

        try:
            return compare(self.last_df[name])
        except Exception:  # noqa: BLE001
            # the last output can read files a later call replaced; the op
            # is then called once more, untimed
            pass
        try:
            return compare(self.queries[name](self.spark, self.data_dir))
        except Exception as e:  # noqa: BLE001 — a failed check is a result
            return False, f"{type(e).__name__}: {e}"

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        phases = {}
        t_phase = time.perf_counter()
        self.setup()  # launches the JVM: not a sample
        setups = [self.setup() for _ in range(W.SETUP_REPEATS)]
        phases["setups"] = time.perf_counter() - t_phase
        if self.traced:
            self.status = self.tracing.StatusStore(self.spark)
            self.status.skip_existing()
            self.listener = self.tracing.make_trigger_listener()
            self.spark.streams.addListener(self.listener)
            remove = self.tracing.instrument(self.tracer, PACKAGE)
            try:
                cold = self.run_pass(traced=True)
            finally:
                remove()
        else:
            cold = self.run_pass(traced=False)

        phases["cold"] = cold["wall_s"]
        # JIT compilation goes on for a pass after the cold one, at a pace
        # set by how busy the host is; this pass is not a sample
        self._quiesce()
        phases["warmup"] = self.run_pass(traced=False)["wall_s"]
        warm: list[dict] = []
        t0 = time.perf_counter()
        while True:
            self._quiesce()
            traced = self.traced and len(warm) % 2 == 1
            if traced:
                remove = self.tracing.instrument(self.tracer, PACKAGE)
                try:
                    warm.append(self.run_pass(traced=True))
                finally:
                    remove()
            else:
                warm.append(self.run_pass(traced=False))
            elapsed = time.perf_counter() - t0
            longest = max(p["wall_s"] for p in warm)
            if (len(warm) >= W.MIN_WARM_PASSES
                    and elapsed + longest > self.seconds):
                break

        t_check = time.perf_counter()
        phases["warm"] = t_check - t0
        bad = self.check()
        phases["check"] = time.perf_counter() - t_check
        failed = self.raised + len(bad)
        rss = peak_rss_mb()
        result = {
            "setups": setups, "cold": cold, "warm": warm,
            "check_failures": bad, "errors": self.errors,
            "attempted": self.attempted, "failed": failed,
            "peak_rss_mb": rss, "phase_s": phases,
        }
        if self.traced:
            self._write_trace(result)
        return result

    def _write_trace(self, result: dict) -> None:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        path = os.path.join(OUT, "traces", f"{self.run_id}.json")
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "workload": self.name,
                       "seed": self.seed, "spans": self.tracer.spans,
                       "passes": [result["cold"]] + result["warm"]},
                      fh, default=str)

    def close(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus the driver
    JVM, in MiB."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def timing(xs: list[float]) -> dict:
    return {"median": round(statistics.median(xs), 4),
            "p90": round(percentile(xs, 90), 4), "n": len(xs)}


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Each op's median latency over the given passes."""
    return {op: statistics.median(p["ops"][op] for p in passes)
            for op in passes[0]["ops"]}


def op_percentile(res: dict, q: float) -> float:
    """Percentile of the op latency over every untraced warm execution."""
    warm = [p for p in res["warm"] if not p["traced"]]
    return percentile([t for p in warm for t in p["ops"].values()], q)


def end_to_end_metrics(res: dict) -> dict:
    warm = [p for p in res["warm"] if not p["traced"]]
    return {
        "setup_s": (statistics.median(s["setup_s"] for s in res["setups"]), "s"),
        "cold_pass_s": (res["cold"]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "op_p90_s": (op_percentile(res, 90), "s"),
    }


def _unit(key: str) -> str:
    if key.endswith("_s") or key.endswith(".s"):
        return "s"
    if "bytes" in key:
        return "B"
    if key.endswith("_frac"):
        return "ratio"
    return "count"


def per_layer_metrics(res: dict) -> dict:
    """Per-pass means over the traced warm passes, plus the cold pass's
    Catalyst and build numbers and the tracing overhead."""
    import tracing

    traced = [p for p in res["warm"] if p["traced"]]
    untraced = [p for p in res["warm"] if not p["traced"]]
    n = len(traced)

    def per_pass(key: str) -> float:
        return sum(r[key] for p in traced for r in p["layers"]) / n

    out: dict[str, tuple[float, str]] = {}
    setup_med = {k: statistics.median(s[k] for s in res["setups"])
                 for k in ("start_s", "first_scan_s", "fixture_build_s")}
    out["session.start_s"] = (setup_med["start_s"], "s")
    out["session.first_scan_s"] = (setup_med["first_scan_s"], "s")
    out["session.fixture_build_s"] = (setup_med["fixture_build_s"], "s")
    keys = [k for k, v in traced[0]["layers"][0].items()
            if "." in k and not isinstance(v, (list, dict))]
    for k in keys:
        out[k] = (per_pass(k), _unit(k))
    # busy fraction is a ratio of sums, not a sum of ratios
    out["exec.task_busy_frac"] = (
        sum(r["exec.task_busy_frac"] * r["exec.s"]
            for p in traced for r in p["layers"])
        / max(1e-9, sum(r["exec.s"] for p in traced for r in p["layers"])),
        "ratio")
    trig = [t for p in traced for r in p["layers"] for t in r["trigger_ms"]]
    rows = per_pass("streaming.rows")
    trig_per_pass = per_pass("streaming.triggers")
    out["streaming.rows_per_trigger"] = (
        rows / trig_per_pass if trig_per_pass else 0.0, "count")
    out["streaming.trigger_p50_ms"] = (percentile(trig, 50) if trig else 0.0, "ms")
    out["streaming.trigger_p90_ms"] = (percentile(trig, 90) if trig else 0.0, "ms")
    for ph in tracing.TRIGGER_PHASES:
        out[f"streaming.trigger_ms.{ph}"] = (
            sum(r["trigger_phase_ms"][ph] for p in traced for r in p["layers"])
            / max(1, len(trig)), "ms")
    for ph in tracing.PLAN_PHASES:
        out[f"plan.{ph}_ms"] = (
            sum(r["plan_ms"][ph] for p in traced for r in p["layers"]) / n, "ms")
        out[f"plan.cold_{ph}_ms"] = (
            sum(r["plan_ms"][ph] for r in res["cold"]["layers"]), "ms")
    out["operators.cold_build_s"] = (
        sum(r["operators.build_s"] for r in res["cold"]["layers"]), "s")
    out["operators.cold_eager_s"] = (
        sum(r["operators.eager_s"] for r in res["cold"]["layers"]), "s")
    t_med = statistics.median(p["wall_s"] for p in traced)
    u_med = statistics.median(p["wall_s"] for p in untraced)
    out["trace.traced_pass_s"] = (t_med, "s")
    out["trace.untraced_pass_s"] = (u_med, "s")
    out["trace.overhead_s"] = (t_med - u_med, "s")
    # on etl_ingest the median execution is one short op, and its spread
    # between runs comes near the largest bound an end-to-end metric may have
    out["op_p50_s"] = (op_percentile(res, 50), "s")
    out["error_rate"] = (res["failed"] / max(1, res["attempted"]), "ratio")
    out["peak_rss_mb"] = (res["peak_rss_mb"], "MiB")
    return out


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {RUN_DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(RUN_DEADLINE_S)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace))
        res = bench.run()
        metrics = (per_layer_metrics(res) if args.trace
                   else end_to_end_metrics(res))
        e2e = end_to_end_metrics(res)
    except Exception as e:  # noqa: BLE001 — report, exit non-zero
        print(f"perfbench: run failed: {type(e).__name__}: {e}",
              file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if bench is not None:
            bench.close()
    warm = [p for p in res["warm"] if not p["traced"]]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": bench.settings,
        "data": os.path.relpath(W.DATA_DIR, ROOT),
        # every timing as median, p90 and sample count
        "timings_s": {k: timing(xs) for k, xs in (
            ("setup", [x["setup_s"] for x in res["setups"]]),
            ("cold_pass", [res["cold"]["wall_s"]]),
            ("warm_pass", [p["wall_s"] for p in warm]),
            ("op", [t for p in warm for t in p["ops"].values()]))},
        "end_to_end": {k: round(v, 6) for k, (v, _) in e2e.items()},
        "error_rate": res["failed"] / max(1, res["attempted"]),
        "op_median_s": {op: round(t, 4)
                        for op, t in op_medians(warm).items()},
        "phase_s": {k: round(v, 3) for k, v in res["phase_s"].items()},
        "steal_frac": [round(p["steal_frac"], 3)
                       for p in [res["cold"]] + res["warm"]],
        "passes": [round(p["wall_s"], 3)
                   for p in [res["cold"]] + res["warm"]],
        "wall_s": round(time.perf_counter() - T_START, 3),
        "check_failures": res["check_failures"],
        "errors": res["errors"],
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
