"""Throughput rehearsal of the composed streaming ETL at a real scale
factor (round-10 verdict #7): drain ``pipeline_reference_etl_stream``'s
machinery (run_etl_stream) over the sf1 docstore in multiple micro-batches
and measure, per batch, the wall time, ingest rows/s, and the state the
contract says must stay FLAT — the keep-latest MERGE'd lake is bounded by
distinct users, never by events ingested, and the checkpoint holds offsets
only, not data.

Per-batch wall comes from the run-log's committed_at series (record i's
wall = committed_at_i − committed_at_{i−1}; the first batch is measured
from query submission and annotated as startup-inclusive).  A sampler
thread polls checkpoint + lake byte sizes during the drain so growth is a
time series, not a single post-hoc number.

Usage: python tools/stream_rehearsal.py [sf_dir] [n_batches] [--json OUT]
Defaults: <repo>/.scratch/sfscale/sf1, ~6 micro-batches.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _dir_stats(path: str) -> tuple[int, int]:
    """(total_bytes, n_files) of a directory tree; (0, 0) if absent."""
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
                n += 1
            except OSError:
                pass
    return total, n


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]
    sf_dir = args[0] if args else os.path.join(REPO, ".scratch", "sfscale",
                                               "sf1")
    n_batches = int(args[1]) if len(args) > 1 else 6

    from build_pipeline_with_apache_beam_spark.plans.etl import (
        _runlog_funnel,
        run_etl_stream,
    )
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        MANIFEST,
        build_collection,
    )
    from build_pipeline_with_apache_beam_spark.scratch import run_dir
    from build_pipeline_with_apache_beam_spark.session import get_spark
    from build_pipeline_with_apache_beam_spark.streaming.watermark import (
        WatermarkStore,
    )

    spark = get_spark("stream-rehearsal")
    root = build_collection(spark, sf_dir)
    manifest = json.load(open(os.path.join(root, MANIFEST)))
    total_files = len(manifest)
    # per-file ingest row counts: every manifest entry records its rows
    rows_per_file = [m["n"] for m in manifest]
    total_rows = sum(rows_per_file)
    cap = max(1, -(-total_files // n_batches))

    lake, wm_root, ckpt = (run_dir(sf_dir, f"rehearsal_{kind}")
                           for kind in ("lake", "wm", "ckpt"))

    samples: list[dict] = []
    stop = threading.Event()

    def sampler() -> None:
        t0 = time.time()
        while not stop.is_set():
            ck_b, ck_n = _dir_stats(ckpt)
            lk_b, lk_n = _dir_stats(os.path.join(lake, "current"))
            samples.append({
                "t_sec": round(time.time() - t0, 1),
                "ckpt_bytes": ck_b, "ckpt_files": ck_n,
                "lake_bytes": lk_b, "lake_files": lk_n,
            })
            stop.wait(1.0)

    th = threading.Thread(target=sampler, daemon=True)
    t_start = time.time()
    th.start()
    run_etl_stream(spark, sf_dir, lake, wm_root, ckpt, tail_cap=cap)
    wall = time.time() - t_start
    stop.set()
    th.join(5)

    hist = WatermarkStore(wm_root).history()
    # committed_at series → per-batch wall.  Batches whose window slice is
    # empty commit NOTHING by design, so file ranges key off batch_id (the
    # checkpoint's numbering covers every batch, committed or not) and a
    # record's wall spans everything since the previous COMMITTED batch.
    # The flat-state LAW per committed batch: lake rows after the swap ==
    # distinct valid in-window purchase users among the files ingested so
    # far — recomputed INDEPENDENTLY here from the raw events parquet via
    # DuckDB (keep-latest MERGE is bounded by users, never by events).
    import duckdb

    from build_pipeline_with_apache_beam_spark.plans.etl import (
        _WINDOW_HI,
        _WINDOW_LO,
    )

    con = duckdb.connect()
    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path):  # scaled-up tables are part-file directories
        ev_path = os.path.join(ev_path, "*.parquet")
    batches = []
    prev_t = t_start
    for i, r in enumerate(sorted(hist, key=lambda r: r["batch_id"])):
        k = r["batch_id"]
        t = datetime.fromisoformat(r["committed_at"]).timestamp()
        lo_f, hi_f = k * cap, min(total_files, (k + 1) * cap)
        ingest = sum(rows_per_file[lo_f:hi_f])
        days = [m["file"][:-len(".jsonl")] for m in manifest[:hi_f]]
        expect = con.execute(
            f"SELECT COUNT(DISTINCT user_id) FROM '{ev_path}' "
            f"WHERE ts >= TIMESTAMP '{_WINDOW_LO}' "
            f"AND ts <= TIMESTAMP '{_WINDOW_HI}' "
            f"AND event_type = 'purchase' AND event_id % 7 <> 0 "
            f"AND strftime(ts, '%Y-%m-%d') IN "
            f"({', '.join(repr(d) for d in days)})").fetchone()[0]
        w = max(t - prev_t, 1e-9)
        batches.append({
            "batch_id": k,
            "wall_sec": round(w, 2),
            "startup_inclusive": i == 0,
            "files": hi_f - lo_f,
            "ingest_rows": ingest,
            "ingest_rows_per_sec": round(ingest / w, 1),
            "n_scanned": r.get("n_scanned"),
            "n_valid": r.get("n_valid"),
            "lake_rows_after_swap": r["record_count"],
            "expected_distinct_users": expect,
            "state_law_ok": r["record_count"] == expect,
        })
        prev_t = t
    n_scanned, n_valid = _runlog_funnel(hist)

    lake_rows = [b["lake_rows_after_swap"] for b in batches]
    ck_sizes = [s["ckpt_bytes"] for s in samples if s["ckpt_bytes"]]
    out = {
        "sf_dir": sf_dir,
        "total_files": total_files,
        "total_ingest_rows": total_rows,
        "tail_cap": cap,
        "n_committed_batches": len(hist),
        "drain_wall_sec": round(wall, 1),
        "overall_ingest_rows_per_sec": round(total_rows / wall, 1),
        "batches": batches,
        "lake_rows_series": lake_rows,
        "state_law_ok_all": all(b["state_law_ok"] for b in batches),
        "ckpt_bytes_first": ck_sizes[0] if ck_sizes else 0,
        "ckpt_bytes_final": ck_sizes[-1] if ck_sizes else 0,
        "size_samples": samples,
        "funnel": {"n_scanned": n_scanned, "n_valid": n_valid},
    }
    line = json.dumps(out)
    print(line)
    if json_out:
        with open(json_out, "w") as fh:
            fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
