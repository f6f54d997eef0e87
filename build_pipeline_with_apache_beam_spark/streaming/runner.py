"""IncrementalRunner: the engine's version of the reference's driver loops.

Replaces ``retrieval.run`` (/root/reference/retrieval.py:198-254) and
``normalization.run_pipeline`` (normalization.py:133-170):

- tumbling windows are computed from the committed watermark, not wall-clock
  loops — each window is scanned ONCE (the reference downloads every window
  twice, normalization.py:144+154);
- the watermark commits only after the window's sink action succeeds (the
  reference commits before running, normalization.py:164);
- the >20 000-records adaptive re-plan branch (retrieval.py:217-249) is
  gone: AQE + file splitting parallelize a single scan, so the engine runs
  one plan per window regardless of cardinality;
- the freshness guard (retrieval.py:210-212) survives as ``min_lag``.

The scan itself stays fully distributed: the runner only moves *timestamps*
through the driver, never rows.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.functions import sqlgen
from build_pipeline_with_apache_beam_spark.streaming.watermark import WatermarkStore


class IncrementalRunner:
    """Process ``[watermark, now - min_lag)`` in tumbling windows.

    ``source``  : () -> DataFrame with an event-time column ``ts_col``
                  (a parquet scan — lazily re-planned per window so partition
                  pruning / pushdown applies to each window's range).
    ``sink``    : (DataFrame, window_start, window_end) -> int processed-count
                  (must be an action; its success gates the commit).
    """

    def __init__(self, store: WatermarkStore,
                 source: Callable[[], DataFrame],
                 sink: Callable[[DataFrame, datetime, datetime], int],
                 ts_col: str = "ts",
                 window: timedelta = timedelta(minutes=20),
                 min_lag: timedelta = timedelta(0)):
        self.store = store
        self.source = source
        self.sink = sink
        self.ts_col = ts_col
        self.window = window
        self.min_lag = min_lag

    def pending_windows(self, now: datetime | None = None) -> list[tuple[datetime, datetime]]:
        now = now or datetime.now(timezone.utc)
        horizon = now - self.min_lag
        start = self.store.last_processed()
        out = []
        while start + self.window <= horizon:
            out.append((start, start + self.window))
            start = start + self.window
        return out

    def run_once(self, now: datetime | None = None) -> list[dict]:
        """Process every pending window; returns per-window run metadata."""
        results = []
        for w_start, w_end in self.pending_windows(now):
            df = self.source()
            windowed = df.where(
                (F.col(self.ts_col) >= F.lit(w_start.replace(tzinfo=None)))
                & (F.col(self.ts_col) < F.lit(w_end.replace(tzinfo=None)))
            )
            n = self.sink(windowed, w_start, w_end)
            # commit strictly after the sink action succeeded
            self.store.commit(w_start, w_end, n)
            results.append({"window_start": w_start, "window_end": w_end,
                            "record_count": n})
        return results


# ---------------------------------------------------------------------------
# Registered queries: the incremental flow itself, driver-gate checkable
# ---------------------------------------------------------------------------

_RUN_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_RUN_WINDOW_H = 6
_RUN_SPAN_H = 48


def q_incremental_runlog(spark, sf_dir: str) -> DataFrame:
    """Run the incremental flow over two days of events in 6-hour windows
    and return the committed run log — the engine's version of the
    reference's run-metadata tables (record_count per window,
    retrieval.py:53-60 / normalization.py:24-43), produced by the
    watermark-committing runner instead of hand-written SQLite rows.

    The committed store is a derived artifact: built once per testdata
    generation, and a re-run reads it back instead of running the flow
    again (which would process nothing new — idempotence is the point of
    the watermark).
    """
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.scratch import derived

    def run(path: str) -> None:
        IncrementalRunner(
            WatermarkStore(path, default_epoch=_RUN_EPOCH),
            source=lambda: load_table(spark, sf_dir, "events"),
            sink=lambda df, ws, we: df.count(),  # count action gates the commit
            ts_col="ts",
            window=timedelta(hours=_RUN_WINDOW_H),
        ).run_once(now=_RUN_EPOCH + timedelta(hours=_RUN_SPAN_H))

    recs = WatermarkStore(derived(sf_dir, "runlog", run),
                          default_epoch=_RUN_EPOCH).history()
    rows = [(r["window_start"], r["window_end"], r["record_count"])
            for r in recs]
    return spark.sql(sqlgen.values(
        rows, "window_start TIMESTAMP, window_end TIMESTAMP, "
        "record_count BIGINT")).orderBy("window_start")


QUERIES = {
    "incremental_runlog": q_incremental_runlog,
}

ORACLE = {
    # every window in the span is committed, including empty ones (the
    # runner's invariant) — hence the zero-filled window spine
    "incremental_runlog": f"""
        WITH spine AS (
            SELECT UNNEST(generate_series(
                TIMESTAMP '2024-01-01 00:00:00',
                TIMESTAMP '2024-01-02 23:00:00',
                INTERVAL {_RUN_WINDOW_H} HOUR)) AS window_start
        ), actual AS (
            SELECT time_bucket(INTERVAL {_RUN_WINDOW_H} HOUR, ts,
                               TIMESTAMP '2024-01-01 00:00:00') AS ws,
                   COUNT(1) AS n
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
              AND ts <  TIMESTAMP '2024-01-03 00:00:00'
            GROUP BY 1
        )
        SELECT window_start,
               window_start + INTERVAL {_RUN_WINDOW_H} HOUR AS window_end,
               COALESCE(n, 0) AS record_count
        FROM spine LEFT JOIN actual ON window_start = ws
        ORDER BY window_start
    """,
}
