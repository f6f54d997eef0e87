"""Event-time windowing + streaming operators.

The reference hand-rolls tumbling windows in driver loops (20-minute fetch
windows, /root/reference/retrieval.py:189-196, normalization.py:142-148) and
imports ``beam.window`` without ever using it (retrieval.py:3).  Here they are
first-class: ``window()`` / ``session_window()`` aggregations that run
identically in batch and in Structured Streaming, plus watermark-based dedup
— the principled version of the SQLite watermark (retrieval.py:30-60).

Batch-checkable analogs are registered for the DuckDB oracle gate, next
to the real file-source stream ops.  Each stream op reads a committed
stream-source dir (``scratch.derived``): the raw events replay
(``_events_source``) or time-ordered ``part=`` slices of a derived frame
(``_sliced_source``, whose builder runs only when the dir is written).
Both store their schema beside their files, so ``drain.read_source`` opens
the stream without a schema-inference job, and ``drain.drain`` runs it to
the end of its source into a parquet sink read back with the streamed
frame's schema.  The stateful ones scope ``STATE_PARTITIONS``.

Scale notes: windowed aggregation shuffles once on (window, keys) with
map-side partial aggregation; session windows need a per-key sort but Spark
implements them without a driver merge.  In streaming, ``withWatermark``
bounds state size — without it, 100 TB of history accumulates in the state
store.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from contextlib import AbstractContextManager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import (
    load_table,
    raw_table,
    write_schema,
)
from build_pipeline_with_apache_beam_spark.scratch import derived, run_dir
from build_pipeline_with_apache_beam_spark.session import scoped_conf
from build_pipeline_with_apache_beam_spark.streaming.drain import (
    drain,
    read_source,
)

STATE_PARTITIONS = 8


def _state_partitions(spark: SparkSession) -> AbstractContextManager[None]:
    """Size the streaming state-store partition count to the stream.

    A stateful query fixes its number of state-store instances from
    ``spark.sql.shuffle.partitions`` AT QUERY START, and every instance
    pays per-micro-batch lifecycle cost (load, commit, snapshot
    bookkeeping) regardless of how many rows it holds.  Profiling the
    stream-stream interval join at bench scale (round-2 verdict #8)
    split the cost cleanly: tmpfs checkpoints changed nothing (12→14 s,
    so NOT fsync-bound), while 32→8 state partitions cut it 12→3.5 s —
    the overhead is the 32 partitions × 4 join state stores × ~5
    micro-batches of store machinery churning on a few thousand rows.
    At 100 TB the same knob goes the other way: raise it so per-store
    state fits in executor memory.  Scoped (``session.scoped_conf``) so
    the session's batch shuffle sizing is untouched afterwards.
    """
    return scoped_conf(spark, "spark.sql.shuffle.partitions",
                       str(STATE_PARTITIONS))


def _stage_events_source(sf_dir: str, src_dir: str) -> None:
    """Copy the events table into a fresh stream-source dir, handling both
    layouts: driver testdata ships one parquet FILE, while Spark-written
    scale-up tables are DIRECTORIES of part files (each part file lands
    flat in src_dir, so the file-source stream sees them all).  The
    table's raw schema is stored beside the copies: ``ts`` as the files
    hold it (``timestamp_ntz``, or a nanos long in older drops), not the
    catalog's coerced view."""
    os.makedirs(src_dir, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        for i, name in enumerate(sorted(os.listdir(src))):
            if name.endswith(".parquet"):
                shutil.copy(os.path.join(src, name),
                            os.path.join(src_dir, f"events-{i:05d}.parquet"))
    else:
        shutil.copy(src, os.path.join(src_dir, "events.parquet"))
    write_schema(src_dir, raw_table(SparkSession.active(), sf_dir,
                                    "events").schema)


def _events_source(sf_dir: str) -> str:
    """The events table as a committed stream-source dir, shared by every
    stream that replays the whole table in one micro-batch."""
    return derived(sf_dir, "events_src",
                   lambda p: _stage_events_source(sf_dir, p))


def _sliced_source(sf_dir: str, name: str, build: Callable[[], DataFrame],
                   n: int) -> str:
    """``build()`` as a committed stream-source dir of ``n`` time-ordered
    ``part=`` slices, one file each, with its schema stored: a
    ``maxFilesPerTrigger=1`` stream consumes one slice per micro-batch.
    ``build`` runs only when the dir is written."""
    def write(path: str) -> None:
        df = (_time_sliced(build(), n)
              .repartition(1)  # fixture-only
              .sortWithinPartitions("ts"))
        df.write.partitionBy("part").parquet(path)
        write_schema(path, df.schema)

    return derived(sf_dir, name, write)


def _time_sliced(df: DataFrame, n: int, ts_col: str = "ts") -> DataFrame:
    """Add ``part`` ∈ 1..n splitting rows into time-ordered slices.

    Replaces ``ntile(n) OVER (ORDER BY ts)`` — a single-reducer global
    sort (round-2 verdict #6) — with the two-phase shape: one exact
    ``percentile`` aggregate computes the n-1 time boundaries (two-phase
    object agg, no global sort), then a 1-row broadcast assigns each row
    its slice by boundary comparison.  Slice i's max ts ≤ slice i+1's
    min ts (ties land in the lower slice together), which is the only
    property the micro-batch sources need for a monotone watermark;
    counts are quantile-balanced rather than ntile-exact.
    """
    qs = ", ".join(str(i / n) for i in range(1, n))
    bounds = df.agg(F.expr(
        f"percentile(unix_micros(cast({ts_col} as timestamp)), "
        f"array({qs}))").alias("_bs"))
    part = F.lit(1)
    for i in range(n - 1):
        part = part + (F.unix_micros(F.col(ts_col).cast("timestamp"))
                       > F.element_at(F.col("_bs"), i + 1)).cast("int")
    return (df.crossJoin(F.broadcast(bounds))
            .withColumn("part", part).drop("_bs"))


def tumbling_agg(df: DataFrame, ts_col: str, width: str, *keys: str) -> DataFrame:
    """Tumbling event-time windows (R3's 20-min chunks, retrieval.py:189-196)."""
    return (
        df.groupBy(F.window(ts_col, width).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                *keys, "n_events", "sum_value")
    )


def q_window_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(ev, "ts", "20 minutes", "event_type")


def q_window_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 1-hour span, 20-minute hop — each event
    lands in 3 windows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "20 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                "n_events", "sum_value")
    )


def q_window_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.

    Session semantics: an event at exactly ``prev_ts + gap`` starts a NEW
    session (Spark merges only while ``next.start < current.end``).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events")
    )


def q_stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-style dedup over an at-least-once feed: double-deliver
    every event, then drop duplicates on the message key.  In streaming this
    is ``withWatermark("ts", ...).dropDuplicates(["event_id"])`` with
    watermark-bounded state; the batch analog is the same logical plan.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    at_least_once = ev.unionAll(ev)  # simulate redelivery
    return at_least_once.dropDuplicates(["event_id"])


def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run: file source → drain to the end →
    foreachBatch parquet append (the R8+R9 batch-sink pattern,
    retrieval.py:123-147) → re-read the sink.

    foreachBatch receives each micro-batch as a DataFrame; the write inside
    runs distributed (this is where a Kafka/Pub-Sub producer with
    per-partition client init would go — see sources.sinks.publish_foreach_partition).
    """
    stream = read_source(spark, _events_source(sf_dir)).select(
        "event_id", "event_type")
    return drain(stream, run_dir(sf_dir, "stream_sink"),
                 run_dir(sf_dir, "stream_ckpt"))


def q_stream_window_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-batch streaming windowed aggregation under a watermark.

    The source is the events table split into 4 time-ordered files consumed
    one per micro-batch (``maxFilesPerTrigger=1``), so the watermark
    genuinely advances batch-by-batch and append mode emits each 1-hour
    window exactly once — when the watermark passes its end.  Windows newer
    than ``max(ts) - delay`` are still open at end-of-stream and correctly
    withheld; the oracle encodes precisely that: all hourly windows with
    ``w_end <= max(ts) - 1 hour``.  This is the principled replacement for
    the reference's hand-rolled 20-minute driver loops (retrieval.py:189-196,
    normalization.py:142-165), which have no late-data story at all.
    """
    # 4 time-ordered slices => 4 micro-batches (two-phase quantile
    # slicing; committed once — only sink/ckpt reset per run)
    src_dir = _sliced_source(
        sf_dir, "wmwin_src", lambda: load_table(spark, sf_dir, "events"), 4)
    stream = read_source(spark, src_dir, 1).select("ts", "value")
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"))
           .select(F.col("w.start").alias("w_start"),
                   F.col("w.end").alias("w_end"), "n_events", "sum_value"))
    with _state_partitions(spark):
        return drain(agg, run_dir(sf_dir, "wmwin_sink"),
                     run_dir(sf_dir, "wmwin_ckpt"))


def q_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join with an event-time interval condition.

    Two file-source streams (clicks and purchases sliced from events), each
    watermarked, joined on user_id with ``purchase.ts ∈ [click.ts,
    click.ts + 30 min]`` — the attribution join.  Both sides are consumed in
    two time-ordered micro-batches; the 4-hour watermark delay is generous
    relative to the 30-minute join span, so no state needed for a future
    match is evicted early and the streamed result equals the batch join
    exactly — which is what the oracle checks.

    At 100 TB the watermark bound is the whole story: it caps the state
    store at (delay + interval) of per-key history instead of unbounded
    retention — the reference's SQLite watermark (retrieval.py:30-60) can't
    express this because its driver loop sees one window at a time.
    """
    # two time-ordered slices per side => two micro-batches per stream
    # (slice writes committed once; only sink/ckpt reset)
    def read_stream(etype: str, prefix: str) -> DataFrame:
        src_dir = _sliced_source(
            sf_dir, f"ssj_{prefix}", lambda: load_table(
                spark, sf_dir, "events").where(F.col("event_type") == etype),
            2)
        return (read_source(spark, src_dir, 1)
                .select(F.col("event_id").alias(f"{prefix}_id"),
                        F.col("user_id").alias(f"{prefix}_user"),
                        F.col("ts").alias(f"{prefix}_ts"))
                .withWatermark(f"{prefix}_ts", "4 hours"))

    clicks = read_stream("click", "click")
    purchases = read_stream("purchase", "purch")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purch_user"))
        & (F.col("purch_ts") >= F.col("click_ts"))
        & (F.col("purch_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTE")),
    ).select("click_id", "purch_id", F.col("click_user").alias("user_id"))
    with _state_partitions(spark):
        return drain(joined, run_dir(sf_dir, "ssj_sink"),
                     run_dir(sf_dir, "ssj_ckpt"))


def q_stream_session_window_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-batch streaming SESSION-window aggregation under a
    watermark: per-user purchase sessions with a 30-minute inactivity gap,
    append mode — a session is emitted exactly once, when the watermark
    (max event time − 2 h) passes its end (last event + gap).  Sessions
    still open at end-of-stream are withheld, which the oracle mirrors
    with a session_end cutoff over a batch gaps-and-islands computation.

    The 2-hour delay exceeds the 30-minute gap, so state for a session
    that could still merge with late events is never evicted early — the
    invariant that makes streamed sessions equal the batch answer.  State
    size is bounded by (delay + gap) of per-user history: the watermark is
    what makes session windows possible on an unbounded stream at all.
    """
    src_dir = _sliced_source(
        sf_dir, "sesswin_src", lambda: load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase"), 3)
    stream = read_source(spark, src_dir, 1).select("user_id", "ts", "value")
    agg = (stream.withWatermark("ts", "2 hours")
           .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"))
           .select("user_id",
                   F.col("w.start").alias("session_start"),
                   F.col("w.end").alias("session_end"),
                   "n_events", "sum_value"))
    with _state_partitions(spark):
        return drain(agg, run_dir(sf_dir, "sesswin_sink"),
                     run_dir(sf_dir, "sesswin_ckpt"))


def q_stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static enrichment join: the event stream joins a STATIC
    user-segment dimension (broadcast — re-snapshotted per micro-batch in
    production, which is how slowly-changing dims reach a stream without
    stream-stream state), then rolls up value per segment.

    Complete mode re-emits the whole aggregate per batch and the drain
    overwrites the sink with it, so the sink holds the last snapshot: the
    answer for any micro-batch slicing.  Streaming state is the
    |segments|-row aggregate — bounded by the dimension, never the stream.
    """
    # static dimension: user → segment (derived deterministically so the
    # batch oracle can rebuild it)
    dim = (load_table(spark, sf_dir, "events")
           .select("user_id").distinct()
           .withColumn("segment", (F.col("user_id") % 5).cast("int")))

    enriched = (read_source(spark, _events_source(sf_dir))
                .select("user_id", "value")
                .join(F.broadcast(dim), "user_id")
                .groupBy("segment")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum("value").alias("sum_value_raw")))
    sunk = drain(enriched, run_dir(sf_dir, "enrich_sink"),
                 run_dir(sf_dir, "enrich_ckpt"), "complete")
    return (sunk.select("segment", "n_events",
                        F.round("sum_value_raw", 4).alias("sum_value"))
            .orderBy("segment"))


def q_stream_cep_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-batch streaming CEP: the batch row-pattern matcher
    (``events_pattern_match_cep``) lifted onto an unbounded stream.  Each
    user's events aggregate into a watermarked SESSION window
    (30-minute inactivity gap) whose state carries the ordered event-code
    journey; when the watermark closes a session, its journey string is
    scanned once with the CEP regex (`v+c*p`) and the session is emitted
    iff the pattern fired — MATCH_RECOGNIZE ONE ROW PER MATCH semantics
    with AFTER MATCH SKIP PAST LAST ROW, expressed as session-window state
    + a JVM regex at emit time.

    The state-bounding story is the whole point: the journey buffer lives
    per OPEN session only (watermark delay + gap of history), never per
    user-forever — the streaming answer to the batch op's per-user-day
    grouping.  The 2-hour delay exceeds the 30-minute gap, so streamed
    sessions equal the batch gaps-and-islands answer, which the oracle
    replays with the same watermark cutoff.
    """
    from build_pipeline_with_apache_beam_spark.operators.behavioral import (
        CEP_PATTERN,
    )
    src_dir = _sliced_source(
        sf_dir, "cep_src", lambda: load_table(spark, sf_dir, "events"), 3)
    stream = (read_source(spark, src_dir, 1)
              .select("user_id", "ts", "event_id",
                      F.substring("event_type", 1, 1).alias("code")))
    agg = (stream.withWatermark("ts", "2 hours")
           .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
           .agg(F.concat_ws(
               "", F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("ts", "event_id", "code"))),
                   lambda s: s["code"])).alias("journey"))
           .select("user_id",
                   F.col("w.start").alias("session_start"),
                   F.col("w.end").alias("session_end"),
                   F.length("journey").cast("bigint").alias("journey_len"),
                   F.regexp_count("journey", F.lit(CEP_PATTERN))
                    .cast("bigint").alias("n_matches"))
           .where(F.col("n_matches") > 0))
    with _state_partitions(spark):
        return drain(agg, run_dir(sf_dir, "cep_sink"),
                     run_dir(sf_dir, "cep_ckpt"))


QUERIES = {
    "stream_cep_sessions": q_stream_cep_sessions,
    "stream_static_enrich_join": q_stream_static_enrich_join,
    "window_tumbling_agg": q_window_tumbling_agg,
    "window_sliding_agg": q_window_sliding_agg,
    "window_session_agg": q_window_session_agg,
    "stream_watermark_dedup": q_stream_watermark_dedup,
    "stream_foreach_batch_sink": q_stream_foreach_batch_sink,
    "stream_window_append_watermark": q_stream_window_append_watermark,
    "stream_stream_interval_join": q_stream_stream_interval_join,
    "stream_session_window_watermark": q_stream_session_window_watermark,
}

# naive-timestamp bucket arithmetic (no to_timestamp: that returns TIMESTAMPTZ
# and would shift under a non-UTC DuckDB session timezone)
_BUCKET20 = ("TIMESTAMP '1970-01-01 00:00:00' + "
             "CAST(floor(epoch(ts)/1200)*1200 AS BIGINT) * INTERVAL '1 second'")
_BUCKET3600 = ("TIMESTAMP '1970-01-01 00:00:00' + "
               "CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) * INTERVAL '1 second'")

ORACLE = {
    "stream_static_enrich_join": """
        WITH dim AS (
            SELECT DISTINCT user_id, CAST(user_id % 5 AS INT) AS segment
            FROM events
        )
        SELECT segment, COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events JOIN dim USING (user_id)
        GROUP BY 1 ORDER BY 1
    """,
    "window_tumbling_agg": f"""
        SELECT {_BUCKET20} AS w_start,
               {_BUCKET20} + INTERVAL '20 minutes' AS w_end,
               event_type,
               COUNT(1) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "window_sliding_agg": f"""
        WITH hopped AS (
            SELECT {_BUCKET20} - o.off * INTERVAL '20 minutes' AS w_start, value
            FROM events
            CROSS JOIN (VALUES (0), (1), (2)) AS o(off)
        )
        SELECT w_start, w_start + INTERVAL '1 hour' AS w_end,
               COUNT(1) AS n_events, ROUND(SUM(value), 4) AS sum_value
        FROM hopped GROUP BY 1, 2
    """,
    "window_session_agg": """
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(1) AS n_events
        FROM sessions GROUP BY user_id, sid
    """,
    "stream_watermark_dedup": """
        SELECT DISTINCT event_id, ts, event_type
        FROM (SELECT event_id, ts, event_type FROM events
              UNION ALL
              SELECT event_id, ts, event_type FROM events)
    """,
    "stream_foreach_batch_sink": """
        SELECT event_id, event_type FROM events
    """,
    # append mode emits a window exactly once, when the watermark
    # (max event time − delay) passes its end; windows still open at
    # end-of-stream are withheld — hence the w_end cutoff
    "stream_window_append_watermark": f"""
        WITH w AS (
            SELECT {_BUCKET3600} AS w_start,
                   {_BUCKET3600} + INTERVAL '1 hour' AS w_end,
                   COUNT(1) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        )
        SELECT w_start, w_end, n_events, sum_value FROM w
        WHERE w_end <= (SELECT MAX(ts) FROM events) - INTERVAL '1 hour'
    """,
    "stream_cep_sessions": """
        WITH coded AS (
            SELECT user_id, ts, event_id,
                   SUBSTRING(event_type, 1, 1) AS code
            FROM events
        ), flagged AS (
            SELECT user_id, ts, event_id, code,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM coded
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, ts, event_id, code,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        ), agg AS (
            SELECT user_id, MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '30 minutes' AS session_end,
                   STRING_AGG(code, '' ORDER BY ts, event_id) AS journey
            FROM sessions GROUP BY user_id, sid
        )
        SELECT user_id, session_start, session_end,
               CAST(LENGTH(journey) AS BIGINT) AS journey_len,
               CAST(LEN(regexp_extract_all(journey, 'v+c*p')) AS BIGINT)
                   AS n_matches
        FROM agg
        WHERE session_end <= (SELECT MAX(ts) FROM events) - INTERVAL '2 hours'
          AND LEN(regexp_extract_all(journey, 'v+c*p')) > 0
    """,
    "stream_session_window_watermark": """
        WITH p AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase'
        ), flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM p
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        ), agg AS (
            SELECT user_id, MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL '30 minutes' AS session_end,
                   COUNT(1) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM sessions GROUP BY user_id, sid
        )
        SELECT * FROM agg
        WHERE session_end <= (SELECT MAX(ts) FROM p) - INTERVAL '2 hours'
    """,
    "stream_stream_interval_join": """
        SELECT c.event_id AS click_id, p.event_id AS purch_id,
               c.user_id AS user_id
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
}
