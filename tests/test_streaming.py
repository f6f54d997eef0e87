"""Real Structured Streaming runs (file source, availableNow trigger) and
batch-equivalence checks for the windowed operators — SURVEY.md §5.5."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import coerce_events_ts, load_table
from build_pipeline_with_apache_beam_spark.streaming.windows import tumbling_agg


def _stream_events(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "events.parquet"))
    raw_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(raw_schema).parquet(src)
    # same ts normalization the catalog applies
    return coerce_events_ts(stream)


def test_streaming_tumbling_agg_matches_batch(spark, sf_dir, tmp_path):
    """The same window() aggregation through a real stream (availableNow +
    complete mode into a memory sink) must equal the batch plan."""
    stream = _stream_events(spark, sf_dir, tmp_path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "20 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )
    q = (agg.writeStream.format("memory").queryName("tumbling_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {
        (r["w"]["start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_stream").collect()
    }
    want = {
        (r["w_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_agg(load_table(spark, sf_dir, "events"),
                              "ts", "20 minutes", "event_type").collect()
    }
    assert got == want


def test_streaming_watermark_dedup(spark, sf_dir, tmp_path):
    """withWatermark + dropDuplicates over a stream that delivers the same
    file twice: every event_id must come out exactly once."""
    src = str(tmp_path / "src2")
    os.makedirs(src, exist_ok=True)
    # two copies = at-least-once delivery
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "a.parquet"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "b.parquet"))
    raw_schema = spark.read.parquet(src).schema
    stream = (
        coerce_events_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1").parquet(src))
        .withWatermark("ts", "10 years")  # keep all state for the test
        .dropDuplicates(["event_id"])
    )
    q = (stream.select("event_id").writeStream.format("memory")
         .queryName("dedup_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    n_unique = spark.sql("SELECT COUNT(DISTINCT event_id) c FROM dedup_stream").first()["c"]
    n_total = spark.sql("SELECT COUNT(1) c FROM dedup_stream").first()["c"]
    n_src = load_table(spark, sf_dir, "events").count()
    assert n_total == n_unique == n_src


def test_stateful_agg_accumulates_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must carry per-user state across micro-batches:
    feeding the same events twice (one file per trigger = two batches) must
    end with each user's state at exactly 2× the single-pass aggregate."""
    from build_pipeline_with_apache_beam_spark.streaming.stateful import (
        stateful_user_agg)

    src = str(tmp_path / "state_src")
    os.makedirs(src, exist_ok=True)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "a.parquet"))
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(src, "b.parquet"))
    raw_schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(raw_schema)
              .option("maxFilesPerTrigger", "1").parquet(src)
              .select("user_id", "value"))

    q = (stateful_user_agg(stream)
         .writeStream.format("memory").queryName("stateful_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    # "update" emits one row per (user, batch); the final batch's row holds
    # the accumulated state
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("""
            SELECT user_id, n_events, total_value FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY n_events DESC) rn
                FROM stateful_stream) WHERE rn = 1
        """).collect()
    }
    want = {
        r["user_id"]: (2 * r["n"], round(2 * r["total"], 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == want


def test_streaming_session_window_matches_batch(spark, sf_dir, tmp_path):
    """session_window through a real stream (availableNow, complete mode)
    must produce the same per-user sessions as the batch plan."""
    stream = _stream_events(spark, sf_dir, tmp_path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (agg.writeStream.format("memory").queryName("session_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {
        (r["w"]["start"], r["w"]["end"], r["user_id"]): r["n_events"]
        for r in spark.sql("SELECT * FROM session_stream").collect()
    }
    want = {
        (r["w"]["start"], r["w"]["end"], r["user_id"]): r["n_events"]
        for r in (load_table(spark, sf_dir, "events")
                  .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                           "user_id")
                  .agg(F.count(F.lit(1)).alias("n_events"))
                  .collect())
    }
    assert got == want


def test_streaming_sliding_window_matches_batch(spark, sf_dir, tmp_path):
    """Overlapping window('1 hour', '20 minutes') through a real stream
    must equal the batch plan — each event lands in 3 overlapping windows
    in both modes."""
    stream = _stream_events(spark, sf_dir, tmp_path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "20 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (agg.writeStream.format("memory").queryName("sliding_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["w"]["start"], r["w"]["end"]): r["n_events"]
           for r in spark.sql("SELECT * FROM sliding_stream").collect()}
    want = {(r["w"]["start"], r["w"]["end"]): r["n_events"]
            for r in (load_table(spark, sf_dir, "events")
                      .groupBy(F.window("ts", "1 hour", "20 minutes")
                               .alias("w"))
                      .agg(F.count(F.lit(1)).alias("n_events"))
                      .collect())}
    assert got == want


def test_trigger_size_knob_is_result_invariant(spark, sf_dir):
    """Round-12 verdict #5: files-per-trigger is a first-class knob and
    the drained result is IDENTICAL at any trigger size — the streaming
    aggregate's complete mode makes batch boundaries invisible to the
    final state."""
    from build_pipeline_with_apache_beam_spark.sources.docstore import (
        stream_docstore_tail,
    )

    def key(df):
        return sorted(tuple(sorted(r.asDict().items()))
                      for r in df.collect())

    base = key(stream_docstore_tail(spark, sf_dir))
    capped = key(stream_docstore_tail(spark, sf_dir, trigger_files=1))
    assert capped == base
