"""Sources and sinks: partitioned lake writes, JSONL round-trips, and the
foreachPartition publisher pattern.

Reference mapping:
- ``WriteToGCS`` (/root/reference/normalization.py:110-130) builds
  ``dt=YYYY-MM-DD/hr=HH`` paths by hand and uploads newline-joined JSON.
  Spark-native: ``df.write.partitionBy("dt", "hr").json(path)`` — unique
  part-file names, atomic-enough commit protocol, and at 100 TB the write
  parallelism equals the partition count instead of one driver thread.
  The reference partitions by *wall-clock* upload time (normalization.py:119-121);
  the engine partitions by **event time** (the principled default).
- ``PublishToPubSub`` (/root/reference/retrieval.py:123-147) does per-bundle
  client init + batched blocking publishes.  Spark-native:
  ``foreachPartition`` with per-partition client construction and chunked
  sends — same amortization, executor-side, no driver hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import load_table
from build_pipeline_with_apache_beam_spark.scratch import run_dir

def write_partitioned_json(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Event-time-partitioned JSONL lake write (dt=/hr= layout, N3)."""
    (
        df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .withColumn("hr", F.date_format(F.col(ts_col), "HH"))
        # co-locate each output partition in one task before the write:
        # without this, every task writes a file into every dt=/hr= dir
        # (tasks × dirs tiny files — the classic small-files failure at scale)
        .repartition("dt", "hr")
        .write.partitionBy("dt", "hr").mode("overwrite").json(path)
    )


def publish_foreach_partition(df: DataFrame, make_client, send_batch,
                              batch_size: int = 50) -> None:
    """The R9 pattern: per-partition client init (start_bundle analog),
    chunked sends.  ``make_client()`` runs once per partition on the
    executor; ``send_batch(client, rows)`` receives ≤ batch_size rows."""
    def _run(rows):
        client = make_client()
        buf = []
        for r in rows:
            buf.append(r)
            if len(buf) >= batch_size:
                send_batch(client, buf)
                buf = []
        if buf:
            send_batch(client, buf)

    df.foreachPartition(_run)


def q_sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to a dt=/hr= partitioned JSON lake, then re-read it.

    Correctness: the re-read (body columns + partition columns parsed back
    from directory names) must equal a pure projection of the source —
    proving the write is lossless and the layout prunes by time.
    """
    # bound the write to a 3-day slice: hourly partitioning of the full
    # multi-month span means 1000+ directories whose per-dir commit cost
    # (not data volume) dominates — the slice exercises identical plan
    # machinery with ~70 partitions.  At scale the bound is the pipeline's
    # processing window (the incremental runner feeds one window at a time).
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp")))
    path = run_dir(sf_dir, "sink_lake")
    write_partitioned_json(ev.select("event_id", "value", "ts"), path)

    # explicit schema: inference would re-scan every part file a second time
    back = spark.read.schema(
        "event_id BIGINT, value DOUBLE, ts STRING, dt STRING, hr INT"
    ).json(path)
    return back.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("value").cast("double").alias("value"),
        F.col("dt").cast("string").alias("dt"),
        F.col("hr").cast("int").alias("hr"),
    )


QUERIES = {
    "sink_partitioned_write": q_sink_partitioned_write,
}

ORACLE = {
    "sink_partitioned_write": """
        SELECT event_id, value,
               strftime(ts, '%Y-%m-%d') AS dt,
               CAST(strftime(ts, '%H') AS INT) AS hr
        FROM events
        WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
    """,
}
