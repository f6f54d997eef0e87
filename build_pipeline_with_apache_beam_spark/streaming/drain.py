"""One reader and one drain for every stream op.

Structured Streaming runs a stream as a batch plan over a declared source
schema.  Every stream op here follows that shape:

- :func:`read_source` opens a committed stream-source dir (a
  ``scratch.derived`` artifact) with the schema stored beside its files
  (``catalog.write_schema``), so no op infers a schema before its stream;
- :func:`drain` runs the streamed frame to its end into a parquet sink and
  returns the sink read back with the frame's own schema;
- :func:`drain_each` is the start-and-wait under :func:`drain`, for the
  ops whose ``foreachBatch`` body is their own sink (a MERGE, a message
  bus publish, the docstore tails).  It is the only place in the package
  a stream query is started.

The trigger is ``processingTime="0 seconds"``, and the caller blocks in
``processAllAvailable()``, which returns once a trigger finds no new data
and no batch left to run (a watermark's closing batch included).  Not
``availableNow``: in Spark 4.1 it reads a Python source's
``latestOffset()`` once, before the first batch, and every later
``latestOffset(start, limit)`` returns that same offset, so a
rate-capped docstore tail (its cap lives in ``latestOffset``) would stop
after one batch.  Spark documents ``processAllAvailable`` as meant for
tests, since a source that never stops growing never lets it return;
every source here is a committed dir or a manifest, and the deadline
timer bounds the wait either way.  Offsets live only in the query's
checkpoint: a restarted query resumes from it with no seed from the
caller.

A drain must never return a half-drained sink.  At sf10 the
stream-stream interval join once outlived a bare 180 s wait: the second
micro-batch was still joining, the op read the sink early, and the
result silently lost half its matches (the r13 sweep caught it as a 2x
oracle rowcount).  A drain timeout is an ERROR, never a truncated answer.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from build_pipeline_with_apache_beam_spark.catalog import read_schema


def read_source(spark: SparkSession, path: str,
                files_per_trigger: int | None = None) -> DataFrame:
    """A file stream over the committed source dir ``path``, read with its
    stored schema; ``files_per_trigger`` caps each micro-batch at that
    many files (``maxFilesPerTrigger``)."""
    reader = spark.readStream.schema(read_schema(path))
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    return reader.parquet(path)


def drain_each(frame: DataFrame,
               on_batch: Callable[[DataFrame, int], None], ckpt_dir: str,
               mode: str = "append", timeout_sec: float = 1800.0) -> None:
    """Run streamed ``frame`` to the end of its source, handing each
    micro-batch to ``on_batch`` in output ``mode``.  A timer stops the
    query at ``timeout_sec`` and the drain then raises ``TimeoutError``;
    a failed query raises its error."""
    q = (frame.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", ckpt_dir)
         .outputMode(mode).trigger(processingTime="0 seconds").start())
    expired = threading.Event()

    def expire() -> None:
        expired.set()
        q.stop()

    timer = threading.Timer(timeout_sec, expire)
    timer.start()
    try:
        q.processAllAvailable()
    except Exception:
        if not expired.is_set():
            raise
    finally:
        timer.cancel()
        timer.join()
        q.stop()
    if expired.is_set():
        raise TimeoutError(
            f"streaming drain still running after {timeout_sec}s - "
            f"refusing to read a half-drained sink (lastProgress="
            f"{q.lastProgress and q.lastProgress.get('batchId')})")


def drain(frame: DataFrame, sink_dir: str, ckpt_dir: str,
          mode: str = "append") -> DataFrame:
    """:func:`drain_each` into a parquet sink at ``sink_dir``, read back
    with ``frame``'s schema.  Append and update modes append each batch;
    complete mode re-emits the whole result per batch, so each batch
    overwrites the sink and the last one is the answer."""
    write_mode = "overwrite" if mode == "complete" else "append"

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(sink_dir)

    drain_each(frame, sink_batch, ckpt_dir, mode)
    return frame.sparkSession.read.schema(frame.schema).parquet(sink_dir)
