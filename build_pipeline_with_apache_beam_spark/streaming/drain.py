"""One reader and one drain for the file-source stream ops.

Structured Streaming runs a stream as a batch plan over a declared source
schema.  Every file-source stream op here follows that shape in three
calls:

- :func:`read_source` opens a committed stream-source dir (a
  ``scratch.derived`` artifact) with the schema stored beside its files
  (``catalog.write_schema``), so no op infers a schema before its stream;
- :func:`drain` runs the streamed frame to its end into a parquet sink and
  returns the sink read back with the frame's own schema;
- :func:`drain_each` is the start-and-await under :func:`drain`, for the
  ops whose ``foreachBatch`` body is their own sink (a MERGE, a message
  bus publish).

A drain must never return a half-drained sink.  ``q.awaitTermination(N)``
returns False on timeout WITHOUT stopping the query, so a caller that then
reads the sink treats a partial run as complete.  At sf10 the
stream-stream interval join hit exactly this: the second micro-batch was
still joining at the 180 s mark, the op read the sink early, and the
result silently lost half its matches (the r13 sweep caught it as a 2x
oracle rowcount).  A drain timeout is an ERROR, never a truncated answer.
"""

from __future__ import annotations

import json
import os
import time
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
    """Run streamed ``frame`` to the end of its source: an ``availableNow``
    query that hands each micro-batch to ``on_batch`` in output ``mode``.
    If the query is still running at the deadline it is stopped and
    ``TimeoutError`` raised; a failed query raises its error."""
    q = (frame.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", ckpt_dir)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        q.awaitTermination(60)
        raise TimeoutError(
            f"streaming drain still running after {timeout_sec}s - "
            f"refusing to read a half-drained sink (lastProgress="
            f"{q.lastProgress and q.lastProgress.get('batchId')})")
    if q.exception() is not None:
        raise q.exception()


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


def committed_file_idx(ckpt_dir: str) -> int:
    """The docstore offset already committed in a streaming checkpoint
    (0 when the checkpoint is fresh or unreadable).

    Reads Spark's offset log — a stable, documented on-disk layout
    (``offsets/<batchId>`` written before the batch, ``commits/<batchId>``
    after) whose per-source offset line is OUR OWN json
    (``{"file_idx": N}``, DocStoreStreamReader).  Used only as the
    restart seed for the rate-capped tail; a wrong seed degrades to
    re-delivery, which the idempotent MERGE absorbs (at-least-once)."""
    commits = os.path.join(ckpt_dir, "commits")
    offsets = os.path.join(ckpt_dir, "offsets")
    try:
        done = max(int(f) for f in os.listdir(commits) if f.isdigit())
    except (OSError, ValueError):
        return 0
    try:
        with open(os.path.join(offsets, str(done))) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        return int(json.loads(lines[-1])["file_idx"])
    except (OSError, ValueError, KeyError, IndexError):
        return 0


def drain_to(q, ckpt_dir: str, target: int, timeout_sec: float) -> int:
    """Poll running query ``q`` until its checkpoint ``ckpt_dir`` has
    committed ``target`` docstore files or ``timeout_sec`` passes, then
    stop it; a failed query raises.  Returns the committed count, which
    the caller compares with what it needs."""
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if committed_file_idx(ckpt_dir) >= target:
                break
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(60)
    return committed_file_idx(ckpt_dir)
