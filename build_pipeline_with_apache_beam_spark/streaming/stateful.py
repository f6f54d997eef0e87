"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's only state is a single SQLite watermark row
(/root/reference/retrieval.py:30-60) — per-key state does not exist.  This
module adds the Structured Streaming extension point for it: arbitrary
per-group state (running aggregates here; sessionization, CDC merge, or
online dedup counters in production) maintained by the state store across
micro-batches, with Arrow-batched Python doing only the per-group update.

Every op here streams a committed source dir through the one reader and
drain of ``streaming/drain.py``: ``read_source`` opens the events replay
(``windows._events_source``) or the two-file upsert feed with the schema
stored beside its files, and ``drain`` (or, for the upsert's own MERGE
sink, ``drain_each``) runs the query to the end of its source, loudly on
timeout.  No op infers a schema on a warm call.

Scale notes: state lives partitioned by grouping key in the executor state
stores (RocksDB-backed on a real cluster), so per-key state scales out with
the cluster; a production op sets a timeout (``GroupStateTimeout``) or
watermark to bound state for keys that go quiet — unbounded key cardinality
with no expiry is the 100 TB failure mode.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from build_pipeline_with_apache_beam_spark.catalog import (
    load_table,
    read_schema,
    write_schema,
)
from build_pipeline_with_apache_beam_spark.scratch import derived, run_dir
from build_pipeline_with_apache_beam_spark.session import scoped_conf
from build_pipeline_with_apache_beam_spark.streaming.drain import (
    drain,
    drain_each,
    read_source,
)
from build_pipeline_with_apache_beam_spark.streaming.windows import (
    _events_source,
    _state_partitions,
)

OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"
STATE_SCHEMA = "n BIGINT, total DOUBLE"


def _update_user_state(key: tuple,
                       pdfs: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into running (n, total).

    Emits the updated running aggregate once per (group, batch) — the
    streaming-native version of an incrementally-maintained GROUP BY.
    """
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [round(total, 4)]})


def stateful_user_agg(stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum) with explicit per-group state."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the stateful operator: file source →
    applyInPandasWithState → foreachBatch sink → re-read.

    The single-file source yields one micro-batch, so each
    user's final emitted state equals the batch GROUP BY — which is exactly
    the DuckDB oracle.  (With more batches the sink would hold one row per
    (user, batch); the last one still matches — production would upsert.)
    """
    stream = read_source(spark, _events_source(sf_dir)).select(
        "user_id", "value")
    with _state_partitions(spark):
        return drain(stateful_user_agg(stream), run_dir(sf_dir, "state_sink"),
                     run_dir(sf_dir, "state_ckpt"), "update")


def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming run of the Spark-4 ``transformWithStateInPandas`` API
    (the successor to applyInPandasWithState): a ``StatefulProcessor`` with a
    typed ValueState per user, RocksDB state store, one drain.

    Same per-user running (count, sum) semantics as
    stream_stateful_user_agg, so the single-batch final state equals the
    batch GROUP BY — the DuckDB oracle.  The new API adds what production
    state needs at scale: typed state variables (value/list/map), timers,
    and TTL, all per-key in the executor state stores.

    Environment gate: the transformWithState Python runner needs protobuf
    (its driver↔worker state protocol); where the module is absent this op
    degrades to the applyInPandasWithState implementation — same semantics,
    same oracle — rather than failing the pipeline.
    """
    import importlib.util
    from typing import Iterator as It

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        return q_stream_stateful_user_agg(spark, sf_dir)

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> It[pd.DataFrame]:
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "total_value": [round(total, 4)]})

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store provider
    with scoped_conf(
            spark, "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"), _state_partitions(spark):
        out = (read_source(spark, _events_source(sf_dir))
               .select("user_id", "value")
               .groupBy("user_id").transformWithStateInPandas(
                   statefulProcessor=UserAgg(),
                   outputStructType=OUTPUT_SCHEMA,
                   outputMode="Update",
                   timeMode="None",
               ))
        return drain(out, run_dir(sf_dir, "tws_sink"),
                     run_dir(sf_dir, "tws_ckpt"), "update")


def q_stream_upsert_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: each micro-batch MERGEs into a keyed lake state
    (read-modify-overwrite parquet — the foreachBatch upsert pattern that
    Delta/Iceberg MERGE INTO formalizes).

    The source delivers events in two micro-batches (maxFilesPerTrigger=1,
    one file per event parity so updates for the same user arrive in
    both batches); each batch keeps the latest event per user by (ts,
    event_id) and merges it against the existing state with the same
    keep-newest rule.  Final state = latest event per user — the arg_max
    GROUP BY oracle.  At scale the overwrite becomes a partition-scoped
    MERGE on a table format; the batch-side plan is identical.
    """
    from pyspark.sql import functions as F

    def write_batches(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value")
        for parity in (0, 1):
            (ev.where(F.col("event_id") % 2 == parity)
             .coalesce(1)  # fixture-only
             .write.mode("append").parquet(path))
        write_schema(path, ev.schema)

    src_dir = derived(sf_dir, "upsert_src", write_batches)
    state_dir = run_dir(sf_dir, "upsert_state")
    schema = read_schema(src_dir)

    from pyspark.sql.window import Window as W

    def _keep_newest(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (df.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1).drop("rn"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _keep_newest(batch_df)
        target = os.path.join(state_dir, "current")
        if os.path.exists(target):
            existing = batch_df.sparkSession.read.schema(schema).parquet(
                target)
            merged = _keep_newest(existing.unionByName(latest))
        else:
            merged = latest
        # version-and-swap: write the new state, atomically replace current
        tmp = os.path.join(state_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        old = os.path.join(state_dir, f"old{batch_id}")
        if os.path.exists(target):
            os.rename(target, old)
        os.rename(tmp, target)
        shutil.rmtree(old, ignore_errors=True)

    drain_each(read_source(spark, src_dir, 1), merge_batch,
               run_dir(sf_dir, "upsert_ckpt"))
    out = spark.read.schema(schema).parquet(os.path.join(state_dir, "current"))
    return out.select("user_id", "event_id", "ts", "event_type",
                      F.round("value", 4).alias("value")).orderBy("user_id")


QUERIES = {
    "stream_stateful_user_agg": q_stream_stateful_user_agg,
    "stream_transform_with_state": q_stream_transform_with_state,
    "stream_upsert_foreach_batch": q_stream_upsert_foreach_batch,
}

ORACLE = {
    "stream_stateful_user_agg": """
        SELECT user_id, COUNT(1) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY user_id
    """,
    "stream_transform_with_state": """
        SELECT user_id, COUNT(1) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY user_id
    """,
    "stream_upsert_foreach_batch": """
        SELECT user_id,
               ARG_MAX(event_id, ts) AS event_id,
               MAX(ts) AS ts,
               ARG_MAX(event_type, ts) AS event_type,
               ROUND(ARG_MAX(value, ts), 4) AS value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
}
