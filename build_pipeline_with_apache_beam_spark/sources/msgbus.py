"""Message-bus round trip: a Kafka-client-shaped producer/consumer pair
backed by a local append-only file broker, plus the real-client seam.

Closes the last §2A modeling gap (R9/R10 — the reference's Pub/Sub
publish at /root/reference/retrieval.py:123-147 and the "Read from
pubsub" intent at normalization.py:154): the engine's ``foreachBatch`` /
``foreachPartition`` sinks previously proved the *pattern* (per-partition
client init, chunked sends, at-least-once under retry) without any
broker-API client in the loop.  This module supplies one:

- ``FileProducer`` / ``FileConsumer`` mirror the kafka-python surface the
  sink code touches (``send(topic, value=…, key=…)``, ``flush()``,
  ``close()``; consumer iteration yielding records with
  ``topic/partition/offset/key/value``) over a directory of per-partition
  log files.  Appends are ``fcntl``-locked, so concurrent executor tasks
  (threads or processes) interleave records without tearing — the same
  contract a broker gives.
- ``make_producer`` / ``make_consumer`` prefer the REAL ``kafka-python``
  client whenever the library is importable AND a bootstrap address is
  configured (``KAFKA_BOOTSTRAP`` env or explicit ``bootstrap=``); they
  fall back to the file broker otherwise, so the integration test runs
  the identical sink code on both transports and skips nothing in this
  container.

Scale notes: the producer is constructed once per PARTITION on the
executor (the reference's ``start_bundle`` amortization), values travel
as bytes, and partition assignment is a deterministic md5 of the key —
so a keyed topic preserves per-key order exactly like Kafka's default
partitioner, and the file offsets give the consumer-side idempotence
handle (topic, partition, offset) that at-least-once replay dedupes on.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Record:
    topic: str
    partition: int
    offset: int
    key: bytes | None
    value: bytes


def _partition_for(key: bytes | None, n_partitions: int) -> int:
    if key is None:
        # keyless records round-robin in Kafka; deterministic 0 keeps the
        # file broker reproducible (tests always key their sends)
        return 0
    return int.from_bytes(hashlib.md5(key).digest()[:4], "big") % n_partitions


class FileProducer:
    """kafka-python-shaped producer over per-partition log files."""

    def __init__(self, bus_dir: str, n_partitions: int = 4):
        self.bus_dir = bus_dir
        self.n_partitions = n_partitions

    def send(self, topic: str, value: bytes, key: bytes | None = None):
        import fcntl

        part = _partition_for(key, self.n_partitions)
        tdir = os.path.join(self.bus_dir, topic)
        os.makedirs(tdir, exist_ok=True)
        line = json.dumps({
            "k": base64.b64encode(key).decode() if key is not None else None,
            "v": base64.b64encode(value).decode(),
        })
        path = os.path.join(tdir, f"partition-{part}.log")
        with open(path, "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            fh.write(line + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        return (topic, part)

    def flush(self) -> None:  # appends are synchronous; API parity only
        pass

    def close(self) -> None:
        pass


class FileConsumer:
    """kafka-python-shaped consumer: iterate every record of a topic from
    the earliest offset (``auto_offset_reset='earliest'`` semantics)."""

    def __init__(self, bus_dir: str, topic: str):
        self.bus_dir = bus_dir
        self.topic = topic

    def __iter__(self):
        tdir = os.path.join(self.bus_dir, self.topic)
        if not os.path.isdir(tdir):
            return
        for fname in sorted(os.listdir(tdir)):
            if not fname.startswith("partition-"):
                continue
            part = int(fname.split("-", 1)[1].split(".", 1)[0])
            with open(os.path.join(tdir, fname)) as fh:
                for offset, line in enumerate(fh):
                    rec = json.loads(line)
                    yield Record(
                        topic=self.topic, partition=part, offset=offset,
                        key=(base64.b64decode(rec["k"])
                             if rec["k"] is not None else None),
                        value=base64.b64decode(rec["v"]))

    def close(self) -> None:
        pass


def real_client_available(bootstrap: str | None = None) -> bool:
    bootstrap = bootstrap or os.environ.get("KAFKA_BOOTSTRAP")
    if not bootstrap:
        return False
    try:
        import kafka  # noqa: F401
        return True
    except ImportError:
        return False


def make_producer(bus_dir: str, bootstrap: str | None = None,
                  n_partitions: int = 4):
    """Real KafkaProducer when the optional dep + address exist, else the
    file broker — same API either way, so sink code never branches."""
    bootstrap = bootstrap or os.environ.get("KAFKA_BOOTSTRAP")
    if real_client_available(bootstrap):
        from kafka import KafkaProducer

        return KafkaProducer(bootstrap_servers=bootstrap)
    return FileProducer(bus_dir, n_partitions)


def make_consumer(topic: str, bus_dir: str, bootstrap: str | None = None):
    bootstrap = bootstrap or os.environ.get("KAFKA_BOOTSTRAP")
    if real_client_available(bootstrap):
        from kafka import KafkaConsumer

        return KafkaConsumer(topic, bootstrap_servers=bootstrap,
                             auto_offset_reset="earliest",
                             consumer_timeout_ms=10_000)
    return FileConsumer(bus_dir, topic)


def publish_batch_to_bus(batch_df, topic: str, bus_dir: str,
                         fail_once_dir: str | None = None) -> None:
    """foreachBatch body: publish a micro-batch through the client API with
    per-partition producer init and chunked sends (R9,
    retrieval.py:123-147).  Rows must carry string columns ``key`` and
    ``payload``.

    ``fail_once_dir``: failure-injection seam — when set, the FIRST
    attempt of each Spark partition raises after sending half its chunk,
    so the task retries and re-sends (at-least-once: duplicates possible,
    loss impossible).  Production callers leave it None.
    """
    from build_pipeline_with_apache_beam_spark.sources.sinks import (
        publish_foreach_partition,
    )

    def _make_client():
        return make_producer(bus_dir)

    def _send(client, rows):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        inject = None
        if fail_once_dir is not None and ctx is not None:
            inject = os.path.join(fail_once_dir,
                                  f"p{ctx.partitionId()}.attempted")
        half = len(rows) // 2 if inject and not os.path.exists(inject) else None
        for i, r in enumerate(rows):
            if half is not None and i == half:
                os.makedirs(fail_once_dir, exist_ok=True)
                open(inject, "w").close()
                raise RuntimeError("injected transient send failure")
            client.send(topic, value=r["payload"].encode(),
                        key=r["key"].encode())
        client.flush()

    publish_foreach_partition(batch_df, _make_client, _send)


def stream_events_to_bus(spark, sf_dir: str, topic: str, bus_dir: str,
                         src_dir: str, ckpt_dir: str,
                         fail_once_dir: str | None = None) -> None:
    """REAL Structured Streaming publish: file source → drain →
    foreachBatch → client-API sends.  The streaming twin of the
    reference's bounded Pub/Sub pipeline (retrieval.py:229-249).
    ``src_dir`` is a stream-source dir with its schema stored
    (``windows._stage_events_source``)."""
    from build_pipeline_with_apache_beam_spark.streaming.drain import (
        drain_each,
        read_source,
    )

    keyed = read_source(spark, src_dir).selectExpr(
        "CAST(event_id AS STRING) AS key", "to_json(struct(*)) AS payload")

    def sink(batch_df, batch_id: int) -> None:
        publish_batch_to_bus(batch_df, topic, bus_dir,
                             fail_once_dir=fail_once_dir)

    drain_each(keyed, sink, ckpt_dir)
