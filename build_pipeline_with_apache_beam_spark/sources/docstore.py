"""Custom Python DataSource: a document-store scan with filter pushdown.

The reference's extraction source is a MongoDB range scan whose `createdAt`
predicate executes inside MongoDB, with the result materialized in the
driver (/root/reference/retrieval.py:62-86) — the pushdown is right, the
driver-side materialization is the scalability flaw.  This module rebuilds
that source at Spark's DataSource extension point (pyspark.sql.datasource,
the Python half of DSv2):

- a "collection" is a directory of JSONL files plus a manifest of per-file
  min/max timestamps (the moral equivalent of parquet footer stats, or of
  the reference's GCS listing filtered by `blob.time_created`,
  /root/reference/normalization.py:53-79);
- Spark calls ``pushFilters`` BEFORE ``partitions``: accepted ts-range
  filters prune whole files via the manifest (a metadata operation — no
  data touched), and surviving row-level filters are re-applied inside each
  partition read;
- each surviving file becomes one ``InputPartition``, so the scan is
  executor-parallel — nothing flows through the driver.

Reads are Arrow-batched (round-12): ``read()`` yields ``pyarrow.RecordBatch``
per file — the JSONL parse runs in Arrow's C++ reader and the pushed filters
apply vectorized via ``pyarrow.compute`` — so the Python DataSource hop moves
columnar blocks instead of one tuple per document.  At 100 TB the same
interface holds — only the manifest gets bigger (and would itself be
partitioned).
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyarrow import json as pa_json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from build_pipeline_with_apache_beam_spark.catalog import load_table
from build_pipeline_with_apache_beam_spark.sources.sinks import SCRATCH, source_tag

SCHEMA_DDL = ("event_id BIGINT, ts_micros BIGINT, user_id BIGINT, "
              "event_type STRING, value DOUBLE")
ARROW_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts_micros", pa.int64()),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
])
MANIFEST = "_manifest.json"
AUTH_FILE = "_auth"


def _load_file_arrow(path: str) -> pa.Table:
    """Parse one JSONL collection file into an Arrow table with the
    docstore schema (C++ ndjson reader — no per-row Python)."""
    if os.path.getsize(path) == 0:
        return ARROW_SCHEMA.empty_table()
    return pa_json.read_json(
        path,
        parse_options=pa_json.ParseOptions(
            explicit_schema=ARROW_SCHEMA,
            unexpected_field_behavior="ignore"))


def _check_auth(path: str, options) -> None:
    """A collection carrying an ``_auth`` marker requires the matching
    ``auth_token`` option.  The token reaches the reader ONLY via the
    connector-config layer (env/config-file/override — see
    connector_config.py); it never appears in operator code, closing the
    reference's hard-coded-credential anti-pattern (retrieval.py:172).
    The error message is deliberately token-free."""
    marker = os.path.join(path, AUTH_FILE)
    if not os.path.exists(marker):
        return
    with open(marker) as fh:
        expected = fh.read().strip()
    if options.get("auth_token", "") != expected:
        raise PermissionError(
            f"docstore collection {path!r} requires auth_token "
            f"(set SPARK_GRAFT_DOCSTORE_AUTH_TOKEN or pass auth_token)")


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _entry_files(m: dict) -> list[str]:
    """File names of one manifest entry.  Legacy entries carry one
    ``file``; multi-part appends (round-12) carry ``files`` — a batch
    written DISTRIBUTED lands as several part files under ONE entry, so
    streaming offsets (entry indices) are unchanged while the driver
    never concatenates bytes."""
    return m["files"] if "files" in m else [m["file"]]


class DocStoreReader(DataSourceReader):
    """Reads one JSONL collection; prunes files via manifest stats."""

    _COMPARABLE = (EqualTo, GreaterThan, GreaterThanOrEqual,
                   LessThan, LessThanOrEqual)

    def __init__(self, options):
        self.path = options["path"]
        self.options = options
        self.filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept simple comparisons (applied during the scan; ts ones also
        prune files).  Anything else is returned to Spark to evaluate."""
        for f in filters:
            if (isinstance(f, self._COMPARABLE)
                    and len(f.attribute) == 1):
                self.filters.append(f)
            else:
                yield f  # not pushed — Spark keeps this predicate

    def _ts_bounds(self) -> tuple[float, float]:
        lo, hi = float("-inf"), float("inf")
        for f in self.filters:
            if f.attribute[0] != "ts_micros":
                continue
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = max(lo, f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                hi = min(hi, f.value)
            elif isinstance(f, EqualTo):
                lo, hi = max(lo, f.value), min(hi, f.value)
        return lo, hi

    def partitions(self) -> list[_FilePartition]:
        _check_auth(self.path, self.options)
        with open(os.path.join(self.path, MANIFEST)) as fh:
            manifest = json.load(fh)
        lo, hi = self._ts_bounds()
        return [
            _FilePartition(os.path.join(self.path, f))
            for m in manifest
            if m["max_ts"] >= lo and m["min_ts"] <= hi
            for f in _entry_files(m)
        ]

    _PC_OPS = {
        EqualTo: pc.equal,
        GreaterThan: pc.greater,
        GreaterThanOrEqual: pc.greater_equal,
        LessThan: pc.less,
        LessThanOrEqual: pc.less_equal,
    }

    def _apply_filters(self, table: pa.Table) -> pa.Table:
        """Vectorized application of the accepted filters.  A null attribute
        never matches a comparison (the comparison kernel yields null and
        ``filter`` drops null selections) — same semantics the row-at-a-time
        matcher had before the Arrow rework."""
        for f in self.filters:
            mask = self._PC_OPS[type(f)](
                table.column(f.attribute[0]), pa.scalar(f.value))
            table = table.filter(mask)
        return table

    def read(self, partition: _FilePartition | None
             ) -> Iterator[pa.RecordBatch]:
        # PySpark substitutes one None partition when partitions() returns
        # none (every file pruned, or an empty manifest): no rows to read
        if partition is None:
            return
        # Arrow-batch yield (supported by the Python DataSource API): one
        # columnar parse + vectorized filter per file, no per-row Python
        yield from self._apply_filters(
            _load_file_arrow(partition.path)).to_batches()


class DocStoreStreamReader(DataSourceStreamReader):
    """Streaming tail of a docstore collection: offset = files consumed.

    The reference's stream is Pub/Sub (publish at retrieval.py:123-147,
    consume implied at normalization.py:154); this is the same at-least-once
    contract done the Structured Streaming way — offsets live in the query
    checkpoint (not a hand-rolled SQLite row), micro-batch = the files that
    arrived since the last committed offset, and reads happen on executors
    (``read(partition)``), never in the driver.  At scale the manifest is
    the queue: appends are atomic (write file, then append its stats), so a
    tailing query never sees a half-written file.
    """

    def __init__(self, options):
        self.path = options["path"]
        _check_auth(self.path, options)
        # rate limit: at most tail_cap NEW files per trigger (0 = drain all
        # available — the original single-batch tail).  The Python DSv2
        # API has no ReadLimit hook, so the cap lives in latestOffset: it
        # advances its own high-water mark by tail_cap per call.
        self.tail_cap = int(options.get("tail_cap", 0) or 0)
        # resume seed: a restarted query's committed offset (the caller
        # reads it from the checkpoint's offset log).  Without the seed a
        # capped latestOffset would restart below the committed offset and
        # re-deliver files — safe under the idempotent MERGE sink
        # (at-least-once), but wasteful.
        self._end = int(options.get("resume_from", 0) or 0)

    def _manifest(self) -> list[dict]:
        with open(os.path.join(self.path, MANIFEST)) as fh:
            return json.load(fh)

    def initialOffset(self) -> dict:
        return {"file_idx": 0}

    def latestOffset(self) -> dict:
        total = len(self._manifest())
        if not self.tail_cap:
            return {"file_idx": total}
        self._end = min(total, self._end + self.tail_cap)
        return {"file_idx": self._end}

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        # engine-recovered start offsets also advance the high-water mark
        # (round-10 advice): a restarted query that OMITS resume_from would
        # otherwise see capped end offsets below its committed start until
        # _end catches up (empty/regressing batch ranges) — the reader must
        # be correct without the caller's seed
        self._end = max(self._end, start["file_idx"])
        entries = self._manifest()[start["file_idx"]:end["file_idx"]]
        return [_FilePartition(os.path.join(self.path, f))
                for m in entries for f in _entry_files(m)]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        # fault-injection surface (tests/chaos runs): a `<file>.fail_once`
        # marker makes the FIRST task attempt die mid-read, after some rows
        # were already emitted — proving redelivery: Spark retries the
        # task, the micro-batch re-reads the file from the start, and the
        # sink sees at-least-once delivery (the R9 raise-to-retry contract,
        # /root/reference/retrieval.py:145-147, without a hand-rolled loop)
        from pyspark import TaskContext

        table = _load_file_arrow(partition.path)
        if (os.path.exists(partition.path + ".fail_once")
                and TaskContext.get().attemptNumber() == 0):
            # emit a partial batch FIRST, then die — the retry must prove
            # the already-emitted rows are not double-committed
            yield from table.slice(0, min(3, table.num_rows)).to_batches()
            raise RuntimeError(
                "injected transient read failure (fail_once marker)")
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the streaming checkpoint


class DocStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "docstore"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> DocStoreReader:
        return DocStoreReader(self.options)

    def streamReader(self, schema) -> DocStoreStreamReader:
        return DocStoreStreamReader(self.options)


def build_collection(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table as a JSONL collection + stats manifest.

    One file per event-day (the reference's lake layout, dt=-shaped), each
    with min/max ts recorded — built distributed, listed once.
    """
    root = os.path.join(SCRATCH, f"docstore_{source_tag(sf_dir)}")
    if os.path.exists(os.path.join(root, MANIFEST)):
        with open(os.path.join(root, MANIFEST)) as fh:
            existing = json.load(fh)
        if all("n" in m for m in existing):
            return root
        # stale pre-row-count manifest (round-13: count-from-manifest
        # needs per-entry row counts) — rebuild the collection once
        import shutil as _shutil

        _shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.unix_micros("ts")).alias("ts_micros"),
        "user_id", "event_type", "value",
        F.date_format("ts", "yyyy-MM-dd").alias("dt"),
    )
    staging = os.path.join(root, "_staging")
    ev.repartition("dt").write.mode("overwrite").partitionBy("dt").json(staging)
    # per-day ts stats computed DISTRIBUTED (the parquet-footer moral
    # equivalent) — the driver never parses a document; the flatten below
    # is a pure byte copy (round-12: the old per-line json.loads loop was
    # the last driver-side row scan in this source)
    stats = {r["dt"]: (r["lo"], r["hi"], r["n"])
             for r in ev.groupBy("dt")
             .agg(F.min("ts_micros").alias("lo"),
                  F.max("ts_micros").alias("hi"),
                  F.count(F.lit(1)).alias("n"))
             .collect()}  # driver-bounded: one row per day (manifest stats)
    manifest = []
    for dt_dir in sorted(os.listdir(staging)):
        if not dt_dir.startswith("dt="):
            continue
        day = dt_dir.split("=", 1)[1]
        out_name = f"{day}.jsonl"
        import shutil as _shutil

        with open(os.path.join(root, out_name), "wb") as out:
            for part in sorted(os.listdir(os.path.join(staging, dt_dir))):
                if not part.endswith(".json"):
                    continue
                with open(os.path.join(staging, dt_dir, part), "rb") as fh:
                    _shutil.copyfileobj(fh, out)
        lo, hi, n = stats[day]
        manifest.append({"file": out_name, "min_ts": lo, "max_ts": hi,
                         "n": n})
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    return root


def open_docstore(spark: SparkSession, sf_dir: str, stream: bool = False,
                  **overrides) -> DataFrame:
    """Config-injected entry point for the docstore connector: resolve
    options through the layered connector config (overrides > env
    SPARK_GRAFT_DOCSTORE_* > $SPARK_GRAFT_CONNECTOR_CONFIG profile file >
    defaults) and hand them to spark.read.format(...).options(...).  The
    only default is the collection path; credentials, if the collection
    requires them, must arrive through the config layers — never from code.
    """
    from build_pipeline_with_apache_beam_spark.sources.connector_config import (
        resolve_options,
    )

    spark.dataSource.register(DocStoreDataSource)
    # the built collection is only the DEFAULT path (lowest layer); an
    # explicit path= stays in overrides, so it wins over env/profile
    # config exactly as the documented precedence requires
    defaults = {"path": build_collection(spark, sf_dir)}
    opts = resolve_options("docstore", defaults=defaults, overrides=overrides)
    reader = spark.readStream if stream else spark.read
    return reader.format("docstore").options(**opts).load()


_TS_LO = "2024-01-08 00:00:00"
_TS_HI = "2024-01-14 23:59:59.999999"


def scan_docstore_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan through the custom source: the reference's R1 semantics
    (time-range predicate at the source) with file pruning + executor-side
    reads instead of a driver fetch."""
    lo = F.unix_micros(F.lit(_TS_LO).cast("timestamp"))
    hi = F.unix_micros(F.lit(_TS_HI).cast("timestamp"))
    return (
        open_docstore(spark, sf_dir)
        .where((F.col("ts_micros") >= lo) & (F.col("ts_micros") <= hi)
               & (F.col("event_type") == "purchase"))
        .select("event_id",
                F.timestamp_micros(F.col("ts_micros")).alias("ts"),
                "user_id", "event_type",
                F.round("value", 4).alias("value"))
    )


def count_documents(spark: SparkSession, root: str, lo_micros: int,
                    hi_micros: int, stats: dict | None = None) -> int:
    """COUNT(*) over a time window answered from MANIFEST ROW-COUNT STATS
    wherever possible — the reference's ``count_documents`` pre-scan
    (/root/reference/retrieval.py:88-95, a server-side count before the
    range fetch) done the lake-metadata way (round-12 verdict #7):

    - entries DISJOINT from the window contribute nothing (pruned);
    - entries FULLY INSIDE the window contribute their manifest ``n``
      without opening the file — zero bytes read, zero Spark jobs;
    - only BOUNDARY entries (window cuts through their [min_ts, max_ts])
      are opened, distributed, with the vectorized Arrow parse + filter.

    Why this is a connector API and not a pushed-down ``COUNT(*)``: the
    Python DataSource API (pyspark.sql.datasource) exposes
    ``pushFilters`` but no aggregate-pushdown hook (JVM DSv2's
    SupportsPushDownAggregates has no Python binding as of Spark 4.1),
    so ``spark.read.format("docstore")...count()`` must materialize rows.
    Same shape as MongoDB drivers: ``count_documents`` is its own call.

    Returns the exact count (a scalar — this IS a count API).  ``stats``,
    if given, receives the pruning classification {n_entries, n_pruned,
    n_manifest_only, n_opened} for plan assertions.
    """
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    covered = 0
    boundary: list[str] = []
    n_pruned = n_manifest_only = 0
    for m in manifest:
        if m["max_ts"] < lo_micros or m["min_ts"] > hi_micros:
            n_pruned += 1
        elif (m["min_ts"] >= lo_micros and m["max_ts"] <= hi_micros
              and "n" in m):
            covered += m["n"]
            n_manifest_only += 1
        else:
            boundary.extend(os.path.join(root, f)
                            for f in _entry_files(m))
    if stats is not None:
        stats.update(n_entries=len(manifest), n_pruned=n_pruned,
                     n_manifest_only=n_manifest_only,
                     n_opened=len(boundary))
    if not boundary:
        return covered
    # boundary files: bounded driver-side metadata (a tiny path list via
    # SQL VALUES — never a Python-RDD build side), counted on executors
    # with the same Arrow kernel the reader uses
    vals = ", ".join("('" + p.replace("'", "''") + "')" for p in boundary)
    paths_df = spark.sql(f"SELECT col1 AS path FROM (VALUES {vals})")

    def _count(batches):
        import pandas as pd
        for b in batches:
            for p in b["path"]:
                t = _load_file_arrow(p)
                mask = pc.and_(
                    pc.greater_equal(t.column("ts_micros"),
                                     pa.scalar(lo_micros)),
                    pc.less_equal(t.column("ts_micros"),
                                  pa.scalar(hi_micros)))
                yield pd.DataFrame({"n": [t.filter(mask).num_rows]})

    row = (paths_df.repartition(len(boundary))
           .mapInPandas(_count, "n BIGINT")
           .agg(F.sum("n").alias("n"))
           .collect()[0])  # driver-bounded: ONE scalar (this is a count)
    return covered + int(row["n"] or 0)


# count window cuts MID-DAY through two daily files: days 9–13 are fully
# covered (answered from manifest n, zero bytes), days 8 and 14 are
# boundary (opened), everything else pruned — all three classifications
# exercised by the one oracle
_CNT_LO = "2024-01-08 12:00:00"
_CNT_HI = "2024-01-14 11:59:59.999999"


def scan_docstore_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-from-manifest surface as a registered op: window count
    plus the pruning classification (how many files were answered from
    metadata vs opened), all recomputable by the oracle from per-day
    min/max/count aggregates — so the CLASSIFICATION itself is
    value-checked, not just the count."""
    from datetime import datetime, timezone

    root = build_collection(spark, sf_dir)

    def _micros(s: str) -> int:
        dt = datetime.fromisoformat(s).replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)

    stats: dict = {}
    n = count_documents(spark, root, _micros(_CNT_LO), _micros(_CNT_HI),
                        stats=stats)
    return spark.sql(f"""
        SELECT CAST({n} AS BIGINT) AS n_docs,
               CAST({stats['n_manifest_only']} AS BIGINT)
                   AS n_files_manifest_only,
               CAST({stats['n_opened']} AS BIGINT) AS n_files_opened,
               CAST({stats['n_pruned']} AS BIGINT) AS n_files_pruned
    """)


def stream_docstore_tail(spark: SparkSession, sf_dir: str,
                         trigger_files: int | None = None) -> DataFrame:
    """REAL streaming run through the custom stream reader: docstore tail →
    per-batch aggregate → parquet sink, then re-read.  By default one
    trigger drains the whole collection (offsets 0 → latest); with the
    files-per-trigger knob set (``trigger_files`` arg >
    ``SPARK_GRAFT_TRIGGER_FILES`` env, round-12 verdict #5) the drain is
    rate-capped into multiple micro-batches — the streaming aggregate's
    ``complete`` output mode carries state across batches, so the final
    sink equals a batch GROUP BY over events at ANY trigger size — which
    is the DuckDB oracle."""
    import shutil
    import time

    from build_pipeline_with_apache_beam_spark.plans.etl import (
        _committed_file_idx,
        resolve_trigger_files,
    )

    spark.dataSource.register(DocStoreDataSource)
    root = build_collection(spark, sf_dir)
    with open(os.path.join(root, MANIFEST)) as fh:
        total_files = len(json.load(fh))
    cap = resolve_trigger_files(trigger_files, total_files,
                                default_batches=1)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    sink_dir = os.path.join(SCRATCH, f"docstream_sink_{sf_tag}")
    ckpt_dir = os.path.join(SCRATCH, f"docstream_ckpt_{sf_tag}")
    for d in (sink_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)

    stream = open_docstore(spark, sf_dir, stream=True, path=root,
                           tail_cap=str(cap if cap < total_files else 0))
    agg = (stream.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value")))

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(sink_dir)

    if cap >= total_files:
        # uncapped: the original single-batch drain
        q = (agg.writeStream.foreachBatch(sink_batch)
             .option("checkpointLocation", ckpt_dir)
             .outputMode("complete")
             .trigger(availableNow=True).start())
        from build_pipeline_with_apache_beam_spark.streaming.drain import (
            await_drained,
        )

        await_drained(q)
    else:
        # capped: continuous micro-batches until the checkpoint has
        # committed every manifest entry (same drain loop the composed
        # streaming ETL uses), then stop
        q = (agg.writeStream.foreachBatch(sink_batch)
             .option("checkpointLocation", ckpt_dir)
             .outputMode("complete")
             .trigger(processingTime="0 seconds").start())
        deadline = time.time() + max(180.0, 1.0 * total_files)
        try:
            while time.time() < deadline:
                if q.exception() is not None:
                    raise q.exception()
                if _committed_file_idx(ckpt_dir) >= total_files:
                    break
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination(60)
        # A timeout must be an error, never a truncated answer (the same
        # contract await_drained enforces): if the deadline expired before
        # every manifest entry was committed, the sink holds a HALF-DRAINED
        # aggregate — raise instead of returning it.
        committed = _committed_file_idx(ckpt_dir)
        if committed < total_files:
            raise TimeoutError(
                f"stream_docstore_tail drain incomplete: committed "
                f"{committed}/{total_files} manifest entries before the "
                f"deadline — refusing to return a half-drained sink")
    return spark.read.parquet(sink_dir)


def _reclaim_stale_batch_claim(root: str, name: str, sentinel: str) -> bool:
    """True iff a crashed appender's claim on ``name`` was safely taken over.

    A sentinel is STALE only when (a) it records a claimant pid whose HOST
    is this one (``os.kill(pid, 0)`` is host-local — with the collection
    root on shared storage a live appender on another host must never be
    judged dead; ADVICE r14) and that process is dead, and (b) the batch
    never committed — no manifest entry names it.  Both checks (and the
    takeover itself) run under the manifest lock, so two concurrent retries
    cannot both reclaim: the loser re-reads the sentinel after the winner
    rewrote its claim and sees a live claimant.  Orphan data files a crash
    left behind (linked but never committed — invisible to readers, who
    only discover files via the manifest) are removed so the retry
    republishes from scratch.  A legacy zero-byte sentinel carries no pid
    and is never reclaimed; a bare-pid sentinel (pre-r15 format) is
    treated as host-local.
    """
    import socket
    import time

    lock = os.path.join(root, ".manifest.lock")
    for _ in range(50):
        try:
            lock_fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            time.sleep(0.1)
    else:
        return False
    try:
        try:
            with open(sentinel) as fh:
                claim_txt = fh.read().strip()
        except OSError:
            return False
        host, _, pid_txt = claim_txt.rpartition(":")
        if host and host != socket.gethostname():
            return False  # claimant lives on another host — not checkable
        if not pid_txt.isdigit():
            return False  # legacy claim with no owner recorded
        try:
            os.kill(int(pid_txt), 0)
            return False  # claimant alive — genuine duplicate/concurrent
        except ProcessLookupError:
            pass
        except PermissionError:
            return False  # alive under another uid
        try:
            with open(os.path.join(root, MANIFEST)) as fh:
                manifest = json.load(fh)
        except OSError:
            return False  # no manifest yet — nothing safe to decide from
        published = {f for m in manifest for f in _entry_files(m)}
        mine = [f for f in os.listdir(root)
                if f == f"{name}.jsonl" or (
                    f.startswith(f"{name}-p") and f.endswith(".jsonl"))]
        if any(f in published for f in mine):
            return False  # batch actually committed — name is taken
        for f in mine:  # crash debris: linked but never committed
            try:
                os.unlink(os.path.join(root, f))
            except OSError:
                pass
        with open(sentinel, "w") as fh:  # take over the claim
            fh.write(f"{socket.gethostname()}:{os.getpid()}")
        return True
    finally:
        os.close(lock_fd)
        os.unlink(lock)


def append_batch(spark: SparkSession, root: str, df: DataFrame,
                 name: str) -> dict | None:
    """The docstore WRITE path: append a batch as ONE manifest entry plus
    an atomic manifest update — the producer side of the streaming tail.

    Protocol (matches the reader's assumptions exactly):
    1. the batch is written DISTRIBUTED to a staging dir (executors do
       the JSON encoding) and its stats are computed FROM THE STAGED
       BYTES (``spark.read.json(staging).agg(...)``) — one write of the
       input, so a non-deterministic source (LIMIT without ORDER BY,
       ``sample()``, a table that changes between jobs) cannot produce a
       manifest whose ts bounds disagree with the file contents
       (round-13: the old order aggregated the input then re-executed it
       for the write).  The staged part files are then hard-linked to
       their final batch-namespaced names — NO byte ever moves through
       the driver.  A multi-part batch stays multiple files under ONE
       manifest entry (``files``), so the streaming offset — an ENTRY
       index — is unchanged and a batch still commits atomically;
       single-part batches keep the legacy ``file`` shape;
    2. batch-name uniqueness is claimed ATOMICALLY by ``O_EXCL``-creating
       a zero-byte ``.{name}.claimed`` sentinel before any part link —
       two concurrent appenders re-using one name cannot both publish
       even when their partition counts differ (the per-shape
       ``os.link`` create-if-absent only catches same-shape collisions);
       the sentinel stays behind as the durable claim;
    3. the manifest is republished via write-tmp + ``os.replace`` (atomic
       on POSIX), with the new entry APPENDED — appends never reorder
       committed history, and files are invisible until their entry
       lands (readers only discover files through the manifest);
    4. an ``O_EXCL`` lock file serializes concurrent appenders (writers
       retry briefly); crash mid-append leaves either no new entry (the
       data files are unreferenced garbage) or the full entry — never a
       half-visible batch.

    Returns the appended manifest entry.  At scale this is exactly a
    log-structured store commit: distributed data write, one tiny
    driver-side metadata hop.
    """
    import shutil
    import socket
    import time
    import uuid

    batch = df.select("event_id", "ts_micros", "user_id", "event_type",
                      "value")
    staging = os.path.join(root, f"_append_{uuid.uuid4().hex}")
    batch.write.mode("overwrite").json(staging)
    parts = sorted(p for p in os.listdir(staging)
                   if p.endswith(".json") and os.path.getsize(
                       os.path.join(staging, p)) > 0)
    if not parts:
        # empty batch: nothing to publish (and no Infinity stats that
        # would break strict-JSON consumers of the manifest)
        shutil.rmtree(staging, ignore_errors=True)
        return None
    # stats from the ACTUAL written bytes — the manifest can never
    # disagree with the data a reader will parse
    agg = (spark.read.schema(batch.schema).json(staging)
           .agg(F.min("ts_micros").alias("lo"),
                F.max("ts_micros").alias("hi"),
                F.count(F.lit(1)).alias("n"))
           .collect()[0])  # driver-bounded: ONE stats row
    lo, hi, n_rows = agg["lo"], agg["hi"], agg["n"]

    # claim the batch name atomically (shape-independent): O_EXCL create
    # of a sentinel carrying the claimant's pid — first appender wins,
    # everyone else fails before any visible state changes.  The pid makes
    # a CRASHED claim recoverable: a sentinel whose owner is dead and whose
    # batch never reached the manifest is stale, and an at-least-once
    # producer retrying the same batch name (the natural idempotence key)
    # reclaims it under the manifest lock instead of erroring forever.
    sentinel = os.path.join(root, f".{name}.claimed")
    try:
        fd = os.open(sentinel, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        # hostname:pid (ADVICE r14): liveness is only checkable host-locally,
        # so a reclaimer on another host must refuse rather than steal
        os.write(fd, f"{socket.gethostname()}:{os.getpid()}".encode())
        os.close(fd)
    except FileExistsError:
        if not _reclaim_stale_batch_claim(root, name, sentinel):
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"batch name {name!r} already exists in {root} — batch "
                f"names must be unique (a committed file is never "
                f"rewritten)")
    # legacy guard: collection files created outside append_batch (the
    # fixture copy path) carry no sentinel — still refuse to shadow them
    if (os.path.exists(os.path.join(root, f"{name}.jsonl"))
            or os.path.exists(os.path.join(root, f"{name}-p0000.jsonl"))):
        os.unlink(sentinel)
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"batch name {name!r} already exists in {root} — batch names "
            f"must be unique (a committed file is never rewritten)")

    # publish each staged part with an atomic create-if-absent link: a
    # committed batch file can NEVER be truncated or overwritten
    names = ([f"{name}.jsonl"] if len(parts) == 1
             else [f"{name}-p{i:04d}.jsonl" for i in range(len(parts))])
    linked = []
    try:
        for part, out_name in zip(parts, names):
            os.link(os.path.join(staging, part),
                    os.path.join(root, out_name))
            linked.append(out_name)
    except FileExistsError:
        for out_name in linked:  # roll back THIS batch's links only
            os.unlink(os.path.join(root, out_name))
        os.unlink(sentinel)
        raise ValueError(
            f"batch name {name!r} already exists in {root} — batch names "
            f"must be unique (a committed file is never rewritten)")
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    entry = {"min_ts": lo, "max_ts": hi, "n": int(n_rows)}
    if len(names) == 1:
        entry["file"] = names[0]
    else:
        entry["files"] = names
    lock = os.path.join(root, ".manifest.lock")
    for _ in range(50):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            time.sleep(0.1)
    else:
        raise TimeoutError(f"could not lock manifest under {root}")
    try:
        with open(os.path.join(root, MANIFEST)) as fh:
            manifest = json.load(fh)
        manifest.append(entry)
        tmp = os.path.join(root, f".manifest.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(root, MANIFEST))
    finally:
        os.close(fd)
        os.unlink(lock)
    return entry


def sink_docstore_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the docstore WRITE path: copy the collection,
    append a late-arriving batch (the top-200 event_ids re-keyed above the
    existing range) via append_batch, then re-read EVERYTHING through the
    docstore source and aggregate — the oracle is the same aggregate over
    original ∪ appended in SQL, so the append is verified lossless and
    immediately visible to readers."""
    import shutil

    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.sources.sinks import (
        SCRATCH,
        source_tag,
    )

    spark.dataSource.register(DocStoreDataSource)
    src = build_collection(spark, sf_dir)
    root = os.path.join(SCRATCH, f"docstore_append_{source_tag(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(src, root)

    ev = load_table(spark, sf_dir, "events")
    late = (ev.orderBy(F.col("event_id").desc()).limit(200)
            .select((F.col("event_id") + 10_000_000).alias("event_id"),
                    F.unix_micros("ts").alias("ts_micros"),
                    "user_id", "event_type", "value"))
    append_batch(spark, root, late, name="late-batch")

    back = spark.read.format("docstore").option("path", root).load()
    return (back.groupBy("event_type")
            # decimal sum: engine-exact at any scale (values are exact 4dp)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
                 .cast("double").alias("total_value"))
            .orderBy("event_type"))


QUERIES = {
    "scan_docstore_pushdown": scan_docstore_pushdown,
    "scan_docstore_count_pushdown": scan_docstore_count_pushdown,
    "stream_docstore_tail": stream_docstore_tail,
    "sink_docstore_append": sink_docstore_append,
}

ORACLE = {
    # recomputes the count AND the pruning classification from per-day
    # min/max/count aggregates — the same stats the manifest holds
    "scan_docstore_count_pushdown": f"""
        WITH day_stats AS (
            SELECT date_trunc('day', ts) AS d, MIN(ts) AS lo,
                   MAX(ts) AS hi, COUNT(*) AS n
            FROM events GROUP BY 1
        )
        SELECT
            (SELECT COUNT(*) FROM events
             WHERE ts >= TIMESTAMP '{_CNT_LO}'
               AND ts <= TIMESTAMP '{_CNT_HI}') AS n_docs,
            COUNT(*) FILTER (WHERE lo >= TIMESTAMP '{_CNT_LO}'
                             AND hi <= TIMESTAMP '{_CNT_HI}')
                AS n_files_manifest_only,
            COUNT(*) FILTER (
                WHERE NOT (hi < TIMESTAMP '{_CNT_LO}'
                           OR lo > TIMESTAMP '{_CNT_HI}')
                  AND NOT (lo >= TIMESTAMP '{_CNT_LO}'
                           AND hi <= TIMESTAMP '{_CNT_HI}'))
                AS n_files_opened,
            COUNT(*) FILTER (WHERE hi < TIMESTAMP '{_CNT_LO}'
                             OR lo > TIMESTAMP '{_CNT_HI}')
                AS n_files_pruned
        FROM day_stats
    """,
    "scan_docstore_pushdown": f"""
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events
        WHERE ts >= TIMESTAMP '{_TS_LO}' AND ts <= TIMESTAMP '{_TS_HI}'
          AND event_type = 'purchase'
    """,
    "sink_docstore_append": """
        WITH late AS (
            SELECT event_type, value FROM events
            ORDER BY event_id DESC LIMIT 200
        ), unioned AS (
            SELECT event_type, value FROM events
            UNION ALL SELECT event_type, value FROM late
        )
        SELECT event_type, COUNT(1) AS n_events,
               CAST(ROUND(SUM(value::DECIMAL(18,4)), 4) AS DOUBLE)
                   AS total_value
        FROM unioned
        GROUP BY event_type
        ORDER BY event_type
    """,
    "stream_docstore_tail": """
        SELECT event_type, COUNT(1) AS n_events,
               ROUND(SUM(value), 4) AS total_value
        FROM events GROUP BY event_type
    """,
}
