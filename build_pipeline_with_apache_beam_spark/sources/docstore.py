"""Document-store connector: a JSONL collection plus a stats manifest.

The reference's extraction source is a MongoDB range scan whose `createdAt`
predicate executes inside MongoDB, with the result materialized in the
driver (reference ``retrieval.py:62-86``) — the server-side filter is
right, the driver-side materialization is the scalability flaw.  Here:

- a "collection" is a directory of JSONL files plus a manifest of per-file
  min/max timestamps and row counts (the moral equivalent of parquet footer
  stats, or of the reference's GCS listing filtered by
  ``blob.time_created``, reference ``normalization.py:53-79``);
- **batch reads** (:func:`open_docstore`) are Spark's built-in JSON source
  over the files the manifest keeps: the driver prunes every entry whose
  [min_ts, max_ts] misses the query window (metadata only, zero Spark
  jobs), and the row-level window filter runs inside the JVM scan.  No
  Python process is started, which is most of what a small read used to
  cost.  ``FAILFAST`` makes a malformed line fail the read instead of
  becoming an all-null row that an unwindowed read would count;
- :func:`count_documents` answers fully covered entries from the
  manifest's row counts and reads only the boundary files;
- **stream reads** go through a Python DataSource (pyspark.sql.datasource):
  the tail's offsets are manifest entry indices — an ordered commit log —
  which Spark's file stream source (it tracks the files a directory
  listing has shown) has no equivalent for.  Its reader parses each file
  with Arrow's C++ JSON reader.  Every tail runs through
  ``streaming/drain.drain_each``, and its offsets live only in the query
  checkpoint, from which Spark restores them on a restart.

At 100 TB the same interface holds — only the manifest gets bigger (and
would itself be partitioned).
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timedelta, timezone
from typing import Iterator
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyarrow import json as pa_json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from build_pipeline_with_apache_beam_spark.catalog import load_table
from build_pipeline_with_apache_beam_spark.functions import sqlgen
from build_pipeline_with_apache_beam_spark.scratch import derived, run_dir
from build_pipeline_with_apache_beam_spark.streaming.drain import drain_each

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
# Spark's JSON writer quotes non-finite doubles; its reader maps them back
_NON_FINITE = {"NaN": math.nan, "Infinity": math.inf,
               "-Infinity": -math.inf}


def _load_file_arrow(path: str) -> pa.Table:
    """Parse one JSONL collection file into an Arrow table with the
    docstore schema (C++ ndjson reader — no per-row Python).

    A batch holding NaN or ±Inf was written by Spark as ``"NaN"`` /
    ``"Infinity"`` strings, which Arrow's typed parser rejects in a number
    column; only then is the file parsed line by line, reading the quoted
    tokens back as Spark's JSON reader does, so the stream sees the rows a
    batch read sees.  Any other bad line still raises."""
    if os.path.getsize(path) == 0:
        return ARROW_SCHEMA.empty_table()
    try:
        return pa_json.read_json(
            path,
            parse_options=pa_json.ParseOptions(
                explicit_schema=ARROW_SCHEMA,
                unexpected_field_behavior="ignore"))
    except pa.ArrowInvalid:
        with open(path) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        for r in rows:
            if isinstance(r.get("value"), str):
                r["value"] = _NON_FINITE[r["value"]]
        return pa.Table.from_pylist(rows, schema=ARROW_SCHEMA)


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


def _classify_entries(root: str, window: tuple[int, int] | None
                      ) -> tuple[list[dict], list[dict], list[dict]]:
    """The one manifest walk: split the entries of ``root`` into those
    disjoint from the inclusive ``window`` (pruned), those inside it with a
    row count (covered: the count is known without opening the file), and
    the rest (boundary: the window cuts their [min_ts, max_ts], or the
    entry has no count).  ``window=None`` prunes nothing."""
    with open(os.path.join(root, MANIFEST)) as fh:
        manifest = json.load(fh)
    lo, hi = window if window is not None else (-math.inf, math.inf)
    pruned, covered, boundary = [], [], []
    for m in manifest:
        if m["max_ts"] < lo or m["min_ts"] > hi:
            pruned.append(m)
        elif m["min_ts"] >= lo and m["max_ts"] <= hi and "n" in m:
            covered.append(m)
        else:
            boundary.append(m)
    return pruned, covered, boundary


def _read_files(spark: SparkSession, root: str, entries: list[dict],
                window: tuple[int, int] | None) -> DataFrame:
    """Spark's native JSON read of the entries' files, rows kept to the
    inclusive ``window``.  The schema is given, so no inference job runs;
    ``FAILFAST`` raises on a malformed line as the Arrow reader does."""
    files = [os.path.join(root, f) for m in entries for f in _entry_files(m)]
    df = (spark.read.schema(SCHEMA_DDL).option("mode", "FAILFAST")
          .json(files))
    if window is None:
        return df
    return df.where(F.col("ts_micros").between(*window))


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

    The ``tail_cap`` option caps the files per trigger.  A restarted query
    resumes at its checkpoint's offset with no seed from the caller:
    Spark restores the offset into the reader (see :meth:`partitions`).
    """

    def __init__(self, options):
        self.path = options["path"]
        _check_auth(self.path, options)
        # rate limit: at most tail_cap NEW files per trigger (0 = drain all
        # available in one batch).  The Python DSv2 API has no ReadLimit
        # hook, so the cap lives in latestOffset: it advances its own
        # high-water mark by tail_cap per call.
        self.tail_cap = int(options.get("tail_cap", 0) or 0)
        self._end = 0

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
        # a restarted query hands the reader its recovered offsets here
        # (Spark's setLatestSeenOffset calls partitions(latest, latest)),
        # so the high-water mark resumes from the checkpoint and a capped
        # latestOffset never falls below the committed start
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

    def streamReader(self, schema) -> DocStoreStreamReader:
        return DocStoreStreamReader(self.options)


def build_collection(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table as a JSONL collection + stats manifest.

    One file per event-day (the reference's lake layout, dt=-shaped), each
    with min/max ts recorded — built distributed, listed once, and
    committed as a derived artifact, so every process reuses it.
    """
    return derived(sf_dir, "docstore", lambda root: _write_collection(
        spark, sf_dir, root))


def _write_collection(spark: SparkSession, sf_dir: str, root: str) -> None:
    import shutil

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
        with open(os.path.join(root, out_name), "wb") as out:
            for part in sorted(os.listdir(os.path.join(staging, dt_dir))):
                if not part.endswith(".json"):
                    continue
                with open(os.path.join(staging, dt_dir, part), "rb") as fh:
                    shutil.copyfileobj(fh, out)
        lo, hi, n = stats[day]
        manifest.append({"file": out_name, "min_ts": lo, "max_ts": hi,
                         "n": n})
    # the day files hold every byte; the Spark output is a second copy
    shutil.rmtree(staging)
    with open(os.path.join(root, MANIFEST), "w") as fh:
        json.dump(manifest, fh)


def _register_stream_source(spark: SparkSession) -> None:
    """Register the stream source with ``spark`` unless its session already
    holds it: every re-registration logs "replaced a previously registered
    data source".

    Each session of an application has its own data-source manager, but
    ``registerPython`` checks for a name clash in the application's ACTIVE
    session.  A second session (``spark.newSession()``) would therefore
    fail with ``DATA_SOURCE_ALREADY_EXISTS`` after the first registered,
    so the registration runs with ``spark`` made active for its duration."""
    jspark = spark._jsparkSession
    if jspark.sessionState().dataSourceManager().dataSourceExists(
            DocStoreDataSource.name()):
        return
    jsession = spark._jvm.SparkSession
    previous = jsession.getActiveSession()
    jsession.setActiveSession(jspark)
    try:
        spark.dataSource.register(DocStoreDataSource)
    finally:
        if previous.isDefined():
            jsession.setActiveSession(previous.get())
        else:
            jsession.clearActiveSession()


def open_docstore(spark: SparkSession, sf_dir: str, stream: bool = False,
                  window: tuple[int, int] | None = None,
                  **overrides) -> DataFrame:
    """Config-injected entry point for the docstore connector.

    Options resolve through the layered connector config (overrides > env
    SPARK_GRAFT_DOCSTORE_* > $SPARK_GRAFT_CONNECTOR_CONFIG profile file >
    defaults).  The only default is the collection path; credentials, if
    the collection requires them, must arrive through the config layers —
    never from code.

    A batch read checks auth on the driver, prunes the manifest to
    ``window`` = (lo_micros, hi_micros), inclusive, and returns Spark's
    JSON read of the surviving files filtered to ``ts_micros BETWEEN lo
    AND hi``.  ``window`` is a query input, like the reference's
    ``createdAt`` range; ``None`` reads the whole collection.  A stream
    read (``stream=True``) tails the collection through the Python
    DataSource; it takes no window.
    """
    from build_pipeline_with_apache_beam_spark.sources.connector_config import (
        resolve_options,
    )

    # the built collection is only the DEFAULT path (lowest layer); an
    # explicit path= stays in overrides, so it wins over env/profile
    # config exactly as the documented precedence requires
    defaults = {"path": build_collection(spark, sf_dir)}
    opts = resolve_options("docstore", defaults=defaults, overrides=overrides)
    if stream:
        if window is not None:
            raise ValueError("a docstore stream takes no window")
        _register_stream_source(spark)
        return spark.readStream.format("docstore").options(**opts).load()
    root = opts["path"]
    _check_auth(root, opts)
    _, covered, boundary = _classify_entries(root, window)
    return _read_files(spark, root, covered + boundary, window)


_TS_LO = "2024-01-08 00:00:00"
_TS_HI = "2024-01-14 23:59:59.999999"
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _session_micros(spark: SparkSession, ts: str) -> int:
    """Epoch micros of the timestamp literal ``ts`` read in the session
    time zone, as ``CAST(ts AS TIMESTAMP)`` reads it.  Integer arithmetic:
    a float product can round a ``.999999`` bound down a microsecond."""
    tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    return ((datetime.fromisoformat(ts).replace(tzinfo=tz) - _EPOCH)
            // timedelta(microseconds=1))


def scan_docstore_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan of the docstore: the reference's R1 semantics (time-range
    predicate at the source) as manifest file pruning plus a filtered
    executor-side JSON read instead of a driver fetch."""
    window = (_session_micros(spark, _TS_LO), _session_micros(spark, _TS_HI))
    return (
        open_docstore(spark, sf_dir, window=window)
        .where(F.col("event_type") == "purchase")
        .select("event_id",
                F.timestamp_micros(F.col("ts_micros")).alias("ts"),
                "user_id", "event_type",
                F.round("value", 4).alias("value"))
    )


def count_documents(spark: SparkSession, root: str, lo_micros: int,
                    hi_micros: int, stats: dict | None = None) -> int:
    """COUNT(*) over a time window answered from MANIFEST ROW-COUNT STATS
    wherever possible — the reference's ``count_documents`` pre-scan
    (reference ``retrieval.py:88-95``, a server-side count before the
    range fetch) done the lake-metadata way:

    - entries DISJOINT from the window contribute nothing (pruned);
    - entries FULLY INSIDE the window contribute their manifest ``n``
      without opening the file — zero bytes read, zero Spark jobs;
    - only BOUNDARY entries (window cuts through their [min_ts, max_ts])
      are opened: the same native JSON read :func:`open_docstore` returns,
      filtered to the window and counted on the executors.

    Why this is its own call and not a pushed-down ``COUNT(*)``: a
    ``COUNT(*)`` over a read cannot see the manifest's row counts, so it
    would open every surviving file.  Same shape as MongoDB drivers:
    ``count_documents`` is its own call.

    Returns the exact count (a scalar — this IS a count API).  ``stats``,
    if given, receives the pruning classification {n_entries, n_pruned,
    n_manifest_only, n_opened} (n_opened counts files) for plan
    assertions.
    """
    window = (lo_micros, hi_micros)
    pruned, covered, boundary = _classify_entries(root, window)
    if stats is not None:
        stats.update(n_entries=len(pruned) + len(covered) + len(boundary),
                     n_pruned=len(pruned), n_manifest_only=len(covered),
                     n_opened=sum(len(_entry_files(m)) for m in boundary))
    n = sum(m["n"] for m in covered)
    if boundary:
        n += _read_files(spark, root, boundary, window).count()
    return n


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
    root = build_collection(spark, sf_dir)
    stats: dict = {}
    n = count_documents(spark, root, _session_micros(spark, _CNT_LO),
                        _session_micros(spark, _CNT_HI), stats=stats)
    return spark.sql(sqlgen.values(
        [(n, stats["n_manifest_only"], stats["n_opened"], stats["n_pruned"])],
        "n_docs BIGINT, n_files_manifest_only BIGINT, n_files_opened BIGINT, "
        "n_files_pruned BIGINT"))


def stream_docstore_tail(spark: SparkSession, sf_dir: str,
                         trigger_files: int | None = None) -> DataFrame:
    """REAL streaming run through the custom stream reader: docstore tail →
    per-batch aggregate → parquet sink, then re-read.  By default one
    trigger drains the whole collection (offsets 0 → latest); with
    ``trigger_files`` set each trigger takes at most that many files, so
    the drain runs in several micro-batches.  The streaming aggregate's
    ``complete`` output mode carries state across batches, so the final
    sink equals a batch GROUP BY over events at ANY trigger size — which
    is the DuckDB oracle."""
    sink_dir = run_dir(sf_dir, "docstream_sink")
    ckpt_dir = run_dir(sf_dir, "docstream_ckpt")

    stream = open_docstore(spark, sf_dir, stream=True,
                           path=build_collection(spark, sf_dir),
                           tail_cap=str(trigger_files or 0))
    agg = (stream.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value")))

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(sink_dir)

    drain_each(agg, sink_batch, ckpt_dir, "complete")
    return spark.read.schema(agg.schema).parquet(sink_dir)


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

    root = run_dir(sf_dir, "docstore_append")
    shutil.copytree(build_collection(spark, sf_dir), root, dirs_exist_ok=True)

    ev = load_table(spark, sf_dir, "events")
    late = (ev.orderBy(F.col("event_id").desc()).limit(200)
            .select((F.col("event_id") + 10_000_000).alias("event_id"),
                    F.unix_micros("ts").alias("ts_micros"),
                    "user_id", "event_type", "value"))
    append_batch(spark, root, late, name="late-batch")

    back = open_docstore(spark, sf_dir, path=root)
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
