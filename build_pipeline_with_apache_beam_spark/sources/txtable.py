"""Transactional copy-on-write table: ACID MERGE with an atomic commit log.

The reference has no transactional story at all — its "sink" is a blind
per-file upload (/root/reference/normalization.py:110-130) and its run
metadata is committed BEFORE the write it describes (normalization.py:24-51),
so a crash mid-run publishes a lie.  This module is the lakehouse-shaped
answer on plain parquet, the same optimistic-concurrency design Delta Lake
and Iceberg use, reduced to its portable core:

Layout::

    <root>/
      _commits/00000001.json    one manifest per committed version
      _commits/00000002.json
      data-<uuid>/              immutable parquet snapshot per version,
                                its schema stored as _schema.json

- **Snapshots are immutable.**  A writer never mutates a committed data
  dir; MERGE writes a brand-new snapshot dir (copy-on-write).
- **Commit = one atomic filesystem op.**  The manifest is staged to a tmp
  file and published with ``os.link(tmp, _commits/<N>.json)`` — link fails
  with EEXIST if another writer committed version N first.  That makes the
  version counter a total order and commits all-or-nothing: readers either
  see version N fully or not at all, and a crashed writer leaves only an
  unreferenced data dir (garbage, never corruption).
- **Conflicts retry on the new snapshot** (optimistic concurrency): a
  loser re-reads the winner's snapshot and re-applies its change-set, so
  concurrent MERGEs serialize without locks and no update is lost.
- **Time travel is free**: every committed version stays readable until
  vacuumed.

At 100 TB the snapshot write is the same distributed parquet write the
engine always does; only the manifest hop is driver-side (one tiny file),
exactly like a Delta commit.  On object stores without hard links the
``link`` becomes a conditional PUT (If-None-Match) — same contract.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from build_pipeline_with_apache_beam_spark.catalog import (
    read_schema,
    write_schema,
)
from build_pipeline_with_apache_beam_spark.scratch import run_dir


class CommitConflict(Exception):
    """Another writer committed this version first."""


class TxTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.commits = os.path.join(root, "_commits")

    # ---- commit log -----------------------------------------------------

    def latest_version(self) -> int:
        try:
            names = os.listdir(self.commits)
        except FileNotFoundError:
            return 0
        versions = [int(n[:-5]) for n in names
                    if n.endswith(".json") and n[:-5].isdigit()]
        return max(versions, default=0)

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self.commits, f"{version:08d}.json")) as f:
            return json.load(f)

    def _try_commit(self, version: int, data_dir: str, parent: int) -> bool:
        """Publish version atomically; False if another writer won the race."""
        os.makedirs(self.commits, exist_ok=True)
        tmp = os.path.join(self.commits, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"version": version, "parent": parent,
                       "data": os.path.basename(data_dir)}, f)
        target = os.path.join(self.commits, f"{version:08d}.json")
        try:
            os.link(tmp, target)  # atomic create-if-absent on POSIX
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _write_snapshot(self, df: DataFrame) -> str:
        data_dir = os.path.join(self.root, f"data-{uuid.uuid4().hex}")
        df.write.parquet(data_dir)
        write_schema(data_dir, df.schema)
        return data_dir

    # ---- public surface -------------------------------------------------

    def create(self, df: DataFrame) -> int:
        """Initialize the table at version 1 (fails if already committed)."""
        data_dir = self._write_snapshot(df)
        if not self._try_commit(1, data_dir, parent=0):
            shutil.rmtree(data_dir, ignore_errors=True)
            raise CommitConflict("table already initialized")
        return 1

    def read(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v == 0:
            raise FileNotFoundError(f"no committed version under {self.root}")
        path = os.path.join(self.root, self._manifest(v)["data"])
        return self.spark.read.schema(read_schema(path)).parquet(path)

    def merge(self, changes: DataFrame, key: str, max_retries: int = 10,
              pre_commit=None) -> int:
        """MERGE INTO: upsert ``changes`` over the latest snapshot by key.

        Matching keys take the change row, others keep the base row, new
        keys insert.  Retries the whole read-merge-write on commit conflict
        so concurrent merges serialize (no lost updates).  ``pre_commit``
        is a test hook invoked between snapshot write and commit attempt —
        the window a race occupies.
        """
        for _ in range(max_retries):
            base_v = self.latest_version()
            base = self.read(base_v)
            merged = self._apply_upsert(base, changes, key)
            data_dir = self._write_snapshot(merged)
            if pre_commit is not None:
                pre_commit()
            if self._try_commit(base_v + 1, data_dir, parent=base_v):
                return base_v + 1
            # lost the race: abandon the orphan snapshot, re-merge on top
            # of the winner's version
            shutil.rmtree(data_dir, ignore_errors=True)
        raise CommitConflict(f"gave up after {max_retries} conflicts")

    @staticmethod
    def _apply_upsert(base: DataFrame, changes: DataFrame, key: str) -> DataFrame:
        # union + keep-first-by-priority: one shuffle on the key — the plan
        # upsert-only MERGE INTO compiles to.  allowMissingColumns gives
        # ADDITIVE schema evolution for free: a change-set carrying a new
        # column null-fills history, a change-set missing a column
        # null-fills its own rows — the copy-on-write snapshot simply
        # adopts the widened schema at the next commit
        merged = (base.withColumn("_pri", F.lit(1))
                  .unionByName(changes.withColumn("_pri", F.lit(0)),
                               allowMissingColumns=True))
        w = W.partitionBy(key).orderBy("_pri")
        return (merged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_pri", "_rn"))

    def compact(self, target_file_bytes: int = 128 << 20,
                max_retries: int = 10) -> int:
        """Small-files compaction: rewrite the latest snapshot into
        ``ceil(total_bytes / target_file_bytes)`` files and commit the
        rewrite as a NEW version (copy-on-write, so readers of the old
        version are untouched and time travel still works).

        This is the maintenance op every streaming/lakehouse ingest needs
        at scale: micro-batch appends leave thousands of KB-sized files
        whose per-file open/footer cost dominates scans.  ``coalesce``
        (not ``repartition``) does the rewrite — merging partitions needs
        no shuffle, so compaction cost is one read + one write of the
        data.  Commits race like any other writer: on conflict the
        rewrite re-reads the winner's snapshot (which may contain new
        rows) and compacts that instead, so no committed row is lost.
        """
        import math

        for _ in range(max_retries):
            base_v = self.latest_version()
            data = self._manifest(base_v)["data"]
            src = os.path.join(self.root, data)
            total = sum(os.path.getsize(os.path.join(src, f))
                        for f in os.listdir(src) if f.endswith(".parquet"))
            n_target = max(1, math.ceil(total / target_file_bytes))
            data_dir = self._write_snapshot(
                self.read(base_v).coalesce(n_target))
            if self._try_commit(base_v + 1, data_dir, parent=base_v):
                return base_v + 1
            shutil.rmtree(data_dir, ignore_errors=True)
        raise CommitConflict(f"gave up after {max_retries} conflicts")

    def data_file_count(self, version: int | None = None) -> int:
        v = self.latest_version() if version is None else version
        src = os.path.join(self.root, self._manifest(v)["data"])
        return sum(1 for f in os.listdir(src) if f.endswith(".parquet"))

    def vacuum(self, keep_last: int = 1,
               min_age_seconds: float = 3600.0) -> None:
        """Drop data dirs not referenced by the ``keep_last`` newest
        versions AND older than ``min_age_seconds``.

        The age threshold is what keeps vacuum safe against concurrent
        writers (the same guard Delta's retention period provides): a
        merge in flight has written its snapshot dir but not yet committed
        — deleting that young, not-yet-referenced dir would let the commit
        publish a manifest pointing at nothing.  Only dirs old enough that
        any writer referencing them must have finished are collected.
        """
        import time

        latest = self.latest_version()
        live = {self._manifest(v)["data"]
                for v in range(max(1, latest - keep_last + 1), latest + 1)}
        cutoff = time.time() - min_age_seconds
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if (name.startswith("data-") and name not in live
                    and os.path.getmtime(path) <= cutoff):
                shutil.rmtree(path, ignore_errors=True)


# ---- registered operator surface ---------------------------------------


def _demo_changeset(spark: SparkSession, sf_dir: str):
    """The shared demo change-set: base customer snapshot, +1000 balance
    updates on every 10th key, re-keyed inserts.  ONE definition on purpose
    — both ACID ops' SQL oracles encode exactly these transformations, so
    the op-side construction must not be duplicated and drift."""
    from build_pipeline_with_apache_beam_spark.catalog import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("c_acctbal"))
    updates = (cust.where(F.col("c_custkey") % 10 == 0)
               .select("c_custkey", "c_name",
                       F.round(F.col("c_acctbal") + 1000.0, 4)
                       .alias("c_acctbal")))
    # insert keys offset past the DATA's max key (r13: the fixed +1M
    # collided with real custkeys at sf10, making the merge winner — and
    # thus the whole result — engine-nondeterministic; same fix as
    # merge_upsert in operators/relational.py)
    max_key = cust.agg((F.max("c_custkey") + 1).alias("_ins_base"))
    inserts = updates.crossJoin(F.broadcast(max_key)).select(
        (F.col("c_custkey") + F.col("_ins_base")).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"))
    return cust, updates.unionByName(inserts)


def _demo_table(spark: SparkSession, sf_dir: str, name: str) -> "TxTable":
    """Fresh TxTable in a run dir with the demo change-set applied."""
    base, changes = _demo_changeset(spark, sf_dir)
    table = TxTable(spark, run_dir(sf_dir, f"txtable_{name}"))
    table.create(base)
    table.merge(changes, key="c_custkey")
    return table


def merge_upsert_acid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same upsert change-set as ``merge_upsert``, but executed as a
    real transaction against a TxTable: create v1 from the base snapshot,
    MERGE the change-set (atomic commit → v2), read back the committed
    version.  Result is identical to the pure-relational op, so one SQL
    oracle checks both; the ACID protocol itself (conflict serialization,
    no lost updates, time travel) is exercised in tests/test_txtable.py.
    """
    return _demo_table(spark, sf_dir, "demo").read()


def merge_acid_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel diff: after the MERGE transaction, diff version 2
    against version 1 and classify every changed key as updated or
    inserted — the audit query a versioned table makes free (the reference
    cannot answer "what did that run change" at all; its sink overwrites
    blindly, /root/reference/normalization.py:110-130).

    One full-outer join between two immutable snapshots on the merge key;
    unchanged keys drop out, so the output is bounded by the change-set.
    """
    table = _demo_table(spark, sf_dir, "diffdemo")
    v1 = table.read(1).select("c_custkey",
                              F.col("c_acctbal").alias("bal_v1"))
    v2 = table.read(2).select("c_custkey",
                              F.col("c_acctbal").alias("bal_v2"))
    return (v1.join(v2, "c_custkey", "full_outer")
            .where(F.col("bal_v1").isNull()
                   | (F.col("bal_v1") != F.col("bal_v2")))
            .select("c_custkey", "bal_v1", "bal_v2",
                    F.when(F.col("bal_v1").isNull(), "inserted")
                    .otherwise("updated").alias("change"))
            .orderBy("c_custkey"))


def merge_acid_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction as a committed table version: fragment the
    demo table's snapshot into 64 files (the shape a micro-batch ingest
    leaves behind), compact to ~1 MB targets, and report the maintenance
    audit from the commit log.

    Oracle-checked (promoted round 9, verdict #3): the version counter
    (1→2), the fragment count (64 by construction), and all three row
    counts — before, after, and the PRE-compaction version re-read after
    the rewrite (time travel across maintenance) — are recomputable by
    DuckDB from the ``customer`` base table.  Only the post-compaction
    file count depends on parquet encoding sizes, so it rides as the
    ``files_reduced`` law boolean the oracle pins TRUE; the raw count
    stays available via ``TxTable.data_file_count`` (tests assert it)."""
    base, changes = _demo_changeset(spark, sf_dir)
    table = TxTable(spark, run_dir(sf_dir, "txtable_compactdemo"))
    table.create(base.repartition(64))  # deliberately fragmented
    v_before = table.latest_version()
    files_before = table.data_file_count(v_before)
    rows_before = table.read(v_before).count()
    v_after = table.compact(target_file_bytes=1 << 20)
    files_after = table.data_file_count(v_after)
    return spark.sql(
        f"""SELECT CAST({v_before} AS INT) AS version_before,
                   CAST({v_after} AS INT) AS version_after,
                   CAST({files_before} AS BIGINT) AS n_files_before,
                   CAST({files_after} AS BIGINT) < CAST({files_before} AS BIGINT)
                       AS files_reduced,
                   CAST({rows_before} AS BIGINT) AS n_rows_before,
                   CAST({table.read(v_after).count()} AS BIGINT)
                       AS n_rows_after,
                   CAST({table.read(v_before).count()} AS BIGINT)
                       AS n_rows_v1_after_compact""")


QUERIES = {
    "merge_upsert_acid": merge_upsert_acid,
    "merge_acid_version_diff": merge_acid_version_diff,
    "merge_acid_compaction": merge_acid_compaction,
}

ORACLE = {
    # Exact companions recomputed from the base table + the op's committed
    # protocol (create = v1, compact = v2, fragment count fixed at 64);
    # files_reduced is the engine-evaluated law the oracle pins TRUE
    # (post-compaction file count depends on parquet encoding sizes).
    "merge_acid_compaction": """
        SELECT 1::INTEGER AS version_before, 2::INTEGER AS version_after,
               64::BIGINT AS n_files_before, TRUE AS files_reduced,
               COUNT(*)::BIGINT AS n_rows_before,
               COUNT(*)::BIGINT AS n_rows_after,
               COUNT(*)::BIGINT AS n_rows_v1_after_compact
        FROM customer
    """,
    "merge_acid_version_diff": """
        WITH base AS (
            SELECT c_custkey, ROUND(c_acctbal, 4) AS bal FROM customer
        ), updates AS (
            SELECT c_custkey, ROUND(bal + 1000.0, 4) AS bal2
            FROM base WHERE c_custkey % 10 = 0
        ), inserts AS (
            SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer)
                       AS c_custkey, 0.0 AS bal2 FROM updates
        )
        SELECT c_custkey, b.bal AS bal_v1, c.bal2 AS bal_v2,
               CASE WHEN b.bal IS NULL THEN 'inserted'
                    ELSE 'updated' END AS change
        FROM (SELECT * FROM updates UNION ALL SELECT * FROM inserts) c
        LEFT JOIN base b USING (c_custkey)
        WHERE b.bal IS NULL OR b.bal <> c.bal2
        ORDER BY c_custkey
    """,
    "merge_upsert_acid": """
        WITH base AS (
            SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS c_acctbal
            FROM customer
        ), updates AS (
            SELECT c_custkey, c_name,
                   ROUND(c_acctbal + 1000.0, 4) AS c_acctbal
            FROM base WHERE c_custkey % 10 = 0
        ), inserts AS (
            SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer)
                       AS c_custkey,
                   'NEW ' || c_name AS c_name, 0.0 AS c_acctbal
            FROM updates
        ), merged AS (
            SELECT *, 0 AS pri FROM updates
            UNION ALL SELECT *, 0 FROM inserts
            UNION ALL SELECT *, 1 FROM base
        )
        SELECT c_custkey, c_name, c_acctbal FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                         ORDER BY pri) AS rn
            FROM merged
        ) WHERE rn = 1
    """,
}
