"""Table catalog: load the driver-generated parquet tables for a scale factor.

The reference materializes its source data on the driver before handing it to
Beam (``collection.find`` → list, /root/reference/retrieval.py:76,221;
``download_as_text`` → list, normalization.py:64-66).  The engine never does
that: every table is a distributed parquet scan, so filters/projections push
down to the file source and the driver holds only the plan.

Operators' intermediate parquet stages (``_staged``) are managed here too,
beside the scan-spread rule: each stage is written to a process-scoped
scratch directory and read back as a plain parquet scan.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from build_pipeline_with_apache_beam_spark.session import MAX_PARTITION_BYTES

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def coerce_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-zone TimestampType across testdata
    generations: older drops store parquet TIMESTAMP(NANOS) read as long nanos
    (spark.sql.legacy.parquet.nanosAsLong), newer drops TIMESTAMP(MICROS)
    without timezone.  DuckDB reads both as its us-precision TIMESTAMP, so this
    keeps oracle comparisons exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Distributed parquet scan of one table (no driver materialization)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = coerce_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so SQL-form operators can run."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_meta(sf_dir: str, name: str) -> tuple[int, int]:
    """(n_rows, n_splits_estimate) for a table, straight off the parquet
    footers — NO Spark job: a ``df.count()`` costs a scheduler round-trip
    per operator call and ``df.rdd.getNumPartitions()`` re-plans the scan
    (~0.2 s combined per call, measured r15).  A table is one file or a
    directory tree of them (nested or Hive-partitioned ``key=value``
    dirs); like Spark's file index, names starting with ``_`` or ``.``
    (``_SUCCESS``, ``_temporary``, checksums) are skipped.  The split
    estimate mirrors Spark's packing math (total bytes /
    ``MAX_PARTITION_BYTES``, at least one split per file) closely enough
    for a spread-or-not threshold."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = [path] if os.path.isfile(path) else []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        files += [os.path.join(root, f) for f in sorted(names)
                  if f.endswith(".parquet") and not f.startswith(("_", "."))]
    n_rows = 0
    total_bytes = 0
    for f in files:
        n_rows += pq.ParquetFile(f).metadata.num_rows
        total_bytes += os.path.getsize(f)
    n_splits = max(len(files), -(-total_bytes // MAX_PARTITION_BYTES))
    return n_rows, int(n_splits)


def sized_spread(df: DataFrame, n_rows: int,
                 rows_per_partition: int,
                 n_splits: int | None = None) -> DataFrame:
    """Spread a small scan for a CPU-heavy downstream stage — ONLY when the
    scan has fewer partitions than the row-sized target (optimization guide
    §2.2/§6; round-14 verdict #1).

    The test corpora are one parquet file = ONE input split, so without a
    spread a CPU-bound stage (shingling, token hashing) runs on a single
    core.  But an unconditional ``repartition(defaultParallelism)`` is a
    full-table exchange at EVERY scale: at 100 TB the scan's splits already
    provide the parallelism and the shuffle is pure waste.  This helper
    sizes the target by rows (capped at defaultParallelism) and adds the
    exchange only when the scan itself falls short of it — corpus-scale
    paths take NO exchange.
    """
    spark = df.sparkSession
    target = max(1, min(spark.sparkContext.defaultParallelism,
                        -(-n_rows // max(1, rows_per_partition))))
    if n_splits is None:
        n_splits = df.rdd.getNumPartitions()
    if n_splits >= target:
        return df
    return df.repartition(target)


# (sf tag, stage name) -> schema of the stage's post-write re-read, for every
# stage this process has written (see _staged)
_STAGE_DONE: dict[tuple[str, str], StructType] = {}
_CLEANUP_REGISTERED = False


def _stage_root() -> str:
    # imported here, not at module level: sources.sinks imports this module
    from build_pipeline_with_apache_beam_spark.sources.sinks import SCRATCH

    return os.path.join(SCRATCH, "dedup_stage")


def _cleanup_own_stage_dirs() -> None:
    """atexit: remove THIS process's pid-scoped stage dirs.

    The pid-scoping (r9) stopped cross-process clobbering but left every
    run's corpus-scale staged parquet behind forever — pytest + bench +
    sweep each leaked a full copy at sf1/sf3.  Bounded again: each process
    removes its own dirs on exit, and `_sweep_dead_pid_dirs` collects
    anything a killed process left behind.
    """
    root = _stage_root()
    suffix = f"-{os.getpid()}"
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for d in entries:
        if d.endswith(suffix):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _sweep_dead_pid_dirs() -> None:
    """Remove stage dirs whose owning pid is no longer alive (crash debris)."""
    root = _stage_root()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for d in entries:
        pid_part = d.rsplit("-", 1)[-1]
        if not pid_part.isdigit() or int(pid_part) == os.getpid():
            continue
        try:
            os.kill(int(pid_part), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave its dir alone


def _staged(spark: SparkSession, build: Callable[[], DataFrame], sf_dir: str,
            name: str, reuse: bool = False) -> DataFrame:
    """Materialize an intermediate to scratch parquet and re-read it.

    Builder contract: ``build`` is a zero-argument callable returning the
    DataFrame to stage, and it is called only when the stage is about to
    be written.  Anything that is not callable (a DataFrame from a caller
    of the old eager form) raises ``TypeError`` at once.

    A reuse hit runs nothing.  With ``reuse=True``, a stage this process
    already wrote (and whose files still exist) is re-read without calling
    ``build``: no upstream plan is constructed, none of the builder's own
    staged writes or table scans run, and the re-read starts no job.

    Schema memo: ``_STAGE_DONE`` maps (sf tag, name) to the schema of the
    post-write ``spark.read.parquet(path)``, and a reuse hit re-reads with
    ``spark.read.schema(s).parquet(path)``, which skips the parquet
    schema-inference job a bare re-read starts.  The memo is taken from
    the re-read, not from the written frame, so a hit returns exactly the
    schema a cold re-read infers: file sources read every column back as
    nullable, and the written frame may declare columns non-null.

    The sketch pipelines are deliberately executed in STAGES (signature
    index → candidate pairs → verification) rather than as one fused lazy
    plan.  Two reasons:

    1. **Stability.**  The fused multi-branch DAG (one subtree feeding both
       sides of a self-join plus a verification join) triggered
       minute-long intermittent scheduler/execution stalls in local mode
       (observed 160-540 s on runs that complete in ~5 s staged; single
       spinning task or a stage stuck at 0 launched tasks; reproducible
       with and without AQE, codegen, and checkpointing).  Independent
       sequential actions with simple DAGs show none of that.
    2. **Scale architecture.**  At 100 TB the MinHash signature table IS a
       persisted index: you build it incrementally, reuse it across dedup
       runs, and join new documents against it.  Persisting it columnar
       between phases is the production shape, not a workaround.
    """
    if not callable(build):
        raise TypeError(
            f"_staged({name!r}): build must be a zero-argument callable "
            f"returning a DataFrame, got {type(build).__name__}")
    # sf-scoped via the EXPLICIT sf_dir parameter (not shared mutable
    # state): concurrent runs at different scale factors (gate at sf0.01
    # while bench reads sf0.1) must not clobber each other's stages.
    # Keyed on the FULL absolute path (basename + 8-hex path hash), not the
    # basename alone: two roots sharing a basename (/root/testdata/sf1 vs
    # .scratch/sfscale/sf1) must not serve each other's staged truth.
    abspath = os.path.abspath(sf_dir.rstrip("/") or "/")
    tag = (os.path.basename(abspath) or "default") + "." + \
        hashlib.md5(abspath.encode()).hexdigest()[:8]
    # PROCESS-scoped stage root: two engines running the same op at the
    # same sf (a correctness sweep beside a scale probe) must not
    # overwrite each other's in-flight _temporary dirs — observed as a
    # FileNotFoundException on commit during the r9 artifact runs.  The
    # production analog is one stage dir per pipeline RUN, exactly like a
    # Structured Streaming checkpoint dir.  Dirs are bounded: removed at
    # process exit (atexit) and dead-pid debris swept on first use.
    global _CLEANUP_REGISTERED
    if not _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED = True
        atexit.register(_cleanup_own_stage_dirs)
        _sweep_dead_pid_dirs()
    path = os.path.join(_stage_root(), f"{tag}-{os.getpid()}", name)
    # reuse=True: skip the rewrite when THIS process already materialized
    # the stage (never trust a path another process/older code wrote) —
    # the banded-oracle promotions made three registered ops share the
    # exact-truth stage, and inputs are immutable within a run
    schema = _STAGE_DONE.get((tag, name))
    if reuse and schema is not None and os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    build().write.mode("overwrite").parquet(path)
    staged = spark.read.parquet(path)
    _STAGE_DONE[(tag, name)] = staged.schema
    return staged
