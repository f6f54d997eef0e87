"""Table catalog: load the driver-generated parquet tables for a scale factor.

The reference materializes its source data on the driver before handing it to
Beam (``collection.find`` → list, /root/reference/retrieval.py:76,221;
``download_as_text`` → list, normalization.py:64-66).  The engine never does
that: every table is a distributed parquet scan, so filters/projections push
down to the file source and the driver holds only the plan.

Tables, operators' intermediate stages (``_staged``) and committed stream
sources all read a stored schema (:func:`write_schema`), so no read runs
a schema-inference job.  Each table schema and each stage is a
``scratch.derived`` artifact — keyed by the sf dir's table files and the
package code, committed by rename, reused by every later call in any
process; a small stage is read back as one partition.  SQL-form operators
run through :func:`sql`, which registers only the tables their query names.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from build_pipeline_with_apache_beam_spark.scratch import derived, parquet_files
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


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Distributed parquet scan of one table as its files store it (no
    driver materialization): events' ``ts`` is not yet coerced.  The scan
    passes the stored schema ``table_schema-<name>``, a derived dir that
    holds only ``_schema.json``, written from one inferred read on a miss:
    a warm read is pure planning."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        write_schema(tmp, spark.read.parquet(path).schema)

    stored = read_schema(derived(sf_dir, f"table_schema-{name}", write))
    return spark.read.schema(stored).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Distributed parquet scan of one table, events' ``ts`` coerced."""
    df = raw_table(spark, sf_dir, name)
    if name == "events":
        df = coerce_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...]) -> None:
    """Register the tables ``names`` as temp views (for :func:`sql`)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str, **kwargs) -> DataFrame:
    """``spark.sql(query, **kwargs)`` over the tables ``query`` names (a
    whole-word match: a name in a comment registers one view too many,
    never one too few), each registered as a temp view first."""
    register_views(spark, sf_dir, tuple(
        t for t in TABLES if re.search(rf"\b{t}\b", query, re.IGNORECASE)))
    return spark.sql(query, **kwargs)


def table_meta(sf_dir: str, name: str) -> tuple[int, int]:
    """(n_rows, n_splits_estimate) for a table, straight off the parquet
    footers (``parquet_meta``)."""
    return parquet_meta(os.path.join(sf_dir, f"{name}.parquet"))[:2]


def parquet_meta(path: str) -> tuple[int, int, int]:
    """(n_rows, n_splits_estimate, n_bytes) for a parquet file or dir,
    straight off the footers and file sizes — NO Spark job: a
    ``df.count()`` costs a scheduler round-trip per operator call and
    ``df.rdd.getNumPartitions()`` re-plans the scan (~0.2 s combined per
    call, measured r15).  ``path`` is one file or a directory tree of them
    (nested or Hive-partitioned ``key=value`` dirs), walked by
    ``scratch.parquet_files``, the walk the derived artifacts' input
    fingerprint uses too.  The split estimate mirrors Spark's packing math
    (total bytes / ``MAX_PARTITION_BYTES``, at least one split per file)
    closely enough for a spread-or-not threshold."""
    import pyarrow.parquet as pq

    files = parquet_files(path)
    n_rows = 0
    total_bytes = 0
    for f in files:
        n_rows += pq.ParquetFile(f).metadata.num_rows
        total_bytes += os.path.getsize(f)
    n_splits = max(len(files), -(-total_bytes // MAX_PARTITION_BYTES))
    return n_rows, int(n_splits), total_bytes


def sized_spread(df: DataFrame, sf_dir: str, name: str,
                 rows_per_partition: int) -> DataFrame:
    """Spread ``df``, a scan of table ``name``, for a CPU-heavy downstream
    stage — ONLY when the scan has fewer partitions than the row-sized
    target (optimization guide §2.2/§6; round-14 verdict #1).

    The test corpora are one parquet file = ONE input split, so without a
    spread a CPU-bound stage (shingling, token hashing) runs on a single
    core.  But an unconditional ``repartition(defaultParallelism)`` is a
    full-table exchange at EVERY scale: at 100 TB the scan's splits already
    provide the parallelism and the shuffle is pure waste.  This helper
    sizes the target by rows (capped at defaultParallelism) and adds the
    exchange only when the scan itself falls short of it — corpus-scale
    paths take NO exchange.  The table's row and split counts come off its
    parquet footers (:func:`table_meta`), so the decision starts no Spark
    job.
    """
    n_rows, n_splits = table_meta(sf_dir, name)
    spark = df.sparkSession
    target = max(1, min(spark.sparkContext.defaultParallelism,
                        -(-n_rows // max(1, rows_per_partition))))
    if n_splits >= target:
        return df
    return df.repartition(target)


# a written frame's schema, beside its parquet files (Spark's batch and
# stream file sources skip ``_``-prefixed files when they list a dir)
_SCHEMA_FILE = "_schema.json"


def write_schema(path: str, schema: StructType) -> None:
    """Store ``schema`` beside the parquet files in dir ``path``: the
    schema of the frame written there, which :func:`read_schema` hands
    every later read, so no reader runs a parquet schema-inference job.
    A file source reads any given schema back as nullable, so a frame that
    declares columns non-null reads back exactly as inference would."""
    with open(os.path.join(path, _SCHEMA_FILE), "w") as fh:
        fh.write(schema.json())


def read_schema(path: str) -> StructType:
    """The schema :func:`write_schema` stored in dir ``path``."""
    with open(os.path.join(path, _SCHEMA_FILE)) as fh:
        return StructType.fromJson(json.load(fh))


# Rows one task may carry for a one-partition stage's consumers: the bound
# ``graph.GRAPH_ROWS_PER_PARTITION`` sets for one-partition iteration state.
# A consumer can join a stage with itself (link prediction's path join, the
# triangle census, a candidate-pair verification), so an n-row stage may
# feed up to n² rows into that one task.
_ONE_TASK_ROWS = 250_000


def _staged(spark: SparkSession, build: Callable[[], DataFrame], sf_dir: str,
            name: str) -> DataFrame:
    """Materialize an intermediate as a content-addressed parquet stage
    (``scratch.derived``) and re-read it.

    Builder contract: ``build`` is a zero-argument callable returning the
    DataFrame to stage, and it is called only when the stage is about to
    be written.  Anything that is not callable (a DataFrame from a caller
    of the old eager form) raises ``TypeError`` at once.

    A stage is keyed by the sf dir's table files and the package code, and
    committed by rename, so it outlives the process that wrote it: any
    later call with the same inputs, in this process or another, is a hit.
    A hit runs nothing: ``build`` is not called, so no upstream plan is
    constructed, none of the builder's own stages or table scans run.
    A stage must therefore be a pure function of the sf dir: anything else
    it depends on belongs in its ``name``.

    Stored schema: the stage carries the written frame's schema
    (:func:`write_schema`), and every re-read passes it, so no process
    runs a parquet schema-inference job.

    Layout: a small stage is read as ONE partition (``coalesce(1)``), so
    joins, aggregates and windows over it plan no exchange (a one-partition
    child satisfies any clustered distribution while its size estimate
    stays under ``spark.sql.maxSinglePartitionBytes``); any other stage
    keeps its scan splits.  Small means both:

    - its parquet files total at most the session's
      ``spark.sql.adaptive.coalescePartitions.minPartitionSize``, below
      which AQE would coalesce a shuffle of the stage's own rows into one
      partition anyway;
    - n² <= ``_ONE_TASK_ROWS`` for its n rows: every consumer's work runs
      in that one task, and a self-join of the stage fans out to up to n²
      rows, which no byte count of the leaf bounds.

    The decision reads the stage's file sizes and parquet footers: no
    Spark job.

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
    def write(tmp: str) -> None:
        df = build()
        df.write.parquet(tmp)
        write_schema(tmp, df.schema)

    path = derived(sf_dir, name, write)
    df = spark.read.schema(read_schema(path)).parquet(path)
    n_rows, _, size = parquet_meta(path)
    if n_rows * n_rows <= _ONE_TASK_ROWS and size <= _min_partition_bytes(
            spark):
        return df.coalesce(1)  # small-bounded: n² rows fit one task
    return df


def _min_partition_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
    in bytes, parsed the way Spark parses byte confs."""
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize")))
