"""SparkSession factory.

Replaces the reference's Beam portable-SparkRunner bootstrap
(/root/reference/retrieval.py:201-206, normalization.py:21-22) with a native
SparkSession: no job server, no Fn-API loopback hop — Python touches the JVM
only at plan construction and at Arrow-serialized pandas-UDF boundaries.

Scale notes (100 TB design): every config here is also correct on a real
cluster; only ``master`` and the shuffle-partition count change.  AQE handles
runtime partition coalescing/splitting and skew joins, which subsumes the
reference's manual >20 000-records re-planning branch (retrieval.py:217-249).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

from build_pipeline_with_apache_beam_spark.scratch import SPARK_LOCAL, WAREHOUSE

# Shuffle partitions: on local[N] match core count (each partition is a task;
# 200 tiny tasks on 32 cores is pure overhead).  On a 1000-executor cluster
# this would be sized ~2-3x total cores instead; AQE coalesces down from it.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

# Largest file split a scan packs into one partition
# (spark.sql.files.maxPartitionBytes); catalog.table_meta estimates split
# counts from the same figure.
MAX_PARTITION_BYTES = 128 * 1024 * 1024


def get_spark(app_name: str = "build_pipeline_with_apache_beam_spark",
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    AQE on (runtime re-plan at shuffle boundaries; skew-join splitting),
    Arrow on (vectorized pandas-UDF transfer), UTC session timezone (the
    reference mixes naive datetimes; the engine pins event time to UTC).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS)
    builder = (
        SparkSession.builder
        # local[N, 2]: allow one task retry, like a real cluster (default
        # maxFailures=4) — sinks must survive redelivery (at-least-once),
        # and tests inject transient send failures to prove they do
        .master(f"local[{cpus}, 2]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r14 (optimization guide §3.1/§9): let the planner pick a shuffled
        # hash join when its size conditions fit instead of always sorting
        # both sides — measured 2.6→1.4 s on the 6-table flagship join and
        # a consistent win across the join subset; ops whose build sides
        # grow with the corpus keep their explicit audited hints.
        # Documented tradeoff (ADVICE r14): SHJ's build side cannot spill,
        # so a bad cardinality estimate on a derived input can OOM where
        # SMJ would have spilled.  Accepted here because (a) the planner's
        # SHJ conditions require the build side to be small per partition,
        # (b) every corpus-growing build side in this repo is explicitly
        # hint-audited (r9 sf3 broadcast audit), and (c) AQE re-plans from
        # RUNTIME sizes at each shuffle boundary, not estimates.  On a
        # cluster where inputs are less audited, flip this back to true.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # NOT set: spark.sql.execution.pythonUDF.arrow.enabled — the two
        # row-pickled @udf ops are DELIBERATE demonstrations of the legacy
        # path (udf_arrow_optimized_scalar is their registered Arrow twin);
        # the global flag would erase that plan contrast for a noise-level
        # local gain (guide §4.3 applied per-UDF instead).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(MAX_PARTITION_BYTES))
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no nanos
        # type, so scan them as long and let the catalog convert to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # managed tables (bucketed-join layouts) go to scratch, not CWD
        .config("spark.sql.warehouse.dir", WAREHOUSE)
        # shuffle/spill files live under the repo scratch dir, NOT /tmp:
        # long stages (e.g. the sf10 range-join spill) outlive the host's
        # /tmp reaper, which deletes blockmgr temp files mid-stage
        .config("spark.local.dir", SPARK_LOCAL)
        # Generated methods above the JIT's 8 KB bytecode compile limit run
        # interpreted forever (HotSpot refuses to compile them) — observed as
        # minute-long stalls on wide-aggregate/higher-order-function plans.
        # Falling back to Spark's interpreted path beyond this size is faster
        # and predictable.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set session conf ``key`` to ``value`` for the ``with`` block only.

    On exit, normal or by exception, the old value comes back; a key that
    was unset before is unset again, so the session's default applies."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
