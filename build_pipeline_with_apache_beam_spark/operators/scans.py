"""Sources, projection, and filter operators.

Derived from the reference's scans: the MongoDB time-range scan with the
predicate pushed into the source (/root/reference/retrieval.py:62-86), the
GCS time-filtered file listing (normalization.py:53-79), and the 13-key
projection whitelist (normalization.py:91-95).

Spark-first: all of these are a parquet/json scan plus declarative
``select``/``where`` — Catalyst pushes the filter and the column pruning into
the file source (visible as PushedFilters / ReadSchema in ``.explain``), which
is the distributed version of the reference's server-side Mongo predicate.
At 100 TB the scan cost is dominated by bytes read, so projection pruning and
min/max row-group skipping on the pushed predicate are the two levers that
matter; both are free once the plan is declarative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.catalog import load_table
from build_pipeline_with_apache_beam_spark.scratch import derived

# The engine-side analog of the reference's fixed extraction day
# (retrieval.py:214-215): a closed timestamp range on event time.
TIME_RANGE = ("2024-01-01 02:00:00", "2024-01-01 08:00:00")


def resolve_filesystem(path: str):
    """(pyarrow.fs.FileSystem, fs-local path) for a path or URI.

    The seam that keeps footer-introspection ops off the shared-filesystem
    assumption: a scheme-qualified URI (``file://``, ``s3://``, ``hdfs://``,
    ``gs://``) resolves through ``pyarrow.fs.FileSystem.from_uri`` — the
    same call works on an executor that cannot see the driver's disk —
    and a bare path falls back to the local filesystem.  Module-level so
    executors import-and-resolve it themselves instead of unpickling a
    driver-created handle (object-store handles hold sockets/credentials
    that must be constructed where they are used).
    """
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def scan_parquet_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-pruned parquet scan (R1/N1; ReadSchema shows 3 columns)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_shipdate")
    )


def filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range predicate pushed to the scan (retrieval.py:69-72 analog)."""
    lo, hi = TIME_RANGE
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").between(F.lit(lo).cast("timestamp"),
                                   F.lit(hi).cast("timestamp")))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def filter_predicate_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound AND/OR predicate (the $and shape at retrieval.py:67-74)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("event_type").isin("click", "purchase"))
            & (F.col("value") > 50.0)
            & (F.col("user_id") % 2 == 0)
        )
        .select("event_id", "user_id", "event_type", "value")
    )


def project_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-whitelist projection (N2's 13-key whitelist, normalization.py:91-95)."""
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
    )


def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse a JSON text column with an explicit schema (N2, normalization.py:89).

    The reference parses each line with ``json.loads`` in Python; here
    ``from_json`` runs JVM-side inside codegen.  PERMISSIVE semantics: bad
    JSON → null struct, matching validate_json's tolerate-and-null
    (retrieval.py:97-113).
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("parsed", F.from_json("props", "k INT"))
    return (
        parsed.select(
            "event_id",
            F.col("parsed.k").alias("prop_k"),
        )
    )


def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV as a source format: write the customer table as headered CSV
    (distributed), read it back with an EXPLICIT schema, filter + project.

    Schema-on-read with a declared schema, not inferSchema — inference is a
    whole extra pass over the data, which at 100 TB doubles the scan.  CSV
    supports no predicate pushdown or column pruning at the byte level
    (row-oriented text), which is exactly why the lake layer converts to
    parquet on ingest; this op exists to cover the format, not to bless it.
    """
    path = derived(sf_dir, "csv_customer", lambda p: (
        load_table(spark, sf_dir, "customer")
        .write.option("header", True).csv(p)))
    schema = ("c_custkey BIGINT, c_name STRING, c_nationkey INT, "
              "c_acctbal DOUBLE, c_mktsegment STRING")
    return (spark.read.schema(schema).option("header", True).csv(path)
            .where(F.col("c_acctbal") > 1000.0)
            .select("c_custkey", "c_name",
                    F.round("c_acctbal", 4).alias("c_acctbal"),
                    "c_mktsegment"))



def _stage_evo_orders(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per sf) two file generations of orders: an old set
    without ``o_orderpriority`` and a new set with it — the
    schema-evolution fixture shared by ``scan_schema_evolution_merge``
    and ``dq_schema_drift``."""
    import os

    def write(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        (orders.where(F.col("o_orderkey") % 2 == 0)
         .select("o_orderkey", "o_totalprice")
         .write.parquet(os.path.join(path, "gen=old")))
        (orders.where(F.col("o_orderkey") % 2 == 1)
         .select("o_orderkey", "o_totalprice", "o_orderpriority")
         .write.parquet(os.path.join(path, "gen=new")))

    return derived(sf_dir, "evo_orders", write)


def scan_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: an old file set without a
    column and a new one with it, read as ONE table via ``mergeSchema``.

    This is how a 100 TB lake absorbs schema change without rewriting
    history: the merged read null-fills the missing column for old files.
    (The reference's answer was a fixed 13-key whitelist,
    normalization.py:91-92 — additive evolution was impossible.)
    """
    path = _stage_evo_orders(spark, sf_dir)
    merged = (spark.read.option("mergeSchema", True)
              .option("recursiveFileLookup", True).parquet(path))
    return (
        merged.groupBy(F.coalesce("o_orderpriority", F.lit("(pre-schema)"))
                       .alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             # decimal sum: engine-exact at any row count (float sums flip
             # the 4th decimal on multi-million-row groups; prices are
             # exact 4-decimal values, so the cast is lossless)
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 4)
             .cast("double").alias("total"))
        .orderBy("priority")
    )


def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift report between two file generations of the same
    table: per column — presence on each side and the null fraction on
    each side (−1.0 marks "column absent from this generation").  The
    check a lake team runs before flipping readers to a new producer
    version; the reference's fixed 13-key whitelist
    (/root/reference/normalization.py:91-92) made additive drift
    invisible.

    Scale shape: column presence comes from the parquet FOOTER schemas
    (driver metadata, no data read); null fractions are ONE algebraic
    aggregate pass per generation, unpivoted with ``stack`` — the output
    is |columns| rows regardless of sf."""
    import os

    path = _stage_evo_orders(spark, sf_dir)
    old = spark.read.parquet(os.path.join(path, "gen=old"))
    new = spark.read.parquet(os.path.join(path, "gen=new"))
    cols = sorted(set(old.columns) | set(new.columns))

    def null_profile(df: DataFrame, suffix: str) -> DataFrame:
        present = set(df.columns)
        aggs = [
            (F.round(F.avg(F.col(c).isNull().cast("double")), 4)
             if c in present else F.lit(-1.0)).alias(c)
            for c in cols]
        stack = ", ".join(f"'{c}', `{c}`" for c in cols)
        return df.agg(*aggs).selectExpr(
            f"stack({len(cols)}, {stack}) AS (col_name, null_frac_{suffix})")

    return (null_profile(old, "old").join(null_profile(new, "new"),
                                          "col_name")
            .select("col_name",
                    (F.col("null_frac_old") >= 0).alias("in_old"),
                    (F.col("null_frac_new") >= 0).alias("in_new"),
                    "null_frac_old", "null_frac_new")
            .orderBy("col_name"))


def _stage_events_by_day(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per sf) events as a ``dt=``-partitioned parquet table —
    the fact both partition-pruning ops read."""
    return derived(sf_dir, "evpart", lambda p: (
        load_table(spark, sf_dir, "events")
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("dt").parquet(p)))


def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning: events written as dt=YYYY-MM-DD
    directories (the reference's lake layout, normalization.py:119-123),
    then queried for two days — the scan touches only those directories.

    The dt filter is resolved against directory names at planning time
    (PartitionFilters), so a year of history costs the same as the two
    days read.  This, not file-mtime listing (normalization.py:62-63), is
    the scalable form of time-windowed ingestion reads.
    """
    path = _stage_events_by_day(spark, sf_dir)
    # partition-type inference would surface dt as DATE; pin to string so
    # the schema is stable across engines
    ev = spark.read.parquet(path).withColumn("dt", F.col("dt").cast("string"))
    return (
        ev.where(F.col("dt").isin("2024-01-01", "2024-01-02"))
        .groupBy("dt", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("dt", "event_type")
    )


def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact partitioned by dt joined to a dim
    whose qualifying days are only known at runtime.

    The dim side (top-3 busiest days, computed from the raw events table) is
    broadcast, and Catalyst injects its dt values into the partitioned scan's
    PartitionFilters as a dynamicpruning expression — so the fact read skips
    every other day's directories without a static predicate.  This is the
    100 TB replacement for the reference's mtime-filtered listing
    (normalization.py:62-63) when the filter depends on data, not constants.
    """
    path = _stage_events_by_day(spark, sf_dir)
    # join on the inferred DATE partition column directly — wrapping dt in a
    # cast before the join would break the attribute match DPP needs
    fact = spark.read.parquet(path)
    busiest = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("dt"))
        .agg(F.count(F.lit(1)).alias("day_events"))
        .orderBy(F.desc("day_events"), "dt")
        .limit(3)
        # a selective predicate on the dim side is what the PartitionPruning
        # rule looks for when deciding the fact scan is worth pruning
        .where(F.col("day_events") > 0)
    )
    return (
        fact.join(F.broadcast(busiest), "dt")
        .groupBy(F.date_format("dt", "yyyy-MM-dd").alias("dt"), "day_events")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("dt")
    )


def scan_corrupt_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSONL ingestion with corrupt-record capture: bad lines
    land in ``_corrupt_record`` instead of failing the scan — the file-level
    version of the reference's tolerate-and-null (validate_json,
    retrieval.py:97-102), with the quarantined raw line kept for triage.

    The staged file corrupts every 7th record deterministically, so the
    good/bad split is oracle-checkable.  At 100 TB the corrupt column
    routes to a quarantine sink while the good rows continue — no job
    restarts for a few bad lines.
    """
    line = F.when(
        F.col("event_id") % 7 == 0,
        F.concat(F.lit("{BROKEN "), F.col("event_id").cast("string")))\
        .otherwise(F.to_json(F.struct("event_id", "event_type", "value")))
    path = derived(sf_dir, "dirty_jsonl", lambda p: (
        load_table(spark, sf_dir, "events")
        .select(line.alias("value")).write.text(p)))
    parsed = (spark.read
              .schema("event_id BIGINT, event_type STRING, value DOUBLE, "
                      "_corrupt_record STRING")
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", "_corrupt_record")
              .json(path))
    # Spark refuses plans whose scan reads ONLY the internal corrupt column;
    # the verdict references a parsed field too, so pruning keeps both (a
    # broken line nulls every parsed field, making the two tests agree)
    triaged = parsed.select(
        F.when(F.col("_corrupt_record").isNull()
               & F.col("event_id").isNotNull(), "good")
        .otherwise("quarantined").alias("bucket"))
    return (
        triaged.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("bucket")
    )


def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``Dataset.observe``: row counts and
    control totals are collected ON THE SIDE of a real pass (an aggregate
    riding the task metrics), not by re-scanning — the engine-native form
    of the reference's per-run record_count bookkeeping
    (retrieval.py:53-60, normalization.py:38-43).

    The op drives a pass over events with an Observation attached, then
    surfaces the captured metrics as a one-row DataFrame; the oracle
    recomputes the same totals declaratively.
    """
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("ingest_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 4).alias("total_value"),
        # DISTINCT aggregates aren't allowed in observed metrics; max ids
        # serve as the reconciliation control totals
        F.max("event_id").alias("max_event_id"))
    observed.write.format("noop").mode("overwrite").save()   # the real pass
    m = obs.get
    return spark.sql(
        "SELECT CAST({n} AS BIGINT) AS n_rows, "
        "CAST({t} AS DOUBLE) AS total_value, "
        "CAST({mx} AS BIGINT) AS max_event_id".format(
            n=m["n_rows"], t=m["total_value"], mx=m["max_event_id"]))


def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline JSON: one file containing ONE pretty-printed JSON array,
    read with ``multiLine=true`` — the API-export format (as opposed to
    line-delimited JSONL).

    Scale caveat, encoded here deliberately: a multiline JSON file is NOT
    splittable — one task parses the whole file — so the lake keeps such
    files bounded (one per API page) and converts to JSONL/parquet on
    ingest; this op stages 100 docs per file, the bounded shape.
    """
    # one pretty-shaped array per 100-doc page, one file per page
    path = derived(sf_dir, "mljson", lambda p: (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select(F.floor(F.col("doc_id") / 100).alias("page"),
                F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("j"))
        .groupBy("page")
        .agg(F.concat(F.lit("[\n  "),
                      F.concat_ws(",\n  ", F.collect_list("j")),
                      F.lit("\n]")).alias("value"))
        .select("value")
        .repartition(3)
        .write.text(p)))
    return (spark.read.option("multiLine", "true")
            .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
            .json(path)
            .orderBy("doc_id"))


N_BINARY_FILES = 100  # bounded staging set for the binaryFile source op


def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingest via the ``binaryFile`` source: one row per file with
    (path, length, content) — how image/audio assets enter the lake before
    they become the multimodal binary columns.

    The listing and reads are distributed (files split across tasks), and
    ``pathGlobFilter`` prunes at listing time.  Staged once per testdata
    generation: the first N_BINARY_FILES documents written as one .bin file
    each (at 100 TB the equivalent staging is the upstream object store).
    """
    path = derived(sf_dir, "binfiles", lambda p: (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < N_BINARY_FILES)
        .select(F.col("doc_id").cast("string").alias("name"),
                F.encode("text", "utf-8").alias("payload"))
        .repartition(8)
        .foreachPartition(lambda rows: _write_bin_files(p, rows))))
    binf = (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin").load(path))
    return (
        binf.select(
            F.regexp_extract(F.col("path"), r"doc-(\d+)\.bin", 1)
            .cast("bigint").alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.length("content").cast("long").alias("content_bytes"))
        .orderBy("doc_id")
    )


def _write_bin_files(root: str, rows) -> None:
    """Executor-side file writer for the staging step (one .bin per doc)."""
    import os

    os.makedirs(root, exist_ok=True)
    for r in rows:
        with open(os.path.join(root, f"doc-{r['name']}.bin"), "wb") as fh:
            fh.write(bytes(r["payload"]))


def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a source format: write orders as ORC (distributed), read it
    back, filter + project.

    Unlike CSV, ORC is a columnar format with stripe-level min/max
    statistics — the shipped filter DOES push down to the ORC reader
    (PushedFilters in the scan node), and column pruning reads only the
    three projected streams.  Covers the second columnar lake format a
    migrating warehouse user brings alongside parquet."""
    path = derived(sf_dir, "orc_orders", lambda p: (
        load_table(spark, sf_dir, "orders").write.orc(p)))
    return (spark.read.orc(path)
            .where(F.col("o_totalprice") > 50000.0)
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 4).alias("o_totalprice")))


def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML as a source format (Spark 4 native, no external package):
    write the part table as row-tagged XML (distributed), read it back
    with an EXPLICIT schema, filter + project.

    Same schema-on-read discipline as the CSV leg: declared schema, not
    inference (inference is an extra full pass).  Like CSV, XML is
    row-oriented text with no byte-level pushdown/pruning — it exists as
    an INGEST format (feeds, exports, legacy integrations) that the lake
    layer converts to parquet on arrival; this op covers the read/write
    surface, not a recommendation to keep data in it.  The writer
    escapes markup in string values, so round-tripping free-text columns
    (p_name, p_type) is part of what the oracle verifies.
    """
    path = derived(sf_dir, "xml_part", lambda p: (
        load_table(spark, sf_dir, "part")
        .write.option("rootTag", "parts").option("rowTag", "part")
        .format("xml").save(p)))
    schema = ("p_partkey BIGINT, p_name STRING, p_brand STRING, "
              "p_type STRING, p_size INT, p_retailprice DOUBLE")
    return (spark.read.schema(schema).option("rowTag", "part")
            .format("xml").load(path)
            .where(F.col("p_retailprice") > 950.0)
            .select("p_partkey", "p_name", "p_brand", "p_type", "p_size",
                    F.round("p_retailprice", 4).alias("p_retailprice")))


def scan_text_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text lines as a source (``spark.read.text``) + JVM-side regex
    field extraction — the log-parsing leg every ingest pipeline has.

    The fixture renders events as key=value log lines (distributed
    ``format_string`` write), then the read parses them back with ONE
    compiled regex into typed columns inside codegen — no Python in the
    loop (the reference's analog is a per-line Python loop over
    downloaded blobs, normalization.py:85-90).  Numeric round-trip is
    pinned by the oracle: %.4f rendering then cast-back must equal
    ROUND(value, 4) of the base table on every row.
    """
    path = derived(sf_dir, "textlog_events", lambda p: (
        load_table(spark, sf_dir, "events")
        .select(F.format_string(
            "id=%d ts=%d user=%d type=%s value=%.4f",
            "event_id", F.unix_micros("ts"), "user_id", "event_type",
            "value").alias("value"))
        .write.text(p)))
    # ids/value capture an optional sign (round-12 advice: %d renders
    # negatives with '-' and an unsigned capture would extract '' → NULL
    # → silent row drop through the event_type filter; a domain change
    # must surface as an oracle mismatch, not vanished rows).  %.4f never
    # renders scientific notation, so (-?[0-9.]+) is total over its range.
    pat = (r"^id=(-?\d+) ts=(-?\d+) user=(-?\d+) type=(\w+) "
           r"value=(-?[0-9.]+)$")
    lines = spark.read.text(path)
    return (lines.select(
                F.regexp_extract("value", pat, 1).cast("bigint")
                .alias("event_id"),
                F.timestamp_micros(
                    F.regexp_extract("value", pat, 2).cast("bigint"))
                .alias("ts"),
                F.regexp_extract("value", pat, 3).cast("bigint")
                .alias("user_id"),
                F.regexp_extract("value", pat, 4).alias("event_type"),
                F.regexp_extract("value", pat, 5).cast("double")
                .alias("value"))
            .where(F.col("event_type") == "view"))


def scan_parquet_rowgroup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet FOOTER introspection: per row group of the
    lineitem table, its row count, column-chunk count, and compressed
    byte size — the pruning diagnostic that tells you whether min/max
    row-group skipping can work at all (one giant row group per file =
    no skipping; thousands of tiny ones = footer bloat).

    The file list is bounded driver-side metadata (a tiny single-column
    DataFrame of paths, never a Python-RDD build side); footer reads
    assume a shared filesystem (local mode / DBFS / NFS — on a real
    cluster the paths would be object-store URIs readable from any
    executor) and fan out over
    ``mapInPandas`` so a 100 TB lake's million footers are opened on
    executors, ~8 KB each, no data pages touched.  Oracle-checked
    (promoted round 9): both engines read the SAME footers, so DuckDB's
    ``parquet_metadata()`` recomputes the profile exactly — the literal
    path it needs is built per scale factor by ``ORACLE_DYNAMIC`` below
    (tests/test_new_ops_r3.py additionally checks pyarrow parity).

    Reference parity: this is the engine-side replacement for the
    reference's GCS object listing + per-object stats loop
    (normalization.py:53-79), which pulled every blob's metadata through
    the driver one HTTP call at a time.
    """
    import os

    path = sf_dir.rstrip("/") + "/lineitem.parquet"
    fs, fs_path = resolve_filesystem(path)
    from pyarrow import fs as pafs

    info = fs.get_file_info(fs_path)
    if info.type == pafs.FileType.Directory:
        sel = pafs.FileSelector(fs_path)
        files = sorted(
            f.path for f in fs.get_file_info(sel)
            if f.is_file and f.path.endswith(".parquet"))
    elif info.type == pafs.FileType.File:
        files = [fs_path]
    else:
        files = []
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    # carry the original scheme so executors re-resolve the same FS
    scheme = path.split("://", 1)[0] + "://" if "://" in path else ""
    files = [scheme + f if not f.startswith(scheme) else f for f in files]
    # Parameterized VALUES, not string interpolation: paths with quotes
    # stay intact and an empty list fails loudly above instead of
    # producing invalid SQL (round-3 ADVICE).  Named-parameter binding
    # keeps this a JVM-side LocalRelation (no Python-RDD build side).
    rows = ", ".join(f"(:p{i})" for i in range(len(files)))
    flist = (spark.sql(f"SELECT * FROM (VALUES {rows}) AS t(path)",
                       args={f"p{i}": f for i, f in enumerate(files)})
             .repartition(min(len(files), 32)))

    def prof(batches):
        import os as _os

        import pandas as pd
        import pyarrow.parquet as pq

        from build_pipeline_with_apache_beam_spark.operators.scans import (
            resolve_filesystem,
        )

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                # re-resolve the FS on the EXECUTOR from the path scheme:
                # no shared-filesystem assumption, no pickled driver handle
                efs, ep = resolve_filesystem(p)
                with efs.open_input_file(ep) as fh:
                    md = pq.ParquetFile(fh).metadata
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    out.append((
                        _os.path.basename(p), i, rg.num_rows, rg.num_columns,
                        sum(rg.column(j).total_compressed_size
                            for j in range(rg.num_columns))))
            yield pd.DataFrame(out, columns=[
                "file_name", "row_group_id", "num_rows", "n_col_chunks",
                "compressed_bytes"])

    schema = ("file_name string, row_group_id int, num_rows bigint, "
              "n_col_chunks int, compressed_bytes bigint")
    return (flist.mapInPandas(prof, schema)
            .orderBy("file_name", "row_group_id"))


QUERIES = {
    "scan_parquet_rowgroup_profile": scan_parquet_rowgroup_profile,
    "scan_orc_roundtrip": scan_orc_roundtrip,
    "scan_xml_roundtrip": scan_xml_roundtrip,
    "scan_text_regex_extract": scan_text_regex_extract,
    "scan_json_multiline": scan_json_multiline,
    "scan_observe_metrics": scan_observe_metrics,
    "scan_corrupt_capture": scan_corrupt_capture,
    "scan_binary_files": scan_binary_files,
    "join_dynamic_partition_pruning": join_dynamic_partition_pruning,
    "scan_parquet_project": scan_parquet_project,
    "filter_time_range": filter_time_range,
    "filter_predicate_compound": filter_predicate_compound,
    "project_whitelist": project_whitelist,
    "scan_json_lines": scan_json_lines,
    "scan_csv_roundtrip": scan_csv_roundtrip,
    "scan_schema_evolution_merge": scan_schema_evolution_merge,
    "dq_schema_drift": dq_schema_drift,
    "scan_partition_pruning": scan_partition_pruning,
}

ORACLE = {
    "scan_json_multiline": """
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE doc_id < 300
        ORDER BY doc_id
    """,
    "scan_observe_metrics": """
        SELECT COUNT(1) AS n_rows,
               ROUND(SUM(value), 4) AS total_value,
               MAX(event_id) AS max_event_id
        FROM events
    """,
    "scan_corrupt_capture": """
        SELECT CASE WHEN event_id % 7 = 0 THEN 'quarantined'
                    ELSE 'good' END AS bucket,
               COUNT(1) AS n_records
        FROM events
        GROUP BY bucket
        ORDER BY bucket
    """,
    # OCTET_LENGTH(ENCODE(...)): UTF-8 byte count, matching the Spark-side
    # binary payload length even on non-ASCII text
    "scan_binary_files": f"""
        SELECT doc_id,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
               CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS content_bytes
        FROM documents
        WHERE doc_id < {100}
        ORDER BY doc_id
    """,
    "join_dynamic_partition_pruning": """
        WITH busiest AS (
            SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(1) AS day_events
            FROM events
            GROUP BY 1
            ORDER BY day_events DESC, dt
            LIMIT 3
        )
        SELECT e.dt, b.day_events, COUNT(1) AS n_events,
               ROUND(SUM(e.value), 4) AS sum_value
        FROM (SELECT strftime(ts, '%Y-%m-%d') AS dt, value FROM events) e
        JOIN busiest b ON e.dt = b.dt
        GROUP BY e.dt, b.day_events
        ORDER BY e.dt
    """,
    "scan_parquet_project": """
        SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem
    """,
    "filter_time_range": f"""
        SELECT event_id, ts, user_id, event_type, value
        FROM events
        WHERE ts BETWEEN TIMESTAMP '{TIME_RANGE[0]}' AND TIMESTAMP '{TIME_RANGE[1]}'
    """,
    "filter_predicate_compound": """
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE event_type IN ('click', 'purchase')
          AND value > 50.0
          AND user_id % 2 = 0
    """,
    "project_whitelist": """
        SELECT event_id, ts, event_type FROM events
    """,
    "scan_json_lines": """
        SELECT event_id, CAST(props->>'$.k' AS INT) AS prop_k FROM events
    """,
    "scan_orc_roundtrip": """
        SELECT o_orderkey, o_orderstatus,
               ROUND(o_totalprice, 4) AS o_totalprice
        FROM orders WHERE o_totalprice > 50000.0
    """,
    "scan_xml_roundtrip": """
        SELECT p_partkey, p_name, p_brand, p_type, p_size,
               ROUND(p_retailprice, 4) AS p_retailprice
        FROM part WHERE p_retailprice > 950.0
    """,
    "scan_text_regex_extract": """
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events WHERE event_type = 'view'
    """,
    "scan_csv_roundtrip": """
        SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_acctbal > 1000.0
    """,
    # the oracle re-derives both staged generations from the base orders
    # table with the identical %2 split (same trick the evolution-merge
    # oracle uses) — no dependency on scratch paths
    "dq_schema_drift": """
        WITH old_g AS (
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey % 2 = 0
        ), new_g AS (
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
            WHERE o_orderkey % 2 = 1
        )
        SELECT 'o_orderkey' AS col_name, TRUE AS in_old, TRUE AS in_new,
               (SELECT ROUND(AVG(CASE WHEN o_orderkey IS NULL
                    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
                FROM old_g) AS null_frac_old,
               (SELECT ROUND(AVG(CASE WHEN o_orderkey IS NULL
                    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
                FROM new_g) AS null_frac_new
        UNION ALL
        SELECT 'o_orderpriority', FALSE, TRUE, CAST(-1.0 AS DOUBLE),
               (SELECT ROUND(AVG(CASE WHEN o_orderpriority IS NULL
                    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
                FROM new_g)
        UNION ALL
        SELECT 'o_totalprice', TRUE, TRUE,
               (SELECT ROUND(AVG(CASE WHEN o_totalprice IS NULL
                    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
                FROM old_g),
               (SELECT ROUND(AVG(CASE WHEN o_totalprice IS NULL
                    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4)
                FROM new_g)
        ORDER BY col_name
    """,
    "scan_schema_evolution_merge": """
        SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                        '(pre-schema)') AS priority,
               COUNT(1) AS n_orders,
               CAST(ROUND(SUM(o_totalprice::DECIMAL(18,4)), 4) AS DOUBLE)
                   AS total
        FROM orders
        GROUP BY 1
        ORDER BY priority
    """,
    "scan_partition_pruning": """
        SELECT STRFTIME(ts, '%Y-%m-%d') AS dt, event_type,
               COUNT(1) AS n_events, ROUND(SUM(value), 4) AS sum_value
        FROM events
        WHERE STRFTIME(ts, '%Y-%m-%d') IN ('2024-01-01', '2024-01-02')
        GROUP BY 1, 2
        ORDER BY dt, event_type
    """,
}


def ORACLE_DYNAMIC() -> dict:
    """Path-dependent oracle, built per scale factor (see
    registry.oracle_sql): DuckDB's ``parquet_metadata()`` takes only a
    constant path argument, and the lineitem table is a single file in the
    driver testdata but a Spark-written DIRECTORY of part files in the
    scale-up dirs — so the literal (and the glob) must be resolved when the
    oracle set is requested, not at import."""
    import os

    from build_pipeline_with_apache_beam_spark.oracle import oracle_sf_dir

    path = os.path.join(oracle_sf_dir(), "lineitem.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return {
        # one row per row group: grouped from parquet_metadata()'s
        # per-column-chunk rows — identical footers, identical values
        "scan_parquet_rowgroup_profile": f"""
            SELECT parse_filename(file_name) AS file_name,
                   row_group_id::INTEGER AS row_group_id,
                   ANY_VALUE(row_group_num_rows)::BIGINT AS num_rows,
                   COUNT(*)::INTEGER AS n_col_chunks,
                   SUM(total_compressed_size)::BIGINT AS compressed_bytes
            FROM parquet_metadata('{path}')
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
    }
