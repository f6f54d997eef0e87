"""Reference-parity normalization operators.

This is the heart of the reference's data semantics — ``NormalizeJson``
(/root/reference/normalization.py:81-107) and the JSON validate/round-trip
helpers (/root/reference/retrieval.py:89-113):

- each input line is a JSON *array* of records (normalization.py:89-90);
- records are projected to a 13-key whitelist (normalization.py:91-95);
- nested values flatten: empty dict → ``""``, any other dict/list →
  Python ``str(value)`` — NOT json (single quotes), and an empty *list*
  becomes ``"[]"`` because the empty-check matches only ``{}``
  (normalization.py:96-103);
- unparseable records become null and are dropped (retrieval.py:97-113).

Two modes:
- **idiomatic** (default): ``to_json`` for nested values — JVM-side,
  whole-stage codegen, what a Spark-first pipeline should do;
- **parity**: an Arrow-batched pandas UDF reproducing Python ``str(dict)``
  byte-for-byte for migration-compatibility checks.

Both are DataFrame→DataFrame and never materialize on the driver (the
reference pulls every record through the launcher process; see SURVEY.md §3).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from build_pipeline_with_apache_beam_spark.catalog import load_table

#: The reference's projection whitelist (normalization.py:91-92).
BALANCE_LOG_KEYS = (
    "_id", "accountId", "creatorId", "creatorName", "resourceName",
    "resource", "type", "amount", "before", "after", "notes",
    "executeAt", "createdAt",
)


# ---------------------------------------------------------------------------
# Library surface (arbitrary DataFrames)
# ---------------------------------------------------------------------------

def parse_json_array_lines(df: DataFrame, col: str, element_schema) -> DataFrame:
    """One text line = one JSON array of records → one row per record.

    The Spark-native version of NormalizeJson's ``json.loads`` + iterate
    (normalization.py:89-90): ``from_json(ArrayType)`` + ``explode``.
    PERMISSIVE: malformed lines become null arrays and vanish (the
    reference's tolerate-and-skip, normalization.py:83-85).
    """
    arr = F.from_json(F.col(col), T.ArrayType(element_schema))
    return (
        df.withColumn("_rec", F.explode(arr))
        .select("_rec.*")
    )


def project_whitelist_cols(df: DataFrame, keys=BALANCE_LOG_KEYS) -> DataFrame:
    """Keep only whitelisted columns that actually exist (normalization.py:91-95)."""
    present = [k for k in keys if k in df.columns]
    return df.select(*present)


def _flatten_idiomatic(c: Column, dtype) -> Column:
    """Nested value → compact JSON text; empty-object → '' (normalization.py:96-100)."""
    if not isinstance(dtype, (T.StructType, T.MapType, T.ArrayType)):
        return c
    j = F.to_json(c)
    empty = F.lit("{}") if isinstance(dtype, (T.StructType, T.MapType)) else None
    out = F.when(c.isNull(), F.lit(None))
    if empty is not None:
        out = out.when(j == empty, F.lit(""))
    return out.otherwise(j)


@pandas_udf(T.StringType())
def _py_str_render(s: pd.Series) -> pd.Series:
    """Exact-parity rendering: Python ``str(value)`` on the parsed JSON value,
    with the reference's asymmetric empty-check (``{}`` → '', ``[]`` → '[]',
    normalization.py:97-100).  Input is the value re-serialized as JSON text
    (nulls pass through)."""
    import json

    def render(v):
        if v is None:
            return None
        parsed = json.loads(v)
        if parsed == {}:
            return ""
        return str(parsed)

    return s.map(render)


def flatten_nested(df: DataFrame, mode: str = "idiomatic") -> DataFrame:
    """Flatten every nested column to a string per the reference's rules.

    ``mode='idiomatic'``: to_json (JVM, codegen).  ``mode='parity'``:
    pandas-UDF Python ``str()`` rendering — byte-identical to
    normalization.py:96-103 including the single-quote dict rendering.
    """
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StructType, T.MapType, T.ArrayType)):
            if mode == "parity":
                c = _py_str_render(F.to_json(F.col(f.name))).alias(f.name)
            else:
                c = _flatten_idiomatic(F.col(f.name), f.dataType).alias(f.name)
        else:
            c = F.col(f.name)
        cols.append(c)
    return df.select(*cols)


def json_validate_nullify_col(df: DataFrame, col: str, schema) -> DataFrame:
    """validate_json/format_campaign_data semantics (retrieval.py:97-113):
    try-parse; bad input → null (PERMISSIVE), caller filters or keeps."""
    return df.withColumn(col, F.from_json(F.col(col), schema))


def normalize_balance_log(df: DataFrame, mode: str = "idiomatic") -> DataFrame:
    """Full NormalizeJson equivalent on an already-parsed DataFrame:
    whitelist projection + nested flattening (normalization.py:91-103)."""
    return flatten_nested(project_whitelist_cols(df), mode=mode)


# ---------------------------------------------------------------------------
# Registered queries (driver gate, on the synthetic tables)
# ---------------------------------------------------------------------------

def q_normalize_flatten_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten-nested on events.props: parse → struct, re-render per the
    reference's rules (empty object → '', else compact JSON)."""
    ev = load_table(spark, sf_dir, "events")
    # exercise the empty-dict branch on a deterministic subset
    raw = F.when(F.col("event_id") % 10 == 0, F.lit("{}")).otherwise(F.col("props"))
    parsed = F.from_json(raw, "k INT")
    flat = F.when(F.to_json(parsed) == "{}", F.lit("")).otherwise(F.to_json(parsed))
    return ev.select("event_id", flat.alias("props_flat"))


def q_json_validate_nullify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt a deterministic subset of props, then from_json-PERMISSIVE:
    bad JSON → null (the R5/R6 tolerate-and-null path)."""
    ev = load_table(spark, sf_dir, "events")
    # corrupt with a LEADING char: from_json ignores trailing garbage after a
    # complete JSON value, so 'x{...}' is invalid while '{...}x' parses
    corrupted = F.when(F.col("event_id") % 7 == 0,
                       F.concat(F.lit("x"), F.col("props"))).otherwise(F.col("props"))
    # PERMISSIVE from_json yields a struct of nulls (not a null struct) on
    # corrupt input, so validity is judged on the projected field — the same
    # "did it parse into the expected shape" check as validate_json
    parsed = F.from_json(corrupted, "k INT")
    return ev.select(
        "event_id",
        F.col("props").alias("props_raw"),
        parsed.getField("k").isNotNull().alias("is_valid"),
    )


def q_normalize_parity_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity-mode rendering of props through the pandas UDF: dict → Python
    ``str(dict)`` with single quotes (normalization.py:100).  Oracle builds
    the same rendering from the extracted key (single-key objects)."""
    ev = load_table(spark, sf_dir, "events")
    rendered = _py_str_render(F.to_json(F.from_json("props", "k INT")))
    return ev.select("event_id", rendered.alias("props_pystr"))


def q_normalize_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's complete NormalizeJson flow as one registered query
    (normalization.py:81-107 end-to-end): JSONL lines that each hold a JSON
    ARRAY of records → parse → explode → whitelist-project → flatten.

    The array-lines are staged from events (10 records per line, the
    reference's batch shape) so the whole chain — including the
    line-as-array quirk at normalization.py:89-90 — runs under the oracle
    gate, not just in unit tests.  Every step after the text scan is a
    codegen expression.
    """
    from build_pipeline_with_apache_beam_spark.catalog import load_table
    from build_pipeline_with_apache_beam_spark.scratch import derived

    def write_lines(path: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        rec = F.to_json(F.struct(
            F.col("event_id").cast("string").alias("_id"),
            F.col("event_type").alias("type"),
            F.col("value").alias("amount"),
            F.struct(F.col("user_id").alias("uid")).alias("resource"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("createdAt")))
        lines = (ev.groupBy((F.col("event_id") / 10).cast("long").alias("g"))
                 .agg(F.concat(F.lit("["),
                               F.concat_ws(",", F.collect_list(rec)),
                               F.lit("]")).alias("value"))
                 .select("value"))
        lines.write.text(path)

    path = derived(sf_dir, "arraylines", write_lines)
    element = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("resource", T.MapType(T.StringType(), T.LongType())),
        T.StructField("createdAt", T.StringType()),
    ])
    raw = spark.read.text(path)
    normalized = normalize_balance_log(
        parse_json_array_lines(raw, "value", element))
    return normalized.select(
        F.col("_id").cast("bigint").alias("event_id"),
        "type",
        F.round("amount", 4).alias("amount"),
        "resource",
        "createdAt",
    ).orderBy("event_id")


QUERIES = {
    "normalize_pipeline_e2e": q_normalize_pipeline_e2e,
    "normalize_flatten_nested": q_normalize_flatten_nested,
    "json_validate_nullify": q_json_validate_nullify,
    "udf_python_parity_render": q_normalize_parity_udf,
}

ORACLE = {
    "normalize_pipeline_e2e": """
        SELECT event_id, event_type AS type,
               ROUND(value, 4) AS amount,
               '{"uid":' || CAST(user_id AS VARCHAR) || '}' AS resource,
               STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS createdAt
        FROM events
        ORDER BY event_id
    """,
    "normalize_flatten_nested": """
        SELECT event_id,
               CASE WHEN event_id % 10 = 0 THEN ''
                    ELSE json_extract(props, '$')::VARCHAR END AS props_flat
        FROM events
    """,
    "json_validate_nullify": """
        SELECT event_id, props AS props_raw,
               (event_id % 7 <> 0) AS is_valid
        FROM events
    """,
    "udf_python_parity_render": """
        SELECT event_id,
               '{''k'': ' || (props->>'$.k') || '}' AS props_pystr
        FROM events
    """,
}
