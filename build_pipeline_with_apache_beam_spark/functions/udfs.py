"""UDF surface: the engine's extension points, one op per UDF flavor.

The reference's extension mechanism is the Beam DoFn (row-at-a-time Python
over the Fn API, /root/reference/retrieval.py:123-169,
normalization.py:81-130).  Spark's ladder, fastest first:

1. built-in expressions (everything else in this package — always preferred);
2. ``@pandas_udf`` scalar / grouped-agg: Arrow-batched, vectorized — the
   Fn-API hop replaced by zero-copy columnar transfer;
3. ``mapInPandas``: batch-iterator flatMap (the DoFn ``process``-with-yield
   analog, N2's array-line → records shape);
4. row-at-a-time ``@udf``: exact-Python-semantics escape hatch — the only
   place the reference's per-element behavior is reproduced verbatim.

Each op here exists to pin one rung's semantics + plan shape; pipelines
should copy these patterns, not invent new ones.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udf

from build_pipeline_with_apache_beam_spark import catalog
from build_pipeline_with_apache_beam_spark.catalog import load_table


@udf(T.StringType())
def _py_title_tag(name: str, key: int) -> str:
    """Row-at-a-time Python (deliberately: pins Python string semantics)."""
    if name is None:
        return None
    return f"{name.strip().upper()}#{key}"


def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        _py_title_tag(F.col("c_name"), F.col("c_custkey")).alias("name_tag"),
    )


def udf_arrow_optimized_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 Arrow-optimized Python UDF (``useArrow=True``): the same
    row-level Python function as ``udf_python_scalar``, but batched over
    Arrow instead of pickled row-at-a-time — the one-flag migration path
    for legacy Python UDFs that can't be rewritten as pandas UDFs.  The
    plan shows ArrowEvalPython instead of BatchEvalPython; the oracle is
    identical SQL, so the flag is proven semantics-preserving."""
    tag = F.udf(lambda name, key: f"{name}#{key % 7}", T.StringType(),
                useArrow=True)
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        tag(F.col("c_name"), F.col("c_custkey")).alias("name_tag"),
    )


@pandas_udf(T.DoubleType())
def _sigmoid_scaled(v: pd.Series) -> pd.Series:
    """Vectorized scalar: Arrow batches in, numpy math, Arrow out."""
    import numpy as np

    return 1.0 / (1.0 + np.exp(-v / 100.0))


def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(_sigmoid_scaled(F.col("value")), 4).alias("value_sigmoid"),
    )


@pandas_udf(T.DoubleType())
def _weighted_avg(v: pd.Series, w: pd.Series) -> float:
    """GROUPED_AGG pandas UDF: whole group's columns arrive as Series."""
    denom = w.sum()
    return float((v * w).sum() / denom) if denom else float("nan")


def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average of value by event_type, weighted by the JSON prop k."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        ev.select("event_type", F.col("value"), k.alias("k"))
        .groupBy("event_type")
        .agg(F.round(_weighted_avg(F.col("value"), F.col("k")), 4)
             .alias("weighted_avg_value"))
    )


def udf_grouped_agg_over_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF-SURFACE DEMO, not the product rolling-aggregate path: the same
    GROUPED_AGG pandas UDF applied OVER a window frame — custom aggregates
    compose with window specs exactly like built-ins (the UDAF-as-window
    corner of the UDF surface).  Pipelines computing a rolling weighted
    average should use ``window_rolling_weighted_avg`` below: the identical
    result from two built-in window sums, pure JVM, ~25× faster — bounded
    frames re-evaluate a Python UDAF per frame (no retract path for
    arbitrary Python).

    The oracle is the windowed sum(v*w)/sum(w) identity — computed on exact
    integer cents, because float window sums associate differently across
    engines (segment trees vs frame order) and flip rounding boundaries.
    """
    from pyspark.sql import Window as W

    # bounded demo slice: per-frame Python re-evaluation costs ~2 ms/row,
    # so the demo runs on a 20-user subset — the full-corpus rolling
    # aggregate is window_rolling_weighted_avg (pure JVM, unbounded input)
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    k = F.get_json_object("props", "$.k").cast("double")
    cents = F.round(F.col("value") * 100).cast("double")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, W.currentRow))
    base = ev.select("event_id", "user_id", "ts",
                     cents.alias("v_cents"), k.alias("k"))
    raw = _weighted_avg(F.col("v_cents"), F.col("k")).over(w) / 100
    # truncate, don't round: the quotient can land exactly on a decimal
    # half-boundary, where Spark (binary-faithful HALF_UP) and DuckDB
    # (decimal-repr rounding) disagree; floor of identical doubles cannot
    return (
        base.select(
            "event_id", "user_id",
            (F.floor(raw * 10000) / 10000).alias("rolling_weighted_avg"))
        .orderBy("event_id")
    )


def window_rolling_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT rolling weighted average: the built-in twin of
    ``udf_grouped_agg_over_window`` — sum(v*k) OVER w / sum(k) OVER w on the
    same 5-row frame.  Two JVM window sums share one WindowExec (one shuffle
    on user_id, one sort per partition, whole-stage codegen frame updates),
    so at 100 TB cost is the partition shuffle, not per-frame CPU.  Same
    integer-cents + truncate conventions as the demo op, so both land on
    identical values.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    cents = F.round(F.col("value") * 100).cast("double")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, W.currentRow))
    base = ev.select("event_id", "user_id", "ts",
                     cents.alias("v_cents"), k.alias("k"))
    # try_divide: an all-zero-weight frame has an undefined average → NULL,
    # matching both the SQL oracle (x/0 → NULL) and the UDF demo (whose
    # pandas NaN becomes null over Arrow)
    raw = F.try_divide(F.sum(F.col("v_cents") * F.col("k")).over(w),
                       F.sum("k").over(w)) / 100
    return (
        base.select(
            "event_id", "user_id",
            (F.floor(raw * 10000) / 10000).alias("rolling_weighted_avg"))
        .orderBy("event_id")
    )


def udtf_explode_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoFn-style 1→N batch flatMap via mapInPandas (N2's line-array →
    records, normalization.py:89-90): documents → one row per token."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def explode_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            out = pdf[["doc_id"]].copy()
            out["token"] = toks
            yield out.explode("token", ignore_index=True)

    return docs.mapInPandas(explode_tokens, "doc_id BIGINT, token STRING")


def udtf_python_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Python UDTF (Spark 4 ``@udtf``) in a SQL LATERAL join: each
    document fans out to its first 3 (position, token) rows.

    Unlike mapInPandas (whole-partition batches), a UDTF is a per-row table
    function the planner places in a lateral correlation — the closest
    native analog of Beam's DoFn-with-yield (retrieval.py:235).  Arrow
    transfer still batches under the hood.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos INT, token STRING")
    class TokenizeHead:
        def eval(self, text: str):
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")[:3]):
                yield i, tok

    spark.udtf.register("tokenize_head", TokenizeHead)
    return catalog.sql(spark, sf_dir, """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d, LATERAL tokenize_head(d.text) t
    """)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Whole-group pandas function: per-group standardization."""
    mean = pdf["value"].mean()
    std = pdf["value"].std(ddof=1)  # sample stddev = SQL stddev_samp
    out = pdf[["event_id", "event_type"]].copy()
    out["z"] = ((pdf["value"] - mean) / std).round(4)
    return out


def udf_grouped_map_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInPandas`` — the whole-group Arrow UDF (grouped map).

    Each group arrives as ONE pandas DataFrame, so cross-row group logic
    (standardization here) is plain pandas.  Cost model at 100 TB: one
    shuffle on the grouping key and the largest single group must fit in
    one executor's memory — use grouped-agg or window functions when the
    per-group logic is expressible there (this op's oracle shows the
    window-function equivalent).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(_zscore_group,
                       "event_id BIGINT, event_type STRING, z DOUBLE")
    )


def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy tier of the Python UDF surface: the
    batch arrives as a pyarrow RecordBatch and the transform runs in Arrow
    compute kernels, skipping even the pandas conversion that mapInPandas
    pays.  The right tier for high-throughput columnar transforms whose ops
    exist in pyarrow.compute.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def arrow_stats(batches):
        for batch in batches:
            value = batch.column("value")
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"),
                 pc.multiply(value, 1.1),
                 pc.utf8_length(batch.column("event_type"))],
                ["event_id", "value_adj_raw", "type_len"])

    ev = load_table(spark, sf_dir, "events")
    out = (ev.select("event_id", "value", "event_type")
           .mapInArrow(arrow_stats,
                       "event_id BIGINT, value_adj_raw DOUBLE, type_len INT"))
    # final rounding JVM-side: SQL ROUND is half-up over decimal digits,
    # while pyarrow's round kernel can land on a different representable
    # double — keep the presentation rounding in one engine's semantics
    return out.select("event_id",
                      F.round("value_adj_raw", 4).alias("value_adj"),
                      "type_len")


QUERIES = {
    "udf_arrow_optimized_scalar": udf_arrow_optimized_scalar,
    "udf_map_in_arrow": udf_map_in_arrow,
    "udf_python_scalar": udf_python_scalar,
    "udf_pandas_scalar": udf_pandas_scalar,
    "udf_grouped_agg": udf_grouped_agg,
    "udf_grouped_agg_over_window": udf_grouped_agg_over_window,
    "window_rolling_weighted_avg": window_rolling_weighted_avg,
    "udtf_explode_batch": udtf_explode_batch,
    "udf_grouped_map_pandas": udf_grouped_map_pandas,
    "udtf_python_native": udtf_python_native,
}

ORACLE = {
    "udf_arrow_optimized_scalar": """
        SELECT c_custkey,
               c_name || '#' || CAST(c_custkey % 7 AS VARCHAR) AS name_tag
        FROM customer
    """,
    "udf_map_in_arrow": """
        SELECT event_id,
               ROUND(value * 1.1, 4) AS value_adj,
               CAST(LENGTH(event_type) AS INT) AS type_len
        FROM events
    """,
    "udf_python_scalar": """
        SELECT c_custkey,
               UPPER(TRIM(c_name)) || '#' || CAST(c_custkey AS VARCHAR) AS name_tag
        FROM customer
    """,
    "udf_pandas_scalar": """
        SELECT event_id,
               ROUND(1.0 / (1.0 + EXP(-value / 100.0)), 4) AS value_sigmoid
        FROM events
    """,
    "udf_grouped_agg_over_window": """
        SELECT event_id, user_id,
               FLOOR((SUM(v_cents * k) OVER w / SUM(k) OVER w / 100) * 10000)
                   / 10000 AS rolling_weighted_avg
        FROM (SELECT event_id, user_id, ts,
                     CAST(ROUND(value * 100) AS DOUBLE) AS v_cents,
                     CAST(props->>'$.k' AS DOUBLE) AS k
              FROM events WHERE user_id < 20)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "window_rolling_weighted_avg": """
        SELECT event_id, user_id,
               FLOOR((SUM(v_cents * k) OVER w / SUM(k) OVER w / 100) * 10000)
                   / 10000 AS rolling_weighted_avg
        FROM (SELECT event_id, user_id, ts,
                     CAST(ROUND(value * 100) AS DOUBLE) AS v_cents,
                     CAST(props->>'$.k' AS DOUBLE) AS k
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "udf_grouped_agg": """
        SELECT event_type,
               ROUND(SUM(value * CAST(props->>'$.k' AS DOUBLE))
                     / SUM(CAST(props->>'$.k' AS DOUBLE)), 4) AS weighted_avg_value
        FROM events GROUP BY event_type
    """,
    "udtf_explode_batch": """
        SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    """,
    "udtf_python_native": """
        WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
        SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
        FROM t, UNNEST(range(1, least(len(toks), 3) + 1)) AS u(i)
    """,
    "udf_grouped_map_pandas": """
        SELECT event_id, event_type,
               ROUND((value - AVG(value) OVER w)
                     / STDDEV_SAMP(value) OVER w, 4) AS z
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    """,
}
