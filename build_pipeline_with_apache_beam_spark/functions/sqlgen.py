"""SQL text for Python values: the one place a value becomes a literal.

Operators carry driver-side values into a plan (a codebook, a weight
vector, a Bloom mask, a trace table) as SQL text parsed by one ``F.expr``
or ``spark.sql`` call.  Composing it from ``F.lit`` Columns costs a py4j
round trip per literal, 0.5-2.5 s per call for the 256-1024-literal
hyperplanes, codebooks and masks; the text costs nothing at run time,
because constant folding turns each literal expression into one
``Literal``.  Small tables are ``VALUES`` relations (a JVM-side
``LocalRelation``), never ``spark.createDataFrame``: a Python-RDD build
side launches Python workers to broadcast a few rows and can stall the
broadcast.

A double is ``CAST('<repr>' AS DOUBLE)``, which reads back bit-exactly in
Spark and DuckDB, ``-0.0``, ``nan`` and ``±inf`` included.  A bare
``-0.0`` is a negated decimal zero that reads as ``+0.0``, and a bare
``nan`` parses as a column name.  SQL-text arguments must be ``str``: a
``Column`` where text belongs fails at the call.
"""

from __future__ import annotations

from collections.abc import Sequence


def _text(**args) -> None:
    for name, v in args.items():
        if not isinstance(v, str):
            raise TypeError(f"{name} must be SQL text, got {type(v).__name__}")


def lit(v) -> str:
    """The literal of ``None``, a ``bool``, an ``int`` (BIGINT), a ``float``
    (DOUBLE), a ``str`` or ``bytes``.  Strings are escaped for Spark, where
    ``\\`` escapes; DuckDB reads ``\\`` literally, so its queries take no
    ``str`` from here."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if not -(1 << 63) <= v < 1 << 63:
            raise ValueError(f"{v} does not fit a BIGINT")
        return f"CAST({v} AS BIGINT)"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, bytes):
        return f"X'{v.hex()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def array(values: Sequence) -> str:
    """Spark ``array(...)`` of ``values``; a list or tuple element nests."""
    if not isinstance(values, (list, tuple)):
        raise TypeError(f"values must be a list or tuple, "
                        f"got {type(values).__name__}")
    return "array({})".format(", ".join(
        array(v) if isinstance(v, (list, tuple)) else lit(v) for v in values))


def zip_fold(a: str, b: str, body: str = "x * y") -> str:
    """``Σ body(x, y)`` over the zipped arrays ``a`` and ``b``, summed left
    to right from a DOUBLE zero; the default body makes a dot product."""
    _text(a=a, b=b, body=body)
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> {body}), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def values(rows: Sequence[Sequence], ddl: str) -> str:
    """A query over the literal ``rows``, each cell cast to its column's
    type in ``ddl`` (``"name TYPE, ..."``).  One row is a ``SELECT``
    without ``FROM`` (a one-row relation, no table scan); no rows is the
    same ``SELECT`` of NULLs ``WHERE FALSE``: zero rows, same schema."""
    _text(ddl=ddl)
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:  # a comma inside <> or () is a type's
            cols.append(ddl[start:i].split(None, 1))
            start = i + 1
    if any(len(c) != 2 for c in cols) or any(len(r) != len(cols) for r in rows):
        raise ValueError(f"rows do not match the DDL {ddl!r}")
    if len(rows) < 2:
        row = rows[0] if rows else [None] * len(cols)
        return "SELECT " + ", ".join(
            f"CAST({lit(v)} AS {t}) AS {n}" for v, (n, t) in zip(row, cols)
        ) + ("" if rows else " WHERE FALSE")
    body = ", ".join("({})".format(", ".join(
        f"CAST({lit(v)} AS {t})" for v, (_, t) in zip(row, cols)))
        for row in rows)
    names = ", ".join(n for n, _ in cols)
    return f"SELECT * FROM (VALUES {body}) AS t({names})"
