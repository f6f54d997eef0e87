"""The SQL-literal emitter (``functions/sqlgen.py``): every literal reads
back bit-exactly in Spark SQL and DuckDB, ``values`` keeps its DDL schema
with and without rows, a non-text SQL argument fails at the call, and no
other package module formats a Python value into SQL text by hand."""

from __future__ import annotations

import ast
import math
import os
import random
import re
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from build_pipeline_with_apache_beam_spark.functions import sqlgen

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "build_pipeline_with_apache_beam_spark")

_SPECIAL = [
    float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
    5e-324,                        # smallest subnormal
    2.2250738585072014e-308,       # smallest normal
    1.7976931348623157e308,        # largest double
    -1.7976931348623157e308, 0.1, 1 / 3, 0.30000000000000004,
]


def _random_doubles(n: int = 1000) -> list[float]:
    rng = random.Random(20261019)
    return [struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0]
            for _ in range(n)]


DOUBLES = _SPECIAL + _random_doubles()

# Long.MIN_VALUE/MAX_VALUE and Bloom mask words: a saturated filter's words
# are small negatives, and a word with bit 63 set is negative
LONGS = [-(1 << 63), (1 << 63) - 1, 0, 1, -1, -2, -(1 << 62),
         -(1 << 63) + 1, -0x5555555555555556, 0x7FFFFFFFFFFFFFFE, 1 << 40]

STRINGS = ["", "it's", "back\\slash", "\\'", "''", "a\\nb", "\\u0041",
           "line\nbreak", "ünïcødé", "漢字とかな", "emoji 🙂", "tab\tend"]


def _same_double(a: float, b: float) -> bool:
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return struct.pack("<d", a) == struct.pack("<d", b)


def _assert_doubles(got: list[float], want: list[float]) -> None:
    bad = [(w, g) for g, w in zip(got, want) if not _same_double(g, w)]
    assert len(got) == len(want) and not bad, bad[:5]


def test_doubles_round_trip_in_spark(spark):
    row = spark.sql(f"SELECT {sqlgen.array(DOUBLES)} AS a").collect()[0]
    _assert_doubles(row.a, DOUBLES)
    rows = spark.sql(sqlgen.values(
        [(i, v) for i, v in enumerate(DOUBLES)], "i INT, v DOUBLE")
    ).orderBy("i").collect()
    _assert_doubles([r.v for r in rows], DOUBLES)


def test_doubles_round_trip_in_duckdb():
    rows = duckdb.sql(sqlgen.values(
        [(i, v) for i, v in enumerate(DOUBLES)], "i INT, v DOUBLE")
    ).fetchall()
    _assert_doubles([v for _, v in sorted(rows)], DOUBLES)
    listed = duckdb.sql(
        f"SELECT [{', '.join(map(sqlgen.lit, DOUBLES))}]").fetchone()[0]
    _assert_doubles(listed, DOUBLES)


def test_negative_zero_keeps_its_sign(spark):
    """A bare ``-0.0`` is a negated decimal zero and reads as ``+0.0``."""
    assert math.copysign(1.0, spark.sql(
        f"SELECT {sqlgen.lit(-0.0)} AS z").collect()[0].z) == -1.0
    assert math.copysign(1.0, duckdb.sql(
        f"SELECT {sqlgen.lit(-0.0)}").fetchone()[0]) == -1.0


def test_longs_round_trip_as_bigint(spark):
    df = spark.sql(f"SELECT {sqlgen.array(LONGS)} AS a")
    assert df.schema["a"].dataType.simpleString() == "array<bigint>"
    assert df.collect()[0].a == LONGS
    assert list(duckdb.sql(
        f"SELECT [{', '.join(map(sqlgen.lit, LONGS))}]").fetchone()[0]) \
        == LONGS
    with pytest.raises(ValueError):
        sqlgen.lit(1 << 63)


def test_strings_and_bytes_round_trip_in_spark(spark):
    rows = [(i, s, s.encode()) for i, s in enumerate(STRINGS)]
    got = spark.sql(sqlgen.values(rows, "i INT, s STRING, b BINARY")) \
        .orderBy("i").collect()
    assert [(r.i, r.s, bytes(r.b)) for r in got] == rows


def test_values_schema_with_and_without_rows(spark):
    """Many rows, one row (a SELECT without FROM, so no table scan) and no
    rows all carry the DDL's names and types."""
    ddl = ("n BIGINT, ok BOOLEAN, x DOUBLE, s STRING, k INT, "
           "d DECIMAL(10, 2), m MAP<STRING, INT>")
    rows = [(3, True, 0.5, None, 7, 1.25, None),
            (-4, False, None, "z", None, None, None)]
    many, one, empty = (spark.sql(sqlgen.values(r, ddl))
                        for r in (rows, rows[:1], []))
    want = [("n", "bigint"), ("ok", "boolean"), ("x", "double"),
            ("s", "string"), ("k", "int"), ("d", "decimal(10,2)"),
            ("m", "map<string,int>")]
    assert many.dtypes == one.dtypes == empty.dtypes == want
    first = {"n": 3, "ok": True, "x": 0.5, "s": None, "k": 7,
             "d": pytest.approx(1.25), "m": None}
    assert one.collect()[0].asDict() == first
    assert [r.asDict() for r in many.orderBy(F.desc("n")).collect()] == [
        first, {"n": -4, "ok": False, "x": None, "s": "z", "k": None,
                "d": None, "m": None}]
    assert empty.collect() == []
    for r in ([], [(1, True)]):
        assert duckdb.sql(sqlgen.values(r, "n BIGINT, ok BOOLEAN")).fetchall() \
            == r
    with pytest.raises(ValueError):
        sqlgen.values([(1, 2)], "n BIGINT")


def test_zip_fold_sums_left_to_right(spark):
    a, b = [0.1, 1e16, -1e16, 3.0], [1.0, 1.0, 1.0, 0.5]
    got = spark.sql(
        f"SELECT {sqlgen.zip_fold(sqlgen.array(a), sqlgen.array(b))} AS d,"
        f" {sqlgen.zip_fold(sqlgen.array(a), sqlgen.array(b), 'x - y')}"
        " AS e").collect()[0]
    d = e = 0.0
    for x, y in zip(a, b):
        d, e = d + x * y, e + (x - y)
    assert _same_double(got.d, d) and _same_double(got.e, e)


def test_sql_text_arguments_must_be_str(spark):
    col = F.col("x")
    for call in (lambda: sqlgen.zip_fold(col, "y"),
                 lambda: sqlgen.zip_fold("x", "y", col),
                 lambda: sqlgen.values([(1,)], col),
                 lambda: sqlgen.array(col),
                 lambda: sqlgen.array("abc"),
                 lambda: sqlgen.lit(col)):
        with pytest.raises(TypeError):
            call()


_TEXT_PATTERNS = [re.compile(p) for p in
                  (r"!r\}\s*AS DOUBLE", r"def _dlit\b", r"\}L[\"']")]


def _hand_formatted(pkg: str) -> list[str]:
    """``path:line`` of every hand-formatted SQL literal under ``pkg``."""
    found = []
    for root, dirs, names in os.walk(pkg):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in names:
            path = os.path.join(root, name)
            if not name.endswith(".py") or name == "sqlgen.py":
                continue
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            rel = os.path.relpath(path, pkg)
            for i, line in enumerate(src.splitlines(), 1):
                if any(p.search(line) for p in _TEXT_PATTERNS):
                    found.append(f"{rel}:{i}")
            for node in ast.walk(ast.parse(src)):
                if isinstance(node, ast.JoinedStr) and any(
                        isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Name)
                        and n.func.id == "repr" for n in ast.walk(node)):
                    found.append(f"{rel}:{node.lineno}")
    return found


def test_no_hand_formatted_literals():
    """Values become SQL text through ``sqlgen`` only: no ``!r}`` double
    casts, no ``repr(...)`` inside an f-string, no ``_dlit``, and no
    ``{v}L`` long elements anywhere else in the package."""
    assert _hand_formatted(PKG) == []
