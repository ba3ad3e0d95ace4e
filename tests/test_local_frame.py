"""``session.local_frame`` against the list path it replaces.

``spark.createDataFrame(<list>, ddl)`` is the reference: for every type
the engine's schema strings use, ``local_frame`` must give equal rows
and an equal schema, and a row that fails verification must raise the
same error. The last test keeps the list path out of ``crate_spark/``.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import time
from decimal import Decimal

import pytest

from crate_spark.session import ddl_schema, local_frame

UTC = dt.timezone.utc
PLUS5 = dt.timezone(dt.timedelta(hours=5, minutes=30))

#: (DDL, rows): one case per column type the engine declares, each
#: with a NULL row
CASES = [
    ("a string", [("x",), ("",), (None,), ("©rate ü",)]),
    ("a int", [(1,), (-(2**31),), (2**31 - 1,), (None,)]),
    ("a bigint", [(2**62,), (-1,), (None,)]),
    ("a smallint, b tinyint", [(-32768, 127), (None, None)]),
    ("a boolean", [(True,), (False,), (None,)]),
    ("a double, b float", [(1.5, 0.1), (float("inf"), -0.0), (None, None)]),
    ("a decimal(10,2), b decimal(38,18)", [
        (Decimal("1.005"), Decimal("3.141592653589793238")),
        (Decimal("-1.005"), Decimal("12345678901234567890.5")),
        (Decimal("7"), None),
        (None, None),
    ]),
    ("a binary", [(b"\x00\xff",), (bytearray(b"ab"),), (b"",), (None,)]),
    ("a date", [(dt.date(1970, 1, 1),), (dt.date(1899, 12, 31),), (None,)]),
    ("a timestamp", [
        (dt.datetime(2024, 3, 10, 2, 30, 0, 123456),),
        (dt.datetime(1969, 12, 31, 23, 59, 59),),
        (dt.datetime(2024, 7, 1, 12, 0, tzinfo=UTC),),
        (dt.datetime(2024, 7, 1, 12, 0, tzinfo=PLUS5),),
        (None,),
    ]),
    ("a timestamp_ntz", [
        (dt.datetime(2024, 3, 10, 2, 30, 0, 123456),),
        (dt.datetime(2024, 7, 1, 12, 0, tzinfo=PLUS5),),
        (None,),
    ]),
    ("a array<string>, b array<double>, c array<int>, d array<float>", [
        (["x", None], [1.0, 2.5], [1, None], [0.5]),
        ([], [], [], []),
        (None, None, None, None),
    ]),
    ("a array<array<double>>", [([[1.0], [], None],), (None,)]),
    ("a map<string,bigint>, b map<string,string>", [
        ({"k": 1, "j": None}, {"x": "y"}),
        ({}, {}),
        (None, None),
    ]),
    ("a struct<id:string,name:string>, b struct<http:int,psql:int,transport:int>", [
        (("n1", "crate"), {"http": 4200, "psql": 5432, "transport": 4300}),
        (("n1", None), None),
        (None, (1, 2, 3)),
    ]),
    ("a struct<months:bigint,days:int,micros:bigint>, b struct<created:string,upgraded:string>", [
        ((1, 2, 3), ("6.5.0", None)),
        (None, None),
    ]),
    ("a array<struct<t:timestamp,d:decimal(5,1)>>", [
        ([(dt.datetime(2020, 1, 1, 0, 0, 1), Decimal("1.2"))],),
        ([None],),
        (None,),
    ]),
]


def _both(spark, rows, ddl, verify=True):
    ref = spark.createDataFrame(rows, ddl, verifySchema=verify)
    return ref, local_frame(spark, rows, ddl, verify=verify)


@pytest.mark.parametrize("ddl,rows", CASES, ids=[c[0] for c in CASES])
def test_local_frame_matches_list_path(spark, ddl, rows):
    ref, new = _both(spark, rows, ddl)
    assert new.schema == ref.schema
    assert new.collect() == ref.collect()


@pytest.mark.parametrize("ddl,rows", CASES[:3], ids=[c[0] for c in CASES[:3]])
def test_local_frame_empty_list(spark, ddl, rows):
    ref, new = _both(spark, [], ddl)
    assert new.schema == ref.schema
    assert new.collect() == [] == ref.collect()


def test_local_frame_timestamps_under_non_utc_process_tz(spark):
    """The list path turns a naive ``datetime`` in a ``timestamp``
    column into an instant with the process time zone (``time.mktime``),
    not the session time zone. ``local_frame`` must do the same."""
    rows = [
        (dt.datetime(2024, 3, 10, 2, 30), dt.datetime(2024, 3, 10, 2, 30)),
        (dt.datetime(2024, 7, 1, 12, 0), dt.datetime(2024, 7, 1, 12, 0, tzinfo=PLUS5)),
        (dt.datetime(2024, 7, 1, 12, 0, tzinfo=PLUS5), None),
    ]
    ddl = "a timestamp, b timestamp_ntz"

    def instants(df):  # collect() would render ``a`` in the process zone
        return df.selectExpr("unix_micros(a) AS a", "b").collect()

    utc = instants(local_frame(spark, rows, ddl))
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        ref, new = _both(spark, rows, ddl)
        got = instants(new)
        assert got == instants(ref)
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    # the process zone moved the naive instants and nothing else
    assert [r["a"] for r in got[:2]] != [r["a"] for r in utc[:2]]
    assert got[2] == utc[2]
    assert [r["b"] for r in got] == [r["b"] for r in utc]


def test_local_frame_without_verification(spark):
    """``verify=False`` keeps the list path's conversions: a bool in a
    string column becomes 'true', as ``verifySchema=False`` gives."""
    rows = [(True, 1, [1.5])]
    ddl = "s string, n bigint, v array<double>"
    ref, new = _both(spark, rows, ddl, verify=False)
    assert new.collect() == ref.collect()
    assert new.collect()[0]["s"] == "true"


@pytest.mark.parametrize("ddl,row", [
    ("a int", ("x",)),
    ("a int", (2**31,)),
    ("a double", (1,)),
    ("a string, b int", ("x",)),
    ("a array<int>", ([1.5],)),
    ("a struct<x:int>", ((1, 2),)),
    ("a timestamp", (dt.date(2020, 1, 1),)),
])
def test_local_frame_verification_errors_match(spark, ddl, row):
    with pytest.raises(Exception) as ref:
        spark.createDataFrame([row], ddl)
    with pytest.raises(Exception) as new:
        local_frame(spark, [row], ddl)
    assert type(new.value) is type(ref.value)
    assert str(new.value) == str(ref.value)


def test_local_frame_plans_a_local_relation(spark):
    df = local_frame(spark, [(1,)], "rowcount bigint")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_ddl_schema_is_parsed_once():
    assert ddl_schema("a int, b string") is ddl_schema("a int, b string")
    with pytest.raises(TypeError):
        ddl_schema("int")


#: ``createDataFrame`` calls allowed outside ``session.local_frame``:
#: a call whose line carries ``# arrow-rejected: <type>`` names the
#: Spark type ``to_arrow_schema`` rejects for it
ALLOW_MARK = "# arrow-rejected:"


def test_no_python_rdd_frames_in_engine():
    """Driver-built rows go through ``session.local_frame``; a bare
    ``createDataFrame(<rows>, ...)`` would plan a pickled Python RDD
    whose every read is a Spark job with Python-worker tasks."""
    root = pathlib.Path(__file__).resolve().parent.parent / "crate_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        allowed_spans = [
            (node.lineno, node.end_lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef)
            and node.name == "local_frame"
            and path.name == "session.py"
        ]
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            if any(lo <= node.lineno <= hi for lo, hi in allowed_spans):
                continue
            span = lines[node.lineno - 1 : node.end_lineno]
            if any(ALLOW_MARK in ln for ln in span):
                continue
            offenders.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    assert not offenders, (
        "use crate_spark.session.local_frame (or mark the call "
        f"'{ALLOW_MARK} <type>'): {offenders}"
    )
