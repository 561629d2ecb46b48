"""Driver-side row sets as JVM LocalRelations (session.local_frame).

A list handed to ``createDataFrame`` is a Python RDD: every action over
it runs Python worker tasks, one per ``defaultParallelism`` slot. The
helper builds the same rows as an Arrow table instead, which Spark
plans as a ``LocalRelation``. These tests pin that its rows equal
``createDataFrame``'s for every type the engine passes it (and the
temporal, decimal and nested ones a caller may), and that no other
module builds a frame from driver-side rows.
"""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import pathlib
import time

import pytest

from cmsspark_spark.session import local_frame

SCHEMA = (
    "l long, i int, s string, d double, b boolean, "
    "arr array<bigint>, ts timestamp, dte date, dec decimal(12,3), "
    "st struct<x: bigint, t: timestamp, tags: array<string>>, "
    "m map<string, bigint>"
)

ROWS = [
    (
        1, 2, "a", 1.5, True, [1, None, 3],
        dt.datetime(2024, 1, 2, 3, 4, 5, 678), dt.date(2024, 1, 2),
        decimal.Decimal("12.345"),
        (7, dt.datetime(1999, 12, 31, 23, 59), ["x", None]),
        {"k": 1, "z": None},
    ),
    (
        -(2**62), -(2**31), "ünï", -0.0, False, [],
        dt.datetime(1969, 7, 20, 20, 17), dt.date(1900, 3, 1),
        decimal.Decimal("-0.001"), (None, None, []), {},
    ),
    (None,) * 11,
]


@pytest.fixture
def chicago(monkeypatch):
    """A non-UTC local zone for the driver, as the classic path reads
    naive datetimes in it."""
    monkeypatch.setenv("TZ", "America/Chicago")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _leaf(df):
    return (
        df._jdf.queryExecution().analyzed().collectLeaves().apply(0)
        .getClass().getSimpleName()
    )


def test_local_frame_rows_equal_create_dataframe(spark, chicago):
    want = spark.createDataFrame(ROWS, SCHEMA)
    got = local_frame(spark, ROWS, SCHEMA)
    assert _leaf(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # the same instants, not only the same local reading
    render = ("string(ts)", "string(st.t)")
    assert got.selectExpr(*render).collect() == want.selectExpr(*render).collect()
    nulls = got.collect()[2]
    assert all(v is None for v in nulls) and nulls.m is None


@pytest.mark.parametrize(
    "schema",
    [
        "n_truth: bigint, recall_ok: boolean",
        "cluster int, centroid array<bigint>, scale int, train_share double",
        "version int, op string, parent int, n_files int, committed_ms long",
        SCHEMA,
    ],
)
def test_local_frame_empty_keeps_schema(spark, schema):
    got = local_frame(spark, [], schema)
    want = spark.createDataFrame([], schema)
    assert _leaf(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == []


def test_local_frame_takes_a_struct_type(spark):
    schema = spark.createDataFrame([], "a long, b string").schema
    rows = [(1, "x"), (None, None)]
    got = local_frame(spark, rows, schema)
    assert got.collect() == spark.createDataFrame(rows, schema).collect()


def _create_dataframe_calls(path: pathlib.Path):
    """(enclosing function, first argument source) of every
    ``.createDataFrame(`` call in one module."""
    tree = ast.parse(path.read_text())
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            inner = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else func
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                arg = ast.unparse(child.args[0]) if child.args else ""
                out.append((func, arg))
            visit(child, inner)

    visit(tree, None)
    return out


#: (module, enclosing function, first argument) of the calls allowed
#: to build a frame directly: the helper itself, and the two report
#: frames built from pandas manifests.
ALLOWED = {
    ("session.py", "local_frame", "table"),
    ("jobs/optimize_table.py", "run", "after_man"),
    ("jobs/optimize_table.py", "run", "before_man"),
}


def test_no_create_dataframe_outside_the_helper():
    import cmsspark_spark

    root = pathlib.Path(cmsspark_spark.__file__).parent
    found = {
        (str(p.relative_to(root)), func, arg)
        for p in sorted(root.rglob("*.py"))
        for func, arg in _create_dataframe_calls(p)
    }
    assert found - ALLOWED == set(), (
        "build driver-side rows with session.local_frame"
    )
