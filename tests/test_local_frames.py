"""``sources.tables.local_frame`` and the guard that keeps every engine
frame built from driver data on it."""

from __future__ import annotations

import ast
import pathlib

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from wiki_mysql_spark.sources.tables import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "wiki_mysql_spark"


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, 5), (2, None)], "node long, label long"),
        ([], "id_a long, id_b long, cos_sim double"),
        ([(1, "a", None, 2.5)], "n long, s string, t string, d double"),
        (
            [("x", "y"), ("z", None)],
            StructType(
                [StructField("src", StringType(), False),
                 StructField("dst", StringType(), True)]
            ),
        ),
    ],
)
def test_local_frame_matches_python_rows(spark, rows, schema):
    """Same schema (names, types, nullability) and rows as a Python-row
    ``createDataFrame``, planned as a LocalRelation instead of an RDD."""
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _plan_class(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)


def test_local_frame_takes_arrow_tables(spark):
    table = pa.table({"id": pa.array([3, 1], pa.int64())})
    schema = StructType([StructField("id", LongType(), False)])
    df = local_frame(spark, table, schema)
    assert _plan_class(df) == "LocalRelation"
    assert df.schema == schema
    assert [r["id"] for r in df.collect()] == [3, 1]


def _create_dataframe_calls(path: pathlib.Path) -> list[str]:
    """``file:line`` of every ``createDataFrame`` call in ``path`` that is
    not inside a function named ``local_frame``."""
    found = []

    def visit(node, inside_helper):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inside_helper = inside_helper or node.name == "local_frame"
        if isinstance(node, ast.Call) and not inside_helper:
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
            if name == "createDataFrame":
                found.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, inside_helper)

    visit(ast.parse(path.read_text(), str(path)), False)
    return found


def test_engine_builds_driver_frames_only_through_local_frame():
    """No engine module outside the query registry calls
    ``createDataFrame`` directly: a frame over Python rows is a
    Python-worker RDD scan for every job that reads it, so driver-side data
    must go through ``local_frame`` (Arrow, LocalRelation)."""
    files = [
        p for p in sorted(PACKAGE.rglob("*.py"))
        if "queries" not in p.relative_to(PACKAGE).parts
    ]
    assert any(p.name == "tables.py" for p in files)
    offenders = [c for p in files for c in _create_dataframe_calls(p)]
    assert offenders == []
