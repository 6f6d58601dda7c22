"""session.local_frame: the one way driver-side rows become a DataFrame.

Rows go through Arrow into a JVM LocalRelation, so scans of the frame
start no Python worker. The static gate keeps every other
``createDataFrame`` call out of the package."""

from __future__ import annotations

import ast
import pathlib

import airflow_spotify_etl_spark
from airflow_spotify_etl_spark.session import local_frame

PKG = pathlib.Path(airflow_spotify_etl_spark.__file__).parent


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_rows_keep_schema_and_values(spark):
    rows = [("a", 1, [1.0, 2.0], {"k": 7}), (None, None, None, None)]
    df = local_frame(
        spark, rows, "s string, n long, v array<double>, st struct<k: int>"
    )
    assert df.schema.simpleString() == (
        "struct<s:string,n:bigint,v:array<double>,st:struct<k:int>>"
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0][:3] == ("a", 1, [1.0, 2.0]) and got[0][3]["k"] == 7
    assert got[1] == (None, None, None, None)
    assert "LocalRelation" in _plan(df) and "LogicalRDD" not in _plan(df)


def test_empty_rows_keep_schema(spark):
    df = local_frame(spark, [], "a string, b long")
    assert df.columns == ["a", "b"] and df.count() == 0
    assert "LocalRelation" in _plan(df)


def test_no_create_dataframe_outside_local_frame():
    """A list handed to ``createDataFrame`` becomes a LogicalRDD over a
    Python RDD; every scan of it starts Python workers. Driver-side rows
    go through ``session.local_frame`` instead."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, offenders
