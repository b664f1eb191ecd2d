"""``session.local_frame``: driver-held rows as an Arrow-backed
LocalRelation, row-equal to ``createDataFrame``'s, and the only
``createDataFrame`` call in the package."""

import ast
import pathlib
from decimal import Decimal

from garden_net_backend_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "garden_net_backend_spark"

_SCHEMA = (
    "l long, i int, s string, b boolean, d double, "
    "v array<double>, m decimal(38,18)"
)
_ROWS = [
    (1, 2, "a", True, 1.5, [1.0, -2.5], Decimal("1.000000000000000001")),
    (-(2**63), -(2**31), "", False, float("nan"), [float("nan")], Decimal("-3")),
    (2**63 - 1, 2**31 - 1, "é ☃", True, float("inf"), [], Decimal("0")),
    (0, 0, "x", False, float("-inf"), [float("inf"), -0.0], Decimal("1e-18")),
    (5, 6, "y", True, -0.0, [None, 0.0], Decimal("12345678901234567890")),
    (None, None, None, None, None, None, None),
]


def _canon(x):
    """A value with every float in its ``repr`` form, so NaN equals
    NaN and -0.0 differs from 0.0."""
    if isinstance(x, float):
        return repr(x)
    if isinstance(x, list):
        return [_canon(v) for v in x]
    return x


def _rows(df):
    return [[_canon(v) for v in r] for r in df.collect()]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_rows_and_schema_equal_create_data_frame(spark):
    got = local_frame(spark, _ROWS, _SCHEMA)
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert "LogicalRDD" in _plan(want)
    assert "LogicalRDD" not in _plan(got)
    assert "LocalRelation" in _plan(got)


def test_collected_rows_and_struct_type_schema(spark):
    want = spark.createDataFrame(_ROWS, _SCHEMA)
    got = local_frame(spark, want.collect(), want.schema)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_empty_list(spark):
    got = local_frame(spark, [], "id long, v array<double>")
    want = spark.createDataFrame([], "id long, v array<double>")
    assert got.schema == want.schema
    assert got.collect() == []
    assert got.count() == 0
    assert "LogicalRDD" not in _plan(got)


def test_local_frame_runs_no_job_to_build(spark):
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_build", "local_frame_build")
    try:
        local_frame(spark, _ROWS, _SCHEMA)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("local_frame_build") == []


def test_create_data_frame_only_in_local_frame():
    """Every ``.createDataFrame(`` call in the package lies inside
    ``session.local_frame``."""
    helper = next(
        n
        for n in ast.walk(ast.parse((PKG / "session.py").read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    found = [
        (p.relative_to(PKG).as_posix(), node.lineno)
        for p in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text(), str(p)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    inside = [
        (f, line)
        for f, line in found
        if f == "session.py" and helper.lineno <= line <= helper.end_lineno
    ]
    assert found and found == inside, found
