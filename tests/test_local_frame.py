"""``session.local_frame`` — the one way driver-held rows enter Spark.

Two guards:

* a differential property test: for every column type the engine hands
  over from the driver (string, long, double, boolean, naive timestamp,
  ``array<double>``, with NULLs and the empty row list), the Arrow local
  relation collects to exactly what ``createDataFrame(list)`` collects;
* a static guard: no ``createDataFrame(`` call is left in the package
  outside ``local_frame``, so driver rows never plan as a pickled Python
  RDD again (every job reading one runs Python-worker tasks).
"""

from __future__ import annotations

import ast
import os
from datetime import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import stripe_sync_engine_spark
from stripe_sync_engine_spark.session import local_frame

_SCHEMA = "s string, l long, d double, b boolean, t timestamp, v array<double>"

_doubles = st.floats(allow_nan=False)
_rows = st.lists(
    st.tuples(
        st.none() | st.text(max_size=12),
        st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.none() | _doubles,
        st.none() | st.booleans(),
        st.none()
        | st.datetimes(min_value=datetime(1900, 1, 1), max_value=datetime(2200, 1, 1)),
        st.none() | st.lists(st.none() | _doubles, max_size=4),
    ),
    max_size=6,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows)
@example(rows=[])
@example(rows=[(None,) * 6])
def test_local_frame_collects_like_create_dataframe_from_list(spark, rows):
    got = local_frame(spark, rows, _SCHEMA)
    want = spark.createDataFrame(rows, _SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "s string, l long")


#: (file relative to the package, enclosing function) of the only
#: ``createDataFrame`` call the package may make
_ALLOWED = {("session.py", "local_frame")}


def _create_dataframe_calls(path: str):
    """``(enclosing function, line)`` of every ``.createDataFrame(`` call."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            out.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_no_create_dataframe_over_python_rows_outside_local_frame():
    root = os.path.dirname(stripe_sync_engine_spark.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            for func, line in _create_dataframe_calls(path):
                if (rel, func) not in _ALLOWED:
                    offenders.append(f"{rel}:{line} (in {func})")
    assert not offenders, (
        "createDataFrame over driver rows plans as a pickled Python RDD "
        "(Scan ExistingRDD: Python-worker tasks in every job reading it); "
        f"build the frame with session.local_frame instead: {offenders}"
    )
