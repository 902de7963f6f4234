"""``local_frame`` is the only list→DataFrame path in product code.

Parity: for every schema the product builds from driver-side rows,
``local_frame`` returns the same rows and the same schema (names, types,
nullability) as ``spark.createDataFrame(rows, ddl)``, including zero
rows, NULL values, ``timestamp_ntz`` and ``array<bigint>``.

Guard: no product module calls ``createDataFrame`` or ``parallelize``
except ``local_frame`` itself, so a Python RDD (and the Python workers
it forks) cannot creep back onto a hot path.
"""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pytest

from fluent_plugin_opensearch_spark.constants import ID_KEY
from fluent_plugin_opensearch_spark.operators.enrich import (
    MAINTENANCE_WINDOWS_ROWS,
    ROLE_DICT_ROWS,
    TOOL_DICT_ROWS,
    TOOL_POLICY_ROWS,
)
from fluent_plugin_opensearch_spark.session import local_frame

PKG = Path(__file__).resolve().parents[1] / "fluent_plugin_opensearch_spark"

#: (schema, sample rows) for each site that builds a frame from rows
SITES = {
    "role_dict": (
        "role string, role_class string, priority int",
        ROLE_DICT_ROWS + [(None, "x", None)],
    ),
    "tool_dict": (
        "tool string, tool_family string, is_sandboxed boolean",
        TOOL_DICT_ROWS + [("frob", None, None)],
    ),
    "tool_policy": (
        "tool string, valid_from timestamp_ntz, policy string, policy_rev int",
        TOOL_POLICY_ROWS + [("x", None, None, None)],
    ),
    "maintenance_windows": (
        "window_id string, starts timestamp_ntz, ends timestamp_ntz, severity string",
        MAINTENANCE_WINDOWS_ROWS
        + [("mw9", dt.datetime(2024, 1, 1, 23, 59, 59, 999999), None, None)],
    ),
    "bm25_empty_long": ("rank int, doc_id long, score_micro long", [(1, 7, None)]),
    "bm25_empty_string": ("rank int, doc_key string, score_micro long", [(1, "k", 3)]),
    "upsert_stats": ("n_docs long, sum_dl long, _index string", [(-2, 2**40, "stats")]),
    "phrase_terms": ("i int, term string", list(enumerate(["a", "b", "a"]))),
    "ivf_probes": ("q_id long, cluster int", [(1, 0), (1, 3), (2, None)]),
    "ivf_qvecs": (
        "q_id long, qv array<bigint>",
        [(1, [1, -2**40, None]), (2, []), (3, None)],
    ),
    "delete_ids": (f"{ID_KEY} string", [("a",), ("",), (None,)]),
    "url_blocklist": ("domain string", [("example.com",), ("bad.net",)]),
}


@pytest.mark.parametrize("site", sorted(SITES))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, site, empty):
    ddl, rows = SITES[site]
    rows = [] if empty else rows
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # a JVM-local relation: no Python RDD under it
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_url_blocklist_schema_matches_inferred(spark):
    """The blocklist used to be built from column names only; the DDL
    form must infer the same schema."""
    rows = SITES["url_blocklist"][1]
    assert local_frame(spark, rows, "domain string").schema == (
        spark.createDataFrame(rows, ["domain"]).schema
    )


def _calls(tree: ast.AST, names: set[str]):
    """(enclosing function name, method name) of each ``x.<name>(...)``."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in names
            ):
                yield fn, child.func.attr
            yield from walk(child, inner)

    yield from walk(tree, None)


def test_no_python_rdd_sources_in_product_code():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn, name in _calls(tree, {"createDataFrame", "parallelize"}):
            found.append((path.relative_to(PKG).as_posix(), fn, name))
    assert found == [("session.py", "local_frame", "createDataFrame")], found
