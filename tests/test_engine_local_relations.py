"""The query engine plans driver-side rows as local relations.

``spark.createDataFrame`` over driver rows parallelizes an RDD: one
more Spark job per query and a relation with no size statistics, where
``engine.local_frame`` and inlined map literals cost none. A pure `ast`
walk (no Spark session) fails if `query/engine.py` calls it again.
"""

from __future__ import annotations

import ast

from tests.test_module_reachability import PKG, REPO

ENGINE = REPO / PKG / "query" / "engine.py"


def test_engine_never_calls_create_data_frame():
    hits = [
        f"{ENGINE.relative_to(REPO)}:{node.lineno}"
        for node in ast.walk(ast.parse(ENGINE.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert not hits, f"createDataFrame calls in the query engine: {hits}"
