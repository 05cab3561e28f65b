"""The query engine and the index layer plan driver-side rows as literals.

``spark.createDataFrame`` over driver rows parallelizes an RDD: one
more Spark job per query and a relation with no size statistics, where
``literals.local_frame`` and inlined map literals cost none. A pure `ast`
walk (no Spark session) fails if `query/engine.py` or any module under
`index/` calls it again. The literals themselves must read back exactly,
``${...}`` included: Spark substitutes variables in SQL text.
"""

from __future__ import annotations

import ast

from distributed_search_engine_spark.literals import _sql_str, local_frame
from tests.test_module_reachability import PKG, REPO

ENGINE = REPO / PKG / "query" / "engine.py"


def _create_data_frame_calls(path):
    return [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_engine_never_calls_create_data_frame():
    hits = _create_data_frame_calls(ENGINE)
    assert not hits, f"createDataFrame calls in the query engine: {hits}"


def test_index_never_calls_create_data_frame():
    modules = sorted((REPO / PKG / "index").glob("*.py"))
    assert len(modules) >= 7
    hits = [h for path in modules for h in _create_data_frame_calls(path)]
    assert not hits, f"createDataFrame calls under index/: {hits}"


ROUND_TRIP = [
    "${x}", "a${HOME}b", "$${x}}", "${hiveconf:y}", "${env:HOME}", "$", "{x}",
    "back\\slash", "\\${x}", "trailing\\", "it's", 'say "hi"', "\\'", "line\nbreak",
    "café", "",
]


def test_string_literals_read_back_exactly(spark):
    rows = [(i, s) for i, s in enumerate(ROUND_TRIP)]
    got = local_frame(spark, "i int, s string", rows).collect()
    assert sorted(map(tuple, got)) == rows
    select = ", ".join(f"{_sql_str(s)} AS c{i}" for i, s in rows)
    assert list(spark.sql(f"SELECT {select}").first()) == ROUND_TRIP


def test_empty_local_frame_keeps_nested_types(spark):
    ddl = "q string, blocks array<struct<a: long, b: double>>, m map<string, int>"
    df = local_frame(spark, ddl)
    assert df.collect() == []
    assert df.schema.simpleString() == (
        "struct<q:string,blocks:array<struct<a:bigint,b:double>>,m:map<string,int>>"
    )
