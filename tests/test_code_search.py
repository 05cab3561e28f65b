"""Structural code-search ranking, vendored-copy detection, keyset
pagination (query/code_search.py).

The oracle gates (search_code_ranked / dedup_cross_repo /
search_page_after) cover cross-engine value parity at both SFs; these
tests pin the SEMANTICS on controlled corpora: the exact multiplier a
definition match and a path match apply, the >=2-repos filter, and
keyset-pagination == rank-window-pagination under ties. A persisted
corpus frame is served from a cached scoring table; the differential
tests pin it to the one-shot plan, exactly, and pin its plan, job count
and release.
"""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.query.code_search import (
    code_search_collapsed,
    code_search_ranked,
    cross_repo_dupes,
    search_after_page,
)
from tests.spark_jobs import jobs_of


@pytest.fixture(scope="module")
def boost_docs(spark):
    # four docs, identical identifier-stream shape (doc_len 3 each, term
    # 'parse' tf 1 each, df 4): A DEFINES parse, C carries it in the
    # path, B/D are plain mentions -> pure multiplier measurements
    rows = [
        ("a", "python", "src/alpha/m.py", "def parse(a):\n    return a"),
        ("b", "python", "src/beta/m.py", "xyz = parse(a)\n    return a"),
        ("c", "python", "src/parse/m.py", "xyz = parse(a)\n    return a"),
        ("d", "python", "src/delta/m.py", "xyz = parse(a)\n    return a"),
    ]
    return spark.createDataFrame(rows, "doc_id string, lang string, path string, content string")


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def test_definition_match_doubles_the_contribution(boost_docs):
    s = _scores(code_search_ranked(boost_docs, ["parse"]))
    # sym_weight=1.0 -> x2 vs the identical-shape plain mention
    assert s["a"] == pytest.approx(2.0 * s["b"], abs=2e-6)


def test_path_match_applies_its_multiplier(boost_docs):
    s = _scores(code_search_ranked(boost_docs, ["parse"]))
    # path_weight=0.5 -> x1.5; plain mentions agree with each other
    assert s["c"] == pytest.approx(1.5 * s["d"], abs=2e-6)
    assert s["b"] == pytest.approx(s["d"], abs=1e-9)


def test_n_matched_counts_distinct_query_terms(boost_docs):
    out = code_search_ranked(boost_docs, ["parse", "return"]).collect()
    by_id = {r["doc_id"]: r["n_matched"] for r in out}
    assert by_id == {"a": 2, "b": 2, "c": 2, "d": 2}


def test_cross_repo_dupes_requires_two_repos(spark):
    rows = [
        ("1", "r1", "X"),
        ("2", "r1", "X"),   # same repo dup: does NOT make X cross-repo alone
        ("3", "r2", "X"),   # second repo -> X qualifies
        ("4", "r3", "Y"),   # unique content -> filtered
        ("5", "r3", "Z"),
        ("6", "r3", "Z"),   # dup but single-repo -> filtered
    ]
    docs = spark.createDataFrame(rows, "doc_id string, repo string, content string")
    out = cross_repo_dupes(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_copies"] == 3 and r["n_repos"] == 2
    assert r["repos"] == "r1,r2" and r["keeper"] == "1"


def test_search_after_page_equals_rank_window(spark):
    # 25 rows with planted score ties: keyset filtering past the cursor
    # must reproduce exactly rows 11..20 of the total (score desc,
    # doc_id asc) order
    rows = [(f"d{i:02d}", float(round((i % 7) * 0.5, 6))) for i in range(25)]
    scored = spark.createDataFrame(rows, "doc_id string, score double")
    expect = sorted(rows, key=lambda r: (-r[1], r[0]))[10:20]
    got = [
        (r["doc_id"], r["score"])
        for r in search_after_page(scored, page_size=10, page=2)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]
    assert got == expect


def test_collapsed_keeps_best_copy_and_counts_matched_dupes(spark):
    # two vendored copies of the same file (identical content, different
    # repos/paths) + one unique file: the collapsed result has one row
    # per content group; the dup group keeps the lexicographically-first
    # doc on a score tie and reports n_copies=2
    rows = [
        ("a", "python", "src/x/m.py", "def parse(a):\n    return a"),
        ("b", "python", "src/y/m.py", "def parse(a):\n    return a"),
        ("c", "python", "src/z/m.py", "def other(a):\n    return parse"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, lang string, path string, content string"
    )
    out = {
        r["doc_id"]: r
        for r in code_search_collapsed(docs, ["parse"]).collect()
    }
    assert set(out) == {"a", "c"}  # b collapsed into a's group
    assert out["a"]["n_copies"] == 2 and out["c"]["n_copies"] == 1


def test_search_after_past_the_end_is_empty(spark):
    scored = spark.createDataFrame(
        [("a", 1.0), ("b", 0.5)], "doc_id string, score double"
    )
    assert search_after_page(scored, page_size=10, page=3).count() == 0


def test_code_ranked_plan_prunes_terms_before_the_agg_and_broadcasts(
    boost_docs,
):
    """Scale shape: the literal query-term IN filter must prune the
    exploded identifier stream BELOW the (term, doc_id) aggregate (the
    shuffle then carries only matching terms, not the whole vocabulary),
    and the 1-row / per-term stat frames must join by broadcast — never
    a CartesianProduct."""
    df = code_search_ranked(boost_docs, ["parse", "return"])
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    for i, ln in enumerate(lines):
        if "Filter" in ln and " IN (" in ln and "term" in ln:
            # pushed below the agg: the filter's child (next line) is the
            # stream projection/generate, NOT an Aggregate
            assert i + 1 < len(lines) and "Aggregate" not in lines[i + 1], (
                "term filter sits above an Aggregate:\n" + opt
            )
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys


# ---------------------------------------------------------------------------
# persisted (indexed) vs unpersisted (one-shot) placement
# ---------------------------------------------------------------------------

CODE_SCHEMA = "doc_id string, lang string, path string, content string"
# every doc with content carries `handler`; `e` has NULL content, `f`
# non-ASCII identifiers; `g` duplicates `a` for the collapsed frame
DIFF_ROWS = [
    ("a", "python", "src/parse/lex.py",
     "def parse_data(buf):\n    return buf\nclass DataHandler:\n    pass"),
    ("b", "python", "src/util/io.py",
     "x = parse_data(y)\nparseData = handler(x)\nHTTPHandler(x)"),
    ("c", "javascript", "lib/handler.js",
     "function handlerFor(data) {\n  return parse(data)\n}"),
    ("d", "go", "pkg/data/data.go",
     "func ParseData(b []byte) error {\n  return handler(b)\n}"),
    ("e", "python", "src/empty.py", None),
    ("f", "python", "src/größe/ü.py",
     "def größe_handler(naïve):\n    return naïve_données"),
    ("g", "python", "vendor/parse/lex.py",
     "def parse_data(buf):\n    return buf\nclass DataHandler:\n    pass"),
]
TERM_SETS = [
    ["parse"],
    ["parse", "data", "handler"],
    ["Parse", "HANDLER", "DataHandler"],
    ["parse", "parse", "PARSE"],
    ["nothingmatchesthis"],
    ["handler"],
    ["größe", "naïve", "handler"],
]
WEIGHTS = [{}, {"k1": 0.9, "b": 0.3, "sym_weight": 2.5, "path_weight": 0.0}]


@pytest.fixture(scope="module")
def placements(spark):
    """(one-shot, persisted) frames over the same rows; the persisted one
    is released at teardown so no cache outlives the module."""
    plain = spark.createDataFrame(DIFF_ROWS, CODE_SCHEMA)
    cached = spark.createDataFrame(DIFF_ROWS, CODE_SCHEMA).persist()
    yield plain, cached
    cached.unpersist()
    del cached
    gc.collect()


def _full(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("weights", WEIGHTS, ids=["default", "tuned"])
@pytest.mark.parametrize("terms", TERM_SETS, ids=lambda t: "+".join(t))
def test_persisted_frame_ranks_exactly_like_one_shot(placements, terms, weights):
    plain, cached = placements
    want = _full(code_search_ranked(plain, terms, **weights))
    assert _full(code_search_ranked(cached, terms, **weights)) == want
    if "handler" in terms:
        assert {r[0] for r in want} == {"a", "b", "c", "d", "f", "g"}


@pytest.mark.parametrize("terms", TERM_SETS[:3], ids=lambda t: "+".join(t))
def test_persisted_frame_collapses_exactly_like_one_shot(placements, terms):
    plain, cached = placements
    want = _full(code_search_collapsed(plain, terms))
    assert _full(code_search_collapsed(cached, terms)) == want
    assert any(r[3] == 2 for r in want)  # a and g are one content group


def _plan_nodes(df):
    """simpleString of every executed physical node, walking into query
    stages but not into a cached relation's own plan."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        out.append(node.simpleString(1000))
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name != "InMemoryTableScan":
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _top10_jobs(spark, df, group):
    return jobs_of(
        spark, lambda: df.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect(), group
    )


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_persisted_frame_serves_from_the_cached_table_in_two_jobs(spark):
    docs = spark.createDataFrame(DIFF_ROWS, CODE_SCHEMA).persist()
    docs.count()
    code_search_ranked(docs, ["handler"]).collect()  # builds the table
    second = code_search_ranked(docs, ["parse", "data"])
    rows, jobs = _top10_jobs(spark, second, "code-search-indexed")
    nodes = _plan_nodes(second)
    assert rows and jobs <= 2, jobs
    assert any(n.startswith("InMemoryTableScan") for n in nodes)
    assert not any(n.startswith("Generate") for n in nodes), nodes
    assert not any("regexp_extract_all" in n for n in nodes), nodes
    docs.unpersist()
    code_search_ranked(docs, ["x"])


def test_unpersisted_frame_keeps_the_one_shot_plan(spark):
    docs = spark.createDataFrame(DIFF_ROWS, CODE_SCHEMA)
    before = _persistent_rdds(spark)
    df = code_search_ranked(docs, ["parse", "data"])
    _top10_jobs(spark, df, "code-search-one-shot")
    nodes = _plan_nodes(df)
    assert not _persistent_rdds(spark) - before
    assert not any(n.startswith("InMemoryTableScan") for n in nodes)
    assert any(n.startswith("Generate") for n in nodes)
    assert any("regexp_extract_all" in n for n in nodes)


def test_scoring_table_released_after_unpersist_and_after_gc(spark):
    # ids, not counts: other tests' cached RDDs may be cleaned meanwhile
    src = spark.createDataFrame(DIFF_ROWS, CODE_SCHEMA)
    baseline = _persistent_rdds(spark)

    docs = src.select("*").persist()
    docs.count()
    with_docs = _persistent_rdds(spark)
    code_search_ranked(docs, ["parse"]).collect()
    table = _persistent_rdds(spark) - with_docs
    assert len(table) == 1
    docs.unpersist()
    code_search_ranked(docs, ["parse"]).collect()  # the next call releases
    assert not _persistent_rdds(spark) - baseline

    docs = src.select("*").persist()
    docs.count()
    with_docs = _persistent_rdds(spark)
    code_search_ranked(docs, ["parse"]).collect()
    table = _persistent_rdds(spark) - with_docs
    assert len(table) == 1
    del docs
    gc.collect()
    left = _persistent_rdds(spark)
    assert not table & left
    assert left - baseline == with_docs - baseline  # the caller's own cache
    src.select("*").unpersist()
    assert not _persistent_rdds(spark) - baseline
