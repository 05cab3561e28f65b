"""Autocomplete / spellcheck / snippet tests (Q14-Q17)."""

import pytest

from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.suggest import (
    autocomplete,
    highlight_py,
    snippet_py,
    snippets,
    spellcheck_query,
    spellcheck_word,
)

DOCS = [
    ("1", "stream processing engines\nthe stream of data streams strongly"),
    ("2", "storage and strings\nstring store storage stripe"),
    ("3", "animal kingdom\nthe animal and animals of 2024"),
]


@pytest.fixture(scope="module")
def ts(spark):
    docs = spark.createDataFrame(DOCS, "doc_id string, content string")
    return build_index(docs, with_stems=False)["term_stats"]


def test_autocomplete_prefix_sorted_limited(spark, ts):
    got = [r["suggestion"] for r in autocomplete(ts, "st").collect()]
    assert got == sorted(got)
    assert all(s.startswith("st") for s in got)
    assert "stream" in got and "storage" in got
    assert "2024" not in got  # looksReasonable excludes digits


def test_autocomplete_multiword_completes_last(spark, ts):
    got = [r["suggestion"] for r in autocomplete(ts, "data str").collect()]
    assert all(s.startswith("data str") for s in got)
    assert "data stream" in got


def test_spellcheck_word(spark, ts):
    rows = spellcheck_word(ts, "strem").collect()
    assert rows[0]["term"] == "stem" or rows[0]["distance"] <= 2
    # exact dictionary word corrects to itself at distance 0
    rows = spellcheck_word(ts, "stream").collect()
    assert rows[0]["term"] == "stream" and rows[0]["distance"] == 0
    # hopeless garbage: no suggestion within distance 2
    assert spellcheck_word(ts, "xyzzyplugh").count() == 0


def test_spellcheck_query(spark, ts):
    # 'animel' is distance 1 from 'animal' (FIXTURES.md §5 query 9)
    got = spellcheck_query(spark, ts, "animel strem")
    assert got[0] == "animal"
    # unmatched words are kept as typed
    assert spellcheck_query(spark, ts, "xyzzyplugh animel") == [
        "xyzzyplugh", "animal",
    ]


def test_spellcheck_words_batch_equals_per_word_loop(spark, ts):
    """The one-job batch form must agree word-for-word with
    spellcheck_word's (distance asc, term asc) winner — including repeated
    words, exact dictionary hits, and no-match words (absent rows)."""
    from distributed_search_engine_spark.query.suggest import spellcheck_words

    words = ["strem", "stream", "animel", "xyzzyplugh", "strem"]
    got = {
        r["pos"]: (r["word"], r["term"], r["distance"])
        for r in spellcheck_words(ts, words).collect()
    }
    for i, w in enumerate(words):
        rows = spellcheck_word(ts, w).collect()
        if rows:
            assert got[i] == (w, rows[0]["term"], rows[0]["distance"]), w
        else:
            assert i not in got, w


def test_snippet_window():
    content = "x" * 200 + " needle " + "y" * 400
    s = snippet_py(content, ["needle"])
    assert "needle" in s
    assert s.startswith("...") and s.endswith("...")
    assert len(s) <= 350 + 6
    # no hit: head of doc
    s2 = snippet_py(content, ["absent"])
    assert s2.endswith("...") and s2.startswith("xxx")


def test_highlight():
    assert (
        highlight_py("the Needle in needles", ["needle"])
        == "the <mark>Needle</mark> in needles"
    )


def test_snippets_df(spark):
    docs = spark.createDataFrame(DOCS, "doc_id string, content string")
    out = {r["doc_id"]: r["snippet"] for r in snippets(docs, "stream").collect()}
    assert "stream" in out["1"]
    # doc 3's cleaned text is under 50 chars -> '' (SearchEngine.java:1064)
    assert out["3"] == ""
    assert len(DOCS[2][1]) < 50


# ---------------------------------------------------------------------------
# Q13: driver-side result cache (frontend/SearchEngine.java:21-23,69-97)
# ---------------------------------------------------------------------------

def test_result_cache_hits_evicts_and_paginates(spark):
    from distributed_search_engine_spark.corpus import ingest, make_corpus
    from distributed_search_engine_spark.query.cache import CachedSearchEngine
    from distributed_search_engine_spark.query.engine import SearchIndex

    idx = build_index(ingest(make_corpus(spark, n_docs=40, seed=11)))
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    eng = CachedSearchEngine(spark, sidx, k=20, mode="bm25", max_size=2)
    p1 = eng.search_page("spark compute", page=1, page_size=5)
    assert eng.misses == 1 and eng.hits == 0
    # repeated query (case/space-normalized key): served from cache
    p1b = eng.search_page("  SPARK Compute ", page=1, page_size=5)
    assert eng.hits == 1 and p1b == p1
    # pagination slices the cached full list without recompute
    p2 = eng.search_page("spark compute", page=2, page_size=5)
    assert eng.hits == 2
    full = eng._cache[eng.cache_key("spark compute")]
    assert p1 + p2 == list(full[:10])
    assert eng.search_page("spark compute", page=99) == []  # beyond results
    assert eng.cached_result_count("spark compute") == len(full)
    # FIFO eviction at max_size=2
    eng.search_page("engine", page=1)
    eng.search_page("index", page=1)   # evicts 'spark compute'
    assert eng.cached_result_count("spark compute") == 0
    assert eng.misses == 3


def test_snippet_first_term_in_query_order_wins():
    """SearchEngine.java:1072-1080 breaks on the FIRST query term found —
    not the earliest hit position across terms."""
    content = "x" * 60 + " bravo " + "y" * 200 + " alpha " + "z" * 200
    # 'alpha' is the first QUERY term and appears later in the text than
    # 'bravo' — the window must center on alpha's position anyway
    s = snippet_py(content, ["alpha", "bravo"])
    assert "alpha" in s and s.startswith("...")
    assert "bravo" not in s
    # 1-char query terms are skipped by the len>=2 guard
    assert snippet_py(content, ["x"])[:3] != "..."  # no hit -> head window


def test_search_request_composes_the_frontend(spark):
    """query/api.search_request: pagination echo, cached second page
    with zero extra Spark jobs, zero-result spellcheck trigger, and
    page-slice-only snippet attachment."""
    from distributed_search_engine_spark.operators.postings import build_index
    from distributed_search_engine_spark.query.api import search_request
    from distributed_search_engine_spark.query.cache import CachedSearchEngine
    from distributed_search_engine_spark.query.engine import SearchIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(
        docs, doc_id_col="doc_id", content_col="text", with_stems=False
    )
    sidx = SearchIndex(
        postings=idx["postings"].persist(),
        term_stats=idx["term_stats"].persist(),
        doc_stats=idx["doc_stats"],
        term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    eng = CachedSearchEngine(spark, sidx, k=50, mode="bm25")
    r1 = search_request(
        spark, sidx,
        {"q": "data stream", "engine": eng, "page": 1, "page_size": 5,
         "snippets": True},
        docs=docs.withColumnRenamed("text", "content"),
    )
    assert len(r1["results"]) == 5 and r1["page"] == 1
    assert r1["total"] > 5 and r1["pages"] >= 2
    assert all("snippet" in row for row in r1["results"])
    assert all(row["snippet"] for row in r1["results"])
    # second page: served from the Q13 cache (hit counter moves)
    before = eng.hits
    r2 = search_request(
        spark, sidx, {"q": "data stream", "engine": eng, "page": 2,
                      "page_size": 5},
    )
    assert eng.hits == before + 1
    assert len(r2["results"]) == 5
    assert r1["results"][0]["doc_id"] != r2["results"][0]["doc_id"]
    # zero results + spellcheck -> did-you-mean
    r3 = search_request(
        spark, sidx, {"q": "steram", "spellcheck": True},
    )
    assert r3["total"] == 0 and r3["suggestion"] == "stream"


@pytest.mark.parametrize("highlight", [False, True])
def test_page_snippets_match_the_frame_snippets_without_python_workers(
    spark, highlight, monkeypatch
):
    """search_request cuts page snippets on the driver from one JVM-only
    collect; they must equal snippets() for the same docs, and no
    ArrowEvalPython may run for them."""
    from distributed_search_engine_spark.corpus import ingest, make_corpus
    from distributed_search_engine_spark.query.api import search_request
    from distributed_search_engine_spark.query.cache import CachedSearchEngine
    from distributed_search_engine_spark.query.engine import SearchIndex

    docs = ingest(make_corpus(spark, n_docs=40, seed=11))
    idx = build_index(docs)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    eng = CachedSearchEngine(spark, sidx, k=20)
    q = "spark compute"
    eng.search_page(q)  # the request below is a cache hit
    plans = []
    frame_type = type(docs)  # the concrete (classic) DataFrame class
    real_collect = frame_type.collect

    def spy(self):
        rows = real_collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(frame_type, "collect", spy)
    resp = search_request(
        spark, sidx,
        {"q": q, "engine": eng, "page_size": 5, "snippets": True,
         "highlight": highlight},
        docs=docs,
    )
    monkeypatch.undo()
    page = resp["results"]
    assert page and len(plans) == 1
    assert "ArrowEvalPython" not in plans[0] and "BatchEvalPython" not in plans[0]
    ids = [r["doc_id"] for r in page]
    want = {
        r["doc_id"]: r["snippet"]
        for r in snippets(
            docs.where(docs["doc_id"].isin(ids)), q, highlight=highlight
        ).collect()
    }
    assert {r["doc_id"]: r["snippet"] for r in page} == want
    assert any(want.values())
    if highlight:
        assert any("<mark>" in s for s in want.values())
