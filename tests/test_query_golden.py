"""Golden end-to-end query tests.

1. The reference's own TestPhraseSearch fixture (frontend/TestPhraseSearch.java:6-47)
   reproduced as DataFrames. Expected scores per the CODE's formula chain:
   doc1 = 7.2, doc2 = 4.8 (with the x4.0 all-terms-matched boost,
   SearchEngine.java:589-593); per the README.md:216-247 formula (predates
   that boost): doc1 = 1.8, doc2 = 1.2. Both variants asserted via the
   all_matched_boost flag — SURVEY §5 documents this discrepancy.
2. Full pipeline goldens over a small corpus built by our own indexer
   (FIXTURES.md §5 query set).
"""

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import SearchIndex, search
from tests.naive_reference import title_boost

DOC1, DOC2 = "http://doc1.com", "http://doc2.com"


@pytest.fixture(scope="module")
def phrase_index(spark):
    postings = spark.createDataFrame(
        [
            ("space", DOC1, 2, 1.0, 0.5, 10, [1, 3], [0.5, 0.5]),
            ("space", DOC2, 2, 1.0, 0.5, 10, [1, 10], [0.5, 0.5]),
            ("travel", DOC1, 2, 1.0, 0.5, 10, [2, 7], [0.5, 0.5]),
            ("travel", DOC2, 2, 1.0, 0.5, 10, [5, 15], [0.5, 0.5]),
        ],
        "term string, doc_id string, tf int, weighted_tf double, "
        "normalized_tf double, doc_len int, positions array<int>, weights array<float>",
    )
    term_stats = spark.createDataFrame(
        [("space", 2, 1.0, 1.0, False), ("travel", 2, 1.0, 1.0, False)],
        "term string, df int, idf double, idf_bm25 double, is_stop boolean",
    )
    doc_stats = spark.createDataFrame(
        [(DOC1, "", 10, 2, ""), (DOC2, "", 10, 2, "")],
        "doc_id string, content_sha string, doc_len int, max_tf int, title string",
    )
    term_dict = spark.createDataFrame(
        [("space", "space", False), ("travel", "travel", False)],
        "term string, stem string, is_stop boolean",
    )
    ranks = spark.createDataFrame(
        [(DOC1, 0.2), (DOC2, 0.2)], "doc_id string, rank double"
    )
    return SearchIndex(
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        term_dict=term_dict,
        total_docs=2,
        ranks=ranks,
    )


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def _order(df):
    return [r["doc_id"] for r in df.collect()]


def test_phrase_golden_current_code(spark, phrase_index):
    res = search(spark, phrase_index, "space travel", mode="reference")
    s = _scores(res)
    # doc1: tfidf 1.0 -> phrase x1.5 -> x(1+0.2) -> x4.0 = 7.2
    assert abs(s[DOC1] - 7.2) < 1e-9
    # doc2: tfidf 1.0 -> no phrase -> x1.2 -> x4.0 = 4.8
    assert abs(s[DOC2] - 4.8) < 1e-9
    assert _order(res) == [DOC1, DOC2]


def test_phrase_golden_readme_formula(spark, phrase_index):
    res = search(
        spark, phrase_index, "space travel", mode="reference", all_matched_boost=False
    )
    s = _scores(res)
    assert abs(s[DOC1] - 1.8) < 1e-9
    assert abs(s[DOC2] - 1.2) < 1e-9


def test_single_term(spark, phrase_index):
    res = search(spark, phrase_index, "space", mode="reference")
    s = _scores(res)
    # 0.5 * 1.0 * 1.2, no phrase/matched/title machinery for single terms
    assert abs(s[DOC1] - 0.6) < 1e-9 and abs(s[DOC2] - 0.6) < 1e-9
    # deterministic tie-break by doc_id
    assert _order(res) == [DOC1, DOC2]


def test_stop_word_short_circuit(spark, phrase_index):
    assert search(spark, phrase_index, "the", mode="reference").count() == 0


def test_unknown_term_empty(spark, phrase_index):
    assert search(spark, phrase_index, "nebula", mode="reference").count() == 0


def test_and_filter_removes_partial(spark, phrase_index):
    # 'space nebula': no doc has nebula -> AND filter drops everything
    assert search(spark, phrase_index, "space nebula", mode="reference").count() == 0


def test_bm25_mode(spark, phrase_index):
    res = search(spark, phrase_index, "space travel", mode="bm25")
    s = _scores(res)
    # tf=2, dl=10, avgdl=10 -> tf_c = 2*2.2/(2+1.2) = 1.375; idf_bm25=1
    # score = 2 terms * 1.375 * (1+0.2) = 3.3
    assert abs(s[DOC1] - 3.3) < 1e-9
    assert abs(s[DOC2] - 3.3) < 1e-9


# ---------------------------------------------------------------------------
# Full-pipeline goldens: corpus -> indexer -> query (FIXTURES.md §5)
# ---------------------------------------------------------------------------

CORPUS = [
    ("c1", "alpha ship\nalpha ship sails the alpha sea"),
    ("c2", "beta ship\nship of beta computing engines"),
    ("c3", "gamma dock\ncomputing the gamma harbor alpha"),
    ("c4", "delta sea\nsails and sails again delta"),
]


@pytest.fixture(scope="module")
def corpus_index(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id string, content string")
    idx = build_index(docs)
    return SearchIndex(
        postings=idx["postings"],
        term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"],
        term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )


def test_stem_expansion_scores_once(spark, corpus_index):
    # query 'computing': c2/c3 contain it; stem 'comput' postings also hit,
    # but each doc is scored ONCE per original term (Q5 dedup).
    import math

    res = search(spark, corpus_index, "computing", mode="reference", use_title_boost=False)
    rows = {r["doc_id"]: r for r in res.collect()}
    assert set(rows) == {"c2", "c3"}
    # c2: computing tf=1, max_tf=2 ('ship' x3? count) — compute expected directly
    stats = {r["doc_id"]: r.asDict() for r in corpus_index.doc_stats.collect()}
    ts = {r["term"]: r.asDict() for r in corpus_index.term_stats.collect()}
    for d in ("c2", "c3"):
        ntf = 0.4 + 0.6 * 1 / stats[d]["max_tf"]
        expect = ntf * ts["computing"]["idf"]
        assert abs(rows[d]["score"] - expect) < 1e-9, d
    assert ts["computing"]["df"] == 2
    assert abs(ts["computing"]["idf"] - math.log(4 / 2)) < 1e-12


def test_title_boost_tiers():
    assert title_boost("alpha ship", ["alpha"]) == 3.5  # first word
    assert title_boost("big alpha ship", ["alpha"]) == 2.5  # early (<3)
    assert title_boost("one two three alpha", ["alpha"]) == 2.0  # late
    assert title_boost("nothing here", ["alpha"]) == 1.0
    # multi-term: in order + all early
    assert title_boost("alpha ship sails", ["alpha", "ship"]) == 4.0
    # in order, not all early
    assert title_boost("alpha one two three ship", ["alpha", "ship"]) == 3.0
    # all early, not in order
    assert title_boost("ship alpha", ["alpha", "ship"]) == 2.5
    # partial match: 1 of 2 -> 1.2
    assert title_boost("alpha dock", ["alpha", "zzz"]) == 1.2


def test_title_boost_applied_in_search(spark, corpus_index):
    with_tb = _scores(search(spark, corpus_index, "alpha", mode="reference"))
    without = _scores(
        search(spark, corpus_index, "alpha", mode="reference", use_title_boost=False)
    )
    # c1 title 'alpha ship' -> x3.5; c3 title 'gamma dock' -> no boost
    assert abs(with_tb["c1"] - 3.5 * without["c1"]) < 1e-9
    assert abs(with_tb["c3"] - without["c3"]) < 1e-9


def test_reference_batch_matches_single_query_search(spark, corpus_index):
    """search_reference_batch (whole query set, search()'s statement keyed
    by query; 3 Spark jobs for five queries on a cached index) must be
    per-query value-identical (6dp) to search(mode='reference') — every
    chain stage: stem expansion, Q5 dedup, AND filter, phrase x1.5,
    matched x4.0/partial, title boost tiers."""
    from distributed_search_engine_spark.query.engine import (
        search_reference_batch,
    )

    qs = ["alpha", "alpha ship", "computing", "sails computing", "the"]
    batch = search_reference_batch(spark, corpus_index, qs, k=None)
    got = {
        (r["query"], r["doc_id"]): round(r["score"], 6)
        for r in batch.collect()
    }
    want = {}
    for q in qs:
        for r in search(spark, corpus_index, q, k=None, mode="reference").collect():
            want[(q, r["doc_id"])] = round(r["score"], 6)
    assert got == want
    assert not any(q == "the" for q, _ in got)  # Q2 stop short-circuit
    assert len({q for q, _ in got}) >= 3


def test_reference_batch_pagerank_blend(spark, phrase_index):
    """Batch form must apply the Q9 PageRank blend and the golden x4.0
    all-matched boost exactly like the single-query path (7.2/4.8 goldens
    carry through the batch)."""
    from distributed_search_engine_spark.query.engine import (
        search_reference_batch,
    )

    batch = search_reference_batch(
        spark, phrase_index, ["space travel"], k=None, use_title_boost=False
    )
    s = {r["doc_id"]: r["score"] for r in batch.collect()}
    assert abs(s[DOC1] - 7.2) < 1e-9
    assert abs(s[DOC2] - 4.8) < 1e-9


def test_phrase_pipeline(spark, corpus_index):
    # 'alpha ship': adjacent in c1 (positions 1-2 and 3-4), c2 has both,
    # adjacent? c2 tokens: beta(1) ship(2) ship(3) of(4) beta(5) computing(6)
    # engines(7) — no alpha -> AND filter removes c2.
    res = search(spark, corpus_index, "alpha ship", mode="reference", use_title_boost=False)
    ids = _order(res)
    assert ids == ["c1"]
