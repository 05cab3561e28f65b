"""Q11 title boost: the SQL expression over the doc-meta title arrays
(query/engine._blend) against the pure-Python reference
tests/naive_reference.title_boost, to the last bit, through ``search()``
and ``search_reference_batch``.

Every doc of the fixture index holds every query term with the same
posting, so each query scores every title and the boost is the only
per-title difference: a boosted score must equal the unboosted one times
the reference boost, as an exact float."""

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.corpus import ingest, make_corpus
from distributed_search_engine_spark.functions.stemmer import porter_stem
from distributed_search_engine_spark.functions.stopwords import STOP_WORDS
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import (
    SearchIndex,
    search,
    search_reference_batch,
    tokenize_query,
)
from tests.naive_reference import title_boost

LONG = "q" * 200
EDGE_TITLES = [
    "",
    None,
    "Ünïcode tëst ça va 日本語 alpha ship",
    "<title>Alpha</title> <b>ship</b> sails",
    "the of and a to",
    " ".join([LONG] * 3),
    "alpha ship",
    "big alpha ship one",
    "one two three alpha",
    "alpha one two three four ship",
    "ship alpha",
    "running ships",
    "shipping runner alpha alpha",
]
QUERIES = [
    "alpha", "ship", "ships", "runs", "alpha ship", "ship alpha",
    "alpha alpha", "alpha zzz", "alpha ship zzz", "alpha ship big zzz",
    "alpha ship big one zzz", "big alpha ship one", "one big ship alpha",
    "the alpha", "running shipping", "runs ships alpha", LONG,
    # words of the corpus titles, in and out of their order
    "computation", "query computation", "computation query", "posting running",
    "kappa alpha beta", "beta alpha kappa", "gamma 2024 matrix",
]


@pytest.fixture(scope="module")
def boost_index(spark):
    """(index, doc_id -> title): the seeded corpus titles plus the edge
    titles, each doc holding one posting of every query term."""
    corpus = build_index(ingest(make_corpus(spark, n_docs=40, seed=13)))["doc_stats"]
    titles = [r["title"] for r in corpus.orderBy("doc_id").collect()] + EDGE_TITLES
    docs = {f"t{i:03d}": t for i, t in enumerate(titles)}
    terms = sorted({t for q in QUERIES for t in tokenize_query(q)})
    postings = spark.createDataFrame(
        [(t, d, 1, 1.0, 1.0, 10, [1], [1.0]) for t in terms for d in docs],
        "term string, doc_id string, tf int, weighted_tf double, "
        "normalized_tf double, doc_len int, positions array<int>, weights array<float>",
    )
    term_stats = spark.createDataFrame(
        [(t, len(docs), 1.0, 1.0, t in STOP_WORDS) for t in terms],
        "term string, df int, idf double, idf_bm25 double, is_stop boolean",
    )
    doc_stats = spark.createDataFrame(
        [(d, "", 10, 1, t) for d, t in docs.items()],
        "doc_id string, content_sha string, doc_len int, max_tf int, title string",
    )
    term_dict = spark.createDataFrame(
        [(t, porter_stem(t), t in STOP_WORDS) for t in terms],
        "term string, stem string, is_stop boolean",
    )
    ranks = doc_stats.select("doc_id", (F.length("doc_id") / 7.0).alias("rank"))
    index = SearchIndex(
        postings=postings, term_stats=term_stats, doc_stats=doc_stats,
        term_dict=term_dict, total_docs=len(docs), ranks=ranks,
    )
    return index, docs


def _expected(plain, docs):
    """Unboosted scores times the reference boost, and the boosts seen."""
    want, seen = {}, set()
    for (q, d), s in plain.items():
        tb = title_boost(docs[d], tokenize_query(q))
        want[(q, d)] = s * tb if tb > 1.0 else s
        seen.add(round(tb, 6))
    return want, seen


def test_sql_title_boost_matches_the_reference_in_batch(spark, boost_index):
    index, docs = boost_index

    def scores(use_title_boost):
        df = search_reference_batch(
            spark, index, QUERIES, k=None, use_title_boost=use_title_boost
        )
        return {(r["query"], r["doc_id"]): r["score"] for r in df.collect()}

    plain = scores(False)
    assert len(plain) == len(QUERIES) * len(docs)
    want, seen = _expected(plain, docs)
    assert scores(True) == want
    assert seen == {1.0, 1.2, 1.4, 1.6, 1.8, 2.0, 2.5, 3.0, 3.5, 4.0}


def test_sql_title_boost_matches_the_reference_in_search(spark, boost_index):
    index, docs = boost_index
    plain, got = {}, {}
    for q in QUERIES:
        for out, flag in ((plain, False), (got, True)):
            for r in search(spark, index, q, k=None, use_title_boost=flag).collect():
                out[(q, r["doc_id"])] = r["score"]
    assert len(plain) == len(QUERIES) * len(docs)
    want, seen = _expected(plain, docs)
    assert got == want
    assert seen == {1.0, 1.2, 1.4, 1.6, 1.8, 2.0, 2.5, 3.0, 3.5, 4.0}
