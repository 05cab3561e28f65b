"""Champion lists (index/champions.py): per-term cut determinism,
m=inf == exact batch BM25, recall curve monotonicity, and the recall
numbers recorded in RECALL.md."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.index.champions import (
    champion_postings,
    search_bm25_champion,
)
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import (
    SearchIndex,
    search_bm25_batch,
)

QUERIES = [["data", "stream"], ["window"], ["hash", "sort", "merge"]]


def champion_recall(approx, exact, k):
    """(query, n_exact, n_hit, recall): per-query overlap of the champion
    top-k against the exact top-k — the honesty metric for picking m.
    Both inputs are (query, doc_id, ..., rank<=k) frames."""
    a = approx.where(F.col("rank") <= k).select("query", "doc_id")
    e = exact.where(F.col("rank") <= k).select("query", "doc_id")
    hits = e.join(a, ["query", "doc_id"]).groupBy("query").agg(
        F.count(F.lit(1)).cast("int").alias("n_hit")
    )
    totals = e.groupBy("query").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact")
    )
    return totals.join(hits, "query", "left").select(
        "query",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.round(
            F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6
        ).alias("recall"),
    )


@pytest.fixture(scope="module")
def idx(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    built = build_index(
        docs, doc_id_col="doc_id", content_col="text", with_stems=False
    )
    for name in ("postings", "term_stats", "doc_stats"):
        built[name] = built[name].persist()
    return built


def _sidx(built):
    return SearchIndex(
        postings=built["postings"],
        term_stats=built["term_stats"],
        doc_stats=built["doc_stats"],
        term_dict=built["term_dict"],
        total_docs=built["total_docs"],
    )


def test_champion_lists_cut_to_m_per_term(spark, idx):
    champs = champion_postings(
        idx["postings"], idx["term_stats"], _sidx(idx).avgdl, 5
    )
    per_term = champs.groupBy("term").count().agg(F.max("count")).collect()
    assert per_term[0][0] <= 5


def test_huge_m_equals_exact_topk_docs(spark, idx):
    """With m >= every df, champions are the full index; the top-k doc
    sets must equal the exact batch scorer's (scores differ only by the
    per-contrib rounding discipline, so compare docs per rank)."""
    sidx = _sidx(idx)
    champs = champion_postings(
        idx["postings"], idx["term_stats"], sidx.avgdl, 10**9
    )
    approx = search_bm25_champion(spark, champs, QUERIES, k=10)
    qtexts = [" ".join(q) for q in QUERIES]
    exact = search_bm25_batch(spark, sidx, qtexts, k=10)
    a = {
        (r["query"], r["rank"]): r["doc_id"] for r in approx.collect()
    }
    e = {(r["query"], r["rank"]): r["doc_id"] for r in exact.collect()}
    assert a == e


def test_recall_monotone_in_m_and_recorded(spark, idx):
    sidx = _sidx(idx)
    qtexts = [" ".join(q) for q in QUERIES]
    exact = search_bm25_batch(spark, sidx, qtexts, k=10).persist()
    recalls = {}
    for m in (5, 20, 80):
        champs = champion_postings(
            idx["postings"], idx["term_stats"], sidx.avgdl, m
        )
        approx = search_bm25_champion(spark, champs, QUERIES, k=10)
        r = champion_recall(approx, exact, k=10).agg(
            (F.sum("n_hit") / F.sum("n_exact")).alias("r")
        ).collect()[0]["r"]
        recalls[m] = float(r)
    assert recalls[5] <= recalls[20] <= recalls[80]
    # measured curve at sf0.001 (recorded in RECALL.md): multi-term docs
    # accumulate many small contribs, so head-only lists miss a real
    # tail — the honest tiered-index trade-off, not a bug
    assert recalls[80] >= 0.55
    # the deepest tier is a deterministic approximation, never empty
    assert recalls[5] > 0.0


def test_champion_choice_is_deterministic(spark, idx):
    sidx = _sidx(idx)
    c1 = champion_postings(
        idx["postings"], idx["term_stats"], sidx.avgdl, 7
    ).orderBy("term", "doc_id").collect()
    c2 = champion_postings(
        idx["postings"], idx["term_stats"], sidx.avgdl, 7
    ).orderBy("term", "doc_id").collect()
    assert [tuple(r) for r in c1] == [tuple(r) for r in c2]


def test_champion_batch_job_count(spark, idx):
    """The query set enters as a term -> queries map literal: three
    Spark jobs (the (query, doc_id) sum's exchange, the per-query
    window's exchange and the result), and no relation to broadcast,
    which cost a fourth; no query gives an empty frame of the output
    schema."""
    from tests.spark_jobs import jobs_of

    champs = champion_postings(
        idx["postings"], idx["term_stats"], _sidx(idx).avgdl, 20
    ).persist()
    champs.count()
    rows, jobs = jobs_of(
        spark,
        lambda: search_bm25_champion(spark, champs, QUERIES, k=10).collect(),
        "champion-batch",
    )
    champs.unpersist()
    assert rows and jobs == 3, jobs
    empty = search_bm25_champion(spark, champs, [], k=10)
    assert empty.collect() == [] and empty.columns == ["query", "doc_id", "score", "rank"]
