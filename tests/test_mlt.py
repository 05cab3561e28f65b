"""more_like_this (query/engine.py): differential vs an inline Python
tf-idf cosine (unstemmed, same normalized_tf/idf math as build_index),
plus top-k semantics."""

import math

from distributed_search_engine_spark.functions.text import tokenize_py
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import SearchIndex, more_like_this
from tests.naive_reference import is_worth_py

CORPUS = {
    "0": "spark joins data with data frames",
    "1": "data frames hold data",
    "2": "joins shuffle rows",
    "3": "completely unrelated words here",
    "4": "spark data joins frames shuffle",
}


def _naive_mlt(qid: str, k: int):
    tf = {}
    for d, text in CORPUS.items():
        for t in tokenize_py(text):
            if is_worth_py(t):
                tf.setdefault(d, {})[t] = tf.get(d, {}).get(t, 0) + 1
    n = len(CORPUS)
    df = {}
    for d, terms in tf.items():
        for t in terms:
            df[t] = df.get(t, 0) + 1
    w = {}
    for d, terms in tf.items():
        max_tf = max(terms.values())
        w[d] = {
            t: (0.4 + 0.6 * c / max_tf) * math.log(n / df[t])
            for t, c in terms.items()
        }
    norms = {d: math.sqrt(sum(x * x for x in tw.values())) for d, tw in w.items()}
    qw = w[qid]
    out = []
    for d, tw in w.items():
        if d == qid:
            continue
        dot = sum(qw[t] * tw[t] for t in qw if t in tw)
        if dot:
            out.append((d, round(dot / (norms[d] * norms[qid]), 6)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_mlt_matches_naive(spark):
    docs = spark.createDataFrame(
        list(CORPUS.items()), "doc_id string, text string"
    )
    idx = build_index(
        docs, doc_id_col="doc_id", content_col="text", with_stems=False
    )
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    got = [
        (r["doc_id"], r["score"], r["rank"])
        for r in more_like_this(sidx, "0", k=10).collect()
    ]
    want = [(d, s, i + 1) for i, (d, s) in enumerate(_naive_mlt("0", 10))]
    assert got == want
    # the unrelated doc shares no terms -> absent
    assert all(d != "3" for d, _, _ in got)


def test_mlt_k_bound(spark):
    docs = spark.createDataFrame(
        list(CORPUS.items()), "doc_id string, text string"
    )
    idx = build_index(
        docs, doc_id_col="doc_id", content_col="text", with_stems=False
    )
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    top1 = more_like_this(sidx, "0", k=1).collect()
    assert len(top1) == 1 and top1[0]["rank"] == 1


def test_hybrid_rrf_fusion_semantics(spark):
    from distributed_search_engine_spark.query.engine import hybrid_rrf_topk

    docs = spark.createDataFrame(
        list(CORPUS.items()), "doc_id string, text string"
    )
    idx = build_index(
        docs, doc_id_col="doc_id", content_col="text", with_stems=False
    )
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    # embeddings: doc 2 nearest to query vec 0, then 4; docs 1/3 opposite
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [-1.0, 0.1]),
            (2, [0.9, 0.1]),
            (3, [-1.0, -0.1]),
            (4, [0.5, 0.5]),
        ],
        "vec_id int, embedding array<float>",
    )
    out = {
        r["doc_id"]: r
        for r in hybrid_rrf_topk(
            spark, sidx, "spark data", emb, query_vec_id=0, k=10
        ).collect()
    }
    # every returned row's rrf equals the fusion formula of its own ranks
    for r in out.values():
        want = 0.0
        if r["lex_rank"] > 0:
            want += 1.0 / (60 + r["lex_rank"])
        if r["ann_rank"] > 0:
            want += 1.0 / (60 + r["ann_rank"])
        assert abs(r["rrf"] - round(want, 6)) < 1e-9
    # a doc in BOTH lists must outrank a doc appearing in only one list
    # at equal-or-worse single-list rank: doc 4 ("spark data joins...")
    # is lexical AND ann rank 2; doc 3 has no query terms (ann-only,
    # worse ann rank); doc 2 is ann-only (ann rank 1, no query terms)
    assert out["4"]["lex_rank"] > 0 and out["4"]["ann_rank"] == 2
    assert out["2"]["lex_rank"] == 0 and out["2"]["ann_rank"] == 1
    assert out["4"]["rrf"] > out["3"]["rrf"]
    assert out["4"]["rrf"] > out["2"]["rrf"]
    # ranks are 1..n dense by (rrf desc, doc_id asc)
    ranked = sorted(out.values(), key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == list(range(1, len(ranked) + 1))
    assert all(
        ranked[i]["rrf"] >= ranked[i + 1]["rrf"] for i in range(len(ranked) - 1)
    )
