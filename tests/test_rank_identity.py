"""Rank identity: the DataFrame engine vs the independent pure-Python
reference oracle on the FIXTURES.md §5 query set over a seeded corpus.
Both implement the reference formula chain independently — exact score
agreement is the rank-identity gate (BASELINE.json metric)."""

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.corpus import generate_rows, ingest, make_corpus
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import SearchIndex, search
from tests.naive_reference import naive_search
from tests.spark_jobs import jobs_of
from tests.test_code_search import _plan_nodes

# FIXTURES.md §5 queries (9/10 — spellcheck and autocomplete are covered in
# test_suggest.py; query 9/10 are not ranking queries)
QUERY_SET = [
    "compute",            # 1: single common term
    "the",                # 2: stop word -> empty
    "computing",          # 3: stemmable, expansion + dedup
    "compute computing",  # 4: two stemmable terms sharing a stem
    "spark shuffle",      # 5: two-term co-occurrence
    "spark nonexistent",  # 6: never co-occurring -> empty
    "alpha beta gamma",   # 8: 3-term mixed
    "engine",             # 7-ish: term that appears in titles
    "2024",               # numeric term
]

N_DOCS = 120


@pytest.fixture(scope="module")
def setup(spark):
    src = make_corpus(spark, n_docs=N_DOCS, seed=13)
    docs = ingest(src)
    idx = build_index(docs)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    corpus = {}
    rows = list(generate_rows(N_DOCS, seed=13))
    import hashlib

    for repo, path, commit, lang, content in rows:
        doc_id = hashlib.sha256(
            ("\x00".join([repo, path, commit])).encode()
        ).hexdigest()
        corpus[doc_id] = content
    return sidx, corpus


@pytest.mark.parametrize("query", QUERY_SET)
def test_rank_identity(spark, setup, query):
    sidx, corpus = setup
    got = [
        (r["doc_id"], r["score"])
        for r in search(spark, sidx, query, k=1000, mode="reference").collect()
    ]
    want = naive_search(corpus, query, k=1000)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (d1, s1), (d2, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9, (query, d1, s1, s2)


def test_match_rate_is_100_percent(spark, setup):
    """The BASELINE metric: top-k rank-identical match rate over the query
    set — docIDs AND scores."""
    sidx, corpus = setup
    matches = 0
    ranking_queries = [q for q in QUERY_SET]
    for q in ranking_queries:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(spark, sidx, q, k=20, mode="reference").collect()
        ]
        want = [(d, round(s, 9)) for d, s in naive_search(corpus, q, k=20)]
        if got == want:
            matches += 1
    assert matches == len(ranking_queries)  # 100% match rate


def test_batch_bm25_matches_per_query(spark):
    """Batch scoring must equal the per-query BM25 engine for every
    query in the set (6dp-rounded scores; identical rank order)."""
    from distributed_search_engine_spark.corpus import ingest, make_corpus
    from distributed_search_engine_spark.operators.postings import build_index
    from distributed_search_engine_spark.query.engine import (
        SearchIndex,
        search,
        search_bm25_batch,
    )

    idx = build_index(ingest(make_corpus(spark, n_docs=80, seed=13)))
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    queries = ["spark compute", "partition", "the", "computing engine"]
    batch = search_bm25_batch(spark, sidx, queries, k=7).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query"], []).append((r["doc_id"], r["score"], r["rank"]))
    assert "the" not in by_q  # lone stop word short-circuits
    for q in ["spark compute", "partition", "computing engine"]:
        want = [
            (r["doc_id"], round(r["score"], 6))
            for r in search(spark, sidx, q, k=7, mode="bm25").collect()
        ]
        got = [(d, s) for d, s, _ in sorted(by_q[q], key=lambda t: t[2])]
        assert got == want, q


def test_cached_term_dict_matches_distributed_lookup(spark):
    """cache_term_dict must not change any result — same related-words
    expansion, same scores (reference mode exercises the expansion)."""
    from distributed_search_engine_spark.corpus import ingest, make_corpus
    from distributed_search_engine_spark.operators.postings import build_index
    from distributed_search_engine_spark.query.engine import SearchIndex, search

    idx = build_index(ingest(make_corpus(spark, n_docs=50, seed=21)))
    def mk():
        return SearchIndex(
            postings=idx["postings"], term_stats=idx["term_stats"],
            doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
            total_docs=idx["total_docs"],
        )
    for q in ["computing engine", "spark searches"]:
        a = [tuple(r) for r in search(spark, mk(), q, k=20, mode="reference").collect()]
        b = [tuple(r) for r in search(spark, mk().cache_term_dict(), q, k=20, mode="reference").collect()]
        assert a == b, q


# ---------------------------------------------------------------------------
# reference-mode plan: one statement family, three idf sources, job counts
# ---------------------------------------------------------------------------

DIFF_QUERIES = [
    "compute",             # 1 term
    "engine",              # 1 term, title hits
    "computing",           # stemmed term with related words
    "spark shuffle",       # 2 terms
    "alpha beta gamma",    # 3 terms
    "spark the shuffle",   # stop word inside a multi-term query
    "data data",           # repeated term
    "run running",         # a term whose stem is another query term
    "zzqxjv",              # unknown word
    "the",                 # lone stop word
]


@pytest.fixture(scope="module")
def three_sources(spark, setup, tmp_path_factory):
    """The same index behind each idf source: a term_stats join
    (uncached), the cache_term_dict() driver map, and the segment rows of
    the pruned provider."""
    from distributed_search_engine_spark.index.segments import (
        assign_docnums,
        build_segments,
        segment_search_index,
    )

    sidx, corpus = setup
    cached = SearchIndex(
        postings=sidx.postings, term_stats=sidx.term_stats,
        doc_stats=sidx.doc_stats, term_dict=sidx.term_dict,
        total_docs=sidx.total_docs,
    ).cache_term_dict()
    ds = assign_docnums(sidx.doc_stats, n_partitions=4)
    avgdl = float(ds.agg(F.avg("doc_len")).collect()[0][0])
    out = str(tmp_path_factory.mktemp("ref_sources") / "index")
    build_segments(
        sidx.postings, sidx.term_stats, ds, out, avgdl,
        n_partitions=8, batch_partitions=8,
    )
    segged = segment_search_index(
        spark, out, ds, sidx.term_stats, sidx.term_dict, sidx.total_docs, 8,
    )
    return {"uncached": sidx, "cached": cached, "segments": segged}, corpus


def _full_frame(spark, sidx, query, mode="reference"):
    return sorted(
        tuple(r) for r in search(spark, sidx, query, k=None, mode=mode).collect()
    )


@pytest.mark.parametrize("query", DIFF_QUERIES)
def test_idf_sources_give_the_same_frame(spark, three_sources, query):
    sources, corpus = three_sources
    frames = {name: _full_frame(spark, s, query) for name, s in sources.items()}
    want = frames["uncached"]
    single = len(query.split()) == 1
    for name, got in frames.items():
        assert [r[0] for r in got] == [r[0] for r in want], (name, query)
        for g, w in zip(got, want):
            assert g[4] == w[4], (name, query)  # title
            for a, b in zip(g[1:4], w[1:4]):
                if single:
                    assert a == b, (name, query, g, w)
                else:
                    assert abs(a - b) <= 1e-12 * max(abs(b), 1e-300), (name, query)
        ranked = [
            r["doc_id"]
            for r in search(spark, sources[name], query, k=1000, mode="reference").collect()
        ]
        assert ranked == [d for d, _ in naive_search(corpus, query, k=1000)], (name, query)
    # BM25 takes idf_bm25 from the same three sources: the join, the
    # inlined driver map, the segment rows
    bm25 = {name: _full_frame(spark, s, query, mode="bm25") for name, s in sources.items()}
    for name, got in bm25.items():
        assert got == bm25["uncached"], (name, query)


def _collect_jobs(spark, df, group):
    return jobs_of(spark, df.collect, group)


@pytest.fixture(scope="module")
def served_index(spark, tmp_path_factory):
    """A cached index over parquet-read docs, with ranks: the serving shape,
    with no RDD-backed relation anywhere in its lineage."""
    path = str(tmp_path_factory.mktemp("served") / "docs")
    ingest(make_corpus(spark, n_docs=N_DOCS, seed=13)).write.parquet(path)
    idx = build_index(spark.read.parquet(path))
    for key in ("postings", "term_stats", "doc_stats"):
        idx[key] = idx[key].persist()
        idx[key].count()
    ranks = idx["doc_stats"].select(
        "doc_id", (F.length("title") / 100.0).alias("rank")
    ).persist()
    ranks.count()
    return SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"], ranks=ranks,
    ).cache_term_dict()


def test_reference_plan_has_one_shuffle_and_one_rdd_scan(spark, served_index):
    """The plan's one RDD-backed relation is the index's checkpointed
    doc-meta frame: no per-query relation is an RDD."""
    df = search(spark, served_index, "spark shuffle", k=200, mode="reference")
    assert df.collect()
    nodes = _plan_nodes(df)
    scans = [n for n in nodes if "ExistingRDD" in n or "LogicalRDD" in n]
    assert len(scans) == 1 and "title_stems" in scans[0], scans
    shuffles = [n for n in nodes if n.startswith("Exchange")]
    assert len(shuffles) == 1 and "hashpartitioning(doc_id" in shuffles[0], shuffles


def _plan_leaves(df):
    """simpleString of every leaf of the executed plan, through adaptive
    query stages."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        kids = node.children()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif kids.size() == 0:
            out.append(node.simpleString(1000))
        else:
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_reference_plans_run_no_python_and_blend_one_checkpointed_scan(
    spark, served_index
):
    """A reference search() and a ranked search_reference_batch run no
    Python UDF node, and the blend reads titles and ranks from one
    checkpointed scan: the plan's leaves are the postings and it, with
    no doc_stats or ranks scan."""
    from distributed_search_engine_spark.query.engine import search_reference_batch

    frames = {
        "search": search(spark, served_index, "spark shuffle", k=200),
        "batch": search_reference_batch(
            spark, served_index, ["compute", "spark shuffle", "engine"], k=20
        ),
    }
    for name, df in frames.items():
        assert df.collect(), name
        nodes = _plan_nodes(df)
        python = [n for n in nodes if n.startswith(("ArrowEvalPython", "BatchEvalPython"))]
        assert not python, (name, python)
        leaves = sorted(_plan_leaves(df))
        assert len(leaves) == 2, (name, leaves)
        assert leaves[0].startswith("InMemoryTableScan") and "title" not in leaves[0], leaves
        assert leaves[1].startswith("Scan ExistingRDD") and "title_stems" in leaves[1], leaves
        if name == "batch":
            shuffles = [n for n in nodes if n.startswith("Exchange")]
            assert len(shuffles) == 1 and "hashpartitioning(x" in shuffles[0], shuffles


def test_reference_job_counts_on_a_cached_index(spark, served_index):
    search(spark, served_index, "engine", k=200).collect()  # warm-up
    rows, jobs = _collect_jobs(
        spark, search(spark, served_index, "compute", k=200), "ref-one-term"
    )
    assert rows and jobs <= 4, jobs
    for query in ("zzqxjv", "the"):
        rows, jobs = _collect_jobs(
            spark, search(spark, served_index, query, k=200), "ref-" + query
        )
        assert rows == [] and jobs == 0, (query, jobs)


def test_search_leaves_the_index_frames_cached(spark, served_index):
    """The statement reads the index frames through temp views; releasing
    a view must not uncache the frame behind it."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for q in ("compute", "spark shuffle"):
        search(spark, served_index, q, k=20).collect()
    uncached = SearchIndex(
        postings=served_index.postings, term_stats=served_index.term_stats,
        doc_stats=served_index.doc_stats, term_dict=served_index.term_dict,
        total_docs=served_index.total_docs, ranks=served_index.ranks,
    )
    search(spark, uncached, "spark shuffle", k=20).collect()
    assert before <= set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_empty_results_run_no_job(spark, served_index):
    from distributed_search_engine_spark.query.engine import (
        search_bm25_batch,
        search_reference_batch,
    )

    empties = {
        "search": search(spark, served_index, "the"),
        "search-blank": search(spark, served_index, "  "),
        "bm25-batch": search_bm25_batch(spark, served_index, ["the", ""]),
        "reference-batch": search_reference_batch(spark, served_index, ["the"], k=5),
    }
    for name, df in empties.items():
        rows, jobs = _collect_jobs(spark, df, "empty-" + name)
        assert rows == [] and jobs == 0, (name, jobs)
    assert search(spark, served_index, "the").columns == [
        "doc_id", "score", "tfidf", "pagerank", "title"
    ]


def test_batch_and_single_query_job_counts(spark, served_index):
    """One scorer per mode serves single and batch queries, so a batch
    costs no more Spark jobs than a single query: five reference queries
    (one-term, multi-term, phrase) run no more jobs than one multi-term
    search(), and search(mode="bm25") no more than a batch of its one
    query. BM25 on the cached index inlines idf_bm25 from the driver map
    (no term_stats broadcast): 3 jobs each."""
    from distributed_search_engine_spark.query.engine import (
        search_bm25_batch,
        search_reference_batch,
    )

    queries = ["compute", "spark shuffle", "alpha beta gamma", "engine", "data stream"]
    for mode in ("reference", "bm25"):  # warm-up: doc-meta frame, avgdl
        search(spark, served_index, "engine", k=20, mode=mode).collect()
    rows, single = _collect_jobs(
        spark, search(spark, served_index, "spark shuffle", k=200), "jobs-ref-single"
    )
    assert rows
    rows, batch = _collect_jobs(
        spark, search_reference_batch(spark, served_index, queries, k=20), "jobs-ref-batch"
    )
    assert len({r["query"] for r in rows}) >= 3
    assert batch <= single, (batch, single)

    q = "spark shuffle"
    rows, single = _collect_jobs(
        spark, search(spark, served_index, q, k=20, mode="bm25"), "jobs-bm25-single"
    )
    assert rows
    rows, batch = _collect_jobs(
        spark, search_bm25_batch(spark, served_index, [q], k=20), "jobs-bm25-batch"
    )
    assert rows
    assert single <= batch, (single, batch)
    assert (single, batch) == (3, 3), (single, batch)
