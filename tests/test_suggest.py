"""Autocomplete / spellcheck / snippet tests (Q14-Q17)."""

import gc
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.suggest import (
    autocomplete,
    highlight_py,
    snippet_py,
    snippets,
    spellcheck_query,
    spellcheck_word,
)
from tests.spark_jobs import jobs_of

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


# ---------------------------------------------------------------------------
# driver vocabulary (SearchIndex.cache_term_dict) vs the DataFrame paths
# ---------------------------------------------------------------------------

LETTERS = "abcdefghijklmnopqrstuvwxyz"


@pytest.fixture(scope="module")
def registered(spark, tmp_path_factory):
    """A cached, parquet-read index over ~3000 random words (lengths 2-24,
    plus digit-bearing and non-ASCII tokens) with cache_term_dict() called,
    so its term_stats frame is registered; and an unregistered
    ``select("*")`` copy of that frame, which takes the DataFrame paths."""
    from distributed_search_engine_spark.query.engine import SearchIndex

    rng = random.Random(17)
    words = set()
    while len(words) < 3000:
        n = rng.choice([2, 3, 4, 5, 5, 6, 6, 7, 8, 9, 11, 14, 19, 20, 21, 24])
        words.add("".join(rng.choice(LETTERS) for _ in range(n)))
    words = sorted(words) + ["data", "date", "a1", "b2b", "x2024", "2024", "1999", "café", "naïve"]
    docs = [(str(i), " ".join(rng.sample(words, 80))) for i in range(120)]
    path = str(tmp_path_factory.mktemp("vocab") / "docs")
    spark.createDataFrame(docs, "doc_id string, content string").write.parquet(path)
    idx = build_index(spark.read.parquet(path), with_stems=False)
    term_stats = idx["term_stats"].persist()
    sidx = SearchIndex(
        postings=idx["postings"].persist(), term_stats=term_stats,
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    ).cache_term_dict()
    return sidx, term_stats.select("*")


def test_registered_vocabulary_equals_reasonable_terms(registered):
    from distributed_search_engine_spark.query.suggest import (
        _VOCABULARIES,
        DriverVocabulary,
        reasonable_terms,
    )

    sidx, _ = registered
    terms = _VOCABULARIES[sidx.term_stats].terms
    assert terms == sorted(r["term"] for r in reasonable_terms(sidx.term_stats).collect())
    assert len(terms) > 2000
    assert sidx.term_stats.where(~F.col("term").isin(terms)).count() > 0  # 2024, 1999
    odd = ["b", "a1", "x" * 21, "y" * 20, None, "é", "Ab", "a", "a b", ""]
    assert DriverVocabulary(odd).terms == ["a", "b", "y" * 20]


def test_autocomplete_registered_equals_dataframe_path(spark, registered):
    """Every 1-letter prefix (unlimited), a seeded sample of 2-letter
    prefixes, multi-word and odd inputs, limits 0 / 3 / 10: the bisect walk
    returns the DataFrame path's rows in the same order. Every 1- and
    2-letter prefix at limits 3 and 10 is then checked against the
    DataFrame path's complete list for its first letter (each DataFrame
    call plans and runs a Spark job, too slow for all 702 prefixes)."""
    sidx, copy = registered
    full = {}
    for c in LETTERS:
        want = [r["suggestion"] for r in autocomplete(copy, c, 10**6).collect()]
        assert [r["suggestion"] for r in autocomplete(sidx.term_stats, c, 10**6).collect()] == want
        full[c] = want
    assert sum(map(len, full.values())) > 2000
    pairs = [a + b for a in LETTERS for b in LETTERS]
    cases = [(p, 10) for p in random.Random(3).sample(pairs, 8)]
    cases += [(q, 3) for q in ["", "  ", "The Ba", "data da", "x y z", "café", "naï",
                              "é", "a1", "x20", "b2", "zzzzzzzz", "DATA"]]
    cases += [("a", 0), ("", 0), ("da", 0), ("da", 3), ("data da", 10), ("qu x", 10)]
    for q, limit in cases:
        want = [r["suggestion"] for r in autocomplete(copy, q, limit).collect()]
        got = [r["suggestion"] for r in autocomplete(sidx.term_stats, q, limit).collect()]
        assert got == want, (q, limit, got, want)
    hits = 0
    for p in list(LETTERS) + pairs:
        for limit in (3, 10):
            got = [r["suggestion"] for r in autocomplete(sidx.term_stats, p, limit).collect()]
            assert got == [t for t in full[p[0]] if t.startswith(p)][:limit], (p, limit)
            hits += bool(got)
    assert hits > 1000


def _typos(terms, seed):
    """Seeded misspellings of dictionary terms — a substitution, an
    insertion, a deletion, a non-ASCII insertion and a two-edit typo each —
    plus over-long words and dictionary words."""
    rng = random.Random(seed)
    out = []
    for t in rng.sample(terms, 12):
        i = rng.randrange(len(t))
        out += [
            t[:i] + rng.choice(LETTERS) + t[i + 1 :],
            t[:i] + rng.choice(LETTERS) + t[i:],
            t[:i] + t[i + 1 :],
            t[:i] + "é" + t[i:],
            t[:i] + rng.choice(LETTERS) + t[i + 1 :] + rng.choice(LETTERS),
        ]
    out += ["".join(rng.choice(LETTERS) for _ in range(25)) for _ in range(2)]
    out += [t + "xyzxyz" for t in rng.sample([t for t in terms if len(t) >= 18], 2)]
    return out + rng.sample(terms, 3)


def _tie(vocab):
    """A one-edit typo whose nearest dictionary terms are two or more at
    the same distance, with the lowest of them."""
    for t in vocab.terms:
        for c in LETTERS:
            word = c + t[1:]
            d = vocab.distances(word, np.arange(len(vocab.terms)))
            tied = [t for t, x in zip(vocab.terms, d) if x == d.min()]
            if d.min() > 0 and len(tied) >= 2:
                return word, min(tied)
    raise AssertionError("no tie in the vocabulary")


def test_spellcheck_query_registered_equals_dataframe_path(spark, registered):
    from distributed_search_engine_spark.functions.text import tokenize_py
    from distributed_search_engine_spark.query.suggest import _VOCABULARIES

    sidx, copy = registered
    vocab = _VOCABULARIES[sidx.term_stats]
    typos = _typos(vocab.terms, 5)
    tie, lower = _tie(vocab)
    words = typos + [tie, "data", "xyzzyplugh"]
    queries = [" ".join(words[i : i + 3]) for i in range(0, len(words), 3)]
    corrected = 0
    for q in queries:
        got = spellcheck_query(spark, sidx.term_stats, q)
        assert got == spellcheck_query(spark, copy, q), q
        corrected += sum(a != b for a, b in zip(got, tokenize_py(q)))
    assert corrected > 20
    assert spellcheck_query(spark, sidx.term_stats, tie) == [lower]
    assert spellcheck_query(spark, sidx.term_stats, "") == []


def test_spellcheck_of_a_very_long_word_keeps_it(spark, registered):
    """A word far longer than any dictionary term is kept as typed, as on
    the DataFrame path, and scores no term on the driver: no term is within
    distance 2 of its length."""
    from distributed_search_engine_spark.query.suggest import _VOCABULARIES

    sidx, copy = registered
    vocab = _VOCABULARIES[sidx.term_stats]
    huge = "ab" * 50_000
    assert vocab.correct(huge, 2) is None
    assert spellcheck_query(spark, sidx.term_stats, "data " + huge) == ["data", huge]
    long = "data" * 300  # still cheap for Spark's per-pair levenshtein
    for q in ("data" * 6, "dat " + long, long + " dtaa"):
        assert spellcheck_query(spark, sidx.term_stats, q) == spellcheck_query(spark, copy, q), q


def test_driver_levenshtein_equals_spark_levenshtein(spark, registered):
    """Distances to every dictionary term, non-ASCII words included:
    both count code points."""
    from distributed_search_engine_spark.literals import local_frame
    from distributed_search_engine_spark.query.suggest import (
        _VOCABULARIES,
        reasonable_terms,
    )

    sidx, copy = registered
    vocab = _VOCABULARIES[sidx.term_stats]
    words = ["stréam", "naïve", "日本語", "a" * 25, "ab", "data", "zzqx", "éé"]
    spark_side = {
        (r["word"], r["term"]): r["d"]
        for r in reasonable_terms(copy)
        .crossJoin(local_frame(spark, "word string", [(w,) for w in words]))
        .select("word", "term", F.levenshtein("word", "term").alias("d"))
        .collect()
    }
    for w in words:
        got = vocab.distances(w, np.arange(len(vocab.terms)))
        assert got.tolist() == [spark_side[(w, t)] for t in vocab.terms], w


def test_registered_lookups_and_empty_queries_run_no_job(spark, registered):
    from distributed_search_engine_spark.query.engine import explain_bm25

    sidx, copy = registered
    cases = {
        "autocomplete": lambda: autocomplete(sidx.term_stats, "da").collect(),
        "autocomplete-multiword": lambda: autocomplete(sidx.term_stats, "x da", 3).collect(),
        "spellcheck": lambda: spellcheck_query(spark, sidx.term_stats, "dada datte qqqqqq"),
        "autocomplete-empty": lambda: autocomplete(copy, " ").collect(),
        "explain-empty": lambda: explain_bm25(spark, sidx, "").collect(),
    }
    for name, fn in cases.items():
        out, jobs = jobs_of(spark, fn, "suggest-" + name)
        assert jobs == 0, (name, jobs)
        assert bool(out) == (not name.endswith("-empty")), (name, out)
    _, jobs = jobs_of(spark, lambda: autocomplete(copy, "da").collect(), "suggest-copy")
    assert jobs >= 1


def test_spellcheck_words_plan_has_no_rdd_scan(spark, registered):
    from distributed_search_engine_spark.query.suggest import spellcheck_words

    _, copy = registered
    df = spellcheck_words(copy, ["dada", "datte"])
    assert [r["pos"] for r in df.orderBy("pos").collect()] == [0, 1]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan


def test_vocabulary_released_with_its_frame(spark):
    from distributed_search_engine_spark.query.engine import SearchIndex
    from distributed_search_engine_spark.query.suggest import _VOCABULARIES

    docs = spark.createDataFrame(DOCS, "doc_id string, content string")
    idx = build_index(docs, with_stems=False)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    ).cache_term_dict()
    vocab = _VOCABULARIES[sidx.term_stats]
    assert "stream" in vocab.terms
    del sidx, idx
    gc.collect()
    assert all(v is not vocab for v in _VOCABULARIES.values())
