"""Trigram substring index (index/trigram.py): window generation edge
cases, pruning losslessness, occurrence counting, fallback paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_search_engine_spark.index import trigram as TRI

DOCS = [
    (1, "Data Stream processing over a data stream"),
    (2, "no match here at all"),
    (3, "datastream fused word"),
    (4, "ab"),  # too short for any trigram
    (5, None),  # null text survives the build guard
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_trigram_windows_and_short_doc_guard(spark):
    docs = spark.createDataFrame(
        [(1, "AbCd"), (2, "xy"), (3, None)], "doc_id long, text string"
    )
    rows = TRI.trigram_postings(docs).collect()
    got = {(r["doc_id"], r["trigram"]) for r in rows}
    assert got == {(1, "abc"), (1, "bcd")}


def test_substring_search_counts_and_case(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    out = {
        r["doc_id"]: r["n_occurrences"]
        for r in TRI.substring_search(docs, post, "Data Stream").collect()
    }
    # doc 1 matches twice (case-insensitive); doc 3's fused word does not
    # contain the space
    assert out == {1: 2}


def test_pruning_is_lossless_at_every_prune_to(spark):
    """Candidates from ANY rarest-subset size must verify to the same
    exact answer — the Cox/Zoekt invariant the gate oracle checks."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    want = {
        r["doc_id"]: r["n_occurrences"]
        for r in TRI.substring_search(docs, post, "data", prune_to=99).collect()
    }
    for p in (1, 2, 3):
        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in TRI.substring_search(docs, post, "data", prune_to=p).collect()
        }
        assert got == want, p
    assert want == {1: 2, 3: 1}


def test_absent_trigram_short_circuits_empty(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    assert TRI.substring_search(docs, post, "zzzqqq").count() == 0


def test_short_needle_falls_back_to_exact_scan(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    out = {
        r["doc_id"]: r["n_occurrences"]
        for r in TRI.substring_search(docs, post, "at").collect()
    }
    # 'at' in doc1 (x2: "Data"/"data"... exact: 'at' occurs in Data,
    # Stream? no; data x2 -> 2), doc2 ("match"+"at" -> 2), doc3 (1)
    assert out == {1: 2, 2: 2, 3: 1}


def test_build_plan_is_zero_exchange(spark):
    """The build is a ZERO-exchange map stage: per-doc dedup makes
    emitted pairs unique, so no distinct shuffle exists. It is one
    vectorized Arrow kernel (the JVM transform/substr HOF it replaced is
    CodegenFallback, ~10x slower at 60k docs), with no row-at-a-time
    Python."""
    from tests.test_plans import plan_of

    p = plan_of(TRI.trigram_postings(_docs(spark)))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInArrow" in p
    assert "Exchange" not in p, p


def test_substring_plan_verifies_after_join(spark):
    """contains() + occurrence count must be projected ABOVE the
    candidate join — computed on candidate rows only, never the full
    corpus (the point of the trigram pruning at 100 TB)."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    df = TRI.substring_search(docs, post, "data stream")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly ONE contains() evaluation (a pushed-down filter would add
    # a second on the docs scan), and it sits above the doc_id join
    assert plan.count("Contains(lower") == 1, plan
    assert "Join" in plan
    assert plan.index("Contains(lower") < plan.index("Join")


def test_store_and_pruned_load_roundtrip(spark, tmp_path):
    """Partition-pruned store: pruned directories contain every posting
    of the needle's trigrams (driver-side xxhash twin picks the same
    part= dirs the writer hashed to), and search through the pruned
    subset equals search through the full postings."""
    from distributed_search_engine_spark.index.trigram import (
        _needle_trigrams,
        load_trigram_postings,
        store_trigram_postings,
    )

    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    d = str(tmp_path / "tri")
    store_trigram_postings(post, d, n_partitions=8)
    full = load_trigram_postings(spark, d).drop("part")
    assert full.count() == post.count()
    grams = _needle_trigrams("data stream")
    pruned = load_trigram_postings(spark, d, grams, 8).drop("part")
    got = {
        (r["doc_id"], r["trigram"])
        for r in pruned.where(F.col("trigram").isin(grams)).collect()
    }
    want = {
        (r["doc_id"], r["trigram"])
        for r in post.where(F.col("trigram").isin(grams)).collect()
    }
    assert got == want
    via_pruned = {
        r["doc_id"]: r["n_occurrences"]
        for r in TRI.substring_search(docs, pruned, "data stream").collect()
    }
    via_full = {
        r["doc_id"]: r["n_occurrences"]
        for r in TRI.substring_search(docs, post, "data stream").collect()
    }
    assert via_pruned == via_full == {1: 2}
    # absent trigrams prune to an empty (not erroring) frame
    empty = load_trigram_postings(spark, d, ["@@@"], 8)
    assert empty.count() == 0 or "@@@" not in {
        r["trigram"] for r in empty.collect()
    }


def test_batch_equals_per_needle_loop(spark):
    """substring_search_batch must reproduce the per-needle results for
    every needle class: normal, case-folded, absent-trigram (empty),
    and sub-3-char (full-scan branch)."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    needles = ["data stream", "Data", "zzzqqq", "ab", "no"]
    got = {
        (r["needle"], r["doc_id"]): r["n_occurrences"]
        for r in TRI.substring_search_batch(docs, post, needles).collect()
    }
    want = {}
    for n in needles:
        for r in TRI.substring_search(docs, post, n).collect():
            want[(n, r["doc_id"])] = r["n_occurrences"]
    assert got == want
    assert not any(n == "zzzqqq" for n, _ in got)  # absent trigram
    assert ("ab", 4) in got  # short needle via full scan


def test_grep_lines_with_context(spark):
    """grep -C shape: matching line flagged, context lines attached,
    overlapping windows deduplicated, 1-based numbering."""
    from distributed_search_engine_spark.index.grep import grep_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta target here\ngamma\ndelta\ntarget again\nend"),
            (2, "no hits\nanywhere"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    post = TRI.trigram_postings(docs)
    plain = {
        (r["doc_id"], r["line_no"])
        for r in grep_lines(docs, post, "target").collect()
    }
    assert plain == {(1, 2), (1, 5)}
    ctx = {
        (r["line_no"], r["is_match"])
        for r in grep_lines(docs, post, "target", context=1)
        .where("doc_id = 1")
        .collect()
    }
    # lines 1-3 around the first match, 4-6 around the second; dedup'd
    assert ctx == {
        (1, False), (2, True), (3, False),
        (4, False), (5, True), (6, False),
    }
    # absent needle: empty, and never splits any doc
    assert grep_lines(docs, post, "zzzqqq").count() == 0
