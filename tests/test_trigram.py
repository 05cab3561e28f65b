"""Trigram substring index (index/trigram.py): window generation edge
cases, pruning losslessness, occurrence counting, fallback paths, and
the one candidate step substring, regex and grep search share: its
verify barrier, its Spark job counts, and every operator against a
pure-Python full scan (tests/kernel_reference.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.index import trigram as TRI
from distributed_search_engine_spark.index.grep import grep_lines
from distributed_search_engine_spark.index.regex_search import (
    regex_search,
    regex_search_batch,
)
from tests import kernel_reference as R
from tests.spark_jobs import jobs_of

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
    """The occurrence count that verifies a candidate must be projected
    ABOVE the candidate join — computed on candidate rows only, never
    the full corpus (the point of the trigram pruning at 100 TB)."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    df = TRI.substring_search(docs, post, "data stream")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly ONE count evaluation, inside the one barrier (a filter
    # pushed below the projection would evaluate it a second time), and
    # it sits above the doc_id join
    verify = "replace(lower(text"
    assert plan.count(verify) == 1, plan
    assert plan.count("monotonically_increasing_id()") == 1, plan
    assert "Join" in plan
    assert plan.index(verify) < plan.index("Join")


def test_store_and_pruned_load_roundtrip(spark, tmp_path):
    """Partition-pruned store: pruned directories contain every posting
    of the needle's trigrams (driver-side xxhash twin picks the same
    part= dirs the writer hashed to), and search through the pruned
    subset equals search through the full postings."""
    from distributed_search_engine_spark.index.trigram import (
        _alt_trigrams,
        load_trigram_postings,
        store_trigram_postings,
    )

    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    d = str(tmp_path / "tri")
    store_trigram_postings(post, d, n_partitions=8)
    full = load_trigram_postings(spark, d).drop("part")
    assert full.count() == post.count()
    grams = _alt_trigrams("data stream")
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
    """substring_search_batch must give the full-scan answer for every
    needle class: normal, case-folded, absent-trigram (empty), and
    sub-3-char (full-scan branch), and so must each single search."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    needles = ["data stream", "Data", "zzzqqq", "ab", "no"]
    got = {
        (r["needle"], r["doc_id"]): r["n_occurrences"]
        for r in TRI.substring_search_batch(docs, post, needles).collect()
    }
    want = {(n, d): c for n, d, c in R.substring_matches(DOCS, needles)}
    assert got == want
    for n in needles:
        single = {
            (n, r["doc_id"]): r["n_occurrences"]
            for r in TRI.substring_search(docs, post, n).collect()
        }
        assert single == {k: c for k, c in want.items() if k[0] == n}, n
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


def test_empty_needle_raises(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    with pytest.raises(ValueError, match="empty needle"):
        TRI.substring_search(docs, post, "")
    with pytest.raises(ValueError, match="empty needle"):
        TRI.substring_search_batch(docs, post, ["data", ""])


# every search operator against the pure-Python full scan: NULL and empty
# text, non-ASCII text (context-dependent sigma, ß, é, CJK), "${...}"
SEARCH_ROWS = [
    (1, "Data Stream processing over a data stream\nmemcpy(dst, src) then strcpy (x)"),
    (2, "no match here at all"),
    (3, "datastream fused word\nwindow   aggregate appears"),
    (4, "ab"),
    (5, None),
    (6, ""),
    (7, "ΟΔΟΣ road and ΣΊΣΥΦΟΣ\ncafé Straße 日本語 data"),
    (8, "a${HOME}b and ${x} in a string\nwindow aggs"),
]
NEEDLES = [
    "data stream", "Data", "zzzqqq", "ab", "straße", "ΟΔΟΣ", "日本語", "${HOME}",
]
PATTERNS = [
    r"(memcpy|strcpy)\s*\(", r"window\s+agg(regate)?s?", r"[mw][ei]",
    r"(qqqzzz|zzzyyy)\s+call", "ΟΔΟΣ", "ΟΔΟΣ road", "ΣΊΣΥΦΟΣ", r"\$\{HOME\}",
    "café",
]


def _search_variants(spark):
    """(name, docs): the rows with long ids, string ids, spread over 16
    partitions, and with no rows."""
    docs = spark.createDataFrame(SEARCH_ROWS, "doc_id long, text string")
    yield "long ids", docs
    yield "string ids", docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    yield "16 partitions", docs.repartition(16)
    yield "no rows", spark.createDataFrame([], docs.schema)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_every_search_operator_equals_full_scan(spark):
    """Substring, regex and grep search, batch and single, give the
    full-scan answer and keep the caller's doc_id type, also when the
    answer is empty."""
    for name, docs in _search_variants(spark):
        rows = [tuple(r) for r in docs.collect()]
        post = TRI.trigram_postings(docs)
        id_type = docs.schema["doc_id"].dataType
        outs = {
            "substring batch": (
                TRI.substring_search_batch(docs, post, NEEDLES),
                R.substring_matches(rows, NEEDLES),
            ),
            "regex batch": (
                regex_search_batch(docs, post, PATTERNS),
                R.regex_matches(rows, PATTERNS),
            ),
        }
        for n in ("${HOME}", "zzzqqq"):
            outs[f"substring {n}"] = (
                TRI.substring_search(docs, post, n),
                [r[1:] for r in R.substring_matches(rows, [n])],
            )
        for p in ("ΟΔΟΣ road", r"(qqqzzz|zzzyyy)\s+call"):
            outs[f"regex {p}"] = (
                regex_search(docs, post, p),
                [r[1:] for r in R.regex_matches(rows, [p])],
            )
        for n, ctx in (("data", 1), ("ΟΔΟΣ", 0), ("ab", 0), ("zzzqqq", 1)):
            outs[f"grep {n}"] = (
                grep_lines(docs, post, n, context=ctx),
                R.grep_lines(rows, n, ctx),
            )
        for op, (out, want) in outs.items():
            assert _rows(out) == want, (name, op)
            assert out.schema["doc_id"].dataType == id_type, (name, op)


def test_search_job_counts(spark):
    """Spark jobs per call on a persisted 5-doc fixture: one stats
    collect (2 jobs), the candidate exchange, the docs exchange and the
    result, whatever the batch size; grep's window reuses the join's
    doc_id partitioning."""
    docs = spark.createDataFrame(
        [
            (1, "Data Stream processing over a data stream\nmemcpy(dst) strcpy (x)"),
            (2, "no match here at all"),
            (3, "datastream fused word\nwindow aggregate"),
            (4, "ab"),
            (5, None),
        ],
        "doc_id long, text string",
    ).persist()
    post = TRI.trigram_postings(docs).persist()
    docs.count(), post.count()
    shapes = {
        "substring, one needle": lambda: TRI.substring_search(docs, post, "data stream"),
        "substring, batch of 5": lambda: TRI.substring_search_batch(
            docs, post, ["data stream", "Data", "zzzqqq", "ab", "no"]
        ),
        "regex, one pattern": lambda: regex_search(docs, post, r"(memcpy|strcpy)\s*\("),
        "regex, batch of 4": lambda: regex_search_batch(
            docs, post,
            [r"(memcpy|strcpy)\s*\(", r"window\s+agg(regate)?s?", r"[mw][ei]",
             r"(qqqzzz|zzzyyy)\s+call"],
        ),
        "grep, context 1": lambda: grep_lines(docs, post, "stream", context=1),
    }
    try:
        jobs = {
            name: jobs_of(spark, lambda: make().collect(), f"trigram {name}")[1]
            for name, make in shapes.items()
        }
    finally:
        post.unpersist()
        docs.unpersist()
    assert jobs == dict.fromkeys(shapes, 5), jobs
