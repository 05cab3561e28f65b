"""Regex-over-trigram search (index/regex_search.py): requirement
compiler (parser + CNF extraction), losslessness property vs Python re,
candidate-pruning end-to-end, fallback and short-circuit paths."""

from __future__ import annotations

import random
import re

import pytest

from distributed_search_engine_spark.index import trigram as TRI
from distributed_search_engine_spark.index.regex_search import (
    RegexCompileError,
    regex_search,
    required_clauses,
)
from tests import kernel_reference as R

DOCS = [
    (1, "call memcpy(dst, src, n) then strcpy tail"),
    (2, "memmove only, no relevant calls"),
    (3, "Strcpy (s, t) uppercase and spaced"),
    (4, "the word window aggregate appears here"),
    (5, "window   aggs with extra spacing"),
    (6, None),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


# ---------------------------------------------------------------------------
# compiler


def test_alternation_of_literals_becomes_one_or_clause():
    assert required_clauses(r"(memcpy|strcpy)\s*\(") == [["memcpy", "strcpy"]]


def test_concat_emits_one_clause_per_required_run():
    assert required_clauses(r"data\s+streams?") == [["data"], ["stream"]]


def test_plus_keeps_char_but_breaks_adjacency():
    # 'ab' run is too short once b+ ends it; 'cdef' survives
    assert required_clauses(r"ab+cdef") == [["cdef"]]


def test_optional_group_drops_its_clause():
    assert required_clauses(r"foo(bar)*baz") == [["foo"], ["baz"]]
    assert required_clauses(r"foo(bar)+baz") == [["foo"], ["bar"], ["baz"]]


def test_unprunable_branch_voids_the_alternation():
    # branch 'ab' yields no >=3 run -> the whole OR gives no info, but
    # the trailing required run still prunes
    assert required_clauses(r"(ab|cdementia)xyz") == [["xyz"]]


def test_wildcards_classes_anchors_give_no_info():
    assert required_clauses(r".*") == []
    assert required_clauses(r"[abc]+x?") == []
    assert required_clauses(r"^ab$") == []


def test_inline_flags_and_lookahead_are_tolerated():
    assert required_clauses(r"(?i)Select\s+From") == [["select"], ["from"]]
    # lookahead contents are not consumed -> not required
    assert required_clauses(r"(?=xyz)abcd") == [["abcd"]]


def test_nested_alternation():
    assert required_clauses(r"a(bc(def|ghi)jk)z") == [["def", "ghi"]]


def test_sigma_ends_a_literal_run():
    """The text is lowercased as a whole, where a word-final sigma becomes
    ς, and a literal one char at a time (Σ -> σ): no run may hold one."""
    assert required_clauses("ΟΔΟΣ") == [["οδο"]]
    assert required_clauses("ΟΔΟΣ road") == [["οδο"], [" road"]]
    assert required_clauses("ΣΊΣΥΦΟΣ") == [["υφο"]]
    assert required_clauses("abcσdefςghi") == [["abc"], ["def"], ["ghi"]]


def test_unbalanced_patterns_raise():
    for bad in ("(ab", "ab)", "[ab", "ab\\", "a{2"):
        with pytest.raises(RegexCompileError):
            required_clauses(bad)


def test_losslessness_property_vs_python_re():
    """Every string matching the (?i) pattern must contain, for every
    clause, some alternative — the invariant candidate pruning rests
    on. Randomized over the generator grammar the compiler supports."""
    rng = random.Random(11)
    alph = "abcx"

    def rand_pattern(depth=0):
        kinds = (
            ["lit", "lit", "lit", "alt", "grp", "class", "opt", "plus"]
            if depth < 2
            else ["lit"]
        )
        k = rng.choice(kinds)
        if k == "lit":
            return "".join(
                rng.choice(alph) for _ in range(rng.randint(1, 5))
            )
        if k == "alt":
            return (
                "("
                + "|".join(rand_pattern(depth + 1) for _ in range(2))
                + ")"
            )
        if k == "grp":
            return (
                "(" + rand_pattern(depth + 1) + ")" + rng.choice("+*?")
            )
        if k == "class":
            return "[abx]"
        if k == "opt":
            return rng.choice(alph) + "?"
        return rng.choice(alph) + "+"

    checked = 0
    for _ in range(800):
        pat = "".join(rand_pattern() for _ in range(rng.randint(1, 4)))
        try:
            cre = re.compile("(?i)" + pat)
        except re.error:
            continue
        clauses = required_clauses(pat)
        if not clauses:
            continue
        for _ in range(20):
            s = "".join(
                rng.choice(alph + "ABCX ")
                for _ in range(rng.randint(0, 25))
            )
            if cre.search(s):
                checked += 1
                low = s.lower()
                assert all(
                    any(a in low for a in cl) for cl in clauses
                ), (pat, s, clauses)
    assert checked > 150  # the property actually exercised


# ---------------------------------------------------------------------------
# end-to-end over the trigram index


def test_regex_search_matches_counts_case_insensitively(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    out = {
        r["doc_id"]: r["n_matches"]
        for r in regex_search(
            docs, post, r"(memcpy|strcpy)\s*\("
        ).collect()
    }
    assert out == {1: 1, 3: 1}


def test_regex_search_equals_full_scan_at_every_prune_to(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    pat = r"window\s+agg(regate)?s?"
    want = {(1,): None}
    want = {
        r["doc_id"]: r["n_matches"]
        for r in regex_search(docs, post, pat, prune_to=99).collect()
    }
    for p in (1, 2):
        got = {
            r["doc_id"]: r["n_matches"]
            for r in regex_search(docs, post, pat, prune_to=p).collect()
        }
        assert got == want, p
    assert want == {4: 1, 5: 1}


def test_unprunable_pattern_falls_back_to_exact_scan(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    out = {
        r["doc_id"]: r["n_matches"]
        for r in regex_search(docs, post, r"[mw][ei]").collect()
    }
    # full scan: every doc where the class pair occurs
    cre = re.compile(r"(?i)[mw][ei]")
    want = {
        d: len(cre.findall(t)) for d, t in DOCS if t and cre.search(t)
    }
    assert out == want


def test_absent_required_literal_short_circuits_empty(spark):
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    assert (
        regex_search(docs, post, r"(qqqzzz|zzzyyy)\s+call").count() == 0
    )


def test_regex_plan_verifies_after_candidate_join(spark):
    """The exact regex must be projected ABOVE the candidate join
    (candidate rows only) — below it, the engine match would run on
    every doc and the trigram pruning would save nothing at scale."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    df = regex_search(docs, post, r"(memcpy|strcpy)\s*\(")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly ONE regex evaluation, inside the one barrier (a filter
    # pushed below the projection would evaluate it a second time), and
    # it sits above the doc_id join
    assert plan.count("regexp_extract_all") == 1, plan
    assert plan.count("monotonically_increasing_id()") == 1, plan
    assert "Join" in plan
    assert plan.index("regexp_extract_all") < plan.index("Join")


def test_batch_equals_per_pattern_loop(spark):
    """regex_search_batch must give the full-scan answer for every
    pattern class: prunable, optional-group, unprunable (full-scan
    branch), and absent-required-literal (empty), and so must each
    single search."""
    docs = _docs(spark)
    post = TRI.trigram_postings(docs)
    from distributed_search_engine_spark.index.regex_search import (
        regex_search_batch,
    )

    pats = [
        r"(memcpy|strcpy)\s*\(",
        r"window\s+agg(regate)?s?",
        r"[mw][ei]",
        r"(qqqzzz|zzzyyy)\s+call",
    ]
    got = {
        (r["pattern"], r["doc_id"]): r["n_matches"]
        for r in regex_search_batch(docs, post, pats).collect()
    }
    want = {(p, d): c for p, d, c in R.regex_matches(DOCS, pats)}
    assert got == want
    assert not any("qqqzzz" in p for p, _ in got)
    for p in pats:
        single = {
            (p, r["doc_id"]): r["n_matches"]
            for r in regex_search(docs, post, p).collect()
        }
        assert single == {k: c for k, c in want.items() if k[0] == p}, p


def test_greek_sigma_patterns_equal_full_scan(spark):
    """A word-final Σ lowercases to ς in the text: the trigram plan must
    still find every doc a full-scan (?i) regex finds."""
    rows = [
        (1, "ΟΔΟΣ road"),
        (2, "ΣΊΣΥΦΟΣ and ΟΔΟΣ"),
        (3, "οδος lowercase"),
        (4, "ΟΔΟΣΑ mid-word sigma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    post = TRI.trigram_postings(docs)
    for pat in ("ΟΔΟΣ", "ΟΔΟΣ road", "ΣΊΣΥΦΟΣ"):
        got = sorted(map(tuple, regex_search(docs, post, pat).collect()))
        want = [r[1:] for r in R.regex_matches(rows, [pat])]
        assert got == want and want, pat
