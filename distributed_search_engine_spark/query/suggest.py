"""Auxiliary query features (Q14-Q17): autocomplete, spellcheck, preview
snippets, highlight — reference frontend/SearchEngine.java:893-1095 and
frontend/SauronFrontend.java:415-431.

The dictionary surface mirrors loadAllTerms (:893-923): index terms
filtered to ^[a-z]+$ and <= 20 chars ("looksReasonable", :885-891).
SearchIndex.cache_term_dict() collects that dictionary once and registers
it for its ``term_stats`` frame (register_vocabulary). On a registered frame
autocomplete is a bisect prefix walk (:943-971) and spellcheck_query an
exact Levenshtein sweep (:977-1019), both on the driver as the reference
does in memory, and neither runs a Spark job. Any other frame — a
vocabulary too large for the driver, or a term_stats read straight from
storage — takes the DataFrame paths, the cluster-scale form.
"""

from __future__ import annotations

import bisect
import itertools
import re
import weakref

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize_py
from ..literals import local_frame

SUGGEST_LIMIT = 10  # SauronFrontend.java:67
SPELL_MAX_DISTANCE = 2  # SearchEngine.java:997
REASONABLE_PATTERN = "^[a-z]+$"
REASONABLE_MAX_LEN = 20


def reasonable_terms(term_stats: DataFrame) -> DataFrame:
    """looksReasonable filter (SearchEngine.java:885-891): lowercase-alpha
    terms up to 20 chars."""
    return term_stats.select("term").where(
        F.col("term").rlike(REASONABLE_PATTERN)
        & (F.length("term") <= REASONABLE_MAX_LEN)
    )


class DriverVocabulary:
    """The looksReasonable terms of one term_stats frame, sorted, with their
    characters as a (terms x 20) code-point matrix for the Levenshtein
    sweep."""

    def __init__(self, terms: list[str]):
        ok = re.compile(REASONABLE_PATTERN).match
        self.terms = sorted(
            t for t in terms if t is not None and len(t) <= REASONABLE_MAX_LEN and ok(t)
        )
        # looksReasonable terms are ASCII: one byte per character
        padded = b"".join(t.encode("ascii").ljust(REASONABLE_MAX_LEN, b"\0") for t in self.terms)
        self.codes = (
            np.frombuffer(padded, np.uint8).reshape(-1, REASONABLE_MAX_LEN).astype(np.int32)
        )
        self.lens = np.array([len(t) for t in self.terms], np.int32)

    def completions(self, prefix: str, limit: int) -> list[str]:
        """The first ``limit`` terms starting with ``prefix``, ascending."""
        i = bisect.bisect_left(self.terms, prefix)
        return list(
            itertools.takewhile(lambda t: t.startswith(prefix), self.terms[i : i + limit])
        )

    def distances(self, word: str, rows: np.ndarray) -> np.ndarray:
        """Exact Levenshtein distance from ``word`` to the terms at ``rows``,
        counted in code points as Spark's levenshtein is. Row j of the DP
        table (the term's first j characters against every prefix of
        ``word``) is computed for all those terms at once; the in-row
        insertion chain cur[i] = min(a[i], cur[i-1] + 1) is a running
        minimum of a[i] - i."""
        codes, lens = self.codes[rows], self.lens[rows]
        w = np.array([ord(c) for c in word], np.int32)
        steps = np.arange(len(w) + 1, dtype=np.int32)
        row = np.broadcast_to(steps, (len(rows), len(w) + 1))
        out = np.zeros(len(rows), np.int32)
        for j in range(1, int(lens.max(initial=0)) + 1):
            a = np.empty_like(row)
            a[:, 0] = j
            a[:, 1:] = np.minimum(row[:, 1:] + 1, row[:, :-1] + (codes[:, j - 1, None] != w))
            row = np.minimum.accumulate(a - steps, axis=1) + steps
            done = lens == j
            out[done] = row[done, -1]
        return out

    def correct(self, word: str, max_distance: int) -> str | None:
        """The (distance, term)-least term within ``max_distance``, else None.
        A distance is at least the length difference, so only terms within
        ``max_distance`` of the word's length are scored: the DP tables stay
        (terms x <= 23) whatever the word's length. ``rows`` ascend, so
        argmin's first hit is the least term."""
        rows = np.flatnonzero(np.abs(self.lens - len(word)) <= max_distance)
        if not rows.size:
            return None
        d = self.distances(word, rows)
        best = int(np.argmin(d))
        return self.terms[rows[best]] if d[best] <= max_distance else None


# term_stats frame -> its DriverVocabulary, registered by
# SearchIndex.cache_term_dict(); an entry goes when its frame is collected
_VOCABULARIES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_vocabulary(term_stats: DataFrame, terms: list[str]) -> None:
    """Serve autocomplete / spellcheck_query on ``term_stats`` from
    ``terms`` (all of the frame's terms, already collected) on the driver."""
    _VOCABULARIES[term_stats] = DriverVocabulary(terms)


def autocomplete(
    term_stats: DataFrame, query: str, limit: int = SUGGEST_LIMIT
) -> DataFrame:
    """Q14: prefix completion of the LAST word, sorted ascending, limit 10
    (SearchEngine.java:943-971). Multi-word queries re-prefix the completed
    last word with the untouched head words. A registered term_stats frame
    (or an empty query) yields a local relation: no Spark job."""
    spark = term_stats.sparkSession
    words = tokenize_py(query)
    if not words:
        return local_frame(spark, "suggestion string")
    prefix = words[-1]
    head = " ".join(words[:-1])
    vocab = _VOCABULARIES.get(term_stats)
    if vocab is not None:
        return local_frame(
            spark,
            "suggestion string",
            [(f"{head} {t}" if head else t,) for t in vocab.completions(prefix, limit)],
        )
    terms = reasonable_terms(term_stats).where(F.col("term").startswith(prefix))
    out = terms.orderBy("term").limit(limit)
    if head:
        out = out.select(F.concat(F.lit(head + " "), F.col("term")).alias("suggestion"))
    else:
        out = out.select(F.col("term").alias("suggestion"))
    return out


def spellcheck_word(
    term_stats: DataFrame, word: str, max_distance: int = SPELL_MAX_DISTANCE
) -> DataFrame:
    """Q15 for a single word: best Levenshtein match with distance <= 2;
    a word already in the dictionary corrects to itself
    (SearchEngine.java:977-1019). Deterministic: (distance, term) ascending."""
    terms = reasonable_terms(term_stats)
    scored = terms.select(
        "term", F.levenshtein(F.lit(word), F.col("term")).alias("distance")
    ).where(F.col("distance") <= max_distance)
    # ordered limit -> TakeOrderedAndProject, not a global window sort
    return scored.orderBy(F.asc("distance"), F.asc("term")).limit(1)


def spellcheck_words(
    term_stats: DataFrame,
    words: list[str],
    max_distance: int = SPELL_MAX_DISTANCE,
) -> DataFrame:
    """(pos, word, term, distance): best dictionary match per word for a
    whole word list in ONE plan — the word list (bounded by query length)
    is an inlined VALUES table broadcast against ``reasonable_terms``,
    distances are JVM-side ``levenshtein``, and the per-word winner is a
    single partial-aggregated ``min(struct(distance, term))`` groupBy.
    Words with no match within ``max_distance`` yield no row. Replaces the
    per-word loop that cost one Spark job per query word (~0.35 s/job floor
    x word count)."""
    wdf = local_frame(term_stats.sparkSession, "pos int, word string", list(enumerate(words)))
    scored = (
        reasonable_terms(term_stats)
        .crossJoin(F.broadcast(wdf))
        .select(
            "pos",
            "word",
            "term",
            F.levenshtein(F.col("word"), F.col("term")).alias("distance"),
        )
        .where(F.col("distance") <= max_distance)
    )
    return (
        scored.groupBy("pos", "word")
        .agg(F.min(F.struct("distance", "term")).alias("best"))
        .select(
            "pos",
            "word",
            F.col("best.term").alias("term"),
            F.col("best.distance").cast("int").alias("distance"),
        )
    )


def spellcheck_query(
    spark: SparkSession, term_stats: DataFrame, query: str
) -> list[str]:
    """Per-word query correction (SearchEngine.java:1003-1019): each word
    replaced by its best match; words with no match within distance 2 are
    kept as typed. A registered term_stats frame answers on the driver (no
    Spark job); any other runs ONE job for any word count
    (spellcheck_words), not a job-per-word loop."""
    words = tokenize_py(query)
    if not words:
        return []
    vocab = _VOCABULARIES.get(term_stats)
    if vocab is not None:
        return [vocab.correct(w, SPELL_MAX_DISTANCE) or w for w in words]
    best = {
        r["pos"]: r["term"]
        for r in spellcheck_words(term_stats, words).collect()
    }
    return [best.get(i, w) for i, w in enumerate(words)]


# ---------------------------------------------------------------------------
# snippets (Q16) + highlight (Q17)
# ---------------------------------------------------------------------------

SNIPPET_WINDOW = 350  # SearchEngine.java:1084-1089
SNIPPET_LOOKBACK = 80
SNIPPET_MIN_TEXT = 50  # SearchEngine.java:1064


def snippet_py(content: str, query_terms: list[str]) -> str:
    """Exact port of extractPreview (SearchEngine.java:1049-1095):
    script/style/comment/tag strip + whitespace collapse; texts under 50
    chars yield ''; the hit is the FIRST query term (in query order, len >=
    2) found anywhere — NOT the earliest position across terms (:1072-1080,
    the loop breaks on the first found term); 350-char window from 80 chars
    before the hit (or from the start when nothing matches), ellipses at
    cut edges. The reference's (script|style) backreference pattern is
    expanded into two patterns so the SQL oracle (RE2: no backrefs) can
    mirror it."""
    if not content:
        return ""
    cleaned = re.sub(r"(?is)<script[^>]*?>[\s\S]*?</script>", " ", content)
    cleaned = re.sub(r"(?is)<style[^>]*?>[\s\S]*?</style>", " ", cleaned)
    cleaned = re.sub(r"(?is)<!--.*?-->", " ", cleaned)
    cleaned = re.sub(r"<[^>]+>", " ", cleaned)
    cleaned = re.sub(r"\s+", " ", cleaned).strip()
    if len(cleaned) < SNIPPET_MIN_TEXT:
        return ""
    low = cleaned.lower()
    hit = -1
    for t in query_terms:
        if len(t) >= 2:
            i = low.find(t.lower())
            if i >= 0:
                hit = i
                break
    start = max(0, hit - SNIPPET_LOOKBACK) if hit >= 0 else 0
    end = min(len(cleaned), start + SNIPPET_WINDOW)
    out = cleaned[start:end]
    if start > 0:
        out = "..." + out
    if end < len(cleaned):
        out = out + "..."
    return out


def highlight_py(snippet: str, query_terms: list[str]) -> str:
    """\\b(term)\\b case-insensitive wrap (SauronFrontend.java:415-431)."""
    out = snippet
    for t in query_terms:
        out = re.sub(
            rf"\b({re.escape(t)})\b", r"<mark>\1</mark>", out, flags=re.IGNORECASE
        )
    return out


def snippet_text(content: str | None, query_terms: list[str], highlight: bool = False) -> str:
    """One result's preview: snippet_py, then highlight_py when asked."""
    out = snippet_py(content or "", query_terms)
    return highlight_py(out, query_terms) if highlight else out


def snippets(
    docs: DataFrame,
    query: str,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    highlight: bool = False,
) -> DataFrame:
    """(doc_id, snippet) via a vectorized pandas UDF, for frame callers.
    A result page's snippets come from query/api.search_request, which
    collects the page docs and applies snippet_text on the driver."""
    from pyspark.sql.types import StringType

    terms = tokenize_py(query)

    def _snip(s):
        return s.map(lambda c: snippet_text(c, terms, highlight))

    udf = F.pandas_udf(_snip, StringType())
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        udf(F.col(content_col)).alias("snippet"),
    )
