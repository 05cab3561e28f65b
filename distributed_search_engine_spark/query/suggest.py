"""Auxiliary query features (Q14-Q17): autocomplete, spellcheck, preview
snippets, highlight — reference frontend/SearchEngine.java:893-1095 and
frontend/SauronFrontend.java:415-431.

The dictionary surface mirrors loadAllTerms (:893-923): index terms
filtered to ^[a-z]+$ and <= 20 chars ("looksReasonable", :885-891). The
DataFrame paths below are the cluster-scale form; a driver can equally
collect the (small) dictionary and bisect, as the reference does in memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize_py

SUGGEST_LIMIT = 10  # SauronFrontend.java:67
SPELL_MAX_DISTANCE = 2  # SearchEngine.java:997


def reasonable_terms(term_stats: DataFrame) -> DataFrame:
    """looksReasonable filter (SearchEngine.java:885-891): lowercase-alpha
    terms up to 20 chars."""
    return term_stats.select("term").where(
        F.col("term").rlike("^[a-z]+$") & (F.length("term") <= 20)
    )


def autocomplete(
    term_stats: DataFrame, query: str, limit: int = SUGGEST_LIMIT
) -> DataFrame:
    """Q14: prefix completion of the LAST word, sorted ascending, limit 10
    (SearchEngine.java:943-971). Multi-word queries re-prefix the completed
    last word with the untouched head words."""
    words = tokenize_py(query)
    if not words:
        return term_stats.sparkSession.createDataFrame([], "suggestion string")
    prefix = words[-1]
    head = " ".join(words[:-1])
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
    is broadcast against ``reasonable_terms``, distances are JVM-side
    ``levenshtein``, and the per-word winner is a single partial-aggregated
    ``min(struct(distance, term))`` groupBy. Words with no match within
    ``max_distance`` yield no row. Replaces the per-word loop that cost one
    Spark job per query word (~0.35 s/job floor x word count)."""
    spark = term_stats.sparkSession
    wdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "pos int, word string"
    )
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
    kept as typed. ONE Spark job for any word count (spellcheck_words),
    not a job-per-word loop."""
    words = tokenize_py(query)
    if not words:
        return []
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
    import re

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
    import re

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
