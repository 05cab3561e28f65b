"""Grep-style line results over the trigram index — the code-search
RESULT SHAPE (ripgrep / GitHub code search): not "which docs match" but
"which LINES match, with N lines of context". The reference engine's
result page shows a token-window preview (SearchEngine.java snippet
path); a source-code corpus wants the matching line plus surrounding
lines, keyed for display as (doc, line_no).

Plan shape: candidate docs come from the trigram family's one candidate
step (:func:`trigram._candidates`), and only they are line-split. The
line explode is one Generate over candidate rows; the per-line match is
a projection above it, so no barrier is needed; context lines attach via
a per-doc window over (doc_id, line_no), which reuses the candidate
join's doc_id partitioning. At 100 TB the per-query cost is ∝ candidate
doc bytes, the same contract as substring_search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .trigram import _candidates


def grep_lines(
    docs: DataFrame,
    postings: DataFrame,
    needle: str,
    context: int = 0,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, line_no, line, is_match): every line containing
    ``needle`` case-insensitively, plus ``context`` lines above and
    below (grep -C), 1-based line numbers, deduplicated where context
    windows overlap. Only candidate docs are split; needles under 3
    chars split every doc."""
    cand = _candidates(
        docs, postings, {needle: [[needle.lower()]]}, "needle", 4, doc_id_col
    )
    lines = cand.select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col(content_col), F.lit("")), "\n")
        ).alias("_ln0", "line"),
    ).select("doc_id", (F.col("_ln0") + 1).alias("line_no"), "line")
    hit = F.lower(F.col("line")).contains(F.lit(needle.lower()))
    if context <= 0:
        return lines.where(hit).withColumn("is_match", F.lit(True))
    # a line survives when ANY line within +-context of it matches:
    # one bounded per-doc window over the match flag
    w = (
        Window.partitionBy("doc_id")
        .orderBy("line_no")
        .rowsBetween(-context, context)
    )
    flagged = lines.withColumn("_m", hit.cast("int"))
    return (
        flagged.withColumn("_near", F.max("_m").over(w))
        .where(F.col("_near") == 1)
        .select(
            "doc_id",
            "line_no",
            "line",
            (F.col("_m") == 1).alias("is_match"),
        )
    )
