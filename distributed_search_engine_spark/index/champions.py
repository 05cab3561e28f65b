"""Champion lists (impact-ordered tiered index) — the classic
approximate-top-k accelerator (Manning/Raghavan/Schütze IIR §7.1.3;
the "fancy lists" of early Google, the first tier of a tiered index).
The reference engine always scores full posting lists; at 100 TB the
head of the score distribution answers most queries, so each term keeps
a CHAMPION list: its top-m postings by exact BM25 contribution. Query
time scores champions only — per-term work drops from df to m — and an
approximate top-k comes back with measured (not assumed) recall; the
recall curve vs m lives in tests/test_champions.py and RECALL.md.

Approximation contract: deterministic. Champions are chosen by
(contrib desc, doc_id asc) per term, so the approximate result is a
pure function of (index, m) — hash-gateable against a DuckDB twin that
applies the same row_number cut. A doc missing from every query term's
champion list cannot be returned; that is the (only) approximation.

100-TB shape: selection is one window per term over the postings —
partitioned by the term key, the same shuffle the postings groupBy
already does, and done ONCE at build time; the result is m·|vocab|
rows, small enough to bucket or broadcast per segment. Query time is
the search_bm25_batch plan over a table ~df/m times smaller. BM25
contributions are per-posting (idf, tf, doc_len, avgdl — no
cross-posting terms), so build-time scoring is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..literals import array_map, local_frame
from ..query.engine import BM25_B, BM25_K1


def champion_postings(
    postings: DataFrame,
    term_stats: DataFrame,
    avgdl: float,
    m: int,
) -> DataFrame:
    """(term, doc_id, tf, doc_len, idf_bm25, contrib): the top-m postings
    per term by exact BM25 contribution, deterministic under
    (contrib desc, doc_id asc). contrib is rounded at 6dp BEFORE the cut
    so the rank order (and thus the kept set) is reproducible across
    engines — same discipline as search_bm25_batch's final sort."""
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(float(avgdl)))
    scored = postings.join(
        F.broadcast(term_stats.select("term", "idf_bm25")), "term"
    ).withColumn(
        "contrib",
        F.round(F.col("idf_bm25") * tf * (BM25_K1 + 1.0) / denom, 6),
    )
    w = Window.partitionBy("term").orderBy(
        F.desc("contrib"), F.asc("doc_id")
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= m)
        .drop("_r")
    )


def search_bm25_champion(
    spark: SparkSession,
    champions: DataFrame,
    queries: list[list[str]],
    k: int = 10,
) -> DataFrame:
    """(query, doc_id, score, rank): batch BM25 top-k over champion lists
    only — one job for the whole query set, same plan shape as
    search_bm25_batch (broadcast term map, partial-agg sum, per-query
    bounded window), the query set entering as a term -> queries map
    literal. Terms are used as given (no stem expansion — the
    champion tier serves the hot path; a miss falls through to the full
    index in a tiered deployment)."""
    by_term: dict[str, list[str]] = {}
    for terms in queries:
        for t in set(terms):
            by_term.setdefault(t, []).append(" ".join(terms))
    if not by_term:
        return local_frame(spark, "query string, doc_id string, score double, rank int")
    queries_of = F.explode(array_map(by_term)[F.col("term")])
    agg = (
        champions.where(F.col("term").isin(list(by_term)))
        .select(queries_of.alias("query"), "doc_id", "contrib")
        .groupBy("query", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query", "doc_id", "score", "rank")
    )
