"""Structural code-search ranking + serving helpers over the code corpus.

The reference ranks web pages (jobs/SearchEngine.java Q1-Q12: tf-idf/BM25
over stripped HTML + title boost). A code corpus wants the ranking
signals production code-search engines use instead of <title>:

- ``code_search_ranked`` — BM25 over the dual identifier index
  (functions/code.py) with two structural multipliers per matched term:
  x(1 + sym_weight) when the term names a DEFINITION in the doc (the
  ctags-lite symbol layer, operators/code_symbols.py — "definition beats
  mention", the GitHub/Sourcegraph default), and x(1 + path_weight) when
  the term occurs in the file PATH (a query hitting ``src/parser/lex.py``
  for "parser lex" should prefer it over a file that merely calls the
  parser). Multipliers compose per (term, doc) BEFORE the per-doc sum,
  i.e. field-style weighting of each term's contribution, not a
  post-hoc doc boost.
- ``cross_repo_dupes`` — vendored-copy detection: exact content groups
  (sha256) that span >= 2 repos. The code-corpus twin of exact dedup:
  the same file vendored into many repos is the dominant duplication
  mode in real source corpora (train-data dedup prunes it; code search
  collapses it to one result).
- ``search_after_page`` — keyset ("search_after") pagination over a BM25
  result frame: the cursor is the last (score, doc_id) of the previous
  page, the next page is a FILTER + bounded TakeOrdered. At 10^12 docs a
  deep OFFSET re-sorts and skips rows on every request; a keyset filter
  prunes them before the heap, so page 1000 costs the same as page 2.

100-TB shape: the corpus is indexed once per PERSISTED ``code_docs``
frame. The first request on a frame the caller persisted builds one
scoring table, one row per (term, doc) with every query-independent
input of a contribution (tf, df, doc_len, path, is_def, n, avgdl), and
persists it lazily: that request's scan fills it, with no extra job.
Every later request is a pruned scan of the cached table (literal IN on
term), the BM25 x definition x path expression and one per-doc partial
aggregate: one shuffle, two jobs for a top-k. The table is keyed on the
frame object and released when the frame is garbage-collected, or on
the next request after the caller ran ``code_docs.unpersist()``. An
unpersisted frame is a one-shot input: nothing is cached, and the IN
filter prunes the identifier postings before the doc-stat and symbol
joins, so those joins touch only the matching (term, doc) rows. No
global sort anywhere (the scored frame returns unsorted; pagination
uses a bounded ordered-limit). DuckDB twins:
oracle.code_search_ranked_sql / cross_repo_dupes_sql / search_after_sql.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.code import code_postings, split_ident_col
from ..operators.code_symbols import extract_symbols

BM25_K1 = 1.2
BM25_B = 0.75

# persisted code_docs frame -> (scoring table, its release finalizer)
_SCORING_TABLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCORING_TABLES_LOCK = threading.Lock()


def _scoring_rows(code_docs: DataFrame, terms: list[str] | None) -> DataFrame:
    """(term, doc_id, tf, df, doc_len, path, is_def, n, avgdl): the
    query-independent inputs of each (term, doc) contribution. With
    ``terms`` the literal IN filter prunes the postings before the joins
    (one-shot placement); with None it is the full table over every
    indexed term (the index placement)."""
    postings = code_postings(code_docs, content_col="content")

    # per-doc length over the identifier postings; N/avgdl over ALL docs
    # (zero-token docs count, matching the oracle's docstats/nstats shape)
    doc_len = postings.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("doc_len")
    )
    dstats = (
        code_docs.select("doc_id", "path")
        .join(doc_len, "doc_id", "left")
        .select(
            "doc_id", "path", F.coalesce("doc_len", F.lit(0)).alias("doc_len")
        )
    )
    nstats = dstats.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("doc_len").alias("avgdl"),
    )

    q = postings if terms is None else postings.where(F.col("term").isin(terms))
    df_ = q.groupBy("term").agg(F.count(F.lit(1)).cast("int").alias("df"))
    if terms is not None:
        df_ = F.broadcast(df_)  # one row per query term

    # definition terms per doc: whole lowercased symbol + its subtokens
    defs = (
        extract_symbols(code_docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.concat(
                        F.array(F.lower(F.col("symbol"))),
                        split_ident_col(F.col("symbol")),
                    )
                )
            ).alias("term"),
        )
        .distinct()
        .withColumn("is_def", F.lit(1))
    )

    return (
        q.join(df_, "term")
        .join(dstats, "doc_id")
        .join(defs, ["doc_id", "term"], "left")
        .crossJoin(F.broadcast(nstats))
        .select(
            "term", "doc_id", "tf", "df", "doc_len", "path", "is_def", "n",
            "avgdl",
        )
    )


def _release(code_docs: DataFrame) -> None:
    with _SCORING_TABLES_LOCK:
        entry = _SCORING_TABLES.pop(code_docs, None)
    if entry is not None:
        entry[1]()  # unpersists the table, once


def _scoring_table(code_docs: DataFrame) -> DataFrame:
    """The full scoring table of a persisted ``code_docs``, built on first
    use. It is persisted lazily (the first request's scan fills it) and
    released when ``code_docs`` is garbage-collected, or on the next
    request after the caller unpersisted ``code_docs``."""
    with _SCORING_TABLES_LOCK:
        entry = _SCORING_TABLES.get(code_docs)
        if entry is None:
            table = _scoring_rows(code_docs, None).persist()
            release = weakref.finalize(code_docs, table.unpersist)
            release.atexit = False
            entry = _SCORING_TABLES[code_docs] = (table, release)
    return entry[0]


def code_search_ranked(
    code_docs: DataFrame,
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    sym_weight: float = 1.0,
    path_weight: float = 0.5,
) -> DataFrame:
    """(doc_id, score, n_matched): BM25 over the dual identifier index,
    each term's contribution scaled x(1+sym_weight) on a definition
    match and x(1+path_weight) on a path match.

    ``code_docs`` needs (doc_id, lang, path, content). Unsorted full
    frame (the gate hashes order-insensitively; callers top-k with a
    bounded ordered limit). A persisted ``code_docs`` is indexed once:
    every request on it filters the cached scoring table instead of
    re-tokenizing the corpus.
    """
    terms = [t.lower() for t in terms]
    if code_docs.is_cached:
        rows = _scoring_table(code_docs).where(F.col("term").isin(terms))
        # a plain partial aggregate: one shuffle, where count_distinct
        # plans a second one
        n_matched = F.size(F.collect_set("term"))
    else:
        _release(code_docs)
        rows = _scoring_rows(code_docs, terms)
        n_matched = F.count_distinct("term")

    scored = rows.select(
        "doc_id",
        "term",
        (
            F.log(
                (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            )
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1
                * (1.0 - b + b * F.col("doc_len") / F.col("avgdl"))
            )
            * (1.0 + sym_weight * F.coalesce(F.col("is_def"), F.lit(0)))
            * F.when(
                F.col("path").contains(F.col("term")),
                1.0 + path_weight,
            ).otherwise(F.lit(1.0))
        ).alias("contrib"),
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("score"),
        n_matched.cast("int").alias("n_matched"),
    )


def code_search_collapsed(
    code_docs: DataFrame,
    terms: list[str],
    **ranked_kwargs,
) -> DataFrame:
    """(doc_id, score, n_matched, n_copies): the ranked frame collapsed
    to ONE result per exact content group (sha256) — the GitHub-code-
    search "N duplicates" behavior for vendored files. Keeps the best
    (score desc, doc_id asc) representative; ``n_copies`` counts the
    matched copies in the group. Both windows are PARTITIONED by the
    content sha (bounded dup groups), never global."""
    from pyspark.sql import Window

    ranked = code_search_ranked(code_docs, terms, **ranked_kwargs)
    withsha = ranked.join(
        code_docs.select(
            "doc_id", F.sha2(F.col("content"), 256).alias("content_sha")
        ),
        "doc_id",
    )
    wsha = Window.partitionBy("content_sha")
    return (
        withsha.withColumn(
            "rn",
            F.row_number().over(
                wsha.orderBy(F.desc("score"), F.asc("doc_id"))
            ),
        )
        .withColumn("n_copies", F.count(F.lit(1)).over(wsha).cast("int"))
        .where(F.col("rn") == 1)
        .select("doc_id", "score", "n_matched", "n_copies")
    )


def cross_repo_dupes(code_docs: DataFrame) -> DataFrame:
    """(content_sha, n_copies, n_repos, repos, keeper): exact content
    groups spanning >= 2 repos — vendored-copy detection. One uniform
    sha-keyed shuffle (the exact-dedup shape); ``repos`` is the sorted
    distinct repo list joined with ',' so the gate hashes a scalar;
    ``keeper`` is the min doc_id (the canonical copy a dedup pass keeps
    / a search UI shows)."""
    return (
        code_docs.groupBy(F.sha2(F.col("content"), 256).alias("content_sha"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_copies"),
            F.count_distinct("repo").cast("int").alias("n_repos"),
            F.array_join(
                F.array_sort(F.collect_set("repo")), ","
            ).alias("repos"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("n_repos") >= 2)
    )


def search_after_page(
    scored: DataFrame, page_size: int = 10, page: int = 2
) -> DataFrame:
    """(doc_id, score): page ``page`` (1-based) of a scored frame under
    the deterministic (score desc, doc_id asc) order, via a KEYSET
    cursor: collect the previous page's last (score, doc_id) — a bounded
    (page-1)*page_size-row ordered collect — then FILTER strictly past
    it and take one more bounded ordered limit. No global sort, no deep
    OFFSET: the filter prunes everything at-or-before the cursor ahead
    of the top-k heap, so deep pages cost what page 2 costs. ``scored``
    must carry (doc_id, score) with score already rounded (6dp) so
    cursor equality is bit-stable cross-engine."""
    if page <= 1:
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(page_size)
    prev = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        (page - 1) * page_size
    )
    tail = prev.collect()
    if len(tail) < (page - 1) * page_size:
        return scored.limit(0)  # previous pages exhausted the corpus
    cur_s, cur_d = tail[-1]["score"], tail[-1]["doc_id"]
    return (
        scored.where(
            (F.col("score") < F.lit(cur_s))
            | ((F.col("score") == F.lit(cur_s)) & (F.col("doc_id") > F.lit(cur_d)))
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(page_size)
    )
