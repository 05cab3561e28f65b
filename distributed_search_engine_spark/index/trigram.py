"""Trigram substring index — the code-search candidate-pruning structure
(Cox, "Regular Expression Matching with a Trigram Index", Google Code
Search 2012; Zoekt's ngram index). The reference engine only matches
whole tokens (jobs/Indexer.java tokenizer); a source-code corpus needs
SUBSTRING search (``strcpy(``, ``data stream``) — token postings can't
answer it, trigram postings can:

  build: every distinct lowercased 3-char window of every doc ->
         (trigram, doc_id) postings + per-trigram df stats
  query: one candidate step (``_candidates``) serves substring, regex
         and grep search, single and batch alike: each key (needle or
         pattern) brings a CNF of required literals, candidates are the
         docs holding the rarest trigrams of every clause (a doc
         containing a literal contains EVERY trigram of it under the
         same normalization, so pruning to any subset is lossless), and
         one exact verify (``_verified``) runs on candidates only.

100-TB shape: the build is one map-side Arrow kernel (per-doc window
slicing + dedup over JVM-lowercased text) with no exchange; the store
write shuffles once, keyed by trigram hash — hot trigrams skew that
key space far less than token postings (alphabet^3 keys, near-uniform
over code).
Query-side the rarest-q selection (one bounded collect against the
stats table for a whole batch) keeps the candidate fan-in tiny — the
Zoekt trick. The picks are a map literal in the plan, not a broadcast
relation, and the candidate aggregations and the join with the docs
share one exchange keyed by doc_id. The gate oracle for search is an
INDEPENDENT full-scan ``contains()`` in DuckDB: equality proves the
pruning chain is lossless, not merely twin-identical.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..literals import array_map


def trigram_postings(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, trigram): distinct lowercased 3-char windows per doc.

    The window slicing + per-doc dedup runs as one Arrow kernel
    (operators/arrow_kernels.trigram_postings_arrow); the JVM
    transform/substr lambda it replaced is CodegenFallback and was
    ~12-15 s at 60k docs vs ~4 s for the kernel. Lowercasing stays
    JVM-side (F.lower), so the case mapping is Spark's on any unicode
    input. Per-doc dedup makes every emitted pair unique, so the build
    is a ZERO-exchange map stage (plan-asserted).
    tests/kernel_reference.trigrams pins its rows."""
    from ..operators.arrow_kernels import trigram_postings_arrow

    return trigram_postings_arrow(docs, doc_id_col, content_col)


def store_trigram_postings(
    postings: DataFrame, out_dir: str, n_partitions: int = 64
) -> None:
    """Persist the trigram postings partitioned by trigram hash
    (part=pmod(xxhash64(trigram), n)) — the same partition-pruned-read
    discipline as the term segments (index/segments.py): a query's
    needle trigrams map to a handful of part= directories, so lookups
    scan those partitions instead of the whole posting stream. At 100 TB
    this is the difference between per-query cost ∝ candidate postings
    and per-query cost ∝ corpus."""
    (
        postings.withColumn(
            "part",
            F.pmod(F.xxhash64("trigram"), F.lit(n_partitions)).cast("int"),
        )
        # cluster rows by their target part= directory before the dynamic
        # partitioned write: without this every input task writes a file
        # into every directory (64 tasks x 64 dirs ~= 4k tiny files,
        # measured ~2x the write time and a listing tax on every pruned
        # read); one shuffle keyed by part yields ~1 file per directory
        # (guide §6 small-files rule)
        .repartition(n_partitions, F.col("part"))
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(out_dir)
    )


def load_trigram_postings(
    spark: SparkSession,
    out_dir: str,
    grams: list[str] | None = None,
    n_partitions: int = 64,
) -> DataFrame:
    """Read the stored postings; with ``grams`` given, only the part=
    directories those trigrams hash to (driver-side xxhash64 twin —
    zero Spark jobs to plan the pruned read)."""
    if grams is None:
        return spark.read.option("basePath", out_dir).parquet(out_dir)
    from .segments import xxhash64_py

    parts = sorted(
        {xxhash64_py(g.encode()) % n_partitions for g in grams}
    )
    paths = [
        p
        for p in (os.path.join(out_dir, f"part={i}") for i in parts)
        if os.path.isdir(p)
    ]
    if not paths:
        return spark.read.option("basePath", out_dir).parquet(out_dir).where(
            F.lit(False)
        )
    return spark.read.option("basePath", out_dir).parquet(*paths)


def trigram_stats(postings: DataFrame) -> DataFrame:
    """(trigram, df): document frequency per trigram — the rarity table
    the query planner consults."""
    return postings.groupBy("trigram").agg(
        F.count(F.lit(1)).cast("int").alias("df")
    )


def _alt_trigrams(alt: str) -> list[str]:
    """Distinct 3-char windows of an already lowercased literal."""
    return sorted({alt[i : i + 3] for i in range(len(alt) - 2)})


def _candidates(
    docs: DataFrame,
    postings: DataFrame,
    requirements: dict[str, list[list[str]]],
    key: str,
    prune_to: int,
    doc_id_col: str,
) -> DataFrame:
    """The docs rows, with ``doc_id`` and a ``key`` column, that may
    satisfy their key's requirement: a CNF over lowercased literals (a
    list of clauses, each a list of alternatives), which a doc satisfies
    when for every clause some alternative is contained in its
    lowercased text. A needle is ``[[needle.lower()]]``; a clause holding
    an alternative under 3 chars is dropped (that only widens the
    candidates), and a key left with no clause is a full scan.

    One stats collect over every key's trigrams; each alternative keeps
    its ``prune_to`` rarest, and a trigram absent from the postings kills
    its alternative (a clause with none left, its key). The picks enter
    the plan as one map literal from trigram to (key, clause, alternative)
    entries, exploded next to the filtered postings; both candidate
    aggregations and the join with the docs share one exchange keyed by
    doc_id."""
    keyed = docs.withColumn("doc_id", F.col(doc_id_col))
    cnfs = {
        k: [cl for cl in cnf if min(map(len, cl)) >= 3]
        for k, cnf in requirements.items()
    }
    grams = sorted(
        {g for cnf in cnfs.values() for cl in cnf for a in cl for g in _alt_trigrams(a)}
    )
    df_by_gram = (
        {
            r["trigram"]: r["df"]
            for r in trigram_stats(postings.where(F.col("trigram").isin(grams))).collect()
        }
        if grams
        else {}
    )
    entries: dict[str, list] = {}
    fullscan = []
    for k, cnf in cnfs.items():
        if not cnf:
            fullscan.append(k)
            continue
        picks = []
        for ci, clause in enumerate(cnf):
            alts = [
                (ai, sorted(gs, key=lambda g: (df_by_gram[g], g))[:prune_to])
                for ai, gs in enumerate(map(_alt_trigrams, clause))
                if all(g in df_by_gram for g in gs)
            ]
            if not alts:
                break  # no doc holds any alternative of this clause
            picks += [(g, ci, ai, len(p)) for ai, p in alts for g in p]
        else:
            for g, ci, ai, alt_n in picks:
                entries.setdefault(g, []).append(
                    F.struct(
                        F.lit(k).alias(key),
                        F.lit(ci).alias("clause_id"),
                        F.lit(ai).alias("alt_id"),
                        F.lit(alt_n).alias("alt_n"),
                        F.lit(len(cnf)).alias("n_clauses"),
                    )
                )
    parts = []
    if entries:
        cand = (
            postings.where(F.col("trigram").isin(list(entries)))
            .select("doc_id", F.explode(array_map(entries)[F.col("trigram")]).alias("e"))
            .select("doc_id", "e.*")
            .repartition("doc_id")
            .groupBy("doc_id", key, "clause_id", "alt_id", "alt_n", "n_clauses")
            .agg(F.count(F.lit(1)).alias("_got"))
            .where(F.col("_got") == F.col("alt_n"))
            .groupBy("doc_id", key, "n_clauses")
            .agg(F.count_distinct("clause_id").alias("_ncl"))
            .where(F.col("_ncl") == F.col("n_clauses"))
            .select("doc_id", key)
        )
        parts.append(keyed.join(cand, "doc_id"))
    if fullscan:
        parts.append(keyed.withColumn(key, F.explode(F.array(*map(F.lit, fullscan)))))
    if not parts:
        parts.append(keyed.where(F.lit(False)).withColumn(key, F.lit(None).cast("string")))
    return functools.reduce(DataFrame.unionByName, parts)


def _verified(frame: DataFrame, key: str, name: str, count: Column) -> DataFrame:
    """(key, doc_id, name) where ``count`` > 0 on a candidate row. The
    always-true nondeterministic wrapper is the family's one verify
    barrier: a filter never pushes through a projection with a
    nondeterministic field. Without it Catalyst pushes ``name > 0``
    below the projection into the candidate join's condition, so the
    count runs twice per candidate row (and a predicate naming doc
    columns only would sink into the full docs scan)."""
    n = F.when(F.monotonically_increasing_id() >= 0, count).otherwise(F.lit(0))
    return frame.select(key, "doc_id", n.alias(name)).where(F.col(name) > 0)


def substring_search_batch(
    docs: DataFrame,
    postings: DataFrame,
    needles: list[str],
    prune_to: int = 4,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(needle, doc_id, n_occurrences): every doc whose lowercased text
    contains a needle (lowercased), with its non-overlapping occurrence
    count, for a whole needle set in one plan. Needles under 3 chars
    scan every doc; a needle with a trigram absent from the postings
    matches nothing; an empty needle raises ``ValueError``."""
    if "" in needles:
        raise ValueError("substring_search: empty needle")
    cand = _candidates(
        docs, postings, {n: [[n.lower()]] for n in needles}, "needle",
        prune_to, doc_id_col,
    )
    text, pat = F.lower(F.col(content_col)), F.lower(F.col("needle"))
    count = (F.length(text) - F.length(F.replace(text, pat))) / F.length(pat)
    return _verified(cand, "needle", "n_occurrences", count.cast("int"))


def substring_search(
    docs: DataFrame,
    postings: DataFrame,
    needle: str,
    prune_to: int = 4,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_occurrences): :func:`substring_search_batch` of one."""
    return substring_search_batch(
        docs, postings, [needle], prune_to, doc_id_col, content_col
    ).drop("needle")
