"""Trigram substring index — the code-search candidate-pruning structure
(Cox, "Regular Expression Matching with a Trigram Index", Google Code
Search 2012; Zoekt's ngram index). The reference engine only matches
whole tokens (jobs/Indexer.java tokenizer); a source-code corpus needs
SUBSTRING search (``strcpy(``, ``data stream``) — token postings can't
answer it, trigram postings can:

  build: every distinct lowercased 3-char window of every doc ->
         (trigram, doc_id) postings + per-trigram df stats
  query: a needle's candidates = docs containing its rarest trigrams
         (a doc containing the needle necessarily contains EVERY needle
         trigram under the same normalization, so pruning to any subset
         is lossless); exact containment verify runs only on candidates.

100-TB shape: the build is one map-side Arrow kernel (per-doc window
slicing + dedup over JVM-lowercased text) with no exchange; the store
write shuffles once, keyed by trigram hash — hot trigrams skew that
key space far less than token postings (alphabet^3 keys, near-uniform
over code).
Query-side the rarest-q selection (a <=len(needle)-row bounded collect
against the stats table) keeps the candidate join fan-in tiny — the
Zoekt trick — and the exact verify touches only candidate rows. The
gate oracle for search is an INDEPENDENT full-scan ``contains()`` in
DuckDB: equality proves the pruning chain is lossless, not merely
twin-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def _needle_trigrams(needle: str) -> list[str]:
    s = needle.lower()
    return sorted({s[i : i + 3] for i in range(len(s) - 2)})


def substring_search_batch(
    docs: DataFrame,
    postings: DataFrame,
    needles: list[str],
    prune_to: int = 4,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(needle, doc_id, n_occurrences) for a whole needle SET in ONE
    Spark job — the batch-throughput form (amortizes the per-job floor
    the same way search_bm25_batch does for term queries).

    One stats collect for the union of every needle's trigrams; the
    per-needle rarest-``prune_to`` choice happens driver-side; ONE
    broadcast (needle, trigram) table joins the postings; candidates
    verify with a per-row needle column (contains/replace accept
    column patterns). Needles under 3 chars take the documented
    full-scan branch; needles with an absent trigram return nothing
    (no doc can contain them)."""
    spark = SparkSession.getActiveSession() or docs.sparkSession
    keyed = docs.withColumn("doc_id", F.col(doc_id_col))
    text = F.lower(F.col(content_col))
    by_needle = {n: _needle_trigrams(n) for n in dict.fromkeys(needles)}
    allgrams = sorted({g for gs in by_needle.values() for g in gs})
    df_by_gram = (
        {
            r["trigram"]: r["df"]
            for r in trigram_stats(
                postings.where(F.col("trigram").isin(allgrams))
            ).collect()
        }
        if allgrams
        else {}
    )
    rows = []
    fullscan: list[str] = []
    for n, gs in by_needle.items():
        if not gs:
            fullscan.append(n)
            continue
        if any(g not in df_by_gram for g in gs):
            continue  # an absent required trigram: no doc can match
        picked = sorted(gs, key=lambda g: (df_by_gram[g], g))[:prune_to]
        rows.extend((n, g, len(picked)) for g in picked)

    def verify(frame: DataFrame) -> DataFrame:
        pat = F.lower(F.col("needle"))
        hit = F.when(
            F.monotonically_increasing_id() >= 0, text.contains(pat)
        ).otherwise(F.lit(False))
        return (
            frame.select(
                "needle",
                "doc_id",
                (
                    (F.length(text) - F.length(F.replace(text, pat)))
                    / F.length(pat)
                ).cast("int").alias("n_occurrences"),
                hit.alias("_hit"),
            )
            .where("_hit")
            .drop("_hit")
        )

    parts = []
    if rows:
        need = spark.createDataFrame(
            rows, "needle string, trigram string, n_picked int"
        )
        cand = (
            postings.join(F.broadcast(need), "trigram")
            .groupBy("needle", "doc_id", "n_picked")
            .agg(F.count(F.lit(1)).alias("_got"))
            .where(F.col("_got") == F.col("n_picked"))
            .select("needle", "doc_id")
        )
        parts.append(verify(keyed.join(cand, "doc_id")))
    for n in fullscan:
        parts.append(verify(keyed.withColumn("needle", F.lit(n))))
    if not parts:
        return spark.createDataFrame(
            [], "needle string, doc_id string, n_occurrences int"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def substring_search(
    docs: DataFrame,
    postings: DataFrame,
    needle: str,
    prune_to: int = 4,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_occurrences): every doc whose lowercased text contains
    ``needle`` (lowercased), found through the trigram index.

    Selection: the ``prune_to`` rarest needle trigrams by (df asc,
    trigram asc) — a bounded <=len(needle)-row collect against the
    stats table — then one semi-join-shaped candidate aggregation
    (docs holding ALL selected trigrams) and an exact ``contains``
    verify + occurrence count on candidates only. Needles shorter than
    3 chars degrade to the full exact scan (documented seam)."""
    grams = _needle_trigrams(needle)
    text = F.lower(F.col(content_col))
    pat = F.lit(needle.lower())

    def verify(frame: DataFrame) -> DataFrame:
        # the exact contains() + occurrence count runs AFTER any
        # candidate join — CPU verify on candidate rows only. The
        # always-true nondeterministic wrapper on _hit is load-bearing:
        # with a plain deterministic projection Catalyst pushes the
        # _hit filter back through the join to the full docs scan
        # (pushdown has no per-row cost model), scanning every doc; a
        # filter never pushes through a projection with a
        # nondeterministic field — locked by
        # test_substring_plan_verifies_after_join. (Column IO for the
        # docs side still reads text — skipping bytes too takes a
        # doc_id-clustered layout, the segments' docnum discipline.)
        hit = F.when(
            F.monotonically_increasing_id() >= 0, text.contains(pat)
        ).otherwise(F.lit(False))
        return (
            frame.select(
                "doc_id",
                (
                    (F.length(text) - F.length(F.replace(text, pat)))
                    / F.length(pat)
                ).cast("int").alias("n_occurrences"),
                hit.alias("_hit"),
            )
            .where("_hit")
            .drop("_hit")
        )

    keyed = docs.withColumn("doc_id", F.col(doc_id_col))
    if not grams:
        return verify(keyed)
    stats = trigram_stats(postings.where(F.col("trigram").isin(grams)))
    picked = [
        r["trigram"]
        for r in stats.orderBy(F.asc("df"), F.asc("trigram"))
        .limit(prune_to)
        .collect()
    ]
    if len(picked) < len(grams) and len(picked) < prune_to:
        # a needle trigram absent from the whole corpus -> no doc can
        # contain the needle
        return verify(keyed.where(F.lit(False)))
    cand = (
        postings.where(F.col("trigram").isin(picked))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == len(picked))
        .select("doc_id")
    )
    return verify(keyed.join(cand, "doc_id"))
