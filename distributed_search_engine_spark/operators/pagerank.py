"""PageRank (logical ops P1-P8, reference jobs/PageRank.java).

Exact reference semantics preserved (SURVEY §2.3):
  - init rank 1.0 for every doc (PageRank.java:180-181)
  - transfer: node with L > 0 outlinks sends d*rank/L to each outlink,
    d = 0.85 (:252-288); outlinks deduped per page (:165-170)
  - dangling nodes' mass is DROPPED (no redistribution) — rank identity
    with the reference depends on this (:252-288)
  - update: new = 0.15 + 0.85 * sum(incoming) — the UNNORMALIZED additive
    form; ranks sum to ~N, not 1 (:305-339). The reference's
    (self, "0.0") emission trick (:283) is replaced by a left join from
    the full doc set — same result, Spark-native.
  - convergence: stop when maxDiff < threshold OR percentConverged >=
    percentRequired, where a node is converged iff diff <= threshold
    (:364-402, :488); defaults threshold=0.001, percentRequired=100.
  - checkpoint every k iterations (:429-486) -> with state_dir: persisted
    parquet + manifest, resumable across driver crashes (the analog of the
    reference's pt-pageranks state table + checkpoint row); without:
    localCheckpoint to cut lineage only (SURVEY §7.3 item 6).

Scale notes: the per-iteration plan is one shuffle (links ⋈ ranks on src is
co-partitioned if links is pre-partitioned by src and reused; groupBy dst is
the unavoidable transfer shuffle). ranks (2 narrow columns) stays cached;
links is cached once. Skewed in-degree (a hub page) is a groupBy-sum —
map-side partial aggregation absorbs it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
BASE = 0.15  # (1 - d), additive form (PageRank.java:319)


# ---------------------------------------------------------------------------
# persisted checkpoint/resume (P7, jobs/PageRank.java:30-106, 429-486): the
# reference copies the rank state into a persistent KVS table plus a
# checkpoint row {iteration, state, maxDiff, percentConverged}; resume scans
# for the highest complete iteration and continues from it. Spark analog:
# ranks parquet per checkpoint + a jsonl manifest, resume = read latest.
# ---------------------------------------------------------------------------

def _pr_manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_checkpoints.jsonl")


def last_checkpoint(state_dir: str) -> dict | None:
    """Highest complete checkpoint row, or None (PageRank.java:36-57)."""
    path = _pr_manifest_path(state_dir)
    best: dict | None = None
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                row = json.loads(line)
                if row.get("status") == "done" and (
                    best is None or row["iteration"] > best["iteration"]
                ):
                    best = row
    return best


def _append_checkpoint(state_dir: str, row: dict) -> None:
    with open(_pr_manifest_path(state_dir), "a") as f:
        f.write(json.dumps(row) + "\n")


@dataclass
class PageRankStats:
    iteration: int
    max_diff: float
    percent_converged: float


def dedupe_links(links: DataFrame) -> DataFrame:
    """P1 tail: outlinks deduped per source (PageRank.java:165-170)."""
    return links.select("src", "dst").distinct()


def run_pagerank(
    docs: DataFrame,
    links: DataFrame,
    doc_id_col: str = "doc_id",
    max_iterations: int = 50,
    threshold: float = 0.001,
    percent_required: float = 100.0,
    checkpoint_every: int = 5,
    fixed_iterations: int | None = None,
    state_dir: str | None = None,
    fail_after_iteration: int | None = None,
) -> tuple[DataFrame, list[PageRankStats]]:
    """Returns (ranks DataFrame (doc_id, rank), per-iteration stats).

    ``fixed_iterations`` disables the convergence test and runs exactly n
    iterations (used by the oracle-gated query, which unrolls the same n
    iterations in SQL).

    ``state_dir`` enables persisted checkpoint/resume (P7): every
    checkpoint_every iterations the ranks land as parquet under
    state_dir/iter=NNNNN plus a manifest row; a re-run with the same
    state_dir resumes from the highest complete checkpoint instead of
    restarting a long run from scratch (jobs/PageRank.java:30-106,429-486).
    float64 parquet round-trips exactly, so a resumed run is bit-identical
    to an uninterrupted one. ``fail_after_iteration`` injects a crash right
    after that iteration completes (resume tests).
    """
    nodes = docs.select(F.col(doc_id_col).cast("string").alias("doc_id")).distinct()
    edges = dedupe_links(
        links.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edges = edges.join(out_deg, "src").persist()
    edges.count()  # materialize once

    start_iter = 0
    ranks = None
    if state_dir is not None:
        os.makedirs(state_dir, exist_ok=True)
        ckpt = last_checkpoint(state_dir)
        if ckpt is not None:
            start_iter = int(ckpt["iteration"])
            ranks = docs.sparkSession.read.parquet(ckpt["path"]).persist()
    if ranks is None:
        ranks = nodes.select("doc_id", F.lit(1.0).alias("rank")).persist()
    # fixed-iteration mode persists only at materialization points, so
    # ``ranks`` is not always the frame that holds the cache
    persisted = ranks
    history: list[PageRankStats] = []

    n_iter = fixed_iterations if fixed_iterations is not None else max_iterations
    for it in range(start_iter + 1, n_iter + 1):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["doc_id"])
            .select(
                F.col("dst").alias("doc_id"),
                (F.lit(DAMPING) * F.col("rank") / F.col("out_deg")).alias("share"),
            )
            .groupBy("doc_id")
            .agg(F.sum("share").alias("inflow"))
        )
        new_ranks = (
            nodes.join(contribs, "doc_id", "left")
            .select(
                "doc_id",
                (F.lit(BASE) + F.coalesce(F.col("inflow"), F.lit(0.0))).alias("rank"),
            )
        )
        if checkpoint_every and it % checkpoint_every == 0:
            if state_dir is not None:
                # persisted checkpoint: parquet write + manifest commit;
                # the read-back also cuts lineage (replaces localCheckpoint)
                path = os.path.join(state_dir, f"iter={it:05d}")
                new_ranks.write.mode("overwrite").parquet(path)
                new_ranks = docs.sparkSession.read.parquet(path)
                _append_checkpoint(
                    state_dir, {"iteration": it, "status": "done", "path": path}
                )
            else:
                new_ranks = new_ranks.localCheckpoint(eager=False)
        # fixed-iteration mode needs no per-iteration statistics, so it
        # only MATERIALIZES at lineage-cut points (checkpoints) and at the
        # final iteration: each materialization is a full job + a persist
        # of the rank frame, and running one per iteration made the loop
        # pure scheduling overhead at bench scale (~0.9 s/iter for 5k
        # rows). Convergence mode still materializes every iteration (its
        # stats collect needs the frame anyway). Values are unchanged —
        # the dataflow is identical, only the action points move.
        materialize = (
            fixed_iterations is None
            or (checkpoint_every and it % checkpoint_every == 0)
            or it == n_iter
            or fail_after_iteration is not None
        )
        if materialize:
            new_ranks = new_ranks.persist()

        if fail_after_iteration is not None and it >= fail_after_iteration:
            new_ranks.count()
            edges.unpersist()
            raise RuntimeError("injected failure for pagerank resume test")

        if fixed_iterations is None:
            # P6: one aggregate pass computes maxDiff + percentConverged
            diffs = (
                new_ranks.alias("n")
                .join(ranks.alias("p"), "doc_id")
                .select(F.abs(F.col("n.rank") - F.col("p.rank")).alias("diff"))
            )
            row = diffs.agg(
                F.max("diff").alias("max_diff"),
                (
                    100.0
                    * F.sum(F.when(F.col("diff") <= threshold, 1).otherwise(0))
                    / F.count(F.lit(1))
                ).alias("pct"),
            ).collect()[0]
            stats = PageRankStats(it, float(row["max_diff"] or 0.0), float(row["pct"] or 0.0))
            history.append(stats)
            ranks.unpersist()
            ranks = new_ranks
            if stats.max_diff < threshold or stats.percent_converged >= percent_required:
                break
        else:
            if materialize:
                new_ranks.count()
                persisted.unpersist()
                persisted = new_ranks
            ranks = new_ranks
            history.append(PageRankStats(it, float("nan"), float("nan")))

    edges.unpersist()
    return ranks, history


def synthetic_links(docs: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """Deterministic link graph over an integer-keyed doc table (testdata):
    each doc links to (id+1) % N and (id*3+7) % N. Matches
    oracle.pagerank_sql exactly; used where the corpus carries no real
    hyperlink/import structure."""
    n = docs.count()
    ids = docs.select(F.col(doc_id_col).cast("long").alias("id"))
    l1 = ids.select(F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst"))
    l2 = ids.select(F.col("id").alias("src"), ((F.col("id") * 3 + 7) % n).alias("dst"))
    return l1.unionByName(l2).select(
        F.col("src").cast("string"), F.col("dst").cast("string")
    )


# ---------------------------------------------------------------------------
# P1 for the source-code corpus: per-lang import/reference extraction
# ---------------------------------------------------------------------------

import re as _re

_IMPORT_PATTERNS = {
    "py": _re.compile(r"^\s*(?:from|import)\s+([A-Za-z_][\w.]*)", _re.M),
    "java": _re.compile(r"^\s*import\s+(?:static\s+)?([\w.]+)\s*;", _re.M),
    "js": _re.compile(r"""(?:require\(|from\s+)['"]([^'"]+)['"]""", _re.M),
    "go": _re.compile(r'^\s*import\s+"([^"]+)"', _re.M),
    "md": _re.compile(r"\[[^\]]*\]\(([^)]+)\)"),
}


def extract_import_refs(content: str, lang: str) -> list[str]:
    """Deterministic per-lang reference extraction (the code-corpus analog
    of the reference's <a href> extraction, jobs/Crawler.java:357-419).
    Returns raw reference strings; resolution to doc_ids is corpus-specific
    (resolve against a (repo, module) -> doc_id mapping table)."""
    pat = _IMPORT_PATTERNS.get(lang)
    if pat is None:
        return []
    return sorted(set(pat.findall(content)))


def extract_links(docs: DataFrame, content_col: str = "content", lang_col: str = "lang") -> DataFrame:
    """(src_doc_id, ref) pairs via a vectorized pandas UDF."""
    from pyspark.sql.types import ArrayType, StringType

    def _extract(batch_iter):
        import pandas as pd

        for pdf in batch_iter:
            yield pd.DataFrame(
                {
                    "src": pdf["doc_id"],
                    "refs": [
                        extract_import_refs(c or "", l or "")
                        for c, l in zip(pdf[content_col], pdf[lang_col])
                    ],
                }
            )

    out = docs.select("doc_id", content_col, lang_col).mapInPandas(
        _extract, schema="src string, refs array<string>"
    )
    return out.select("src", F.explode("refs").alias("ref"))


def resolve_links(refs: DataFrame, module_map: DataFrame) -> DataFrame:
    """Resolve raw reference strings to doc_ids — the code-corpus analog of
    the reference's URL normalization before the link graph is built
    (jobs/Crawler.java:422-491). ``module_map`` is (module, dst): what each
    document provides (e.g. its package path); refs that resolve to nothing
    (external/stdlib imports) drop out, exactly as off-crawl URLs do.
    Equi-join on the ref string — module_map is corpus-sized, so at scale
    this is one uniform-key shuffle (or a broadcast when the map fits)."""
    return refs.join(module_map, refs["ref"] == module_map["module"]).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )


def run_personalized_pagerank(
    docs: DataFrame,
    links: DataFrame,
    seeds: list[str],
    iterations: int = 3,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Personalized PageRank (Haveliwala, WWW'02 topic-sensitive PR):
    the teleport lands on the SEED set instead of uniformly — r0 = p,
    r_{k+1} = 0.15·p + 0.85·transfer, p(v) = 1/|S| on seeds else 0.
    Same reference transfer math as run_pagerank (per-share
    0.85·rank/L, dangling mass dropped — jobs/PageRank.java:271,319);
    only the base term is personalized. Fixed iterations, so the DuckDB
    twin unrolls the identical rounds (oracle.personalized_pagerank_sql).

    Scale shape: identical to run_pagerank — the seed membership test is
    a broadcast literal isin (seed sets are small by construction: a
    query's clicked docs, a topic's taxonomy pages), every iteration is
    one edges⋈ranks shuffle + one doc-keyed aggregate. Serving-scale PPR
    precomputes one vector per topic hub exactly this way."""
    if not seeds:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    p_val = 1.0 / len(seeds)
    seed_strs = [str(s) for s in seeds]
    p_expr = (
        F.when(F.col("doc_id").isin(seed_strs), F.lit(p_val))
        .otherwise(F.lit(0.0))
    )

    nodes = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id")
    ).distinct()
    edges = dedupe_links(
        links.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    edges = edges.join(out_deg, "src").persist()
    edges.count()

    ranks = nodes.select("doc_id", p_expr.alias("rank")).persist()
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["doc_id"])
            .select(
                F.col("dst").alias("doc_id"),
                (F.lit(DAMPING) * F.col("rank") / F.col("out_deg")).alias(
                    "share"
                ),
            )
            .groupBy("doc_id")
            .agg(F.sum("share").alias("inflow"))
        )
        new_ranks = (
            nodes.join(contribs, "doc_id", "left")
            .select(
                "doc_id",
                (
                    F.lit(BASE) * p_expr
                    + F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
            .persist()
        )
        new_ranks.count()
        ranks.unpersist()
        ranks = new_ranks
    edges.unpersist()
    return ranks


def run_hits(
    docs: DataFrame,
    links: DataFrame,
    iterations: int = 2,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, authority, hub): Kleinberg's HITS (JACM'99) — the other
    classic link-analysis primitive beside PageRank. Per iteration:
    authority(v) = Σ_{u→v} hub(u), then L2-normalize; hub(v) = Σ_{v→u}
    authority(u), then L2-normalize. Each normalizer is ROUNDED to 6dp
    before dividing — the cross-engine boundary-rounding contract (the
    same one kmeans_fit_fixed uses at re-inline), so the DuckDB twin
    (oracle.hits_sql, identical unrolled rounds) divides by the
    identical double and the gate compares equal floats.

    Scale shape: per half-iteration ONE edges⋈scores shuffle + one
    keyed sum (map-side partial agg) + one scalar aggregate for the
    norm — the PageRank loop's cost profile exactly, run twice per
    round."""
    nodes = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id")
    ).distinct()
    edges = dedupe_links(
        links.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
    ).persist()
    edges.count()

    def _normalized(scores: DataFrame, col: str) -> DataFrame:
        nrm = scores.agg(
            F.round(F.sqrt(F.sum(F.col(col) * F.col(col))), 6).alias("_n")
        )
        return (
            scores.crossJoin(F.broadcast(nrm))
            .select(
                "doc_id",
                F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
                .otherwise(F.lit(0.0))
                .alias(col),
            )
        )

    hub = nodes.select("doc_id", F.lit(1.0).alias("hub")).persist()
    auth = None
    for _ in range(iterations):
        a_raw = (
            edges.join(hub, edges["src"] == hub["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("hub").alias("authority"))
        )
        a_full = nodes.join(a_raw, "doc_id", "left").select(
            "doc_id", F.coalesce("authority", F.lit(0.0)).alias("authority")
        )
        auth = _normalized(a_full, "authority").localCheckpoint(eager=False).persist()
        h_raw = (
            edges.join(auth, edges["dst"] == auth["doc_id"])
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.sum("authority").alias("hub"))
        )
        h_full = nodes.join(h_raw, "doc_id", "left").select(
            "doc_id", F.coalesce("hub", F.lit(0.0)).alias("hub")
        )
        new_hub = _normalized(h_full, "hub").localCheckpoint(eager=False).persist()
        new_hub.count()
        hub.unpersist()
        hub = new_hub
    edges.unpersist()
    return auth.join(hub, "doc_id").select(
        "doc_id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )
