"""Connected components over an undirected pair graph — the final stage of
a corpus-scale dedup pipeline (near-dup PAIRS -> transitive CLUSTERS ->
one canonical keeper per cluster).

The reference stops at pairwise content dedup at crawl time
(jobs/Crawler.java:1091-1105, exact-hash only); transitive closure over
NEAR-dup pairs is the missing piece any 100 TB training-data run needs:
near-duplication is not transitive pairwise (A~B, B~C but A!~C), so
keeper selection must operate on connected components of the pair graph
or the kept set depends on evaluation order.

Two kernels, both pure DataFrame ops:

- ``cc_propagate(edges, iterations)``: fixed-iteration min-label
  propagation. After k rounds every node holds the minimum node id within
  k hops; converged when iterations >= component diameter. Deterministic
  for ANY iteration count, hence SQL-unrollable — the DuckDB oracle twin
  (oracle.cc_propagate_sql) mirrors it round for round. One shuffle per
  round (join on node + groupBy min); map-side partial min absorbs
  high-degree skew.

- ``connected_components(edges)``: alternating large-star / small-star
  (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
  Components in MapReduce and Beyond", SoCC'14). Converges in
  O(log^2 n) rounds regardless of diameter — the 100 TB path: a
  propagation kernel needs diameter rounds (a 10^6-long chain of
  near-dups would need 10^6 shuffles), large-star/small-star collapses
  it in ~40. A round is one fused pass with no join, and each round is
  cut with localCheckpoint so the plan never grows with the round count.

Scale notes: a round is three shuffles — large-star's groupBy (min and
neighbour list), small-star's groupBy (min and neighbour set) and one
distinct back to canonical (u > v) edges. A neighbour list is one
collect_list row, so a hub of degree d costs d x 8 bytes in one task.
Each round's signature (count, bit_xor(xxhash64(u, v))) is observed in
the job that checkpoints it: no extra job, no edge on the driver. A
superseded round is released once the next one is materialized. Star
operations only shrink or redirect edges, so the working set is bounded
by the input edge count; the final star is O(#non-root nodes).

Durability: rounds are ``localCheckpoint(eager=True)`` frames, whose
blocks live only on the executor that computed them, with no replica and
no lineage back to the input: if that executor is lost before the result
is consumed, the downstream stages fail instead of recomputing, and the
caller must rerun the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, self-loops dropped. Input columns
    (u, v)."""
    fwd = edges.select("u", "v")
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v")).distinct()


def nodes_of(edges: DataFrame) -> DataFrame:
    """Distinct node set of an (u, v) edge list."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )


def cc_propagate(
    edges: DataFrame, iterations: int, node_col: str = "node"
) -> DataFrame:
    """Fixed-iteration min-label propagation -> (node, component).

    label_0(n) = n; label_{k+1}(n) = min(label_k(n), min over neighbors m
    of label_k(m)). Exactly ``iterations`` rounds — deterministic whether
    or not converged, so the DuckDB oracle can unroll it. Use
    connected_components() when the diameter is unknown.
    """
    sym = _sym(edges).localCheckpoint(eager=False)
    labels = nodes_of(edges).select(
        F.col("node"), F.col("node").alias("label")
    )
    for _ in range(iterations):
        msgs = sym.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select(F.col("v").alias("node"), "label")
        labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            # each round references the previous labels twice; cut the
            # lineage or the logical plan doubles per round (the same
            # pathology the star kernel's loop guards against)
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").alias(node_col), F.col("label").alias("component")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}).

    Symmetrizes internally (the paper's map phase emits (u,v) AND (v,u));
    its canonical input (u > v, distinct) needs no distinct for that.
    Output rows (v, m) have v > m and may repeat: small-star absorbs it.
    """
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return (
        edges.select("u", "v").unionByName(rev)
        .groupBy("u")
        .agg(F.min("v").alias("mv"), F.collect_list("v").alias("ns"))
        .select(
            F.explode(F.filter("ns", lambda n: n > F.col("u"))).alias("u"),
            F.least("u", "mv").alias("v"),
        )
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For edges oriented large -> small (u > v), connect each member of
    Γ(u) ∪ {u} to the minimum; the output is canonical (u > v, distinct)."""
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("m"), F.collect_set("v").alias("ns"))
        .select(F.explode(F.concat("ns", F.array("u"))).alias("u"), "m")
        .where(F.col("u") != F.col("m"))
        .select("u", F.col("m").alias("v"))
        .distinct()
    )


def _checkpoint_signed(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """localCheckpoint an edge set; return it with its convergence
    signature (count, bit_xor(xxhash64(u, v))), observed in that job."""
    obs = Observation()
    done = edges.observe(
        obs,
        F.count(F.lit(1)).alias("c"),
        # bit_xor: order-free, no ANSI overflow; edge sets are distinct,
        # so xor-cancellation can't collide two sets of one count
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).localCheckpoint(eager=True)
    return done, (obs.get["c"], obs.get["h"])


def _release(checkpointed: DataFrame) -> None:
    """Drop a localCheckpoint frame's blocks. DataFrame.unpersist() does
    nothing here: the blocks belong to the RDD behind its LogicalRDD."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def _star_edges(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Converged star edges (member u -> component-min v) of an undirected
    (u, v) edge list, as a localCheckpoint frame: every node but its
    component's minimum is a u exactly once."""
    # canonical orientation (large -> small, distinct): the form
    # small-star emits, so round-over-round signatures are comparable
    cur, sig = _checkpoint_signed(
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    converged = False
    try:
        for _ in range(max_rounds):
            nxt, nxt_sig = _checkpoint_signed(_small_star(_large_star(cur)))
            _release(cur)
            cur, converged, sig = nxt, nxt_sig == sig, nxt_sig
            if converged:
                return cur
    finally:
        if not converged:
            _release(cur)
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def connected_components(
    edges: DataFrame,
    node_col: str = "node",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, component) for every node of the undirected (u, v) edge
    list; component = min node id of the connected component.

    Alternating large-star/small-star until the edge set is stable
    (signature-equal two rounds running) — O(log^2 n) rounds, so a
    corpus-scale pair graph with million-hop chains still converges in
    tens of shuffles. Raises if ``max_rounds`` alternations don't
    converge (50 covers n ~ 2^25 components chains with margin; real
    dedup graphs converge in < 10).
    """
    star = _star_edges(edges, max_rounds)
    try:
        # materialize the (small) label frame eagerly so the star's
        # blocks can be released before returning
        return (
            nodes_of(edges)
            .join(star.withColumnRenamed("u", "node"), "node", "left")
            .select(
                F.col("node").alias(node_col),
                F.coalesce("v", "node").alias("component"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _release(star)


def components_from_pairs(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    iterations: int | None = None,
) -> DataFrame:
    """(doc_id, component) from a near-dup pair list. With ``iterations``
    uses the SQL-unrollable fixed-iteration propagation kernel; without,
    the convergence-checked star algorithm."""
    edges = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    )
    if iterations is not None:
        return cc_propagate(edges, iterations, node_col="doc_id")
    return connected_components(edges, node_col="doc_id")


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    doc_id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iterations: int | None = None,
) -> DataFrame:
    """Rows of ``docs`` that survive transitive near-dup dedup: for each
    connected component of the pair graph keep only the minimum doc id;
    docs in no pair pass through untouched.

    One broadcast-or-shuffle anti-join against the (small) set of
    non-canonical members — never a join against the pair list itself,
    whose transitivity gaps would make the kept set order-dependent.
    """
    if iterations is None:
        losers = _star_edges(
            pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        ).select(F.col("u").alias("doc_id"))
    else:
        comp = components_from_pairs(pairs, a_col, b_col, iterations=iterations)
        losers = comp.where(F.col("doc_id") != F.col("component"))
    losers = losers.select(
        # pair ids are often strings (hash-keyed pipelines) while the doc
        # table keys are longs: cast to the doc table's dtype so the
        # anti-join is an equi-join, not a both-sides-to-double coercion
        F.col("doc_id").cast(docs.schema[doc_id_col].dataType).alias(doc_id_col)
    )
    return docs.join(losers, doc_id_col, "left_anti")
