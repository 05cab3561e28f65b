"""Distributed k-means (Lloyd's) and SemDeDup-style semantic dedup over
an embedding column — the clustering layer of a training-data pipeline
(cluster -> per-cluster near-dup scan beats the global pair scan: the
candidate join is an equi-join on cluster id, ~N^2/k pairs instead of
N^2, and IVF-style routing reuses the same centroids).

No reference analog (the reference engine has no vector ops); design
follows the public SemDeDup recipe (Abbas et al., arXiv:2303.09540):
k-means the embeddings, then within each cluster drop every point that
has a sufficiently-cosine-similar lower-id neighbor.

Spark mapping:
  - assignment: argmin_j ||x - c_j||^2, map-only, no shuffle. Every
    caller here (assign_clusters, update_centroids, kmeans_fit,
    semantic_dedup) and similarity.residuals runs the one numpy
    mapInArrow kernel arrow_kernels.assign_clusters_arrow: squared
    differences summed sequentially over dims, ties to the lowest
    cluster. A ragged embedding column raises its ValueError.
  - update: groupBy(cluster).agg(count + one avg per dimension) — one
    shuffle with map-side partial aggregation; centroids (k x dim
    doubles) are collected to the driver per iteration, exactly like
    the classic MLlib loop. At 100 TB the assignment scan dominates;
    the k x dim driver state is trivially small.
  - Lloyd's loop: literal-rebroadcast each iteration, stop on max
    centroid shift < tol; empty clusters keep their previous centroid.

Both gated steps (assign, one update) reach the DuckDB oracle with the
SAME centroid literals from seeded_centroids(), so the two engines are
argmin-identical by construction; the full iterative fit is pytest-gated
(numpy differential, monotone inertia).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import SM_GAMMA, SM_M1, SM_M2, splitmix64_mix
from .arrow_kernels import assign_clusters_arrow


def seeded_centroids(k: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Deterministic unit-norm pseudo-random centroids (splitmix64
    avalanche -> uniform [-1, 1) -> L2-normalize). Data-independent, so
    the identical literals can be inlined into both the Spark plan and
    the DuckDB oracle SQL."""
    cents = []
    for j in range(k):
        raw = [
            splitmix64_mix(seed * SM_GAMMA + j * SM_M1 + d * SM_M2 + SM_GAMMA)
            / float(1 << 63)
            - 1.0
            for d in range(dim)
        ]
        nrm = sum(x * x for x in raw) ** 0.5
        cents.append([x / nrm for x in raw])
    return cents


def assign_clusters(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, sqdist) — nearest-centroid assignment, map-only.

    The argmin scan is a numpy kernel (arrow_kernels.assign_clusters_arrow):
    squared distances summed sequentially over dims, argmin over raw
    distances with ties to the lowest cluster, then the 6dp rounding by
    the JVM F.round. It replaced K x dim interpreted zip_with/aggregate
    folds per row (CodegenFallback). tests/kernel_reference.assign_clusters
    pins its rows."""
    out = assign_clusters_arrow(emb, centroids, id_col, vec_col)
    return out.select(
        F.col("id").alias(id_col),
        "cluster",
        F.round(F.col("sqdist"), 6).alias("sqdist"),
    )


def update_centroids(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd update: (cluster, n, c0..c{dim-1}) — per-cluster member
    count and element-wise mean (rounded 6dp at the comparison
    boundary). One shuffle, map-side partial agg; only clusters with
    members appear (empty clusters are the driver loop's concern). The
    assignment is assign_clusters' numpy kernel;
    tests/kernel_reference.update_centroids pins the result."""
    dim = len(centroids[0])
    assigned = assign_clusters_arrow(
        emb, centroids, id_col, vec_col, keep_vec=True
    ).select("v", "cluster")
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("int").alias("n"),
        *[
            F.round(F.avg(F.col("v")[d]), 6).alias(f"c{d}")
            for d in range(dim)
        ],
    )


def kmeans_fit_fixed(
    emb: DataFrame,
    centroids: list[list[float]],
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Fixed-iteration Lloyd refinement with 6dp-ROUNDED centroid
    re-inlining each round — the oracle-mirrorable fit that feeds the
    gated trained-IVF path (ann_ivf_trained): every iteration is exactly
    one gated ``update_centroids`` step (assignment from literal
    centroids, per-cluster count + rounded element-wise mean), so a
    DuckDB twin can unroll the identical iterations (kmeans_update_sql
    per round) and land on bit-identical centroids. Empty clusters keep
    their previous centroid, like kmeans_fit. The rounding costs ~1e-6
    centroid precision per round — irrelevant to cluster quality, and it
    is what makes the cross-engine equality gate possible (the same
    boundary-rounding contract every other gate uses)."""
    cents = [[float(x) for x in c] for c in centroids]
    dim = len(cents[0])
    for _ in range(iters):
        rows = update_centroids(emb, cents, id_col, vec_col).collect()
        new = list(cents)
        for r in rows:
            new[r["cluster"]] = [float(r[f"c{d}"]) for d in range(dim)]
        cents = new
    return cents


def kmeans_fit(
    emb: DataFrame,
    k: int,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame, list[float]]:
    """Lloyd's iterations -> (centroids, assignment DF, inertia history).

    Per iteration: one assignment scan (assign_clusters' numpy kernel,
    map-only) + one groupBy agg; new centroids (k x dim doubles) collect
    to the driver and go back to the kernel — the same structure as
    MLlib's KMeans without the extra library. Deterministic: seeded
    init, tie-broken argmin, empty clusters retain their previous
    centroid. ``id`` keeps its type. Raises ValueError on an empty
    frame (no vector to size the centroids by) and, from the kernel,
    on ragged embeddings.
    """
    v = emb.select(id_col, vec_col).persist()
    first = v.select(F.size(vec_col).alias("s")).first()
    if first is None:
        v.unpersist()
        raise ValueError("kmeans_fit needs at least one embedding row")
    dim = int(first["s"])
    cents = seeded_centroids(k, dim, seed)
    history: list[float] = []
    for _ in range(max_iter):
        assigned = assign_clusters_arrow(v, cents, id_col, vec_col, keep_vec=True)
        rows = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sqdist").alias("inertia"),
            *[F.avg(F.col("v")[d]).alias(f"c{d}") for d in range(dim)],
        ).collect()
        history.append(float(sum(r["inertia"] for r in rows)))
        new_cents = list(cents)
        for r in rows:
            new_cents[r["cluster"]] = [float(r[f"c{d}"]) for d in range(dim)]
        shift = max(
            max(abs(a - b) for a, b in zip(old, new))
            for old, new in zip(cents, new_cents)
        )
        cents = new_cents
        if shift < tol:
            break
    assignment = assign_clusters(emb, cents, id_col, vec_col)
    v.unpersist()
    return cents, assignment, history


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    transitive: bool = False,
) -> DataFrame:
    """Rows of ``emb`` surviving SemDeDup: assign each vector to its
    nearest centroid, then within each cluster drop every vector that
    has a lower-id neighbor with cosine >= threshold (keep-lowest-id
    greedy — the deterministic form of SemDeDup's keep-one-per-group).

    The pair scan is an equi-join on cluster id: ~N^2/k candidate pairs
    instead of N^2, and k scales with corpus size (SemDeDup used 50k
    clusters at 100M+ docs). ``transitive=True`` routes the pairs
    through connected components (operators/graph.py) so chains A~B~C
    collapse to one keeper even when A!~C.

    Assignment is assign_clusters' numpy kernel (``id`` keeps its type;
    ragged embeddings raise its ValueError); the pair cosine is
    similarity._cosine.
    """
    from .similarity import _cosine

    av = assign_clusters_arrow(
        emb, centroids, id_col, vec_col, keep_vec=True
    ).select("id", "v", "cluster")
    a, b = av.alias("a"), av.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _cosine(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    if transitive:
        from distributed_search_engine_spark.operators.graph import (
            dedup_keep_canonical,
        )

        return dedup_keep_canonical(
            emb, pairs, doc_id_col=id_col, a_col="id_a", b_col="id_b"
        )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(losers, id_col, "left_anti")
