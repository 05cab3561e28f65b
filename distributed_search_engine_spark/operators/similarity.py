"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k (exact, one pass, JVM-side arithmetic
via zip_with/aggregate — no Python). Scale path: sign-random-projection
LSH — deterministic pseudo-random hyperplanes derived from (plane, dim)
indices, so the same buckets are computable in the SQL oracle — bucket
join, then exact rerank inside buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import SM_GAMMA, SM_M1, SM_M2, splitmix64_mix
from .arrow_kernels import _round6_half_up, assign_clusters_arrow, coded_corpus_arrow

N_PLANES = 8


def _as_double(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )


def _cosine(av, bv):
    dot = F.aggregate(F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    na = F.sqrt(F.aggregate(av, F.lit(0.0), lambda a, x: a + x * x))
    nb = F.sqrt(F.aggregate(bv, F.lit(0.0), lambda a, x: a + x * x))
    return dot / (na * nb)


def plane_weight(plane: int, dim: int) -> int:
    """Deterministic +-1 weight for hyperplane `plane`, dimension `dim` —
    splitmix64 avalanche over the (plane, dim) pair, so distinct planes are
    decorrelated (measured max |corr| ~0.4/sqrt-consistent over 64 planes x
    64 dims). The round-2 LCG's low bit was pure parity of plane+dim: every
    plane was the SAME hyperplane or its complement, collapsing the entire
    multi-band LSH to 2 effective buckets (~N^2/2 candidates at scale).
    Weights reach the SQL oracle as literals from this same function, so
    both engines stay bucket-identical by construction."""
    return 1 if splitmix64_mix(plane * SM_GAMMA + dim * SM_M1 + SM_M2) & 1 else -1


def _bucket_expr(vec, n_dims: int, n_planes: int = N_PLANES, plane_offset: int = 0):
    """Sign bits of <v, w_p> packed into an int bucket id. Each projection
    is a zip_with/aggregate against a literal +-1 weight array (sequential
    double accumulation — same order as the SQL oracle). ``plane_offset``
    selects an independent plane set (multi-band LSH: band b uses planes
    [b*n_planes, (b+1)*n_planes))."""
    bits = []
    for p in range(n_planes):
        w = F.array(
            *[F.lit(float(plane_weight(plane_offset + p, d))) for d in range(n_dims)]
        )
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k via ordered limit (Spark plans TakeOrderedAndProject: per-
    partition heaps + a k-row merge — NO global sort, NO single-task
    window). The row_number window that assigns the rank column runs over
    the already-limited k rows, so it is bounded regardless of N."""
    top = scored.orderBy(F.desc("cosine"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def ann_bruteforce_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against the vector with id = query_id.

    Plan shape: broadcast the single query row, score all N in one map
    stage, top-k via a single ordered limit (Spark TakeOrdered — no full
    sort). Deterministic tie-break (cosine desc, id asc)."""
    v = _as_double(emb, id_col, vec_col)
    q = v.where(F.col("id") == query_id).select(F.col("v").alias("qv"))
    scored = v.where(F.col("id") != query_id).crossJoin(F.broadcast(q)).select(
        "id", _cosine(F.col("v"), F.col("qv")).alias("cosine")
    )
    return _ranked_topk(scored, k)


def ann_lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_dims: int = 64,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: candidates = vectors in the query's sign-projection
    bucket, exact cosine rerank inside. Recall < 1 by design; the bucket
    join replaces the O(N) scan with an O(N/2^planes) one at scale (bucket
    the corpus ONCE, broadcast the query's bucket id)."""
    v = _as_double(emb, id_col, vec_col).withColumn(
        "bucket", _bucket_expr(F.col("v"), n_dims, n_planes)
    )
    q = v.where(F.col("id") == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qb")
    )
    cands = v.where(F.col("id") != query_id).join(
        F.broadcast(q), F.col("bucket") == F.col("qb")
    )
    scored = cands.select("id", _cosine(F.col("v"), F.col("qv")).alias("cosine"))
    return _ranked_topk(scored, k)


def knn_join(
    emb: DataFrame,
    k: int = 5,
    n_dims: int = 64,
    n_bands: int = 4,
    n_planes: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate k-NN self-join: (id, neighbor_id, cosine, rank) — the
    per-vector top-k neighbors among multi-band sign-LSH bucket candidates.
    THE workhorse of embedding-based dedup/clustering over a whole corpus:
    instead of one query at a time, every vector gets its neighbor list in
    one pass.

    Plan shape: banding explode (n_bands rows/vector) -> bucket equi-join
    (the only pair-generating shuffle) -> exact cosine on candidates ->
    per-id top-k via a window PARTITIONED by id (bounded per key by its
    bucket population — never a global sort). Candidates are generated in
    both directions so every vector gets neighbors. Recall follows the LSH
    parameters, like embedding_neardup (dedup.py) — same banding, same
    oracle arithmetic."""
    from .dedup import embedding_neardup

    # candidate pairs once (id_a < id_b), scored exactly, then mirrored
    pairs = embedding_neardup(
        emb, threshold=-1.0, id_col=id_col, vec_col=vec_col,
        n_dims=n_dims, n_bands=n_bands, n_planes=n_planes,
        multi_probe=multi_probe,
    )
    both = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nb"), "cosine"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("nb"), "cosine"
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cosine"), F.asc("nb"))
    return (
        both.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "id",
            F.col("nb").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def ann_ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: the classic coarse-quantize-then-probe
    scale path.

    Coarse centroids are the vectors with id < n_centroids — deterministic
    sampled seeds (no k-means iterations, so the SQL oracle can derive the
    identical centroids from the same table; sampling training points is
    standard IVF practice). Every vector is assigned to its best centroid
    by cosine (ties -> smaller centroid id) via an array_max over literal
    centroid arrays — a pure map stage, NO shuffle for assignment. The
    query probes its n_probe best centroids and reranks exactly inside
    those lists only: the scan shrinks ~n_probe/n_centroids vs brute force.
    At scale: n_centroids ~ sqrt(N); persist `assigned` partitioned by
    cluster so probes are partition-pruned scans, exactly like the term
    segments.

    Recall < 1 by design; oracle twin = oracle.ann_ivf_sql (identical
    centroid choice, assignment arithmetic and tie-breaks, so both engines
    return the same approximate set)."""
    import math

    v = _as_double(emb, id_col, vec_col)
    if centroids is not None:
        # trained coarse quantizer (e.g. clustering.kmeans_fit output):
        # tighter cells than id-sampled seeds -> better recall at the
        # same n_probe; everything downstream is identical
        cents = [(j, [float(x) for x in c]) for j, c in enumerate(centroids)]
    else:
        cent_rows = sorted(
            v.where(F.col("id") < n_centroids).collect(),
            key=lambda r: r["id"],
        )
        cents = [(int(r["id"]), [float(x) for x in r["v"]]) for r in cent_rows]

    def _fold_dot(xs: list[float], ys: list[float]) -> float:
        acc = 0.0
        for a, b in zip(xs, ys):  # sequential left fold == the SQL fold
            acc += a * b
        return acc

    cent_norms = {c: math.sqrt(_fold_dot(cv, cv)) for c, cv in cents}

    norm_v = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    entries = []
    for c, cv in cents:
        w = F.array(*[F.lit(x) for x in cv])
        dot = F.aggregate(
            F.zip_with(F.col("v"), w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = dot / (norm_v * F.lit(cent_norms[c]))
        entries.append(F.struct(cos.alias("cos"), F.lit(-c).alias("negc")))
    best = F.array_max(F.array(*entries))
    assigned = v.select("id", "v", (-best["negc"]).alias("cluster"))

    # query-side probe list (driver arithmetic mirrors the SQL fold exactly)
    qv = [float(x) for x in v.where(F.col("id") == query_id).collect()[0]["v"]]
    nq = math.sqrt(_fold_dot(qv, qv))
    affs = sorted(
        ((_fold_dot(qv, cv) / (nq * cent_norms[c]), -c) for c, cv in cents),
        reverse=True,
    )
    probes = [-negc for _, negc in affs[:n_probe]]

    q = v.where(F.col("id") == query_id).select(F.col("v").alias("qv"))
    cands = assigned.where(
        F.col("cluster").isin(probes) & (F.col("id") != query_id)
    )
    scored = cands.crossJoin(F.broadcast(q)).select(
        "id", _cosine(F.col("v"), F.col("qv")).alias("cosine")
    )
    return _ranked_topk(scored, k)


def ann_bruteforce_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k for MANY query vectors in ONE job — the batch-BM25 analog
    for vectors: broadcast the |Q| query rows, one scored scan of the
    corpus (N x |Q| candidate rows), per-query window top-k (PARTITIONED
    by query id — bounded sort per query, never a global window).
    Scores are rounded to 6dp BEFORE ranking for cross-engine-stable
    order (ties: id asc)."""
    v = _as_double(emb, id_col, vec_col)
    q = v.where(F.col("id").isin([int(x) for x in query_ids])).select(
        F.col("id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("id") != F.col("qid"))
        .select(
            "qid",
            "id",
            F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011) — the memory-resident ANN
# scale path: D-dim vectors become M one-byte codes (here M=4 over D=64,
# a 64x compression of float32), and query scanning is an Asymmetric
# Distance Computation (ADC): one K-entry lookup table per subspace,
# distance = sum of M table lookups instead of D multiply-adds.
#
# At 100 TB this is what makes exhaustive re-scan feasible: the coded
# corpus for 1B vectors x M=8 is 8 GB (cache-resident per executor after
# one scan) vs 256 GB of raw float32 — the encode is one numpy
# mapInArrow pass and the scan a map-side projection over literal lookup
# tables, no shuffle. PQ is IVFADC (below) with one all-zero coarse cell:
# the residual v - 0.0 is v and the one cell is the one probe, so both
# share one encoder (arrow_kernels.coded_corpus_arrow) and one scorer
# (_adc_topk). Recall is bounded by quantization error; RECALL.md carries
# the measured recall@10 vs ann_bruteforce_topk on the gate corpus.
# ---------------------------------------------------------------------------

def pq_train(
    emb: DataFrame,
    seeds: list[list[float]],
    m_subs: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """codebooks[m][j] = centroid j of subspace m: D/m_subs-dim k-means
    (K = len(seeds)) run INDEPENDENTLY per subspace on the sliced
    vectors, each via clustering.kmeans_fit_fixed (fixed Lloyd rounds,
    6dp-rounded re-inlining) so a DuckDB twin can reproduce every
    codebook bit-for-bit — the same oracle-mirrorable-fit contract as
    ann_ivf_trained. Seeds are the full-dim seed centroids sliced
    per-subspace (deterministic, data-independent)."""
    from .clustering import kmeans_fit_fixed

    dim = len(seeds[0])
    if dim % m_subs:
        raise ValueError(f"dim {dim} not divisible by m_subs {m_subs}")
    dsub = dim // m_subs
    books: list[list[list[float]]] = []
    for m in range(m_subs):
        lo = m * dsub
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), lo + 1, dsub).alias(vec_col),
        )
        sub_seeds = [list(map(float, s[lo : lo + dsub])) for s in seeds]
        books.append(kmeans_fit_fixed(sub, sub_seeds, iters=iters, id_col=id_col, vec_col=vec_col))
    return books


def _zero_cell(codebooks: list[list[list[float]]]) -> list[list[float]]:
    """The one all-zero coarse cell that makes PQ a one-probe IVFADC."""
    return [[0.0] * (len(codebooks) * len(codebooks[0][0]))]


def _query_vec(emb: DataFrame, query_id: int, id_col: str, vec_col: str) -> list[float]:
    rows = (
        _as_double(emb, id_col, vec_col)
        .where(F.col("id") == query_id)
        .select("v")
        .collect()
    )
    if not rows:
        raise ValueError(f"no vector with id {query_id}")
    return [float(x) for x in rows[0]["v"]]


def _adc_topk(
    coded: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    qv: list[float],
    query_id: int,
    k: int,
    n_probe: int,
) -> DataFrame:
    """(id, adc_dist, rank): the one ADC scan, over a coded frame (id,
    cluster, code_0..) and the query vector on the driver.

    The n_probe nearest coarse cells are the probes (sequential-fold
    squared L2, the SQL twin's accumulation order; ties -> lower cell).
    Per (probed cell, subspace) the lookup table is built on the driver
    — entry j = ||(q - c_cell)_m - B_mj||^2 — and rounded 6dp HALF_UP by
    _round6_half_up, bit-equal to Spark's round; the tables reach the
    plan as literals, so the scan joins nothing. adc = CASE over the
    probed cell of the M lookups, 6dp-rounded before the (adc_dist, id)
    ordered limit."""
    import numpy as np

    dsub = len(codebooks[0][0])

    def _fold_sq(xs: list[float], ys: list[float]) -> float:
        acc = 0.0
        for a, b in zip(xs, ys):
            acc += (a - b) * (a - b)
        return acc

    cents = [[float(x) for x in c] for c in coarse_cents]
    probes = [
        c for _, c in sorted((_fold_sq(qv, cv), j) for j, cv in enumerate(cents))[:n_probe]
    ]
    adc = None
    for c in probes:
        qr = [a - b for a, b in zip(qv, cents[c])]
        cell_sum = None
        for m, book in enumerate(codebooks):
            qsub = qr[m * dsub : (m + 1) * dsub]
            lut = _round6_half_up(
                np.array([_fold_sq(qsub, [float(x) for x in cw]) for cw in book])
            )
            term = F.element_at(
                F.array(*[F.lit(float(x)) for x in lut]), F.col(f"code_{m}")
            )
            cell_sum = term if cell_sum is None else cell_sum + term
        in_cell = F.col("cluster") == c
        adc = F.when(in_cell, cell_sum) if adc is None else adc.when(in_cell, cell_sum)

    scored = coded.where(
        F.col("cluster").isin(probes) & (F.col("id") != query_id)
    ).select("id", F.round(adc, 6).alias("adc_dist"))
    top = scored.orderBy(F.asc("adc_dist"), F.asc("id")).limit(k)
    w = Window.orderBy(F.asc("adc_dist"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "id", "adc_dist", "rank"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_0..code_{M-1}): each vector's per-subspace nearest-
    centroid index (1-based; ties -> lowest index) over the 6dp-ROUNDED
    distances (rounding makes the argmin decision identical in the
    DuckDB twin). One map-side numpy pass: arrow_kernels.
    coded_corpus_arrow against the all-zero coarse cell, whose residual
    is the vector itself. Ragged embeddings raise the kernel's
    ValueError."""
    return coded_corpus_arrow(
        emb, _zero_cell(codebooks), codebooks, id_col, vec_col
    ).drop("cluster")


def ann_pq_adc_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, adc_dist, rank): approximate L2 top-k via PQ/ADC — encode the
    corpus (pq_encode's kernel), build the query's per-subspace lookup
    tables on the driver, approximate distance = sum of M element_at
    lookups, ordered-limit top-k. It is the IVFADC scorer (_adc_topk)
    with one all-zero coarse cell and one probe.

    The lookup entries and the final sum are 6dp-rounded (HALF_UP, as
    Spark's round) before ranking, so engine order is decided on
    identical values (ties: id asc). Raises ValueError when no vector
    has ``query_id`` and, from the kernel, on ragged embeddings.
    Exactness note: ADC is exact for vectors that coincide with their
    codeword reconstruction and within-cell-error-bounded otherwise;
    this is the standard IVFADC building block — ann_ivfadc_topk adds
    the trained coarse quantizer."""
    coded = pq_encode(emb, codebooks, id_col, vec_col).withColumn("cluster", F.lit(0))
    qv = _query_vec(emb, query_id, id_col, vec_col)
    return _adc_topk(coded, _zero_cell(codebooks), codebooks, qv, query_id, k, n_probe=1)


def ann_pq_rerank_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, l2_dist, rank): PQ/ADC shortlist + exact rerank — the
    production PQ serving shape (Jégou et al. §VII): the ADC scan prunes
    the corpus to `shortlist` candidates (compressed codes only), then
    exact squared-L2 re-scores just those against the raw vectors.
    Measured on the gate corpus: ADC-only recall@10 0.50 -> 0.80 with a
    50-candidate rerank at M=16, K=16 (RECALL.md). At scale the rerank
    reads `shortlist` raw vectors instead of N — the broadcast of the
    (tiny) candidate list turns it into a map-side probe of the vector
    store."""
    cand = ann_pq_adc_topk(
        emb, codebooks, query_id, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("id")
    v = _as_double(emb, id_col, vec_col)
    q = v.where(F.col("id") == query_id).select(F.col("v").alias("qv"))
    exact = (
        v.join(F.broadcast(cand), "id")
        .crossJoin(F.broadcast(q))
        .select(
            "id",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("v"), F.col("qv"), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("l2_dist"),
        )
    )
    top = exact.orderBy(F.asc("l2_dist"), F.asc("id")).limit(k)
    w = Window.orderBy(F.asc("l2_dist"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "id", "l2_dist", "rank"
    )


# ---------------------------------------------------------------------------
# IVFADC (Jégou et al., TPAMI'11 §IV-A): the full billion-scale serving
# shape — an IVF coarse quantizer in front of the PQ/ADC scan, with the
# PQ codebooks trained on RESIDUALS (v - coarse_centroid(v)), which is
# what makes the codes sharp: residuals concentrate near the origin, so
# the same K codes cover them far more densely than raw vectors.
#
# At 10^9+ vectors: the corpus is stored partitioned BY COARSE CELL
# (exactly like the term segments), the query touches only n_probe
# cells' code lists (partition-pruned scans), and each list is M bytes
# per vector. Here the cell filter is an isin() over the assignment —
# the same plan with partition pruning when the coded corpus is
# persisted bucketed by cluster.
# ---------------------------------------------------------------------------

def residuals(
    emb: DataFrame,
    coarse_cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id long, r, cluster): each vector's coarse cell (nearest centroid
    by squared L2, ties -> lowest cell — assign_clusters' numpy kernel,
    the gated assignment arithmetic) and its residual v - c_cell,
    element-wise. Map-side only; ragged embeddings raise the kernel's
    ValueError. DuckDB twin: oracle side computes
    v[i] - (CENTS)[cluster+1][i] with the identical left-assoc float
    subtraction."""
    cents_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in coarse_cents]
    )
    asg = assign_clusters_arrow(emb, coarse_cents, id_col, vec_col, keep_vec=True)
    return asg.select(
        F.col("id").cast("long").alias("id"),
        F.zip_with(
            F.col("v"),
            F.element_at(cents_arr, F.col("cluster") + 1),
            lambda a, b: a - b,
        ).alias("r"),
        "cluster",
    )


def ann_ivfadc_topk(
    emb: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, adc_dist, rank): IVFADC approximate L2 top-k.

    Plan: ONE map-side numpy pass (arrow_kernels.coded_corpus_arrow, the
    persist_coded_corpus encoder) assigns every vector to its coarse
    cell and PQ-encodes its residual; the query row is collected and
    _adc_topk scores the candidates in the query's n_probe best cells
    against per-cell lookup tables inlined as literals — the scorer
    ann_ivfadc_from_store and ann_pq_adc_topk use too. Raises ValueError
    when no vector has ``query_id`` and, from the kernel, on ragged
    embeddings.

    The codebooks MUST be residual-trained (pq_train over
    residuals(emb, coarse_cents)) — that is the IVFADC contract; using
    raw-vector books here collapses recall. Recall vs exact L2 is
    reported in RECALL.md; raise n_probe to trade scan for recall."""
    coded = coded_corpus_arrow(emb, coarse_cents, codebooks, id_col, vec_col)
    qv = _query_vec(emb, query_id, id_col, vec_col)
    return _adc_topk(coded, coarse_cents, codebooks, qv, query_id, k, n_probe)


def persist_coded_corpus(
    emb: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the IVFADC store: residual PQ codes partitioned BY COARSE
    CELL (parquet `cluster=<c>/` directories — the vector-side analog of
    the term segments in index/segments.py). One map-side projection,
    one write; at 10^9 vectors each cell directory holds M bytes/vector
    and a probe reads only n_probe directories.

    The encode (coarse argmin + residual + M x K rounded codeword
    distances + per-subspace 1-based argmin) is one numpy kernel
    (arrow_kernels.coded_corpus_arrow), replacing ~2k interpreted
    zip_with/aggregate folds per row; tests/kernel_reference.coded_corpus
    and the ann_ivfadc oracle gate pin the codes."""
    coded = coded_corpus_arrow(emb, coarse_cents, codebooks, id_col, vec_col)
    (
        coded
        # cluster rows by their target cluster= directory before the
        # dynamic partitioned write: otherwise every task writes a file
        # per cell (tasks x cells tiny files — the same small-files tax
        # store_trigram_postings paid; guide §6); the shuffle carries
        # only the M-byte codes
        .repartition(len(coarse_cents), F.col("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )


def ann_ivfadc_from_store(
    spark,
    store_path: str,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    query_id: int = -1,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVFADC serving from the persisted store: the cluster-isin filter
    lands in the parquet scan's PartitionFilters, so Spark LISTS only
    the n_probe probed `cluster=` directories — the scan is
    partition-pruned, not filtered after read (plan-asserted in tests).
    The scorer is ann_ivfadc_topk's (_adc_topk), so both return the same
    rows; the query vector arrives as a literal (serving-path shape: the
    query never scans the corpus)."""
    n_m = len(codebooks)
    # the writer's fixed schema: a zero-row store holds no parquet file
    # to infer it from
    schema = "id long, " + ", ".join(f"code_{m} int" for m in range(n_m)) + ", cluster int"
    coded = spark.read.schema(schema).parquet(store_path)
    qv = [float(x) for x in query_vec]
    return _adc_topk(coded, coarse_cents, codebooks, qv, query_id, k, n_probe)


def mmr_rerank(
    emb: DataFrame,
    query_id: int = 0,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, mmr_score, rank): Maximal Marginal Relevance diversified
    re-ranking (Carbonell & Goldstein, SIGIR'98) — greedily pick k of
    the top-``pool`` candidates maximizing
    λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), so near-duplicates of an
    already-selected result are demoted. The training-data cousin of
    SemDeDup: diversity at serving time instead of corpus time.

    Plan: relevance pool = ONE broadcast-query scored scan + ordered
    limit (the ann_bruteforce shape); pairwise sims among the pool =
    a pool×pool broadcast self-join (bounded at pool², independent of
    N). The greedy selection runs on the driver over the collected
    pool — k·pool comparisons on ≤ pool rows, the standard serving
    shape (like top-k result assembly). Every rel/sim is 6dp-rounded
    IN-ENGINE before collection, and the driver arithmetic
    (λ·rel − (1−λ)·max-sim over those rounded doubles) is the exact
    expression the DuckDB twin evaluates over ITS rounded pool — the
    driver-mirrors-SQL contract the IVF probes use. First pick =
    highest rel; ties → id asc everywhere."""
    rel_rows = ann_bruteforce_topk(emb, query_id, k=pool, id_col=id_col, vec_col=vec_col).collect()
    rel = {int(r["id"]): float(r["cosine"]) for r in rel_rows}
    pool_ids = sorted(rel)

    v = _as_double(emb, id_col, vec_col).where(F.col("id").isin(pool_ids))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    sim_rows = (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .collect()
    )
    sim: dict[tuple[int, int], float] = {}
    for r in sim_rows:
        sim[(int(r["id_a"]), int(r["id_b"]))] = float(r["sim"])

    def _sim(x: int, y: int) -> float:
        return sim[(x, y) if x < y else (y, x)]

    selected: list[tuple[int, float]] = []
    remaining = list(pool_ids)
    while remaining and len(selected) < k:
        best_id, best_score = None, None
        for c in sorted(remaining):
            if selected:
                max_sim = max(_sim(c, s) for s, _ in selected)
                score = lam * rel[c] - (1.0 - lam) * max_sim
            else:
                score = rel[c]
            if best_score is None or score > best_score:
                best_id, best_score = c, score
        selected.append((best_id, best_score))
        remaining.remove(best_id)

    spark = emb.sparkSession
    # final rounding happens IN-ENGINE (F.round = HALF_UP, what the
    # DuckDB twin's round() does); Python's round() is nearest-even and
    # diverges on exact half-ulp boundaries — observed 0.194355 vs
    # 0.194356 at sf0.001 before this was moved into the plan
    out = spark.createDataFrame(
        [(int(i), float(s), rk + 1) for rk, (i, s) in enumerate(selected)],
        "id bigint, mmr_score double, rank int",
    )
    return out.select("id", F.round("mmr_score", 6).alias("mmr_score"), "rank")
