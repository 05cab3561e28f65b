"""Deduplication operators for large-scale training-data pipelines.

All shuffles are keyed to spread load (content hash, shingle, band key);
candidate generation never goes O(N^2) — pairs come from equi-joins on
shingles / band buckets, which is the LSH scale path. Exact verification
(jaccard) runs only on candidate pairs.

Operators:
  exact_dedup          — sha256(content) group, keep min doc_id
  shingles             — word n-gram shingles, zero-shuffle (one Arrow kernel)
  minhash_signatures   — H affine min-hashes over one md5 base (portable)
  lsh_candidate_pairs  — banding -> bucket join -> distinct pairs
  jaccard_pairs        — exact n-gram jaccard for candidate (or all) pairs
  simhash              — 64-bit majority-vote fingerprint + hamming pairs
                         (multi-block pigeonhole candidate keys)
  embedding_neardup    — cosine-similar pairs over an embedding column
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import M64, SM_GAMMA, splitmix64_mix

DEFAULT_SHINGLE_N = 3
DEFAULT_MINHASHES = 16
DEFAULT_BANDS = 4
SIMHASH_BITS = 64
HASH_MOD = 1_000_000_007

# MinHash hash family: h_k(s) = (a_k * (md5_60(s) mod P) + b_k) mod P over a
# single 60-bit md5 base hash — Carter-Wegman pairwise-independent affine
# maps, the same scheme Spark MLlib's MinHashLSH uses ((1 + elem*coeff) mod
# prime). ONE md5 per shingle instead of H; base-collision probability per
# doc pair is ~n_shingles^2 / 2^32 (md5_60 mod P), negligible for near-dup
# detection. P = 2^31 - 1 keeps every intermediate < 2^62: ANSI-overflow-safe
# in Spark AND identical int64 arithmetic in DuckDB (oracle portability).
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)
_MINHASH_SEED = 0x5EED_1A7E_5EED_1A7E


def _splitmix64(x: int):
    while True:
        x = (x + SM_GAMMA) & M64
        yield splitmix64_mix(x)


def minhash_coeffs(n_hashes: int = DEFAULT_MINHASHES) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) affine coefficients, a_k in [1, P-1],
    b_k in [0, P-1]. Inlined as literals into BOTH the Spark plan and the
    DuckDB oracle SQL (cross-engine determinism recipe)."""
    g = _splitmix64(_MINHASH_SEED)
    out = []
    for _ in range(n_hashes):
        a = 1 + next(g) % (MINHASH_PRIME - 1)
        b = next(g) % MINHASH_PRIME
        out.append((a, b))
    return out


def exact_dedup(docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text") -> DataFrame:
    """(content_sha, keep_doc_id, n_dupes): one row per distinct content;
    keep = min doc_id. One shuffle on the hash — no skew (sha is uniform)."""
    return (
        docs.select(
            F.sha2(F.col(content_col), 256).alias("content_sha"),
            F.col(doc_id_col).cast("string").alias("doc_id"),
        )
        .groupBy("content_sha")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("int").alias("n_dupes"),
        )
    )


def _tokens(docs: DataFrame, doc_id_col: str, content_col: str) -> DataFrame:
    from ..functions import text as T

    toks = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.posexplode(T.tokens_col(F.col(content_col))).alias("pos0", "tok"),
    )
    return toks.select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")


def shingles(
    docs: DataFrame,
    n: int = DEFAULT_SHINGLE_N,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, shingle): distinct word n-grams, built entirely map-side.

    Each document is ONE input row, so per-doc distinctness IS global
    (doc, shingle) distinctness — the whole operator is a zero-shuffle
    map stage: one vectorized Arrow kernel per partition
    (arrow_kernels.shingles_arrow: tokenize on Arrow buffers, window
    join, per-doc distinct). The JVM HOF lambda chain it replaced
    (transform + n element_at + concat_ws per window, CodegenFallback)
    was the dominant per-task cost of every shingle consumer at 60k docs
    (~5.2 s/pass). Rows come out sorted per doc, an order no consumer
    observes (aggregations/joins only). DuckDB twin: oracle._shingle_ctes
    (list_transform + list_distinct + unnest — value-identical);
    tests/kernel_reference.shingles pins the kernel row for row."""
    from .arrow_kernels import shingles_arrow

    return shingles_arrow(docs, n, doc_id_col, content_col)


def minhash_signatures(
    shingles_df: DataFrame, n_hashes: int = DEFAULT_MINHASHES
) -> DataFrame:
    """(doc_id, mh_0..mh_{H-1}): per-doc min over H affine maps of ONE
    60-bit md5 base hash (see minhash_coeffs) — integer arithmetic identical
    in Spark and DuckDB. One md5 per shingle row instead of H; at scale this
    is one groupBy(doc_id) with map-side partial min aggregation. The base
    hash is projected as a column BEFORE the aggregate so it is computed
    exactly once per row (Catalyst keeps Project under Aggregate)."""
    P = MINHASH_PRIME
    base = shingles_df.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast(
                "long"
            )
            % P
        ).alias("_x"),
    )
    aggs = [
        F.min((F.col("_x") * F.lit(a) + F.lit(b)) % P).alias(f"mh_{h}")
        for h, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    return base.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = DEFAULT_MINHASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs sharing at least one LSH band.

    rows_per_band = n_hashes / bands; band key = concat of that band's
    min-hashes. Bucket join on (band_id, band_key) — the only shuffle —
    then distinct pairs with doc_a < doc_b.

    Durability: the signatures are materialized with
    ``localCheckpoint(eager=True)``, so calling this runs one Spark job
    at once, even if the returned frame is never used. Local-checkpoint
    blocks live only on the executor that computed them, with no
    replica and no lineage back to the input: if that executor is lost
    before the pairs are consumed, the downstream stages fail instead of
    recomputing, and the caller must rerun the call. ``persist()`` +
    ``count()`` would keep the lineage, at the cost of a second
    signature pass after such a loss."""
    rows_per_band = n_hashes // bands
    # materialize the signatures ONCE before the banded self-join: the
    # join's two sides are separate subtrees to the planner (ReuseExchange
    # does not fire across a broadcast build), so without this the whole
    # minhash aggregation ran TWICE — once for the broadcast side, once
    # for the stream side (measured ~2x the stage at 60k docs). The
    # signature frame is n_docs x (H+1) ints — tiny at any corpus size
    # that fits one cluster; localCheckpoint blocks are released by the
    # ContextCleaner when the result goes out of scope.
    signatures = signatures.localCheckpoint(eager=True)
    band_cols = []
    for b in range(bands):
        key = F.concat_ws(
            "|", *[F.col(f"mh_{b * rows_per_band + i}") for i in range(rows_per_band)]
        )
        band_cols.append(F.struct(F.lit(b).alias("band_id"), key.alias("band_key")))
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    shingles_df: DataFrame,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact n-gram jaccard.

    Scale path (``candidates`` given — the LSH pipeline): common-shingle
    counts come from two doc-keyed equi-joins against the candidate pair
    list, so work is O(|candidates| x shingles-per-doc) — the shingle
    self-join (quadratic inside any hot-shingle bucket) never runs.

    Unrestricted path (candidates=None): exact verification kernel via the
    shingle self-join; ``max_shingle_df`` drops shingles appearing in more
    than K docs first (boilerplate shingles dominate hot buckets and carry
    ~no similarity signal — standard MinHash-pipeline hygiene; changes
    jaccard slightly, so it is opt-in and off for oracle-gated runs).

    |A ∪ B| = |A| + |B| - common; sizes always use the FULL shingle sets.
    """
    sizes = shingles_df.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        a = shingles_df.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = shingles_df.select(
            F.col("doc_id").alias("_doc_b"), F.col("shingle").alias("_shingle_b")
        )
        common = (
            candidates.select("doc_a", "doc_b")
            .join(a, "doc_a")
            .join(
                b,
                (F.col("doc_b") == F.col("_doc_b"))
                & (F.col("shingle") == F.col("_shingle_b")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        joinable = shingles_df
        if max_shingle_df is not None:
            hot = (
                shingles_df.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") > max_shingle_df)
                .select("shingle")
            )
            joinable = shingles_df.join(F.broadcast(hot), "shingle", "left_anti")
        a = joinable.alias("a")
        b = joinable.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    out = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("common") / (F.col("sza") + F.col("szb") - F.col("common"))).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def containment_pairs(
    shingles_df: DataFrame,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, cont_a_in_b, cont_b_in_a, containment): exact n-gram
    CONTAINMENT on candidate pairs — the asymmetric cousin of jaccard.

    cont_a_in_b = |A ∩ B| / |A| (how much of A's shingle set B covers);
    ``containment`` = max of the two directions, the doc-inside-doc
    detector: a short document pasted verbatim into a long one has tiny
    jaccard (union is dominated by the long doc) but containment ~1.0 —
    Broder's resemblance-vs-containment split (SEQUENCES'97), the reason
    quote/boilerplate inclusion dedup can't run on jaccard alone.

    Plan shape is identical to ``jaccard_pairs(candidates=...)``: common
    counts via two doc-keyed equi-joins against the candidate list (no
    shingle self-join), sizes from one groupBy — O(|candidates| x
    shingles-per-doc). NOTE the recall contract (RECALL.md): MinHash-LSH
    candidates are tuned for high JACCARD; a containment-1.0 pair with
    tiny jaccard collides only if the small doc's shingles win enough
    min-hash slots (P ≈ 1-(1-j^r)^b on the pair's jaccard). For a
    containment-complete generator, band the SMALL side's full signature
    (threshold on |A|) — out of scope here; the kernel itself is exact on
    every pair it is given. Threshold filters on the max direction."""
    sizes = shingles_df.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is None:
        candidates = lsh_candidate_pairs(minhash_signatures(shingles_df))
    a = shingles_df.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles_df.select(
        F.col("doc_id").alias("_doc_b"), F.col("shingle").alias("_shingle_b")
    )
    common = (
        candidates.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("_doc_b"))
            & (F.col("shingle") == F.col("_shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb"),
            "doc_b",
        )
        .where(
            (F.col("common") / F.least(F.col("sza"), F.col("szb")))
            >= threshold
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("common") / F.col("sza"), 6).alias("cont_a_in_b"),
            F.round(F.col("common") / F.col("szb"), 6).alias("cont_b_in_a"),
            F.round(
                F.col("common") / F.least(F.col("sza"), F.col("szb")), 6
            ).alias("containment"),
        )
    )
    return out


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    n: int = DEFAULT_SHINGLE_N,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hit_shingles, hit_ratio, contaminated): flag training
    docs sharing any word n-gram with a benchmark/eval set — the standard
    pre-training decontamination pass (e.g. GPT-3 appendix C: 13-gram
    overlap; n is a parameter, tests use small n on tiny fixtures).

    Plan shape: shingle both sides, distinct the benchmark's shingle set
    (small — broadcast when it fits), ONE equi-join on the shingle, per-doc
    counts vs the doc's total shingles. No pairwise doc join: work is
    O(|train shingles| + |bench shingles|) plus the join on matching
    shingles only."""
    t_sh = shingles(train, n, doc_id_col, content_col)
    b_sh = shingles(bench, n, doc_id_col, content_col).select("shingle").distinct()
    totals = t_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        t_sh.join(b_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )
    all_docs = train.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    out = all_docs.join(totals, "doc_id", "left").join(hits, "doc_id", "left")
    nh = F.coalesce(F.col("n_hit_shingles"), F.lit(0))
    return out.select(
        "doc_id",
        nh.cast("int").alias("n_hit_shingles"),
        F.round(
            F.when(F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
                   nh / F.col("n_shingles")).otherwise(0.0),
            6,
        ).alias("hit_ratio"),
        (nh > 0).alias("contaminated"),
    )


def simhash(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash): 64-bit majority-vote fingerprint over tokens
    (with multiplicity) — the industry-standard width for web-corpus
    near-dup detection (Manku, Jain & Das Sarma, WWW'07). Bit b of token =
    bit (b%4) of hex nibble (b//4 + 1) of md5(token) — portable to the SQL
    oracle via instr(). Bit 63 wraps to the sign bit of the signed int64
    (two's complement) identically in Spark and DuckDB, so XOR/bit_count
    hamming stays engine-portable. Majority vote: bit b set iff
    2*S_b > n (a tie leaves it 0); a doc with no tokens emits no row.

    Physical shape: ONE vectorized kernel per partition
    (arrow_kernels.simhash_arrow) — tokenize on Arrow buffers, md5 once
    per DISTINCT token (worker-lifetime cache), per-doc bit counts via
    numpy reduceat — emitting (doc_id, simhash) directly: a pure map
    stage, zero token rows ever shuffled or fed through 64 JVM aggregate
    expressions (that tokenize+md5 expression tree was ~4.8 s of a 6.8 s
    stage at 60k docs). tests/kernel_reference.simhash pins the
    fingerprints bit for bit."""
    from .arrow_kernels import simhash_arrow

    return simhash_arrow(docs, doc_id_col, content_col)


def _block_layout(n_blocks: int) -> list[tuple[int, int]]:
    """(bit_offset, width) per block; widths differ by at most 1."""
    base, rem = divmod(SIMHASH_BITS, n_blocks)
    out, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def auto_n_blocks(max_hamming: int) -> int:
    """Default block count for the multi-block pigeonhole keys.

    Prefer m = max_hamming + 3: each candidate key then concatenates
    m - max_hamming = 3 blocks (~3/m of the 64 bits, >= 16 bits for any
    max_hamming <= 9), with C(m, 3) combinations per doc — 20 rows/doc at
    the default max_hamming=3 (Manku et al. WWW'07 table layout). Falls
    back to m = max_hamming + 1 single-block keys when the combination
    count or block width degenerates (only huge max_hamming — test cases,
    not production dedup)."""
    m = max_hamming + 3
    if m <= SIMHASH_BITS and math.comb(m, 3) <= 64:
        return m
    return min(max_hamming + 1, SIMHASH_BITS)


def pigeonhole_candidates(
    sim: DataFrame, max_hamming: int = 3, n_blocks: int | None = None
) -> DataFrame:
    """Recall-complete candidate pairs (doc_a, doc_b, hamming), UNFILTERED.

    Multi-block pigeonhole (Manku, Jain & Das Sarma, WWW'07): split the
    64-bit fingerprint into m blocks; a pair within hamming <= h differs in
    at most h blocks, so it agrees on >= m-h blocks — hence on at least one
    specific (m-h)-subset. Emitting one row per doc per (m-h)-combination,
    keyed by (combo_id, concatenated block values), makes the equi-join a
    recall-complete candidate generator whose composite keys are >= 16 bits
    wide (defaults: m=6, 3-block ~32-bit keys, C(6,3)=20 rows/doc) — so
    bucket populations shrink exponentially with key width instead of the
    N/256 a single 8-bit chunk key gives. A degenerate hot block (e.g.
    near-empty docs all hashing a zero chunk) no longer creates a quadratic
    bucket: colliders must now agree on ~32 specific bits.

    Durability: like lsh_candidate_pairs, the fingerprints are
    materialized with ``localCheckpoint(eager=True)`` — one Spark job at
    call time, and non-replicated blocks that are lost with their
    executor, failing the downstream stages instead of recomputing.
    """
    m = n_blocks if n_blocks is not None else auto_n_blocks(max_hamming)
    if m <= max_hamming:
        raise ValueError(f"n_blocks={m} must exceed max_hamming={max_hamming}")
    layout = _block_layout(m)
    block_exprs = [
        F.expr(f"shiftright(simhash, {off}) & {(1 << w) - 1}")
        for off, w in layout
    ]
    combos = list(itertools.combinations(range(m), m - max_hamming))
    structs = [
        F.struct(
            F.lit(i).alias("combo_id"),
            F.concat_ws(
                "|", *[block_exprs[c].cast("string") for c in combo]
            ).alias("key"),
        )
        for i, combo in enumerate(combos)
    ]
    # materialize the fingerprints once before the banded self-join: the
    # simhash pipeline (tokenize + md5 + 64 bit aggregates) otherwise runs
    # twice, once per join side (see lsh_candidate_pairs). One row per doc.
    sim = sim.localCheckpoint(eager=True)
    banded = sim.select(
        "doc_id", "simhash", F.explode(F.array(*structs)).alias("cb")
    ).select("doc_id", "simhash", "cb.combo_id", "cb.key")
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.combo_id") == F.col("b.combo_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def simhash_pairs(
    sim: DataFrame,
    max_hamming: int = 3,
    exact: bool = False,
    n_blocks: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) with hamming <= max_hamming.

    Scale path (default): multi-block pigeonhole candidates (see
    pigeonhole_candidates — recall-complete, >=16-bit composite join keys)
    plus the exact hamming filter, so output is IDENTICAL to the all-pairs
    kernel while the only shuffles are the combo-key join and the pair
    distinct.

    ``exact=True`` runs the O(N^2) theta-join verification kernel (tiny
    inputs / differential tests only).
    """
    if exact:
        a, b = sim.alias("a"), sim.alias("b")
        ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        return (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )
    return pigeonhole_candidates(sim, max_hamming, n_blocks).where(
        F.col("hamming") <= max_hamming
    )


NEARDUP_BANDS = 4
NEARDUP_PLANES = 8


def auto_n_planes(n_docs: int, target_bucket: int = 64) -> int:
    """Planes-per-band default that scales with corpus size: expected
    bucket population N / 2^planes ~= target_bucket, floored at the
    historical 8. At 1e8 docs -> 21 planes (2M buckets/band); at 1e12 ->
    34. Pair with multi_probe=1 (and/or more bands) to recover the recall
    each extra plane halves — see RECALL.md."""
    return max(NEARDUP_PLANES, math.ceil(math.log2(max(1.0, n_docs / target_bucket))))


def _vec_pairs_cosine(v: DataFrame, pairs: DataFrame) -> DataFrame:
    """Attach exact cosine to (id_a, id_b) pairs: similarity._cosine, the
    float64 sequential fold in the SQL oracle's accumulation order."""
    from .similarity import _cosine

    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", _cosine(F.col("va"), F.col("vb")).alias("cosine"))
    )


def embedding_neardup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int = 64,
    n_bands: int = NEARDUP_BANDS,
    n_planes: int | None = NEARDUP_PLANES,
    exact: bool = False,
    multi_probe: int = 0,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold.

    Scale path (default): multi-band sign-projection LSH. Band b buckets
    every vector by the sign pattern of n_planes deterministic hyperplanes
    (similarity.plane_weight, planes b*n_planes..), candidates = pairs
    sharing any band's full bucket (equi-join on (band, bucket) — the only
    pair-generating shuffle), exact cosine computed on candidates only.
    Sign-LSH recall is < 1 by design (rises with n_bands, falls with
    n_planes; candidates shrink ~2^-n_planes per band) — the oracle twin
    (oracle.embedding_neardup_lsh_sql) applies the IDENTICAL banding, and
    the all-pairs kernel below (exact=True) is the differential baseline.

    ``n_planes=None`` auto-scales planes to the corpus size
    (auto_n_planes: ~log2(N/64), floor 8 — one count job). At production
    plane counts pass ``multi_probe=1``: one side of the self-join also
    emits every bucket at sign-pattern hamming distance 1 (n_planes extra
    rows per band on that side only), which recovers most of the recall an
    extra plane halves (standard multi-probe LSH, Lv et al. VLDB'07) while
    keeping candidates ~(n_planes+1)/2^n_planes per band. Candidate recall
    grows monotonically with multi_probe; exactness of the returned cosine
    is unaffected (exact rerank on candidates).

    ``exact=True``: O(N^2) theta join — correct on anything, affordable on
    nothing big."""
    v = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    if exact:
        a, b = v.alias("a"), v.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
    else:
        from .similarity import _bucket_expr

        if n_planes is None:
            n_planes = auto_n_planes(v.count())

        def _banded(probe: bool) -> DataFrame:
            structs = []
            for band in range(n_bands):
                bucket = _bucket_expr(
                    F.col("v"), n_dims, n_planes, plane_offset=band * n_planes
                )
                structs.append(
                    F.struct(F.lit(band).alias("band_id"), bucket.alias("bucket"))
                )
                if probe:
                    for p in range(n_planes):
                        structs.append(
                            F.struct(
                                F.lit(band).alias("band_id"),
                                bucket.bitwiseXOR(F.lit(1 << p)).alias("bucket"),
                            )
                        )
            return v.select(
                "id", F.explode(F.array(*structs)).alias("bb")
            ).select("id", "bb.band_id", "bb.bucket")

        # one-sided probing suffices under a.id < b.id: for a pair whose
        # band patterns differ by one bit, WHICHEVER member lands on the
        # probe side emits the other's exact bucket (bit-flip is symmetric)
        a = _banded(probe=False).alias("a")
        b = _banded(probe=multi_probe >= 1).alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    return _vec_pairs_cosine(v, pairs).where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# Exact duplicate-substring detection (window-granular)
# ---------------------------------------------------------------------------

DEFAULT_SUBSTRING_W = 8


def _token_arrays(docs: DataFrame, doc_id_col: str, content_col: str) -> DataFrame:
    from ..functions import text as T

    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        T.tokens_col(F.col(content_col)).alias("toks"),
    )


def duplicate_windows(
    docs: DataFrame,
    w: int = DEFAULT_SUBSTRING_W,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """(doc_id, pos, whash): every w-token window whose hash occurs >=
    min_count times corpus-wide — window-granular exact duplicate-substring
    detection (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": drop exact substrings of >= N tokens repeated in the
    corpus; their suffix-array pass is replaced here by fixed-width window
    hashing, which finds exactly the duplicated substrings of length >= w
    as runs of duplicated windows).

    Scale shape: window hashing is map-side only, then ONE exchange keyed
    by the uniform md5 hash with a whole-partition window count (a
    count-groupBy + join-back would shuffle the window stream twice and
    re-run the hashing pass for the join side). Work is
    O(total_tokens * w) map-side + one hash-keyed shuffle — never O(N^2)
    in docs. A corpus-dominating boilerplate window (one whash carrying a
    large fraction of all rows) concentrates in one spill-able window
    partition; at that skew, pre-aggregate counts per (whash, salt) first.

    Window hashing is one Arrow kernel (arrow_kernels.window_hashes_arrow:
    tokenize on Arrow buffers + vectorized window join + md5 per window),
    not an interpreted HOF transform/slice/md5 chain;
    tests/kernel_reference.duplicate_windows pins its rows."""
    from pyspark.sql.window import Window

    from .arrow_kernels import window_hashes_arrow

    wins = window_hashes_arrow(docs, w, doc_id_col, content_col)
    cw = Window.partitionBy("whash")
    return (
        wins.withColumn("_c", F.count(F.lit(1)).over(cw))
        .where(F.col("_c") >= min_count)
        .select("doc_id", "pos", "whash")
    )


def substring_spans(dup_wins: DataFrame, w: int = DEFAULT_SUBSTRING_W) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows): maximal duplicated token
    spans, from merging overlapping/adjacent duplicated windows (two window
    starts merge iff gap <= w). One shuffle keyed by doc_id (uniform); the
    lag + running-sum island detection shares a single sort."""
    from pyspark.sql.window import Window

    ww = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(ww)
    brk = F.when(prev.isNull() | ((F.col("pos") - prev) > w), 1).otherwise(0)
    g = (
        dup_wins.select("doc_id", "pos")
        .withColumn("_brk", brk)
        .withColumn("_g", F.sum("_brk").over(ww))
    )
    return (
        g.groupBy("doc_id", "_g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def substring_dup_stats(
    docs: DataFrame,
    w: int = DEFAULT_SUBSTRING_W,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, n_dup_windows, dup_tokens, dup_fraction): per-doc
    duplicated-substring coverage — the drop/keep metric training pipelines
    threshold on (e.g. drop docs with > 50% duplicated tokens). Both the
    token-count pass and the window-hash pass run as Arrow kernels (the
    second full JVM tokenize of the corpus was ~4 s at 60k docs)."""
    from .arrow_kernels import token_counts_arrow

    ntok = token_counts_arrow(docs, doc_id_col, content_col)
    dup = duplicate_windows(docs, w, doc_id_col, content_col).select("doc_id", "pos")
    spans = substring_spans(dup, w)
    agg = spans.groupBy("doc_id").agg(
        F.sum("n_windows").cast("int").alias("n_dup_windows"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).cast("int").alias("dup_tokens"),
    )
    out = ntok.join(agg, "doc_id", "left")
    nd = F.coalesce(F.col("n_dup_windows"), F.lit(0))
    dt = F.coalesce(F.col("dup_tokens"), F.lit(0))
    return out.select(
        "doc_id",
        "n_tokens",
        nd.cast("int").alias("n_dup_windows"),
        dt.cast("int").alias("dup_tokens"),
        F.round(
            F.when(F.col("n_tokens") > 0, dt / F.col("n_tokens")).otherwise(0.0), 6
        ).alias("dup_fraction"),
    )

def drop_keeper_occurrences(dup_wins: DataFrame) -> DataFrame:
    """Lee et al. 2022 §4 keep-one refinement: for every duplicated window
    hash, the corpus-FIRST occurrence (argmin over (doc_id, pos) — string
    order on doc_id, deterministic) is spared from excision; all other
    occurrences stay marked. One window function over the same
    whash-keyed exchange duplicate_windows already pays."""
    from pyspark.sql.window import Window

    kw = Window.partitionBy("whash")
    keeper = F.min(F.struct(F.col("doc_id"), F.col("pos"))).over(kw)
    return (
        dup_wins.withColumn("_k", keeper)
        .where(
            (F.col("doc_id") != F.col("_k.doc_id"))
            | (F.col("pos") != F.col("_k.pos"))
        )
        .select("doc_id", "pos", "whash")
    )


def remove_dup_spans(
    docs: DataFrame,
    w: int = DEFAULT_SUBSTRING_W,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
    min_count: int = 2,
    keep_one: bool = False,
) -> DataFrame:
    """(doc_id, n_tokens, n_removed, clean_text): the excision step that
    completes the duplicate-substring pipeline — every maximal duplicated
    span (substring_spans) is cut from the token stream and the remainder
    re-joined with single spaces. Default is RefinedWeb-style removal: ALL
    occurrences of a corpus-duplicated substring are excised (min_count
    guarantees only >= min_count-occurrence material is touched);
    ``keep_one=True`` is Lee et al. 2022's exact-paper variant — the
    corpus-first occurrence of each duplicated window survives
    (drop_keeper_occurrences), so one copy of the substring remains in
    the corpus.

    Output is TOKEN-level text (lowercased, punctuation-stripped by the
    shared tokenizer), the form downstream tokenizer/LM stages consume.

    Scale shape: span detection is the existing one-exchange window-hash
    pipeline; reconstruction adds ONE doc-keyed equi-join (uniform key)
    of the per-doc span list against the token arrays, then a pure
    map-side filter/rebuild. The kept-pair array is materialized as its
    own projection before being sized and re-joined: HOF lambdas are
    codegen-fallback with NO subexpression elimination, so referencing
    the filter expression three times would run the O(tokens * spans)
    scan three times per row."""
    toks = _token_arrays(docs, doc_id_col, content_col)
    dup = duplicate_windows(docs, w, doc_id_col, content_col, min_count)
    if keep_one:
        dup = drop_keeper_occurrences(dup)
    spans = (
        substring_spans(dup, w)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    j = toks.join(spans, "doc_id", "left")
    sp = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    pairs = F.transform(
        F.col("toks"),
        lambda t, i: F.struct(
            t.alias("t"), (i + F.lit(1)).cast("int").alias("p")
        ),
    )
    kept = F.filter(
        pairs,
        lambda s: ~F.exists(
            sp,
            lambda x: (s["p"] >= x["span_start"]) & (s["p"] <= x["span_end"]),
        ),
    )
    j2 = j.select("doc_id", F.size("toks").alias("n_tokens"), kept.alias("kept"))
    return j2.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.col("n_tokens") - F.size("kept")).cast("int").alias("n_removed"),
        F.concat_ws(
            " ", F.transform("kept", lambda s: s["t"])
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level dedup (the RefinedWeb / Lee et al. 2022 unit between
# whole-document exact dedup and window-granular substring excision):
# split each document on blank lines, hash each trimmed paragraph, and
# keep exactly ONE occurrence of every distinct paragraph corpus-wide —
# the deterministic keeper is the (lowest doc_id, earliest position)
# occurrence, the keep-one rule of Lee et al. §4 applied at paragraph
# granularity. Boilerplate (nav bars, license headers, cookie notices)
# is exactly the text this removes without touching unique prose.
#
# Scale shape: the split+hash is a pure map-side projection; the keeper
# decision is ONE row_number window keyed by the paragraph hash — a
# single hash-partitioned exchange whose keys are uniform md5 values
# (hot boilerplate concentrates per-hash, but each group reduces to its
# argmin, and the rebuild groupBy is doc-keyed — both partial-agg
# friendly). No all-pairs anything.
# ---------------------------------------------------------------------------

PARA_SEP = "\n\n"


def _paragraphs(
    docs: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """(doc_id, idx, para, para_hash): trimmed non-empty paragraphs in
    document order (idx is the 0-based split position, so the rebuild
    preserves original ordering). doc_id stays numeric — the keep-one
    window orders by it, and '10' < '2' under string ordering would make
    the keeper engine-dependent."""
    parts = F.split(F.col(content_col), PARA_SEP)
    d = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.posexplode(parts).alias("idx", "_raw"),
    )
    return (
        d.withColumn("para", F.trim(F.col("_raw")))
        .where(F.col("para") != "")
        .withColumn("para_hash", F.md5(F.col("para")))
        .drop("_raw")
    )


def paragraph_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """(para_hash, n_occurrences, n_docs): corpus-duplicated paragraphs —
    the profiling pass (what fraction of the corpus is boilerplate, and
    is it repeated within or across documents)."""
    p = _paragraphs(docs, id_col, content_col)
    return (
        p.groupBy("para_hash")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_occurrences)
    )


def remove_dup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text, n_kept, n_removed): every document rebuilt
    with only the paragraphs it is the corpus-wide keeper of. Documents
    whose every paragraph is owned elsewhere come back with clean_text
    '' (they stay in the corpus for the caller to length-filter — same
    contract as remove_dup_spans)."""
    from pyspark.sql import Window

    p = _paragraphs(docs, id_col, content_col)
    w = Window.partitionBy("para_hash").orderBy(
        F.asc("doc_id"), F.asc("idx")
    )
    kept = p.withColumn("_rn", F.row_number().over(w))
    per_doc = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_paras"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("int")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(F.col("idx"), F.col("para").alias("p")),
                            )
                        )
                    ),
                    lambda s: s["p"],
                ),
                PARA_SEP,
            ).alias("clean_text"),
        )
        .withColumn("n_removed", (F.col("n_paras") - F.col("n_kept")).cast("int"))
    )
    base = docs.select(F.col(id_col).cast("bigint").alias("doc_id"))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce("n_removed", F.lit(0)).cast("int").alias("n_removed"),
    )
