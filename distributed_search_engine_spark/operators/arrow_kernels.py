"""Vectorized Arrow kernels for the tokenize/hash-heavy corpus operators.

Round-6 optimization (guide §4.2): the dedup / sketch / LM family paid the
JVM tokenize chain (2 regexp_replace + lower + trim + split + HOF filter)
PLUS per-occurrence md5/conv expression trees once per operator — measured
~4-5 s per pass over the 60k bench corpus, repeated by shingles, simhash,
window hashing, bigram emission, CMS, HLL. Each operator here runs ONE
`mapInArrow` kernel per partition instead: RE2 tokenization on Arrow
buffers (the exact chain `emit_postings_arrow` already gate-proved against
the JVM/DuckDB tokenizers), dictionary-encoding so md5 runs once per
DISTINCT token (cached across batches AND tasks via module-level
lru_cache + worker reuse), and numpy reduceat/bincount for the per-doc
aggregation — no per-row Python, no occurrence-stream shuffle.

Every kernel's values are bit-identical to the JVM Column path it
replaced (hashlib md5 == JVM md5; tokens are pure ASCII [a-z0-9]+ after
the cleanup, so utf8_lower == Java lower — same argument as the postings
kernel). Each kernel is its operator's one implementation:
tests/test_arrow_kernels.py compares it row for row with an independent
pure-Python reference (tests/kernel_reference.py), on top of the DuckDB
oracle gates.

Cache discipline: like emit_postings_arrow, every incoming batch is
zero-copy sliced to CHUNK_DOCS rows so the flat token array + dictionary
hash stay LLC-resident per worker (the round-5 forensics result).
"""

from __future__ import annotations

from functools import lru_cache
from hashlib import md5 as _md5

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T

CHUNK_DOCS = 2048

# ---------------------------------------------------------------------------
# shared tokenization (identical to emit_postings_arrow's cleanup chain)
# ---------------------------------------------------------------------------


def _flat_tokens(content):
    """(flat tokens pa.StringArray, per-doc lens int64 ndarray) with empty
    tokens removed. Null content behaves like tokens_col(NULL): no tokens."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    s = pc.replace_substring_regex(content, pattern=T.RE_HTML_TAGS, replacement=" ")
    s = pc.replace_substring_regex(s, pattern=T.RE_NON_ALNUM, replacement=" ")
    s = pc.utf8_lower(s)
    s = pc.utf8_trim_whitespace(s)
    lists = pc.split_pattern_regex(s, pattern=T.RE_WS)
    lens = pc.list_value_length(lists).fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(lists)
    # the only possible empty token is the [""] of an empty cleaned doc
    empty_doc = pc.equal(s, "").fill_null(False).to_numpy(zero_copy_only=False)
    if empty_doc.any():
        keep = pc.not_equal(flat, "")
        flat = flat.filter(keep)
        lens = np.where(empty_doc, 0, lens)
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    return flat, lens


def _dict_encode(flat):
    """(codes int64 ndarray, vocab list[str]) for a flat token array."""
    import numpy as np
    import pyarrow.compute as pc

    d = pc.dictionary_encode(flat)
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return codes, d.dictionary.to_pylist()


# ---------------------------------------------------------------------------
# cached per-distinct-token hashes (worker-lifetime caches: the kernels
# live in an importable module, so spark.python.worker.reuse keeps these
# across tasks — guide §4.5)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=1 << 20)
def _simhash_fp(tok: str) -> int:
    """64-bit token fingerprint: bit b = bit (b%4) of hex nibble (b//4+1)
    of md5(tok) — the exact bit walk of dedup.simhash / the SQL oracle."""
    digest = _md5(tok.encode()).digest()
    fp = 0
    for j in range(16):
        byte = digest[j >> 1]
        nib = (byte >> 4) if (j & 1) == 0 else (byte & 15)
        fp |= nib << (4 * j)
    return fp


@lru_cache(maxsize=1 << 20)
def _md5_prefix_long(tok: str, salt: str = "") -> int:
    """First 8 md5 hex chars of salt+tok as int — functions/hashing.py twin."""
    return int(_md5((salt + tok).encode()).hexdigest()[:8], 16)


# ---------------------------------------------------------------------------
# simhash: (doc_id, simhash) — pure map, no token shuffle at all
# ---------------------------------------------------------------------------


def simhash_arrow(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    sel = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, lens = _flat_tokens(batch.column("content"))
                if len(flat) == 0:
                    continue
                codes, vocab = _dict_encode(flat)
                fps = np.fromiter(
                    (_simhash_fp(t) for t in vocab), dtype=np.uint64, count=len(vocab)
                )
                tokfp = fps[codes]
                nz = lens > 0
                starts = (np.cumsum(lens) - lens)[nz]
                n = lens[nz]
                # one cache-resident 1D pass per bit (a 2-D n_tok x 64
                # int64 matrix would be ~8 bytes/bit — 100+ MB per chunk)
                sim = np.zeros(len(n), dtype=np.uint64)
                for b in range(64):
                    bit = ((tokfp >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                    s_b = np.add.reduceat(bit, starts)
                    sim |= (2 * s_b > n).astype(np.uint64) << np.uint64(b)
                doc_ids = batch.column("doc_id").filter(pa.array(nz))
                yield pa.RecordBatch.from_arrays(
                    [doc_ids, pa.array(sim.view(np.int64), type=pa.int64())],
                    names=["doc_id", "simhash"],
                )

    return sel.mapInArrow(_kernel, schema="doc_id string, simhash long")


# ---------------------------------------------------------------------------
# word n-gram shingles: (doc_id, shingle) distinct per doc — pure map
# ---------------------------------------------------------------------------


def shingles_arrow(
    docs: DataFrame,
    n: int = 3,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    sel = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, lens = _flat_tokens(batch.column("content"))
                n_tok = len(flat)
                if n_tok == 0:
                    continue
                starts = np.cumsum(lens) - lens
                # window starts: positions i with i+n <= doc_end, per doc
                n_win = np.maximum(lens - (n - 1), 0)
                win_doc = np.repeat(np.arange(len(lens), dtype=np.int64), n_win)
                wstarts = np.repeat(starts, n_win)
                local = np.arange(len(win_doc), dtype=np.int64) - np.repeat(
                    (np.cumsum(n_win) - n_win), n_win
                )
                first = wstarts + local
                if len(first) == 0:
                    continue
                cols = [
                    flat.take(pa.array(first + j, type=pa.int64()))
                    for j in range(n)
                ]
                joined = pc.binary_join_element_wise(*cols, " ")
                # per-doc distinct via integer pairs (doc, shingle-code)
                codes, vocab = _dict_encode(joined)
                combo = win_doc * np.int64(len(vocab)) + codes
                uniq = np.unique(combo)
                u_doc = uniq // len(vocab)
                u_code = uniq % len(vocab)
                vocab_arr = pa.array(vocab, type=pa.string())
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("doc_id").take(pa.array(u_doc)),
                        vocab_arr.take(pa.array(u_code)),
                    ],
                    names=["doc_id", "shingle"],
                )

    return sel.mapInArrow(_kernel, schema="doc_id string, shingle string")


# ---------------------------------------------------------------------------
# w-token window hashes: (doc_id, pos, whash) — dedup.duplicate_windows input
# ---------------------------------------------------------------------------


def window_hashes_arrow(
    docs: DataFrame,
    w: int,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    sel = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, lens = _flat_tokens(batch.column("content"))
                if len(flat) == 0:
                    continue
                starts = np.cumsum(lens) - lens
                n_win = np.maximum(lens - (w - 1), 0)
                win_doc = np.repeat(np.arange(len(lens), dtype=np.int64), n_win)
                wstarts = np.repeat(starts, n_win)
                local = np.arange(len(win_doc), dtype=np.int64) - np.repeat(
                    (np.cumsum(n_win) - n_win), n_win
                )
                first = wstarts + local
                if len(first) == 0:
                    continue
                cols = [
                    flat.take(pa.array(first + j, type=pa.int64()))
                    for j in range(w)
                ]
                joined = pc.binary_join_element_wise(*cols, " ")
                md5_ = _md5
                hashes = pa.array(
                    [
                        md5_(b).hexdigest()
                        for b in joined.cast(pa.binary()).to_pylist()
                    ],
                    type=pa.string(),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("doc_id").take(pa.array(win_doc)),
                        pa.array((local + 1).astype(np.int32), type=pa.int32()),
                        hashes,
                    ],
                    names=["doc_id", "pos", "whash"],
                )

    return sel.mapInArrow(_kernel, schema="doc_id string, pos int, whash string")


# ---------------------------------------------------------------------------
# bigram stream: (doc_id, bigram) — text_analysis._bigram_stream
# ---------------------------------------------------------------------------


def bigram_stream_arrow(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    sel = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, lens = _flat_tokens(batch.column("content"))
                if len(flat) == 0:
                    continue
                starts = np.cumsum(lens) - lens
                n_win = np.maximum(lens - 1, 0)
                win_doc = np.repeat(np.arange(len(lens), dtype=np.int64), n_win)
                wstarts = np.repeat(starts, n_win)
                local = np.arange(len(win_doc), dtype=np.int64) - np.repeat(
                    (np.cumsum(n_win) - n_win), n_win
                )
                first = wstarts + local
                if len(first) == 0:
                    continue
                t0 = flat.take(pa.array(first, type=pa.int64()))
                t1 = flat.take(pa.array(first + 1, type=pa.int64()))
                joined = pc.binary_join_element_wise(t0, t1, " ")
                yield pa.RecordBatch.from_arrays(
                    [batch.column("doc_id").take(pa.array(win_doc)), joined],
                    names=["doc_id", "bigram"],
                )

    return sel.mapInArrow(_kernel, schema="doc_id string, bigram string")


# ---------------------------------------------------------------------------
# per-doc token counts: (doc_id, n_tokens) — F.size(tokens_col(...)) twin
# ---------------------------------------------------------------------------


def token_counts_arrow(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    sel = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                content = batch.column("content")
                _, lens = _flat_tokens(content)
                # tokens_col(NULL) is NULL -> size(NULL) is NULL under
                # ANSI; preserve that contract for null content rows
                nulls = content.is_null().to_numpy(zero_copy_only=False)
                out = pa.array(
                    lens.astype(np.int32), type=pa.int32(), mask=nulls
                )
                yield pa.RecordBatch.from_arrays(
                    [batch.column("doc_id"), out], names=["doc_id", "n_tokens"]
                )

    return sel.mapInArrow(_kernel, schema="doc_id string, n_tokens int")


# ---------------------------------------------------------------------------
# distinct tokens of the corpus: (tok) — per-chunk distinct, tiny shuffle
# ---------------------------------------------------------------------------


def distinct_tokens_arrow(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    sel = docs.select(F.col(content_col).alias("content"))

    def _kernel(batch_iter):
        import pyarrow as pa

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, _ = _flat_tokens(batch.column("content"))
                if len(flat) == 0:
                    continue
                _, vocab = _dict_encode(flat)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vocab, type=pa.string())], names=["tok"]
                )

    return sel.mapInArrow(_kernel, schema="tok string").distinct()


# ---------------------------------------------------------------------------
# count-min counter table: (row, bucket, c) — text_analysis.cms_build
# ---------------------------------------------------------------------------


def cms_counts_arrow(
    docs: DataFrame,
    d: int,
    width: int,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Per-chunk partial counters (<= d*width rows each); the caller sums
    them with one tiny groupBy — the counters of one increment per token
    occurrence (md5_bucket arithmetic reproduced per DISTINCT token)."""
    sel = docs.select(F.col(content_col).alias("content"))

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa

        salts = [f"cms{r}:" for r in range(d)]
        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, _ = _flat_tokens(batch.column("content"))
                if len(flat) == 0:
                    continue
                codes, vocab = _dict_encode(flat)
                cnt = np.bincount(codes, minlength=len(vocab)).astype(np.int64)
                acc = np.zeros((d, width), dtype=np.int64)
                for r in range(d):
                    buckets = np.fromiter(
                        (_md5_prefix_long(t, salts[r]) % width for t in vocab),
                        dtype=np.int64,
                        count=len(vocab),
                    )
                    np.add.at(acc[r], buckets, cnt)
                rows, buckets = np.nonzero(acc)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(rows.astype(np.int32), type=pa.int32()),
                        pa.array(buckets.astype(np.int64), type=pa.int64()),
                        pa.array(acc[rows, buckets], type=pa.int64()),
                    ],
                    names=["row", "bucket", "c"],
                )

    return (
        sel.mapInArrow(_kernel, schema="row int, bucket long, c long")
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )


# ---------------------------------------------------------------------------
# HLL registers: (bucket, reg) — text_analysis.hll_distinct's register pass
# ---------------------------------------------------------------------------


def hll_registers_arrow(
    docs: DataFrame,
    b: int,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Per-chunk register partials merged by max — identical registers to
    the per-occurrence JVM groupBy (md5-prefix hash per DISTINCT token).
    rho = (rem+1) - bit_length(r), i.e. leading-zero rank of the low
    (32-b) bits, exactly the length(bin(r)) arithmetic of the JVM path."""
    m = 1 << b
    rem = 32 - b
    sel = docs.select(F.col(content_col).alias("content"))

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                flat, _ = _flat_tokens(batch.column("content"))
                if len(flat) == 0:
                    continue
                _, vocab = _dict_encode(flat)
                h = np.fromiter(
                    (_md5_prefix_long(t) for t in vocab),
                    dtype=np.int64,
                    count=len(vocab),
                )
                r = h & ((1 << rem) - 1)
                # bit_length via log2-free integer path: np has no
                # bit_length; use the float exponent trick safely for
                # values < 2^24 via frexp on float64 (exact for ints
                # < 2^53; rem <= 32 so r < 2^32 — exact)
                bl = np.frexp(r.astype(np.float64))[1]  # 0 for r==0
                rho = np.where(r == 0, rem + 1, rem + 1 - bl).astype(np.int64)
                bucket = (h >> rem).astype(np.int64)
                acc = np.zeros(m, dtype=np.int64)
                np.maximum.at(acc, bucket, rho)
                nz = np.nonzero(acc)[0]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(nz.astype(np.int64), type=pa.int64()),
                        pa.array(acc[nz], type=pa.int64()),
                    ],
                    names=["bucket", "reg"],
                )

    return (
        sel.mapInArrow(_kernel, schema="bucket long, reg long")
        .groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
    )


# ---------------------------------------------------------------------------
# vector assignment kernels (k-means argmin, IVFADC residual-PQ codes)
#
# Every nearest-centroid argmin, residual and PQ code in the engine comes
# from these two kernels: assign_clusters_arrow (k-means assign/update/
# fit, SemDeDup, similarity.residuals) and coded_corpus_arrow (PQ and
# IVFADC encode; PQ is IVFADC with one all-zero coarse cell). They
# replaced JVM zip_with+aggregate folds per (row, centroid) —
# CodegenFallback, interpreted, a zipped-array allocation each; the PQ
# code assignment alone was K_coarse*dim + M*K*dsub ≈ 2k interpreted
# folds per row. The kernels keep the fold's float ops in its order
# (vectorized across rows, sequential across dims: acc = acc + d*d), the
# order the DuckDB oracle's list_reduce uses; rounded values reproduce
# Spark's HALF_UP round(x, 6) exactly (see _round6_half_up, which the ADC
# scorer also applies to its driver-side lookup tables).
# ---------------------------------------------------------------------------


def _round6_half_up(x):
    """Vectorized twin of Spark's round(double, 6): BigDecimal.valueOf(x)
    (= shortest decimal repr) setScale(6, HALF_UP); NaN and +-inf pass
    through. Fast path floor(x*1e6 + 0.5). It can misround only near a
    .5 boundary of y = x*1e6: the product and the shortest-repr vs exact
    binary gap are each off by at most ~2^-53 * |y|. A decimal slow path
    takes the guard band |frac-0.5| < max(1e-6, 1e-12 * |y|), which
    grows with magnitude (a fixed band misrounds past |x| ~ 4e3) and
    covers every value once |y| nears 2^52, where y + 0.5 itself rounds,
    or overflows. Ties go away from zero on either sign, as in Spark."""
    import numpy as np

    with np.errstate(over="ignore", invalid="ignore"):  # inf/NaN inputs
        y = x * 1e6
        frac = y - np.floor(y)
        out = np.floor(y + 0.5) / 1e6
        band = np.maximum(1e-6, np.abs(y) * 1e-12)
        # NaN frac: x*1e6 overflowed for a finite x
        mask = ~(np.abs(frac - 0.5) >= band) & np.isfinite(x)
    if mask.any():
        from decimal import ROUND_HALF_UP, Decimal, localcontext

        q = Decimal("0.000001")
        with localcontext() as ctx:
            ctx.prec = 400  # 309 integer digits of the largest double + 6
            vals = [
                float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP))
                for v in np.atleast_1d(x[mask])
            ]
        out[mask] = vals
    return out


def _vec_matrix(vcol, dim: int):
    """(n, dim) float64 matrix from an Arrow list<double> column; raises
    ValueError if any row's length differs from the centroids' dim."""
    import numpy as np

    if hasattr(vcol, "combine_chunks"):
        vcol = vcol.combine_chunks()
    offsets = vcol.offsets.to_numpy(zero_copy_only=False)
    if not (np.diff(offsets) == dim).all():
        raise ValueError("embedding rows are not uniformly sized")
    flat = vcol.values.to_numpy(zero_copy_only=False).astype(np.float64)
    base = offsets[0]
    return flat[base : base + len(vcol) * dim].reshape(-1, dim)


def _seq_sq_dists(v, cents):
    """(n, K) squared L2 distances, accumulated sequentially over dims
    (the float op order of the oracle's left fold)."""
    import numpy as np

    n, dim = v.shape
    out = np.empty((n, len(cents)), dtype=np.float64)
    for k, c in enumerate(cents):
        acc = np.zeros(n, dtype=np.float64)
        for i in range(dim):
            d = v[:, i] - c[i]
            acc = acc + d * d
        out[:, k] = acc
    return out


def assign_clusters_arrow(
    docs_emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, [v,] cluster, sqdist): nearest-centroid assignment — argmin
    over raw distances, ties to the lowest cluster (numpy first-occurrence
    argmin); sqdist is the raw double, callers round it. ``id`` passes
    through with the caller's type; ``keep_vec`` adds the vector as
    array<double>. Ragged rows raise ValueError (_vec_matrix)."""
    dim = len(centroids[0])
    cents = [list(map(float, c)) for c in centroids]
    sel = docs_emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                if batch.num_rows == 0:
                    continue
                v = _vec_matrix(batch.column("v"), dim)
                dists = _seq_sq_dists(v, cents)
                cluster = np.argmin(dists, axis=1)
                sq = dists[np.arange(len(cluster)), cluster]
                cols = [batch.column("id")]
                names = ["id"]
                if keep_vec:
                    cols.append(batch.column("v"))
                    names.append("v")
                cols += [
                    pa.array(cluster.astype(np.int32), type=pa.int32()),
                    pa.array(sq, type=pa.float64()),
                ]
                names += ["cluster", "sqdist"]
                yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = f"id {sel.schema['id'].dataType.simpleString()}, " + (
        "v array<double>, " if keep_vec else ""
    ) + "cluster int, sqdist double"
    return sel.mapInArrow(_kernel, schema=schema)


def coded_corpus_arrow(
    emb: DataFrame,
    coarse_cents: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, code_0..code_{M-1}): the IVFADC encode — coarse
    argmin (raw distances, ties to lowest cell), residual v - c_cell,
    per-subspace PQ code = 1-based first-position argmin over the
    6dp-ROUNDED codeword distances (the DuckDB twin's
    array_position(darr, array_min(darr)) on rounded values). With one
    all-zero coarse cell it is the plain PQ encode (similarity.pq_encode).
    ``id`` is cast to long; ragged rows raise ValueError."""
    dim = len(coarse_cents[0])
    n_m = len(codebooks)
    dsub = len(codebooks[0][0])
    cents = [list(map(float, c)) for c in coarse_cents]
    books = [[list(map(float, cw)) for cw in book] for book in codebooks]
    sel = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _kernel(batch_iter):
        import numpy as np
        import pyarrow as pa

        cents_arr = np.array(cents, dtype=np.float64)
        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                if batch.num_rows == 0:
                    continue
                v = _vec_matrix(batch.column("v"), dim)
                cluster = np.argmin(_seq_sq_dists(v, cents), axis=1)
                r = v - cents_arr[cluster]
                cols = [
                    batch.column("id"),
                    pa.array(cluster.astype(np.int32), type=pa.int32()),
                ]
                names = ["id", "cluster"]
                for m in range(n_m):
                    sub = r[:, m * dsub : (m + 1) * dsub]
                    darr = _round6_half_up(
                        np.stack(
                            [
                                _seq_sq_dists(sub, [cw])[:, 0]
                                for cw in books[m]
                            ],
                            axis=1,
                        )
                    )
                    code = np.argmin(darr, axis=1) + 1  # 1-based, first min
                    cols.append(pa.array(code.astype(np.int32), type=pa.int32()))
                    names.append(f"code_{m}")
                yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = "id long, cluster int, " + ", ".join(
        f"code_{m} int" for m in range(n_m)
    )
    return sel.mapInArrow(_kernel, schema=schema)


# ---------------------------------------------------------------------------
# trigram postings: (trigram, doc_id) distinct per doc — index/trigram
# ---------------------------------------------------------------------------


def trigram_postings_arrow(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Distinct lowercased 3-char windows per doc. Lowercasing stays in
    the JVM (F.lower) so the case mapping is Spark's on any unicode
    input; the kernel does only the window slicing + per-doc dedup
    (code-point based, like Column.substr)."""
    sel = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.lower(F.col(content_col)).alias("content"),
    )

    def _kernel(batch_iter):
        import pyarrow as pa

        for full in batch_iter:
            for off in range(0, full.num_rows, CHUNK_DOCS):
                batch = full.slice(off, CHUNK_DOCS)
                texts = batch.column("content").to_pylist()
                doc_idx: list[int] = []
                grams: list[str] = []
                for i, s in enumerate(texts):
                    if s is None or len(s) < 3:
                        continue
                    seen = set()
                    add = seen.add
                    for j in range(len(s) - 2):
                        add(s[j : j + 3])
                    doc_idx.extend([i] * len(seen))
                    grams.extend(seen)
                if not grams:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("doc_id").take(pa.array(doc_idx, type=pa.int64())),
                        pa.array(grams, type=pa.string()),
                    ],
                    names=["doc_id", "trigram"],
                )

    out_schema = f"doc_id {docs.schema[doc_id_col].dataType.simpleString()}, trigram string"
    return sel.mapInArrow(_kernel, schema=out_schema)


# ---------------------------------------------------------------------------
# title arrays: the Q11 title-boost inputs of query/engine's doc meta
# ---------------------------------------------------------------------------


def title_arrays_arrow(df: DataFrame, title_col: str = "title") -> DataFrame:
    """``df``'s columns with their types, plus ``title_toks``, the
    ``tokenize_py`` tokens of ``title_col``, and ``title_stems``, their
    ``porter_stem`` stems (both array<string>; a NULL title has none).
    Titles are at most 200 chars (title_col), so each is tokenized in
    Python: the query-side tokenizer exactly, unicode whitespace
    included, where the RE2 chain of _flat_tokens splits on ASCII
    whitespace only."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    arrays = ["title_toks", "title_stems"]
    schema = StructType(
        df.schema.fields + [StructField(a, ArrayType(StringType())) for a in arrays]
    )

    def _kernel(batch_iter):
        import pyarrow as pa

        from ..functions.stemmer import porter_stem

        for batch in batch_iter:
            toks = [T.tokenize_py(t or "") for t in batch.column(title_col).to_pylist()]
            stems = [[porter_stem(w) for w in ts] for ts in toks]
            yield pa.RecordBatch.from_arrays(
                batch.columns + [pa.array(v, type=pa.list_(pa.string())) for v in (toks, stems)],
                names=batch.schema.names + arrays,
            )

    return df.mapInArrow(_kernel, schema=schema)
