"""Block-max top-k over compressed segments (north-star query path).

One numpy kernel, :func:`block_max_topk`, answers every segment top-k:
the driver-side :func:`wand_topk` and the executor-side
:func:`distributed_topk_batch` both call it. It scores posting blocks as
columnar vectors ("Columnar Formatted Inverted Index", ICDE'25) rather
than through per-document cursors, and uses the per-block max scores of
Block-Max WAND (Ding & Suel 2011) to leave hopeless blocks encoded.

Skip rule. A block's bound is its max_score plus, for each other term,
the largest of that term's undecoded-block max_scores and decoded posting
scores over the block's docnum span (skipped blocks count 0). A block is
skipped when its bound is strictly below tau, the largest of: the
caller's tau0; each term's k-th largest block max_score (one term's
blocks hold distinct docs and a max_score is an achieved score); the
k-th largest partial sum so far. Each certifies k docs scoring at least
tau, so tau <= the true k-th score. A true top-k doc scores >= tau, and
while none of its blocks is skipped each of them bounds its score, so
none ever is: its score is exact. A doc with a skipped block scores
below tau, so its partial sum ranks below k exact ones. Bounds and sums
are added in term order, so a float bound never falls below the float
score it covers and exact ties survive the strict test.

Deterministic total order: (score desc, docnum asc) — SURVEY §4 item 5.
"""

from __future__ import annotations

import numpy as np

from ..query.engine import BM25_B, BM25_K1
from .codec import decode_docnums, varint_decode

INF = np.iinfo(np.int64).max


def _gather(stream, sel):
    """Concatenated bytes of blocks `sel` from a (uint8 buffer, int64
    [n, 2] byte spans) stream, with each block's offset and length."""
    buf, spans = stream
    start, n = spans[sel, 0], spans[sel, 1] - spans[sel, 0]
    out = np.cumsum(n) - n
    return buf[np.arange(n.sum()) + np.repeat(start - out, n)], out, n


def _range_max(val, i0, i1):
    """max(val[i0[j]:i1[j]]) per j, 0 for an empty range."""
    out = np.zeros(len(i0))
    nz = np.flatnonzero(i1 > i0)
    if len(nz):
        idx = np.column_stack((i0[nz], i1[nz])).ravel()
        out[nz] = np.maximum.reduceat(np.append(val, 0.0), idx)[::2]
    return out


def block_max_topk(
    term, first, last, max_score, idf, docs, tfs, dls,
    avgdl: float, k: int, lo: int = 0, hi: int = INF, tau0: float = -np.inf,
):
    """Exact BM25 top-k of one query's posting blocks.

    Per block: term index, first and last docnum, max_score, idf_bm25;
    docs/tfs/dls are the encoded streams as (uint8 buffer, int64 [n, 2]
    byte spans). Only docnums in [lo, hi) count; tau0 is a known lower
    bound on the k-th score. Rounds bound the undecoded blocks, skip the
    hopeless ones (module docstring) and decode the highest-bound rest
    in batches that double. Returns (docnums, scores) in (score desc,
    docnum asc) order and the mask of decoded blocks, in input order.
    """
    order = np.lexsort((first, term))  # term-major: sums in term order
    term, first, last, max_score, idf = (
        np.asarray(a)[order] for a in (term, first, last, max_score, idf)
    )
    docs, tfs, dls = ((buf, np.asarray(sp)[order]) for buf, sp in (docs, tfs, dls))
    s_lo, s_hi = np.maximum(first, lo), np.minimum(last, hi - 1)
    # each term's k-th largest block max_score
    by_ms = np.lexsort((-max_score, term))
    rank = np.arange(len(term)) - np.searchsorted(term[by_ms], term[by_ms])
    tau = max(tau0, max_score[by_ms][rank == k - 1].max(initial=-np.inf))
    decoded = np.zeros(len(term), dtype=bool)
    live = np.ones(len(term), dtype=bool)  # neither decoded nor skipped
    pdoc, pscore, pblk = np.empty(0, np.int64), np.empty(0), np.empty(0, np.int64)
    uniq, acc = pdoc, pscore
    batch = 1
    while live.any():
        cand = np.flatnonzero(live)
        bound = np.zeros(len(cand))
        for t in np.unique(term):
            und = np.flatnonzero(live & (term == t))
            dec = term[pblk] == t
            p_lo = np.concatenate((s_lo[und], pdoc[dec]))
            p_hi = np.concatenate((s_hi[und], pdoc[dec]))
            p_val = np.concatenate((max_score[und], pscore[dec]))
            o = np.argsort(p_lo, kind="stable")
            other = _range_max(
                p_val[o],
                np.searchsorted(p_hi[o], s_lo[cand]),
                np.searchsorted(p_lo[o], s_hi[cand], side="right"),
            )
            bound += np.where(term[cand] == t, max_score[cand], other)
        keep = bound >= tau
        live[cand[~keep]] = False
        cand, bound = cand[keep], bound[keep]
        if not len(cand):
            break
        sel = np.sort(cand[np.argsort(-bound, kind="stable")[:batch]])
        batch *= 2
        live[sel], decoded[sel] = False, True
        # one varint_decode per stream for the whole batch; the docnum
        # gaps restart at each block's first (absolute) value
        raw, off, n = _gather(docs, sel)
        ends = np.concatenate(([0], np.cumsum(raw < 0x80)))
        cnt = ends[off + n] - ends[off]
        csum = np.concatenate(([0], np.cumsum(varint_decode(raw.tobytes()).astype(np.int64))))
        doc = csum[1:] - np.repeat(csum[np.cumsum(cnt) - cnt], cnt)
        tf = varint_decode(_gather(tfs, sel)[0].tobytes()).astype(np.float64)
        dl = varint_decode(_gather(dls, sel)[0].tobytes()).astype(np.float64)
        score = (
            np.repeat(idf[sel], cnt)
            * tf
            * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
        )
        m = (doc >= lo) & (doc < hi)
        blk = np.concatenate((pblk, np.repeat(sel, cnt)[m]))
        o = np.argsort(blk, kind="stable")
        pblk = blk[o]
        pdoc = np.concatenate((pdoc, doc[m]))[o]
        pscore = np.concatenate((pscore, score[m]))[o]
        uniq, inv = np.unique(pdoc, return_inverse=True)
        acc = np.zeros(len(uniq))
        np.add.at(acc, inv, pscore)
        if len(acc) >= k:
            tau = max(tau, np.partition(acc, len(acc) - k)[len(acc) - k])
    top = np.lexsort((uniq, -acc))[:k]
    mask = np.empty_like(decoded)
    mask[order] = decoded
    return uniq[top], acc[top], mask


def _bytes_stream(chunks):
    n = np.fromiter(map(len, chunks), dtype=np.int64, count=len(chunks))
    off = np.zeros(len(chunks) + 1, dtype=np.int64)
    np.cumsum(n, out=off[1:])
    buf = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    return buf, np.column_stack((off[:-1], off[1:]))


def block_arrays(seg_rows: list[dict]):
    """block_max_topk's per-block arguments from collected segment rows
    (term index = row order; a block's first docnum = the previous
    block's last_docnum + 1)."""
    blocks = [(t, r["idf_bm25"], b) for t, r in enumerate(seg_rows) for b in r["blocks"]]
    term = np.array([t for t, _, _ in blocks], dtype=np.int64)
    last = np.array([b["last_docnum"] for _, _, b in blocks], dtype=np.int64)
    first = np.zeros_like(last)
    first[1:] = np.where(term[1:] == term[:-1], last[:-1] + 1, 0)
    return (
        term,
        first,
        last,
        np.array([b["max_score"] for _, _, b in blocks], dtype=np.float64),
        np.array([idf for _, idf, _ in blocks], dtype=np.float64),
        *(_bytes_stream([b[c] for _, _, b in blocks]) for c in ("docs", "tfs", "dls")),
    )


def wand_topk(seg_rows: list[dict], avgdl: float, k: int) -> list[tuple[int, float]]:
    """Top-k (docnum, bm25_score) over the given term segment rows, on the
    driver: == bruteforce_topk, in (score desc, docnum asc) order."""
    docs, scores, _ = block_max_topk(*block_arrays(seg_rows), avgdl, k)
    return list(zip(docs.tolist(), scores.tolist()))


def distributed_topk(
    spark,
    seg_df,
    avgdl: float,
    k: int,
    n_ranges: int = 8,
    max_docnum: int | None = None,
):
    """Executor-side BM25 top-k over pruned compressed segments for ONE
    query — thin wrapper over distributed_topk_batch (a constant
    query_id); see that function for the plan shape and the module
    docstring for the skip rule and its exactness argument.

    Returns [(docnum, score)] == bruteforce_topk/wand_topk output order
    (score desc, docnum asc).
    """
    import pyspark.sql.functions as F

    tagged = seg_df.select(
        F.lit("q").alias("query_id"), "term", "idf_bm25", "blocks"
    )
    return distributed_topk_batch(
        spark, tagged, avgdl, k, n_ranges=n_ranges, max_docnum=max_docnum
    ).get("q", [])


def distributed_topk_batch(
    spark,
    tagged_seg_df,
    avgdl: float,
    k: int,
    n_ranges: int = 8,
    max_docnum: int | None = None,
):
    """Executor-side BM25 top-k for a BATCH of queries in ONE Spark job:
    the driver never touches posting bytes, and batching amortizes the
    per-job Python-stage floor across the query set.

    tagged_seg_df: (query_id string, term string, idf_bm25 double,
    blocks array<struct<last_docnum, max_score, docs, tfs, dls>>) — one
    row per (query, term); build it with
    segments.read_segments_for_queries.

    Plan shape (sizes are the batch's union of compressed lists):
      1. map-side, per (query, term) row: each block's first_docnum (the
         previous block's last_docnum + 1) and the term's k-th largest
         block max_score (term_kth), then explode the blocks.
      2. assign each block to every doc-range it overlaps (blocks stay
         ENCODED; shuffle volume = compressed bytes).
      3. repartition by (query_id, range_id): each docnum's blocks for a
         query land in one partition, where block_max_topk runs per
         (query, range) with the range and tau0 = the query's largest
         term_kth; skipping is exact by the rule in the module docstring.
      4. collect of <= queries x n_ranges x k rows and a driver-side
         per-query merge.
    The only shuffle is the (query, range) repartition; raise n_ranges
    with corpus size.

    Returns {query_id: [(docnum, score)]} with each list in
    (score desc, docnum asc) order, == bruteforce_topk per query.
    """
    import pyspark.sql.functions as F

    if max_docnum is None:
        row = tagged_seg_df.agg(
            F.max(F.expr("blocks[size(blocks) - 1].last_docnum")).alias("m")
        ).collect()[0]
        if row["m"] is None:
            return {}
        max_docnum = int(row["m"])
    range_size = max(1, (max_docnum + n_ranges) // n_ranges)

    with_first = tagged_seg_df.select(
        "query_id",
        "term",
        "idf_bm25",
        # k-th largest block max_score of THIS (query, term) (null when
        # the term has < k blocks — then it certifies nothing); CASE
        # guards the subscript under ANSI mode
        F.expr(
            f"CASE WHEN size(blocks) >= {k} THEN "
            f"sort_array(transform(blocks, b -> b.max_score), false)[{k - 1}] "
            "ELSE CAST(NULL AS DOUBLE) END"
        ).alias("term_kth"),
        F.expr(
            "transform(blocks, (b, i) -> struct("
            "CASE WHEN i = 0 THEN CAST(0 AS BIGINT) "
            "ELSE blocks[i - 1].last_docnum + 1 END AS first_docnum, "
            "b.last_docnum AS last_docnum, b.max_score AS max_score, "
            "b.docs AS docs, b.tfs AS tfs, b.dls AS dls))"
        ).alias("blocks"),
    )
    b = with_first.select(
        "query_id", "term", "idf_bm25", "term_kth", F.explode("blocks").alias("block")
    )
    sharded = (
        b.withColumn(
            "range_id",
            F.explode(
                F.sequence(
                    (F.col("block.first_docnum") / range_size).cast("int"),
                    (F.col("block.last_docnum") / range_size).cast("int"),
                )
            ),
        )
        .select(
            "query_id",
            "range_id",
            "term",
            "idf_bm25",
            "term_kth",
            F.col("block.first_docnum").alias("first_docnum"),
            F.col("block.last_docnum").alias("last_docnum"),
            F.col("block.max_score").alias("max_score"),
            F.col("block.docs").alias("docs"),
            F.col("block.tfs").alias("tfs"),
            F.col("block.dls").alias("dls"),
        )
    )

    def _score_partition(batch_iter):
        import pyarrow as pa

        batches = [b for b in batch_iter if b.num_rows]
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        col = {n: table.column(n).combine_chunks() for n in table.column_names}
        qid = col["query_id"].to_numpy(zero_copy_only=False)
        rid = col["range_id"].to_numpy()
        tid = np.unique(col["term"].to_numpy(zero_copy_only=False), return_inverse=True)[1]
        kth = col["term_kth"].to_numpy(zero_copy_only=False)  # null -> nan
        meta = [col[n].to_numpy() for n in ("first_docnum", "last_docnum", "max_score", "idf_bm25")]
        streams = [_bytes_stream(col[n].to_pylist()) for n in ("docs", "tfs", "dls")]
        out_q, out_d, out_s = [], [], []
        for q in np.unique(qid):
            rows = np.flatnonzero(qid == q)
            tau0 = np.fmax.reduce(kth[rows], initial=-np.inf)
            for r in np.unique(rid[rows]):
                g = rows[rid[rows] == r]
                lo = int(r) * range_size
                d, sc, _ = block_max_topk(
                    tid[g], *(m[g] for m in meta), *((bf, sp[g]) for bf, sp in streams),
                    avgdl, k, lo, lo + range_size, tau0,
                )
                out_q += [q] * len(d)
                out_d.append(d)
                out_s.append(sc)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out_q, type=pa.string()),
                pa.array(np.concatenate(out_d), type=pa.int64()),
                pa.array(np.concatenate(out_s), type=pa.float64()),
            ],
            names=["query_id", "docnum", "score"],
        )

    collected = (
        sharded.repartition(n_ranges, "query_id", "range_id")
        .mapInArrow(
            _score_partition, schema="query_id string, docnum long, score double"
        )
        .collect()
    )
    merged: dict = {}
    for r in collected:
        merged.setdefault(r["query_id"], []).append(
            (int(r["docnum"]), float(r["score"]))
        )
    return {
        qid: sorted(rows, key=lambda t: (-t[1], t[0]))[:k]
        for qid, rows in merged.items()
    }


def bruteforce_topk(seg_rows: list[dict], avgdl: float, k: int) -> list[tuple[int, float]]:
    """Reference implementation for differential testing: decode everything,
    accumulate, sort."""
    acc: dict[int, float] = {}
    for r in seg_rows:
        idf = float(r["idf_bm25"])
        for b in r["blocks"]:
            docs = decode_docnums(bytes(b["docs"])).astype(np.int64)
            tfs = varint_decode(bytes(b["tfs"])).astype(np.float64)
            dls = varint_decode(bytes(b["dls"])).astype(np.float64)
            scores = (
                idf * tfs * (BM25_K1 + 1.0)
                / (tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / avgdl))
            )
            for d, s in zip(docs.tolist(), scores.tolist()):
                acc[d] = acc.get(d, 0.0) + s
    ranked = sorted(acc.items(), key=lambda t: (-t[1], t[0]))[:k]
    return [(d, s) for d, s in ranked]
