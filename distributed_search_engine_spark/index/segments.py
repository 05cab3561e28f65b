"""Partitioned compressed index segments + lineage manifests + resume.

North-star physical layer: postings are salted-repartitioned by term hash,
sorted-merged per term into delta-gap + varint blocks with per-block
max-score metadata, and persisted as Parquet partitioned by
``part = pmod(xxhash64(term), n_partitions)`` — so a query's term lookups
are partition-pruned scans. A manifest row per partition (FIXTURES.md §4)
records lineage and enables checkpointed resume: a re-run skips partitions
whose manifest row is already 'done' (the Spark analog of the reference's
hash-bucket checkpoint loop, jobs/Indexer.java:368-396,1247-1252).

Docnum assignment (dense int64 per doc_id) is the scalable two-phase
pattern: range-partition by doc_id, count per partition (small collect),
cumulative base offsets + within-partition rank — no global window, no
single-task sort.
"""

from __future__ import annotations

import functools
import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..literals import array_map, local_frame
from ..query.engine import BM25_B, BM25_K1
from .codec import (
    BLOCK_SIZE,
    block_boundaries,
    encode_docnums,
    varint_encode,
)

# normalized_tf is NOT persisted: for uniform-weight corpora (weight 1.0 —
# everything the segment layer serves today) it is a pure function of the
# stored tf and the doc's max_tf, so the decode path recomputes it with the
# exact finalize_postings expression after the docnum join (bit-identical,
# zero segment bytes). A weighted corpus would persist weighted_tf here.

MANIFEST_COLS = [
    "partition_id", "status", "input_rows", "output_rows", "bytes", "wall_ms",
]


def _pa_segment_fields():
    import pyarrow as pa

    return [
        ("part", pa.int32()),
        ("term", pa.string()),
        ("df", pa.int32()),
        ("idf", pa.float64()),
        ("idf_bm25", pa.float64()),
        ("is_stop", pa.bool_()),
        ("n_docs", pa.int32()),
        (
            "blocks",
            pa.list_(
                pa.struct(
                    [
                        ("last_docnum", pa.int64()),
                        ("max_score", pa.float64()),
                        ("docs", pa.binary()),
                        ("tfs", pa.binary()),
                        ("dls", pa.binary()),
                    ]
                )
            ),
        ),
        ("positions", pa.binary()),
    ]


try:  # resolved once per process (driver and python workers alike)
    _PA_SEGMENT_FIELDS = _pa_segment_fields()
except Exception:  # pragma: no cover
    _PA_SEGMENT_FIELDS = []


@functools.lru_cache(maxsize=None)
def segment_schema() -> StructType:
    """The stored row as a Spark schema: the encode kernel's output schema,
    and the read schema (Parquet lists the part= column last either way),
    so a read infers nothing from the files."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pa.schema(_pa_segment_fields()))


def assign_docnums(doc_stats: DataFrame, n_partitions: int = 32) -> DataFrame:
    """doc_stats + dense docnum (long), deterministic given doc_id set.

    Two-phase: range partition by doc_id -> per-partition counts (tiny
    collect) -> base offset (a partition -> base map literal) + local rank
    within partition. Scales without a global sort window."""
    parted = doc_stats.repartitionByRange(n_partitions, "doc_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = parted.persist()
    counts = {
        r["_pid"]: r["c"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    base, acc = [], 0
    for pid in range(n_partitions):
        base += [F.lit(pid), F.lit(acc).cast("long")]
        acc += counts.get(pid, 0)
    w = Window.partitionBy("_pid").orderBy("doc_id")
    return parted.withColumn(
        "docnum", F.row_number().over(w) - 1 + F.create_map(*base)[F.col("_pid")]
    ).drop("_pid")


def _encode_partition(batch_iter, avgdl: float, rows_acc=None):
    """mapInArrow kernel over ONE term-hash partition: the kernel sorts
    its partition by (part, term, docnum) itself (Arrow sort_indices +
    take — bytewise string order, identical to Spark's UTF8 binary
    ordering, and the key is unique so the order is total), so the
    upstream plan needs only the part-keyed repartition, not a Tungsten
    sortWithinPartitions of the full posting rows (round-6: the external
    row sort serialized every positions array through the sorter; the
    Arrow take is a single columnar gather). Everything downstream is
    numpy over zero-copy Arrow buffers — no pandas object columns, no
    per-row python."""
    import pyarrow as pa
    import pyarrow.compute as _pc

    batches = list(batch_iter)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).combine_chunks()
    n_rows = tbl.num_rows
    if n_rows == 0:
        return
    order = _pc.sort_indices(
        tbl,
        sort_keys=[
            ("part", "ascending"),
            ("term", "ascending"),
            ("docnum", "ascending"),
        ],
    )
    tbl = tbl.take(order).combine_chunks()
    part = tbl.column("part").chunk(0).to_numpy(zero_copy_only=False)
    if rows_acc is not None:
        # manifest input_rows lineage metric, collected inside the encode
        # job itself (round-2 ran a separate count aggregation per batch —
        # a second full pass over the postings). Accumulator semantics are
        # metrics-grade: a retried task could double-count, like the
        # reference's stage timers (jobs/Indexer.java:1261-1265).
        vals, counts = np.unique(part, return_counts=True)
        rows_acc.add({int(p): int(c) for p, c in zip(vals, counts)})
    terms = tbl.column("term").chunk(0)
    docnums = tbl.column("docnum").chunk(0).to_numpy(zero_copy_only=False).astype(np.uint64)
    tfs_all = tbl.column("tf").chunk(0).to_numpy(zero_copy_only=False).astype(np.uint64)
    dls_all = tbl.column("doc_len").chunk(0).to_numpy(zero_copy_only=False).astype(np.uint64)
    dfs_all = tbl.column("df").chunk(0).to_numpy(zero_copy_only=False)
    idf_all = tbl.column("idf").chunk(0).to_numpy(zero_copy_only=False)
    idfb_all = tbl.column("idf_bm25").chunk(0).to_numpy(zero_copy_only=False)
    stop_all = tbl.column("is_stop").chunk(0).to_numpy(zero_copy_only=False)
    plist = tbl.column("positions").chunk(0)
    pos_offsets = plist.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    pos_values = plist.values.to_numpy(zero_copy_only=False).astype(np.uint64)

    scores_all = (
        idfb_all
        * tfs_all.astype(np.float64)
        * (BM25_K1 + 1.0)
        / (tfs_all + BM25_K1 * (1.0 - BM25_B + BM25_B * dls_all.astype(np.float64) / avgdl))
    )
    # term-run boundaries (input sorted by term)
    import pyarrow.compute as pc

    codes = pc.dictionary_encode(terms).indices.to_numpy(zero_copy_only=False)
    boundary = np.empty(n_rows, dtype=bool)
    boundary[0] = True
    boundary[1:] = codes[1:] != codes[:-1]
    gstart = np.nonzero(boundary)[0]
    gend = np.append(gstart[1:], n_rows)

    # ---- fully vectorized encode (round-4): the former per-term loop
    # called varint_encode per block per stream (~3 tiny numpy calls per
    # block + python dict assembly per term) and dominated
    # segments_build_60k. Now each stream is encoded ONCE for the whole
    # partition and cut at value boundaries (LEB128 is per-value
    # self-delimiting, and docnum gaps reset at every block start, so the
    # cut bytes are identical to per-block encodes — regression-tested
    # byte-for-byte in test_segments.py). Per-block/term metadata comes
    # from reduceat/fancy indexing; the output binary columns are
    # zero-copy Arrow views over the stream buffers.
    from .codec import positions_stream, varint_encode_with_offsets

    G = len(gstart)
    n_g = gend - gstart
    nb = (n_g + BLOCK_SIZE - 1) // BLOCK_SIZE  # blocks per term
    total_blocks = int(nb.sum())
    first_blk = np.cumsum(nb) - nb
    bgrp = np.repeat(np.arange(G), nb)
    within = np.arange(total_blocks) - first_blk[bgrp]
    bs = gstart[bgrp] + within * BLOCK_SIZE
    # blocks tile the partition contiguously: be[i] == bs[i+1], be[-1] == n

    # docs: partition-wide gaps, absolute value at each block start (every
    # term start is a block start, so cross-term wrap-around is overwritten)
    gaps = np.empty_like(docnums)
    gaps[1:] = docnums[1:] - docnums[:-1]
    gaps[bs] = docnums[bs]
    docs_bytes, doff = varint_encode_with_offsets(gaps)
    tfs_bytes, toff = varint_encode_with_offsets(tfs_all)
    dls_bytes, loff = varint_encode_with_offsets(dls_all)

    blk_bounds = np.append(bs, n_rows)
    last_docnum = docnums[blk_bounds[1:] - 1].astype(np.int64)
    max_score = np.maximum.reduceat(scores_all, bs)

    def _bin(full: bytes, off: np.ndarray, bounds: np.ndarray):
        if off[-1] > np.iinfo(np.int32).max:  # pragma: no cover
            raise ValueError(
                "segment partition exceeds 2 GiB of encoded postings; "
                "raise build_segments n_partitions"
            )
        cuts = off[bounds].astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(bounds) - 1,
            [None, pa.py_buffer(cuts.tobytes()), pa.py_buffer(full)],
        )

    blocks_struct = pa.StructArray.from_arrays(
        [
            pa.array(last_docnum, type=pa.int64()),
            pa.array(max_score, type=pa.float64()),
            _bin(docs_bytes, doff, blk_bounds),
            _bin(tfs_bytes, toff, blk_bounds),
            _bin(dls_bytes, loff, blk_bounds),
        ],
        names=["last_docnum", "max_score", "docs", "tfs", "dls"],
    )
    blocks_list = pa.ListArray.from_arrays(
        pa.array(np.append(first_blk, total_blocks).astype(np.int32)),
        blocks_struct,
    )

    # positions: one [len, first, gap...] stream for the whole partition
    # (gaps reset at every posting start), cut at term boundaries
    pbase = pos_offsets[0]
    plens_all = np.diff(pos_offsets)
    pstream = positions_stream(
        pos_values[pbase : pos_offsets[n_rows]], plens_all
    )
    pos_bytes, poff = varint_encode_with_offsets(pstream)
    # stream value index of row r's first token = (flat positions before
    # r) + (one len token per earlier row)
    row_val_idx = (pos_offsets - pbase) + np.arange(n_rows + 1)
    term_bounds = row_val_idx[np.append(gstart, n_rows)]
    positions_arr = _bin(pos_bytes, poff, term_bounds)

    yield pa.RecordBatch.from_arrays(
        [
            pa.array(part[gstart].astype(np.int32), type=pa.int32()),
            terms.take(pa.array(gstart)),
            pa.array(dfs_all[gstart].astype(np.int32), type=pa.int32()),
            pa.array(idf_all[gstart], type=pa.float64()),
            pa.array(idfb_all[gstart], type=pa.float64()),
            pa.array(stop_all[gstart], type=pa.bool_()),
            pa.array(n_g.astype(np.int32), type=pa.int32()),
            blocks_list,
            positions_arr,
        ],
        names=[name for name, _ in _PA_SEGMENT_FIELDS],
    )


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.jsonl")


def read_manifest(out_dir: str) -> dict[int, dict]:
    path = _manifest_path(out_dir)
    done: dict[int, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                row = json.loads(line)
                if row.get("status") == "done":
                    done[row["partition_id"]] = row
    return done


def _append_manifest(out_dir: str, rows: list[dict]) -> None:
    with open(_manifest_path(out_dir), "a") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")


def build_segments(
    postings: DataFrame,
    term_stats: DataFrame,
    doc_stats_with_docnum: DataFrame,
    out_dir: str,
    avgdl: float,
    n_partitions: int = 32,
    batch_partitions: int = 8,
    fail_after_batches: int | None = None,
) -> None:
    """Build compressed segments under out_dir/part=<p>/, checkpointed.

    Partitions are processed in batches (one Spark job each); a manifest row
    per partition lands after its batch commits, so a crash resumes from the
    last complete batch. ``fail_after_batches`` injects a crash for the
    resume test. Idempotent: done partitions are skipped on re-run.
    """
    os.makedirs(out_dir, exist_ok=True)
    done = read_manifest(out_dir)
    todo = [p for p in range(n_partitions) if p not in done]
    if not todo:
        return

    # slim projection BEFORE the encoder shuffle: the logical postings
    # carry weights/normalized_tf/weighted_tf columns the encoder never
    # reads — dropping them here cuts encoder-shuffle bytes substantially
    # (weights alone is an array as long as positions)
    enriched = (
        postings.select("term", "doc_id", "tf", "doc_len", "positions")
        .join(doc_stats_with_docnum.select("doc_id", "docnum"), "doc_id")
        .join(term_stats.select("term", "df", "idf", "idf_bm25", "is_stop"), "term")
        .withColumn("part", F.pmod(F.xxhash64("term"), F.lit(n_partitions)).cast("int"))
        .select(
            "part", "term", "docnum", "tf", "doc_len", "positions",
            "df", "idf", "idf_bm25", "is_stop",
        )
    )
    # cache only when several batch jobs will re-scan it; a single-batch
    # build would pay the cache write for one read
    multi_batch = len(todo) > batch_partitions
    if multi_batch:
        enriched = enriched.persist()

    from pyspark.accumulators import AccumulatorParam

    class _DictSumParam(AccumulatorParam):
        def zero(self, value):
            return {}

        def addInPlace(self, v1, v2):
            for k, c in v2.items():
                v1[k] = v1.get(k, 0) + c
            return v1

    sc = postings.sparkSession.sparkContext
    batches_done = 0
    for i in range(0, len(todo), batch_partitions):
        batch = todo[i : i + batch_partitions]
        t0 = time.time()
        sub = enriched.where(F.col("part").isin(batch))
        rows_acc = sc.accumulator({}, _DictSumParam())
        seg = (
            sub.repartition(max(2 * len(batch), 8), "part")
            # no sortWithinPartitions: the encode kernel lexsorts its
            # partition columnarly (see _encode_partition) — the external
            # row sort of the full posting rows was ~1/3 of the stage
            .mapInArrow(
                lambda it: _encode_partition(it, avgdl, rows_acc),
                schema=segment_schema(),
            )
        )
        (
            seg.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part")
            .parquet(out_dir + "/data")
        )
        wall_ms = int((time.time() - t0) * 1000)
        input_rows = dict(rows_acc.value)
        rows = []
        for p in batch:
            pdir = os.path.join(out_dir, "data", f"part={p}")
            nbytes = sum(
                os.path.getsize(os.path.join(pdir, f))
                for f in os.listdir(pdir)
            ) if os.path.isdir(pdir) else 0
            rows.append(
                {
                    "partition_id": p,
                    "status": "done",
                    "input_rows": int(input_rows.get(p, 0)),
                    "output_rows": None,
                    "bytes": nbytes,
                    "wall_ms": wall_ms,
                }
            )
        _append_manifest(out_dir, rows)
        batches_done += 1
        if fail_after_batches is not None and batches_done >= fail_after_batches:
            if multi_batch:
                enriched.unpersist()
            raise RuntimeError("injected failure for resume test")
    if multi_batch:
        enriched.unpersist()


# --- driver-side twin of Spark's xxhash64(string) (XXH64, seed 42) -------
# so mapping a query's terms to their part= directories costs zero Spark
# jobs (round-2 launched a tiny job per interactive query just for this);
# equality with F.xxhash64 is pytest-gated (test_segments.py)

_XXH_MASK = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH_MASK


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """Signed-int64 XXH64 of ``data`` — bit-identical to Spark's
    ``F.xxhash64`` on a string column (which hashes the UTF-8 bytes with
    seed 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _XXH_MASK
        v2 = (seed + _XXH_P2) & _XXH_MASK
        v3 = seed
        v4 = (seed - _XXH_P1) & _XXH_MASK
        while i <= n - 32:
            lane = int.from_bytes(data[i : i + 8], "little")
            v1 = (_rotl64((v1 + lane * _XXH_P2) & _XXH_MASK, 31) * _XXH_P1) & _XXH_MASK
            lane = int.from_bytes(data[i + 8 : i + 16], "little")
            v2 = (_rotl64((v2 + lane * _XXH_P2) & _XXH_MASK, 31) * _XXH_P1) & _XXH_MASK
            lane = int.from_bytes(data[i + 16 : i + 24], "little")
            v3 = (_rotl64((v3 + lane * _XXH_P2) & _XXH_MASK, 31) * _XXH_P1) & _XXH_MASK
            lane = int.from_bytes(data[i + 24 : i + 32], "little")
            v4 = (_rotl64((v4 + lane * _XXH_P2) & _XXH_MASK, 31) * _XXH_P1) & _XXH_MASK
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _XXH_MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXH_P2) & _XXH_MASK, 31) * _XXH_P1) & _XXH_MASK
            h = (h * _XXH_P1 + _XXH_P4) & _XXH_MASK
    else:
        h = (seed + _XXH_P5) & _XXH_MASK
    h = (h + n) & _XXH_MASK
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl64((lane * _XXH_P2) & _XXH_MASK, 31) * _XXH_P1) & _XXH_MASK
        h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _XXH_MASK
        i += 8
    if i <= n - 4:
        lane = int.from_bytes(data[i : i + 4], "little")
        h ^= (lane * _XXH_P1) & _XXH_MASK
        h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _XXH_MASK
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _XXH_MASK
        h = (_rotl64(h, 11) * _XXH_P1) & _XXH_MASK
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_MASK
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_MASK
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_partition(term: str, n_partitions: int) -> int:
    """part = pmod(xxhash64(term), n_partitions) — the segment layout key,
    computed driver-side with zero Spark jobs."""
    return ((xxhash64_py(term.encode("utf-8")) % n_partitions) + n_partitions) % n_partitions


def read_segments_for_terms(
    spark: SparkSession, out_dir: str, terms: list[str], n_partitions: int = 32
) -> DataFrame:
    """Partition-pruned read: only the part= directories that can contain
    the query terms are scanned (check .explain: partition filters on part).
    Term->partition hashing runs driver-side (term_partition) so an
    interactive query launches exactly one Spark job: the read takes the
    stored schema (segment_schema()), so no job infers it from the files."""
    df = spark.read.schema(segment_schema()).parquet(out_dir + "/data")
    parts = sorted({term_partition(t, n_partitions) for t in terms})
    return df.where(F.col("part").isin(parts) & F.col("term").isin(terms))


def read_segments_for_queries(
    spark: SparkSession,
    out_dir: str,
    queries: dict[str, list[str]],
    n_partitions: int = 32,
) -> DataFrame:
    """Batch variant of read_segments_for_terms: ONE partition-pruned scan
    for the union of all queries' terms, each row exploded through a
    term -> query_ids map literal so each (query, term) pair gets its own
    tagged row — the input shape wand.distributed_topk_batch expects. A
    term shared by several queries is scanned once and fanned out."""
    by_term: dict[str, list[str]] = {}
    for qid, ts in queries.items():
        for t in ts:
            by_term.setdefault(t, []).append(qid)
    if not by_term:
        return local_frame(
            spark,
            "query_id string, term string, idf_bm25 double, "
            "blocks array<struct<last_docnum: long, max_score: double, "
            "docs: binary, tfs: binary, dls: binary>>",
        )
    base = read_segments_for_terms(spark, out_dir, sorted(by_term), n_partitions)
    qids = F.explode(array_map(by_term)[F.col("term")])
    return base.select(qids.alias("query_id"), "term", "idf_bm25", "blocks")


# ---------------------------------------------------------------------------
# segment -> logical-postings decode (the pruned query path for the
# reference-mode scorer; inverse of _encode_partition)
# ---------------------------------------------------------------------------

DECODED_POSTINGS_SCHEMA = (
    "term string, docnum long, tf int, doc_len int, "
    "positions array<int>, idf double, idf_bm25 double, is_stop boolean"
)


def _decode_rows(batch_iter):
    """mapInArrow kernel: one output posting row per (term, docnum). Numpy
    varint/delta decode per term row — no per-posting Python beyond the
    list materialization Arrow needs anyway."""
    import pyarrow as pa

    from .codec import decode_docnums, decode_positions, varint_decode

    for batch in batch_iter:
        rows = batch.to_pylist()
        out = {
            k: []
            for k in (
                "term", "docnum", "tf", "doc_len",
                "positions", "idf", "idf_bm25", "is_stop",
            )
        }
        for r in rows:
            n = r["n_docs"]
            docs, tfs, dls = [], [], []
            for b in r["blocks"]:
                docs.append(decode_docnums(bytes(b["docs"])))
                tfs.append(varint_decode(bytes(b["tfs"])))
                dls.append(varint_decode(bytes(b["dls"])))
            dnum = np.concatenate(docs) if docs else np.empty(0, np.uint64)
            tf = np.concatenate(tfs) if tfs else np.empty(0, np.uint64)
            dl = np.concatenate(dls) if dls else np.empty(0, np.uint64)
            plists = decode_positions(bytes(r["positions"]), n)
            out["term"] += [r["term"]] * n
            out["docnum"] += dnum.astype(np.int64).tolist()
            out["tf"] += tf.astype(np.int32).tolist()
            out["doc_len"] += dl.astype(np.int32).tolist()
            out["positions"] += [p.astype(np.int32).tolist() for p in plists]
            out["idf"] += [r["idf"]] * n
            out["idf_bm25"] += [r["idf_bm25"]] * n
            out["is_stop"] += [r["is_stop"]] * n
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(out["term"], type=pa.string()),
                pa.array(out["docnum"], type=pa.int64()),
                pa.array(out["tf"], type=pa.int32()),
                pa.array(out["doc_len"], type=pa.int32()),
                pa.array(out["positions"], type=pa.list_(pa.int32())),
                pa.array(out["idf"], type=pa.float64()),
                pa.array(out["idf_bm25"], type=pa.float64()),
                pa.array(out["is_stop"], type=pa.bool_()),
            ],
            names=list(out.keys()),
        )


def decode_segments(seg_df: DataFrame) -> DataFrame:
    """Explode compressed segment rows back into logical posting rows."""
    cols = seg_df.select(
        "term", "n_docs", "blocks", "positions",
        "idf", "idf_bm25", "is_stop",
    )
    return cols.mapInArrow(_decode_rows, schema=DECODED_POSTINGS_SCHEMA)


def read_postings_for_terms(
    spark: SparkSession,
    out_dir: str,
    terms: list[str],
    docnum_to_doc: DataFrame,
    n_partitions: int = 32,
) -> DataFrame:
    """Pruned, decoded, doc_id-resolved postings for a query's terms — the
    segment-backed feed for query/engine.search (partition-pruned scan ->
    decode -> one join on docnum against the docnum map; the decoded side
    is candidate-sized, the map side broadcasts when it fits)."""
    seg = read_segments_for_terms(spark, out_dir, terms, n_partitions)
    dec = decode_segments(seg).join(
        docnum_to_doc.select("doc_id", "docnum", "max_tf"), "docnum"
    ).drop("docnum")
    # EXACT finalize_postings expression (uniform-weight corpora:
    # weighted_tf == tf) — bit-identical normalized_tf without storing it
    wtf = F.col("tf").cast("double")
    return dec.withColumn(
        "normalized_tf",
        F.when(
            (wtf > 0) & (F.col("max_tf") > 0), 0.4 + 0.6 * wtf / F.col("max_tf")
        ).otherwise(0.0),
    ).drop("max_tf")


def segment_search_index(
    spark: SparkSession,
    out_dir: str,
    doc_stats_with_docnum: DataFrame,
    term_stats: DataFrame,
    term_dict: DataFrame,
    total_docs: int,
    n_partitions: int = 32,
    ranks: DataFrame | None = None,
):
    """SearchIndex whose posting lookups are partition-pruned segment reads
    (every query path — reference-mode scorer included — scans only the
    part= directories its terms hash to, never the whole postings table)."""
    from ..query.engine import SearchIndex

    return SearchIndex(
        postings=None,
        term_stats=term_stats,
        doc_stats=doc_stats_with_docnum,
        term_dict=term_dict,
        total_docs=total_docs,
        ranks=ranks,
        postings_for_terms=lambda terms: read_postings_for_terms(
            spark, out_dir, terms, doc_stats_with_docnum, n_partitions
        ),
    )
