"""Delta-gap + varint (LEB128) posting-list codec, numpy-vectorized.

The reference stores postings as delimited strings (jobs/Indexer.java:766-775,
"url|tf=..|pos=1 19 98"); the north star replaces that with delta-gap +
varint-compressed binary blocks with per-block max-score metadata for
block-max WAND. Encode/decode run inside Arrow-batched applyInPandas groups
(index/segments.py) — no per-row Python.

Layout per term:
  docnums sorted ascending -> gaps (first value absolute) -> varint bytes
  tfs -> varint bytes (parallel array)
  doc_lens -> varint bytes (parallel array; lets BM25 score without a
              docnum->dl lookup join)
  blocks of BLOCK_SIZE entries; per block: last_docnum (for skipping) and
  max_score (precomputed BM25 upper bound for WAND pruning).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------------------
# varint
# ---------------------------------------------------------------------------

_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 10)]


def _varint_bytes_and_offsets(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Shared LEB128 kernel: (uint8 byte stream, int64 offsets[n+1]) where
    offsets[i] is the byte position of value i and offsets[n] the total."""
    n = len(arr)
    offsets = np.zeros(n + 1, dtype=np.int64)
    if n == 0:
        return np.empty(0, dtype=np.uint8), offsets
    # bytes needed per value: 1 + number of thresholds <= value
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESHOLDS:
        nbytes += (arr >= t).astype(np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    starts = offsets[:-1]
    for i in range(10):
        mask = nbytes > i
        if not mask.any():
            break
        chunk = (arr[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = (nbytes[mask] > i + 1).astype(np.uint8) << 7
        out[starts[mask] + i] = chunk.astype(np.uint8) | cont
    return out, offsets


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    out, _ = _varint_bytes_and_offsets(arr)
    return out.tobytes()


def varint_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128 bytes plus per-value byte offsets (len n+1) — lets a caller
    encode ONE stream for many consecutive slices and cut it afterwards
    (slicing at value boundary v gives bytes identical to encoding the
    slice separately, since LEB128 is per-value self-delimiting)."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    out, offsets = _varint_bytes_and_offsets(arr)
    return out.tobytes(), offsets


def varint_decode(data: bytes) -> np.ndarray:
    """Decode LEB128 bytes into a uint64 array, vectorized via np.add.at."""
    if not data:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(data, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    # value index for each byte: 0-based id of the varint it belongs to
    vid = np.zeros(len(b), dtype=np.int64)
    vid[1:] = np.cumsum(is_last[:-1])
    n_vals = int(is_last.sum())
    # within-varint byte offset
    first_byte_pos = np.zeros(n_vals, dtype=np.int64)
    first_byte_pos[1:] = np.nonzero(is_last)[0][:-1] + 1
    offset = np.arange(len(b)) - first_byte_pos[vid]
    vals = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(vals, vid, (b & 0x7F).astype(np.uint64) << (7 * offset).astype(np.uint64))
    return vals


# ---------------------------------------------------------------------------
# delta-gap posting lists
# ---------------------------------------------------------------------------

def encode_docnums(docnums: np.ndarray) -> bytes:
    """Sorted ascending docnums -> gaps (first absolute) -> varint."""
    d = np.ascontiguousarray(docnums, dtype=np.uint64)
    if len(d) == 0:
        return b""
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    np.subtract(d[1:], d[:-1], out=gaps[1:])
    return varint_encode(gaps)


def decode_docnums(data: bytes) -> np.ndarray:
    gaps = varint_decode(data)
    return np.cumsum(gaps, dtype=np.uint64)


def positions_stream(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The pre-varint value stream for per-posting position lists:
    [len, first, gap...] per posting, built with one np.diff + boundary
    reset + np.insert — no per-posting Python loop. Gaps reset at EVERY
    posting start, so a multi-term stream cut at posting boundaries is
    byte-identical to per-term encoding."""
    flat = np.ascontiguousarray(flat, dtype=np.uint64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    starts = np.cumsum(lens) - lens
    g = np.empty_like(flat)
    if len(flat):
        g[1:] = flat[1:] - flat[:-1]
        nz = starts[lens > 0]
        g[nz] = flat[nz]
    return np.insert(g, starts, lens.astype(np.uint64))


def decode_positions(data: bytes, n_postings: int) -> list[np.ndarray]:
    flat = varint_decode(data)
    out: list[np.ndarray] = []
    i = 0
    for _ in range(n_postings):
        ln = int(flat[i])
        i += 1
        out.append(np.cumsum(flat[i : i + ln], dtype=np.uint64))
        i += ln
    return out


def block_boundaries(n: int, block_size: int = BLOCK_SIZE) -> list[tuple[int, int]]:
    return [(i, min(i + block_size, n)) for i in range(0, n, block_size)]
