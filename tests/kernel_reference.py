"""Independent pure-Python references for the Arrow-kernel operators —
the slow oracle `tests/test_arrow_kernels.py` compares each kernel with,
written from the operators' documented arithmetic, NOT from
operators/arrow_kernels.py. Deliberately naive dict-and-loop code with
no Spark in the computation: any disagreement with a kernel is a
translation bug in one of them.

Inputs are driver-side rows: ``docs`` is a list of (doc_id, text)
pairs, ``vecs`` a list of (id, [float, ...]) pairs. The tokenizer and
the Porter stemmer are shared with the engine (functions.text.tokenize_py,
functions.stemmer.porter_stem), as in tests/naive_reference.py; hashes
are hashlib.md5.
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal
from hashlib import md5

from distributed_search_engine_spark.functions.stemmer import porter_stem
from distributed_search_engine_spark.functions.text import tokenize_py


def _tokens(text):
    return tokenize_py(text) if text is not None else []


def _md5_hex(s: str) -> str:
    return md5(s.encode()).hexdigest()


def round6(x: float) -> float:
    """Spark's round(x, 6): the shortest decimal repr, HALF_UP."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


# ---------------------------------------------------------------------------
# document operators: rows are (doc_id as string, ...)
# ---------------------------------------------------------------------------


def shingles(docs, n):
    """(doc_id, shingle): distinct space-joined n-token windows per doc."""
    out = set()
    for doc_id, text in docs:
        toks = _tokens(text)
        for i in range(len(toks) - n + 1):
            out.add((str(doc_id), " ".join(toks[i : i + n])))
    return sorted(out)


def simhash(docs):
    """(doc_id, simhash): bit b is set iff more than half of the doc's
    tokens (with multiplicity) have bit b%4 of md5 hex nibble b//4 set;
    bit 63 wraps to the sign of an int64. A doc with no tokens emits no
    row."""
    out = []
    for doc_id, text in docs:
        toks = _tokens(text)
        if not toks:
            continue
        votes = [0] * 64
        for tok in toks:
            h = _md5_hex(tok)
            for b in range(64):
                votes[b] += (int(h[b // 4], 16) >> (b % 4)) & 1
        fp = 0
        for b in range(64):
            if 2 * votes[b] > len(toks):
                fp |= 1 << b
        if fp >= 1 << 63:
            fp -= 1 << 64
        out.append((str(doc_id), fp))
    return sorted(out)


def window_hashes(docs, w):
    """(doc_id, pos, whash): md5 of every w-token window; pos is the
    1-based start token."""
    out = []
    for doc_id, text in docs:
        toks = _tokens(text)
        for i in range(len(toks) - w + 1):
            out.append((str(doc_id), i + 1, _md5_hex(" ".join(toks[i : i + w]))))
    return out


def duplicate_windows(docs, w, min_count=2):
    """The window_hashes rows whose hash occurs >= min_count times."""
    rows = window_hashes(docs, w)
    count = {}
    for _, _, h in rows:
        count[h] = count.get(h, 0) + 1
    return sorted(r for r in rows if count[r[2]] >= min_count)


def token_counts(docs):
    """(doc_id, n_tokens): tokens per doc; NULL content counts NULL."""
    return sorted(
        (str(doc_id), None if text is None else len(_tokens(text)))
        for doc_id, text in docs
    )


def distinct_tokens(docs):
    """(tok,): every distinct token of the corpus."""
    return sorted({(tok,) for _, text in docs for tok in _tokens(text)})


def hll_registers(docs, b):
    """(bucket, reg): HyperLogLog registers over every token. A token
    hashes to h = int(md5(tok)[:8], 16); its bucket is the top b of those
    32 bits, its rank (32 - b + 1) - bit_length of the low 32 - b bits;
    each bucket keeps its largest rank, and empty buckets emit no row."""
    rem = 32 - b
    regs = {}
    for _, text in docs:
        for tok in _tokens(text):
            h = int(_md5_hex(tok)[:8], 16)
            rho = rem + 1 - (h & ((1 << rem) - 1)).bit_length()
            regs[h >> rem] = max(regs.get(h >> rem, 0), rho)
    return sorted(regs.items())


def bigram_stream(docs):
    """(doc_id, bigram): every adjacent token pair, with repeats."""
    out = []
    for doc_id, text in docs:
        toks = _tokens(text)
        for i in range(len(toks) - 1):
            out.append((str(doc_id), toks[i] + " " + toks[i + 1]))
    return sorted(out)


def cms(docs, d=4, width=1024):
    """(row, bucket, c): count-min counters over every token occurrence;
    row r hashes a token to int(md5("cms{r}:" + tok)[:8], 16) % width."""
    count = {}
    for _, text in docs:
        for tok in _tokens(text):
            for r in range(d):
                key = (r, int(_md5_hex(f"cms{r}:{tok}")[:8], 16) % width)
                count[key] = count.get(key, 0) + 1
    return sorted((r, b, c) for (r, b), c in count.items())


def trigrams(lowered_docs):
    """(doc_id, trigram): distinct 3-code-point slices per doc. The
    texts arrive lowercased by Spark's lower(), the engine's case
    mapping; doc ids keep their type."""
    out = set()
    for doc_id, text in lowered_docs:
        if text is None:
            continue
        for i in range(len(text) - 2):
            out.add((doc_id, text[i : i + 3]))
    return sorted(out)


def substring_matches(docs, needles):
    """(needle, doc_id, n_occurrences): the non-overlapping occurrences
    of each lowercased needle in each lowercased text, by full scan;
    doc ids keep their type."""
    out = []
    for n in dict.fromkeys(needles):
        for doc_id, text in docs:
            c = text.lower().count(n.lower()) if text is not None else 0
            if c:
                out.append((n, doc_id, c))
    return sorted(out)


def regex_matches(docs, patterns):
    """(pattern, doc_id, n_matches): non-overlapping matches of each
    pattern over each text (NULL as ''), by full scan. Java's ``(?i)``
    folds ASCII case only, as ``re.IGNORECASE | re.ASCII`` does."""
    out = []
    for p in dict.fromkeys(patterns):
        cre = re.compile(p, re.IGNORECASE | re.ASCII)
        for doc_id, text in docs:
            c = sum(1 for _ in cre.finditer(text or ""))
            if c:
                out.append((p, doc_id, c))
    return sorted(out)


def grep_lines(docs, needle, context):
    """(doc_id, line_no, line, is_match): each '\n'-separated line (1-based)
    whose lowercase contains the lowercased needle, plus the lines
    within ``context`` of one; a NULL text is one empty line."""
    out = []
    for doc_id, text in docs:
        lines = (text or "").split("\n")
        hits = [needle.lower() in ln.lower() for ln in lines]
        for i, ln in enumerate(lines):
            if any(hits[max(0, i - context) : i + context + 1]):
                out.append((doc_id, i + 1, ln, hits[i]))
    return sorted(out)


def title_arrays(titled_docs):
    """(doc_id, title, title_toks, title_stems): each title's tokens and
    their stems, none for a NULL title; doc ids keep their type."""
    out = []
    for doc_id, title in titled_docs:
        toks = _tokens(title)
        out.append((doc_id, title, toks, [porter_stem(t) for t in toks]))
    return sorted(out, key=lambda r: r[0])


def encode_positions(positions_lists):
    """Segment position bytes: per posting its length, first position and
    gaps, each an LEB128 varint (7 bits a byte, low group first, high bit
    set on every byte but the last)."""
    out = bytearray()
    for positions in positions_lists:
        gaps = [p - prev for prev, p in zip([0] + positions, positions)]
        for v in [len(positions)] + gaps:
            while v >= 0x80:
                out.append((v & 0x7F) | 0x80)
                v >>= 7
            out.append(v)
    return bytes(out)


# ---------------------------------------------------------------------------
# vector operators
# ---------------------------------------------------------------------------


def _sq_dist(v, c):
    acc = 0.0
    for x, y in zip(v, c):
        acc += (x - y) * (x - y)
    return acc


def _nearest(v, cents):
    """(cluster, raw squared distance); ties go to the lowest index."""
    best, best_d = 0, _sq_dist(v, cents[0])
    for j in range(1, len(cents)):
        dj = _sq_dist(v, cents[j])
        if dj < best_d:
            best, best_d = j, dj
    return best, best_d


def assign_clusters(vecs, cents):
    """(id, cluster, sqdist) with sqdist rounded to 6 decimals."""
    out = []
    for vid, v in vecs:
        j, dj = _nearest(v, cents)
        out.append((vid, j, round6(dj)))
    return sorted(out)


def residuals(vecs, cents):
    """(id, residual v - c_cell, cell) with the cell of assign_clusters."""
    out = []
    for vid, v in vecs:
        j, _ = _nearest(v, cents)
        out.append((vid, [x - c for x, c in zip(v, cents[j])], j))
    return sorted(out)


def semantic_dedup(vecs, cents, threshold):
    """Ids that survive keep-lowest-id SemDeDup: a vector goes when a
    lower-id vector of its cell has cosine >= threshold with it (cosine =
    sequential-fold dot / (sqrt(|a|^2) * sqrt(|b|^2)))."""

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    cells = [(vid, v, _nearest(v, cents)[0]) for vid, v in vecs]
    losers = set()
    for ia, va, ca in cells:
        for ib, vb, cb in cells:
            if ca != cb or not ia < ib:
                continue
            dot = fold(x * y for x, y in zip(va, vb))
            na = math.sqrt(fold(x * x for x in va))
            nb = math.sqrt(fold(y * y for y in vb))
            if dot / (na * nb) >= threshold:
                losers.add(ib)
    return sorted(vid for vid, _ in vecs if vid not in losers)


def update_centroids(vecs, cents):
    """(cluster, n, c0..c{dim-1}): member count and per-coordinate mean
    (exact sum / n, rounded to 6 decimals) of each non-empty cluster."""
    members = {}
    for _, v in vecs:
        members.setdefault(_nearest(v, cents)[0], []).append(v)
    out = []
    for j, vs in members.items():
        n = len(vs)
        means = [round6(math.fsum(v[d] for v in vs) / n) for d in range(len(vs[0]))]
        out.append((j, n, *means))
    return sorted(out)


def coded_corpus(vecs, cents, books):
    """(id, cluster, code_0..code_{M-1}): the coarse cell, then per
    subspace the 1-based position of the first minimum of the
    6-decimal-rounded distances from the residual to each codeword."""
    dsub = len(books[0][0])
    out = []
    for vid, v in vecs:
        j, _ = _nearest(v, cents)
        r = [x - c for x, c in zip(v, cents[j])]
        codes = []
        for m, book in enumerate(books):
            sub = r[m * dsub : (m + 1) * dsub]
            dists = [round6(_sq_dist(sub, cw)) for cw in book]
            codes.append(dists.index(min(dists)) + 1)
        out.append((vid, j, *codes))
    return sorted(out)
