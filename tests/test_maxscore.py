"""Inputs first written for the MaxScore engine, now run against the one
block-max kernel (index/wand.py): exactness vs brute force (incl.
quantized score ties across four terms sharing an idf), skipping of a
common term's blocks next to a rare one, and degenerate inputs."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_search_engine_spark.index.wand import (
    block_arrays,
    block_max_topk,
    bruteforce_topk,
    wand_topk,
)

from test_codec_wand import _make_seg_rows


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5, 6])
def test_maxscore_matches_bruteforce(seed):
    rng = np.random.default_rng(seed)
    avgdl = 120.0
    rows = _make_seg_rows(
        rng, n_terms=int(rng.integers(1, 6)), n_docs=5000, avgdl=avgdl
    )
    for k in (1, 10, 100):
        got = wand_topk(rows, avgdl, k)
        want = bruteforce_topk(rows, avgdl, k)
        assert [d for d, _ in got] == [d for d, _ in want], (seed, k)
        for (_, s1), (_, s2) in zip(got, want):
            assert abs(s1 - s2) < 1e-9


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_maxscore_exact_under_score_ties(seed):
    """Uniform tf/doc_len quantizes scores into exact-tie groups; the
    strict skip test must reproduce the (score desc, docnum asc)
    brute-force order bit-for-bit."""
    from distributed_search_engine_spark.index.codec import (
        BLOCK_SIZE,
        block_boundaries,
        encode_docnums,
        varint_encode,
    )

    rng = np.random.default_rng(seed)
    avgdl = 100.0
    rows = []
    for t in range(4):
        df = int(rng.integers(50, 400))
        docs = np.sort(
            rng.choice(3000, size=df, replace=False)
        ).astype(np.uint64)
        tfs = np.full(df, 3, dtype=np.uint64)  # constant -> exact ties
        dls = np.full(df, 100, dtype=np.uint64)
        idf = 1.5  # shared -> cross-term ties too
        blocks = []
        for s, e in block_boundaries(df, BLOCK_SIZE):
            score = (
                idf * 3 * (1.2 + 1) / (3 + 1.2 * (1 - 0.75 + 0.75 * 1.0))
            )
            blocks.append(
                {
                    "last_docnum": int(docs[e - 1]),
                    "max_score": float(score),
                    "docs": encode_docnums(docs[s:e]),
                    "tfs": varint_encode(tfs[s:e]),
                    "dls": varint_encode(dls[s:e]),
                }
            )
        rows.append({"term": f"t{t}", "idf_bm25": idf, "blocks": blocks})
    for k in (1, 5, 37):
        got = wand_topk(rows, avgdl, k)
        want = bruteforce_topk(rows, avgdl, k)
        assert got == [(d, pytest.approx(s, abs=1e-9)) for d, s in want], k


def test_maxscore_prunes_common_term_blocks():
    """A rare high-impact term + a long common term (k=2): most of the
    common term's blocks must stay undecoded."""
    from distributed_search_engine_spark.index.codec import (
        encode_docnums,
        varint_encode,
    )

    rng = np.random.default_rng(7)
    avgdl = 120.0
    rows = _make_seg_rows(rng, n_terms=1, n_docs=200_000, avgdl=avgdl)
    common = rows[0]
    total_blocks = len(common["blocks"])
    assert total_blocks > 10
    rare_docs = np.array([100, 150_000], dtype=np.uint64)
    rare = {
        "term": "rare",
        "idf_bm25": 10.0,
        "blocks": [
            {
                "last_docnum": int(rare_docs[-1]),
                "max_score": 25.0,
                "docs": encode_docnums(rare_docs),
                "tfs": varint_encode(np.array([3, 3], dtype=np.uint64)),
                "dls": varint_encode(np.array([50, 50], dtype=np.uint64)),
            }
        ],
    }
    got = wand_topk([common, rare], avgdl, 2)
    want = bruteforce_topk([common, rare], avgdl, 2)
    assert [d for d, _ in got] == [d for d, _ in want]
    # the rare term's two docs fill the top-2; the common term's blocks
    # away from them are bounded by their own max_score alone and skipped
    _, _, decoded = block_max_topk(*block_arrays([common, rare]), avgdl, 2)
    assert decoded[:total_blocks].sum() < total_blocks / 2, (
        int(decoded[:total_blocks].sum()),
        total_blocks,
    )


def test_maxscore_empty_and_single():
    assert wand_topk([], 100.0, 10) == []
    assert (
        wand_topk([{"term": "t", "idf_bm25": 1.0, "blocks": []}], 100.0, 5)
        == []
    )
