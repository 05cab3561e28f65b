"""Codec round-trip property tests + block-max top-k vs brute-force
differential."""

import numpy as np
import pytest

from distributed_search_engine_spark.index import codec
from distributed_search_engine_spark.index.wand import (
    block_arrays,
    block_max_topk,
    bruteforce_topk,
    wand_topk,
)
from tests import kernel_reference as R


def test_varint_roundtrip_property():
    rng = np.random.default_rng(7)
    for _ in range(50):
        n = int(rng.integers(0, 2000))
        vals = rng.integers(0, 1 << 62, size=n, dtype=np.uint64)
        assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_edge_values():
    v = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**63], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(v)), v)


def test_docnum_gaps_roundtrip():
    rng = np.random.default_rng(11)
    for _ in range(30):
        d = np.unique(rng.integers(0, 10**7, size=int(rng.integers(1, 3000)), dtype=np.uint64))
        assert np.array_equal(codec.decode_docnums(codec.encode_docnums(d)), d)


def test_positions_roundtrip():
    pls = [[1, 3, 7], [2], [], [5, 6, 7, 8, 100000]]
    dec = codec.decode_positions(R.encode_positions(pls), len(pls))
    assert [list(map(int, x)) for x in dec] == pls


def _make_seg_rows(rng, n_terms, n_docs, avgdl):
    """Random segment rows built through the real encoder path."""
    from distributed_search_engine_spark.index.codec import (
        BLOCK_SIZE,
        block_boundaries,
        encode_docnums,
        varint_encode,
    )
    from distributed_search_engine_spark.query.engine import BM25_B, BM25_K1

    rows = []
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 20, size=df).astype(np.uint64)
        dls = rng.integers(5, 500, size=df).astype(np.uint64)
        idf = float(rng.uniform(0.1, 3.0))
        scores = (
            idf * tfs.astype(float) * (BM25_K1 + 1)
            / (tfs + BM25_K1 * (1 - BM25_B + BM25_B * dls.astype(float) / avgdl))
        )
        blocks = [
            {
                "last_docnum": int(docs[e - 1]),
                "max_score": float(scores[s:e].max()),
                "docs": encode_docnums(docs[s:e]),
                "tfs": varint_encode(tfs[s:e]),
                "dls": varint_encode(dls[s:e]),
            }
            for s, e in block_boundaries(df, BLOCK_SIZE)
        ]
        rows.append({"term": f"t{t}", "idf_bm25": idf, "blocks": blocks})
    return rows


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_wand_matches_bruteforce(seed):
    rng = np.random.default_rng(seed)
    avgdl = 120.0
    rows = _make_seg_rows(rng, n_terms=int(rng.integers(1, 5)), n_docs=5000, avgdl=avgdl)
    for k in (1, 10, 100):
        got = wand_topk(rows, avgdl, k)
        want = bruteforce_topk(rows, avgdl, k)
        assert [d for d, _ in got] == [d for d, _ in want], (seed, k)
        for (d1, s1), (d2, s2) in zip(got, want):
            assert abs(s1 - s2) < 1e-9


def test_wand_skips_blocks():
    """A rare term co-occurring with a common one (k=2): once the rare
    term's docs are scored, the common term's blocks elsewhere are
    hopeless — the kernel must leave most of them undecoded."""
    rng = np.random.default_rng(42)
    avgdl = 120.0
    rows = _make_seg_rows(rng, n_terms=1, n_docs=200_000, avgdl=avgdl)
    # make the common term truly long
    common = rows[0]
    rare_docs = np.array([100, 150_000], dtype=np.uint64)
    from distributed_search_engine_spark.index.codec import encode_docnums, varint_encode

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
    total_blocks = len(common["blocks"])
    assert total_blocks > 10  # the skip scenario is meaningful
    got = wand_topk([common, rare], avgdl, 2)
    want = bruteforce_topk([common, rare], avgdl, 2)
    assert [d for d, _ in got] == [d for d, _ in want]
    _, _, decoded = block_max_topk(*block_arrays([common, rare]), avgdl, 2)
    # block_arrays lists the common term's blocks first
    assert decoded[:total_blocks].sum() < total_blocks / 2, (
        int(decoded[:total_blocks].sum()), total_blocks
    )


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_wand_exact_under_score_ties(seed):
    """Uniform tf/doc_len corpora quantize scores into a handful of exact
    values, so block bounds routinely EQUAL the k-th score; only a bound
    strictly below tau may skip, or tie groups diverge from brute force."""
    rng = np.random.default_rng(seed)
    from distributed_search_engine_spark.index.codec import (
        BLOCK_SIZE,
        block_boundaries,
        encode_docnums,
        varint_encode,
    )

    avgdl = 4.0
    rows = []
    for t in range(3):
        df = int(rng.integers(20, 200))
        docs = np.sort(rng.choice(1000, size=df, replace=False)).astype(np.uint64)
        tfs = np.ones(df, dtype=np.uint64)       # uniform tf
        dls = np.full(df, 4, dtype=np.uint64)    # uniform doc_len
        rows.append(
            {
                "term": f"t{t}",
                "idf_bm25": 1.5,
                "blocks": [
                    {
                        "last_docnum": int(docs[e - 1]),
                        "max_score": 1.5,  # attained by every posting
                        "docs": encode_docnums(docs[s:e]),
                        "tfs": varint_encode(tfs[s:e]),
                        "dls": varint_encode(dls[s:e]),
                    }
                    for s, e in block_boundaries(df, BLOCK_SIZE)
                ],
            }
        )
    # max_score is exactly the per-posting score: every threshold comparison
    # is an exact float tie
    for k in (1, 5, 25, 100):
        got = wand_topk(rows, avgdl, k)
        want = bruteforce_topk(rows, avgdl, k)
        assert got == want, (seed, k)
        # the tightest valid tau0, the true k-th score itself: blocks whose
        # bound only ties it hold top-k docs and must still be decoded
        d, sc, _ = block_max_topk(*block_arrays(rows), avgdl, k, tau0=want[-1][1])
        assert list(zip(d.tolist(), sc.tolist())) == want, (seed, k)


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_distributed_topk_exact_under_score_ties(seed, spark):
    """The executor-side pruned path under quantized scores: every block
    max_score EQUALS every posting score, so the metadata threshold tau
    exactly ties the k-th score and every span upper bound exactly ties
    tau — the strict-inequality skip rule must keep all of them (pruning
    fires only on strictly-hopeless blocks) and the output must still
    equal brute force, including the docnum tie-break order."""
    from distributed_search_engine_spark.index.codec import (
        BLOCK_SIZE,
        block_boundaries,
        encode_docnums,
        varint_encode,
    )
    from distributed_search_engine_spark.index.wand import distributed_topk

    rng = np.random.default_rng(seed)
    avgdl = 4.0
    rows = []
    for t in range(3):
        df = int(rng.integers(20, 200))
        docs = np.sort(rng.choice(1000, size=df, replace=False)).astype(np.uint64)
        tfs = np.ones(df, dtype=np.uint64)
        dls = np.full(df, 4, dtype=np.uint64)
        rows.append(
            {
                "term": f"t{t}",
                "idf_bm25": 1.5,
                "blocks": [
                    {
                        "last_docnum": int(docs[e - 1]),
                        "max_score": 1.5,
                        "docs": encode_docnums(docs[s:e]),
                        "tfs": varint_encode(tfs[s:e]),
                        "dls": varint_encode(dls[s:e]),
                    }
                    for s, e in block_boundaries(df, BLOCK_SIZE)
                ],
            }
        )
    seg_schema = (
        "term string, idf_bm25 double, "
        "blocks array<struct<last_docnum: long, max_score: double, "
        "docs: binary, tfs: binary, dls: binary>>"
    )
    seg_df = spark.createDataFrame(
        [(r["term"], r["idf_bm25"], [tuple(b.values()) for b in r["blocks"]]) for r in rows],
        seg_schema,
    )
    for k, n_ranges in ((1, 4), (5, 8), (25, 3)):
        got = distributed_topk(spark, seg_df, avgdl, k, n_ranges=n_ranges)
        want = bruteforce_topk(rows, avgdl, k)
        assert got == want, (seed, k, n_ranges)


def test_distributed_topk_prunes_hopeless_blocks(spark):
    """A skewed corpus where one term's postings are high-scoring and a
    second term's are uniformly negligible: with k=1 the threshold must
    reject the negligible term's blocks beyond the hot span. Verified
    behaviorally (output exact vs brute force) AND on the decode mask the
    kernel returns — at least half of those blocks stay undecoded, so the
    prune cannot silently degenerate to a no-op."""
    from distributed_search_engine_spark.index.codec import (
        BLOCK_SIZE,
        block_boundaries,
        encode_docnums,
        varint_encode,
    )
    from distributed_search_engine_spark.index.wand import distributed_topk
    from distributed_search_engine_spark.query.engine import BM25_B, BM25_K1

    avgdl = 100.0
    rows = []
    for term, idf, lo, hi in (("hot", 3.0, 0, 500), ("cold", 0.01, 0, 4000)):
        docs = np.arange(lo, hi, dtype=np.uint64)
        tfs = np.full(len(docs), 5, dtype=np.uint64)
        dls = np.full(len(docs), 100, dtype=np.uint64)
        scores = (
            idf * tfs.astype(float) * (BM25_K1 + 1)
            / (tfs + BM25_K1 * (1 - BM25_B + BM25_B * dls.astype(float) / avgdl))
        )
        rows.append(
            {
                "term": term,
                "idf_bm25": idf,
                "blocks": [
                    {
                        "last_docnum": int(docs[e - 1]),
                        "max_score": float(scores[s:e].max()),
                        "docs": encode_docnums(docs[s:e]),
                        "tfs": varint_encode(tfs[s:e]),
                        "dls": varint_encode(dls[s:e]),
                    }
                    for s, e in block_boundaries(len(docs), BLOCK_SIZE)
                ],
            }
        )
    # the kernel as the executor calls it: over everything, and over one
    # doc range beyond hot's span with tau0 = hot's k-th block max
    k = 1
    hot_last = max(b["last_docnum"] for b in rows[0]["blocks"])
    n_hot = len(rows[0]["blocks"])
    cold = rows[1]["blocks"]
    beyond = np.array([b["last_docnum"] > hot_last for b in cold])
    args = block_arrays(rows)
    _, _, decoded = block_max_topk(*args, avgdl, k)
    assert (~decoded[n_hot:][beyond]).sum() >= beyond.sum() / 2, decoded
    tau0 = max(b["max_score"] for b in rows[0]["blocks"])
    far = np.flatnonzero(args[2] > hot_last)  # blocks ending past hot's span
    sub = [a[far] for a in args[:5]] + [(buf, sp[far]) for buf, sp in args[5:]]
    _, _, decoded = block_max_topk(*sub, avgdl, k, hot_last + 1, 4000, tau0)
    assert (~decoded).sum() >= len(far) / 2, decoded

    seg_schema = (
        "term string, idf_bm25 double, "
        "blocks array<struct<last_docnum: long, max_score: double, "
        "docs: binary, tfs: binary, dls: binary>>"
    )
    seg_df = spark.createDataFrame(
        [(r["term"], r["idf_bm25"], [tuple(b.values()) for b in r["blocks"]]) for r in rows],
        seg_schema,
    )
    got = distributed_topk(spark, seg_df, avgdl, k, n_ranges=8)
    want = bruteforce_topk(rows, avgdl, k)
    assert got == want


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_distributed_topk_matches_bruteforce(seed, spark):
    """Executor-side doc-range-sharded top-k == driver kernels, including
    with blocks straddling range boundaries (range_size << block span) and
    exact score ties resolved (score desc, docnum asc)."""
    from distributed_search_engine_spark.index.wand import distributed_topk

    rng = np.random.default_rng(seed)
    avgdl = 120.0
    rows = _make_seg_rows(
        rng, n_terms=int(rng.integers(2, 5)), n_docs=5000, avgdl=avgdl
    )
    seg_schema = (
        "term string, idf_bm25 double, "
        "blocks array<struct<last_docnum: long, max_score: double, "
        "docs: binary, tfs: binary, dls: binary>>"
    )
    seg_df = spark.createDataFrame(
        [(r["term"], r["idf_bm25"], [tuple(b.values()) for b in r["blocks"]]) for r in rows],
        seg_schema,
    )
    for k, n_ranges in ((1, 4), (10, 8), (100, 3)):
        got = distributed_topk(spark, seg_df, avgdl, k, n_ranges=n_ranges)
        want = bruteforce_topk(rows, avgdl, k)
        assert [d for d, _ in got] == [d for d, _ in want], (seed, k, n_ranges)
        for (d1, s1), (d2, s2) in zip(got, want):
            assert abs(s1 - s2) < 1e-9


@pytest.mark.parametrize("seed", [3, 4])
def test_distributed_topk_batch_matches_per_query(seed, spark):
    """One job for a batch of queries == per-query brute force, including
    terms shared across queries (each query must still score them
    independently against its own threshold)."""
    from distributed_search_engine_spark.index.wand import (
        distributed_topk_batch,
    )

    rng = np.random.default_rng(seed)
    avgdl = 120.0
    rows = _make_seg_rows(rng, n_terms=4, n_docs=5000, avgdl=avgdl)
    byterm = {r["term"]: r for r in rows}
    queries = {
        "qa": ["t0", "t1"],
        "qb": ["t1", "t2", "t3"],
        "qc": ["t3"],
    }
    seg_schema = (
        "query_id string, term string, idf_bm25 double, "
        "blocks array<struct<last_docnum: long, max_score: double, "
        "docs: binary, tfs: binary, dls: binary>>"
    )
    tagged = spark.createDataFrame(
        [
            (qid, t, byterm[t]["idf_bm25"], [tuple(b.values()) for b in byterm[t]["blocks"]])
            for qid, ts in queries.items()
            for t in ts
        ],
        seg_schema,
    )
    k = 10
    got = distributed_topk_batch(spark, tagged, avgdl, k, n_ranges=8)
    assert set(got) == set(queries)
    for qid, ts in queries.items():
        want = bruteforce_topk([byterm[t] for t in ts], avgdl, k)
        assert [d for d, _ in got[qid]] == [d for d, _ in want], qid
        for (_, s1), (_, s2) in zip(got[qid], want):
            assert abs(s1 - s2) < 1e-9


def test_distributed_topk_edge_cases(spark):
    """Empty segment set -> []; k larger than corpus -> all docs ranked;
    single-term single-block input."""
    from distributed_search_engine_spark.index.wand import distributed_topk

    seg_schema = (
        "term string, idf_bm25 double, "
        "blocks array<struct<last_docnum: long, max_score: double, "
        "docs: binary, tfs: binary, dls: binary>>"
    )
    empty = spark.createDataFrame([], seg_schema)
    assert distributed_topk(spark, empty, 100.0, 10) == []

    rng = np.random.default_rng(9)
    rows = _make_seg_rows(rng, n_terms=1, n_docs=50, avgdl=100.0)
    seg_df = spark.createDataFrame(
        [(r["term"], r["idf_bm25"], [tuple(b.values()) for b in r["blocks"]]) for r in rows],
        seg_schema,
    )
    got = distributed_topk(spark, seg_df, 100.0, 10_000, n_ranges=3)
    want = bruteforce_topk(rows, 100.0, 10_000)
    assert [d for d, _ in got] == [d for d, _ in want]
