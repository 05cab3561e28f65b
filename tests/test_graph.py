"""Connected components (operators/graph.py): fixtures with known
components, differential vs a pure-Python union-find, deep-chain
convergence the propagation kernel can't reach, the prop-vs-star
equality the dedup_cc_keepers oracle relies on, edge inputs (string ids,
self-loops, repeats, NULL ids, no pairs), checkpoint release and the
keep-canonical job count."""

import random

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators import dedup as D
from distributed_search_engine_spark.operators.graph import (
    cc_propagate,
    components_from_pairs,
    connected_components,
    dedup_keep_canonical,
)
from tests.spark_jobs import jobs_of


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def _labels(df):
    return {r[0]: r[1] for r in df.collect()}


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


FIXTURE = [
    # two triangles bridged by one edge + an isolated pair + a 4-chain
    (1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10),
    (20, 21),
    (30, 31), (31, 32), (32, 33),
]
FIXTURE_WANT = {
    1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1,
    20: 20, 21: 20,
    30: 30, 31: 30, 32: 30, 33: 30,
}


def test_star_kernel_fixture(spark):
    got = _labels(connected_components(_edges(spark, FIXTURE)))
    assert got == FIXTURE_WANT


def test_propagation_fixture_converged(spark):
    # diameter of the biggest fixture component is 4 -> 4 rounds converge
    got = _labels(cc_propagate(_edges(spark, FIXTURE), 4))
    assert got == FIXTURE_WANT


def test_propagation_partial_rounds_deterministic(spark):
    # 1 round on the 4-chain: each node takes the min within 1 hop —
    # NOT converged, but exactly what the unrolled oracle computes
    got = _labels(cc_propagate(_edges(spark, [(30, 31), (31, 32), (32, 33)]), 1))
    assert got == {30: 30, 31: 30, 32: 31, 33: 32}


def test_star_kernel_deep_chain(spark):
    # a 60-hop chain: propagation would need 60 rounds; the star kernel
    # collapses it in O(log^2 n) alternations
    chain = [(i, i + 1) for i in range(60)]
    got = _labels(connected_components(_edges(spark, chain)))
    assert got == {i: 0 for i in range(61)}


def test_star_vs_union_find_random(spark):
    # deterministic pseudo-random graph, differential vs union-find
    pairs = [((i * 7919) % 97, (i * 104729) % 97) for i in range(120)]
    pairs = [(a, b) for a, b in pairs if a != b]
    got = _labels(connected_components(_edges(spark, pairs)))
    assert got == _union_find(pairs)


def test_prop_equals_star_on_corpus_pairs(spark, sf_dir="/root/testdata/sf0.001"):
    # the dedup_cc_keepers oracle unrolls 4 propagation rounds; this
    # pins that 4 rounds HAVE converged on the real near-dup pair graph
    # (measured component diameter 1 at sf0.001-0.1)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(D.shingles(docs)))
    prop = _labels(components_from_pairs(pairs, iterations=4))
    star = _labels(components_from_pairs(pairs))
    assert prop == star
    assert len(prop) > 0


def test_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        # {1,2,3} transitively via 1-2, 2-3; {5,7} direct
        [("1", "2"), ("2", "3"), ("5", "7")], "doc_a string, doc_b string"
    )
    kept = sorted(
        r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect()
    )
    # losers 2, 3 (component min 1) and 7 (component min 5)
    assert kept == [0, 1, 4, 5, 6]


def test_star_kernel_nonconvergence_guard(spark):
    with pytest.raises(RuntimeError):
        connected_components(
            _edges(spark, [(i, i + 1) for i in range(40)]), max_rounds=1
        )


def test_candidate_volume_bounded(spark):
    # star rounds only shrink the edge set: a hot star (500 edges into
    # one hub) must not blow up intermediate edge counts
    hub = [(0, i) for i in range(1, 500)]
    e = _edges(spark, hub)
    out = connected_components(e)
    assert out.count() == 500
    assert _labels(out) == {i: 0 for i in range(500)}


def _random_pairs(seed, n_pairs, ids):
    rng = random.Random(seed)
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(n_pairs)]


def _check_vs_union_find(spark, pairs, doc_ids, dtype):
    # both entry points against the pure-Python reference on one input
    comp = _union_find(pairs)
    edges = spark.createDataFrame(pairs, f"u {dtype}, v {dtype}")
    assert _labels(connected_components(edges)) == comp
    docs = spark.createDataFrame([(d,) for d in doc_ids], f"doc_id {dtype}")
    pair_df = spark.createDataFrame(pairs, f"doc_a {dtype}, doc_b {dtype}")
    kept = sorted(r[0] for r in dedup_keep_canonical(docs, pair_df).collect())
    assert kept == sorted(d for d in doc_ids if comp.get(d, d) == d)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_long_ids_vs_union_find(spark, seed):
    # ids spread over the long range, 3 pairs per 4 nodes: components of
    # mixed sizes and shapes; docs outside every pair pass through
    ids = random.Random(seed).sample(range(1, 1 << 62), 80)
    pairs = _random_pairs(seed, 60, ids)
    _check_vs_union_find(spark, pairs, ids + [0, 1 << 62], "long")


@pytest.mark.parametrize("seed", [1, 2])
def test_random_string_ids_vs_union_find(spark, seed):
    # string ids: the component is the lexicographic min ("d10" < "d9")
    ids = [f"d{n}" for n in random.Random(seed).sample(range(1000), 60)]
    pairs = _random_pairs(seed, 45, ids)
    _check_vs_union_find(spark, pairs, ids + ["zz"], "string")


@pytest.mark.parametrize(
    "pairs",
    [
        [],
        [(3, 3), (4, 4), (4, 5)],  # self-loops: a lone one labels itself
        [(1, 2), (2, 1), (1, 2), (2, 3)],  # repeats, both orientations
    ],
    ids=["empty", "self_loops", "repeated"],
)
def test_edge_inputs_vs_union_find(spark, pairs):
    _check_vs_union_find(spark, pairs, list(range(8)), "long")


def test_null_pair_id(spark):
    # a NULL id joins nothing: its partner stays a root, the NULL node
    # labels itself NULL, and no doc is dropped on its account
    pairs = [(None, 5), (5, 6)]
    got = connected_components(_edges(spark, pairs)).collect()
    assert sorted((tuple(r) for r in got), key=repr) == [
        (5, 5), (6, 5), (None, None)
    ]
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pair_df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    kept = sorted(r[0] for r in dedup_keep_canonical(docs, pair_df).collect())
    assert kept == [0, 1, 2, 3, 4, 5, 7]


def test_star_rounds_release_their_checkpoints(spark):
    # superseded round checkpoints are freed as the loop goes: only the
    # returned labels' own checkpoint outlives connected_components, and
    # only the final star outlives dedup_keep_canonical (its result
    # reads it lazily)
    held = spark.sparkContext._jsc.getPersistentRDDs
    before = len(held())
    chain = _edges(spark, [(i, i + 1) for i in range(60)])
    labels = connected_components(chain)
    assert len(held()) - before <= 1
    docs = spark.createDataFrame([(i,) for i in range(61)], "doc_id long")
    pairs = chain.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    before = len(held())
    kept = dedup_keep_canonical(docs, pairs)
    assert len(held()) - before <= 1
    assert [r[0] for r in kept.collect()] == [0]
    assert labels.count() == 61


def test_keep_canonical_job_count(spark):
    # one pair converges in one round: the canonical-edge checkpoint, one
    # fused round (its checksum observed in the checkpoint job) and the
    # anti-join count. Inputs are persisted and sized, as in a dedup
    # pipeline, so the planner can broadcast the losers.
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(8)], "doc_id long, text string"
    ).persist()
    pairs = spark.createDataFrame(
        [("1", "2")], "doc_a string, doc_b string"
    ).persist()
    docs.count()
    pairs.count()
    try:
        n, jobs = jobs_of(
            spark, lambda: dedup_keep_canonical(docs, pairs).count(), "keep-canonical"
        )
    finally:
        docs.unpersist()
        pairs.unpersist()
    assert n == 7
    assert jobs <= 8, jobs
