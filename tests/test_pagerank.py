"""PageRank fixture tests (FIXTURES.md §3, reference jobs/PageRank.java)."""

import math

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators.pagerank import (
    extract_import_refs,
    run_pagerank,
    synthetic_links,
)

NODES = ["A", "B", "C", "D", "E"]
LINKS = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("D", "C")]


@pytest.fixture(scope="module")
def graph(spark):
    docs = spark.createDataFrame([(n,) for n in NODES], "doc_id string")
    links = spark.createDataFrame(LINKS, "src string, dst string")
    return docs, links


def test_one_iteration_hand_computed(spark, graph):
    docs, links = graph
    ranks, hist = run_pagerank(docs, links, fixed_iterations=1)
    r = {row["doc_id"]: row["rank"] for row in ranks.collect()}
    # new = 0.15 + 0.85 * sum(rank_src / L_src); init rank 1.0
    assert abs(r["A"] - (0.15 + 0.85 * (1 / 1))) < 1e-12  # from C
    assert abs(r["B"] - (0.15 + 0.85 * (1 / 2))) < 1e-12  # from A
    assert abs(r["C"] - (0.15 + 0.85 * (1 / 2 + 1 / 1 + 1 / 1))) < 1e-12
    assert abs(r["D"] - 0.15) < 1e-12  # no in-links
    assert abs(r["E"] - 0.15) < 1e-12  # dangling: own mass dropped, no inflow


def test_outlink_dedup(spark):
    # duplicate A->B edges collapse: B gets one share of A's rank, L_A = 1
    docs = spark.createDataFrame([("A",), ("B",)], "doc_id string")
    links = spark.createDataFrame(
        [("A", "B"), ("A", "B")], "src string, dst string"
    )
    ranks, _ = run_pagerank(docs, links, fixed_iterations=1)
    r = {row["doc_id"]: row["rank"] for row in ranks.collect()}
    assert abs(r["B"] - (0.15 + 0.85 * 1.0)) < 1e-12


def test_convergence_stop(spark, graph):
    docs, links = graph
    ranks, hist = run_pagerank(
        docs, links, threshold=0.001, percent_required=100.0, max_iterations=200
    )
    assert hist[-1].max_diff < 0.001 or hist[-1].percent_converged >= 100.0
    # ranks stay positive and the additive form keeps sum ~N-ish, not 1
    r = {row["doc_id"]: row["rank"] for row in ranks.collect()}
    assert all(v >= 0.15 - 1e-9 for v in r.values())
    assert abs(r["E"] - 0.15) < 1e-9  # E converges to the base immediately


def test_fixed_point_algebra(spark, graph):
    # at convergence: r = 0.15 + 0.85 * sum(in) must hold within threshold
    docs, links = graph
    ranks, _ = run_pagerank(docs, links, threshold=1e-9, max_iterations=500)
    r = {row["doc_id"]: row["rank"] for row in ranks.collect()}
    assert abs(r["A"] - (0.15 + 0.85 * r["C"] / 1)) < 1e-6
    assert abs(r["B"] - (0.15 + 0.85 * r["A"] / 2)) < 1e-6
    assert abs(
        r["C"] - (0.15 + 0.85 * (r["A"] / 2 + r["B"] / 1 + r["D"] / 1))
    ) < 1e-6


def test_synthetic_links_shape(spark):
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    links = synthetic_links(docs)
    rows = {(r["src"], r["dst"]) for r in links.collect()}
    assert ("0", "1") in rows and ("0", "7") in rows
    assert ("9", "0") in rows and ("9", str((9 * 3 + 7) % 10)) in rows


def test_import_extraction():
    py = "import os\nfrom collections import deque\nx = 1\n"
    assert extract_import_refs(py, "py") == ["collections", "os"]
    java = "import java.util.List;\nimport static a.b.C;\nclass X {}"
    assert extract_import_refs(java, "java") == ["a.b.C", "java.util.List"]
    js = "const x = require('lodash')\nimport y from 'react'\n"
    assert extract_import_refs(js, "js") == ["lodash", "react"]
    go = 'import "fmt"\n'
    assert extract_import_refs(go, "go") == ["fmt"]
    md = "see [docs](https://x.y) and [other](rel/path.md)"
    assert extract_import_refs(md, "md") == ["https://x.y", "rel/path.md"]
    assert extract_import_refs("anything", "rs") == []


def test_persisted_checkpoint_resume_bit_identical(spark, tmp_path):
    """Kill a run mid-flight; resuming from the persisted state must yield
    the same ranks as an uninterrupted run — to the last bit (P7,
    jobs/PageRank.java:30-106,429-486)."""
    from distributed_search_engine_spark.operators.pagerank import (
        last_checkpoint,
        run_pagerank,
        synthetic_links,
    )

    docs = spark.range(40).select(F.col("id").cast("string").alias("doc_id"))
    links = synthetic_links(docs)
    state = str(tmp_path / "pr_state")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pagerank(
            docs, links, fixed_iterations=6, checkpoint_every=2,
            state_dir=state, fail_after_iteration=3,
        )
    ck = last_checkpoint(state)
    assert ck is not None and ck["iteration"] == 2  # iter 3 crashed post-ckpt-2
    resumed, hist = run_pagerank(
        docs, links, fixed_iterations=6, checkpoint_every=2, state_dir=state
    )
    assert [h.iteration for h in hist] == [3, 4, 5, 6]  # resumed, not restarted
    fresh, _ = run_pagerank(docs, links, fixed_iterations=6, checkpoint_every=2)
    got = {r["doc_id"]: r["rank"] for r in resumed.collect()}
    want = {r["doc_id"]: r["rank"] for r in fresh.collect()}
    assert got == want  # exact float equality — parquet round-trips float64


def test_resume_past_end_returns_checkpoint(spark, tmp_path):
    from distributed_search_engine_spark.operators.pagerank import (
        run_pagerank,
        synthetic_links,
    )

    docs = spark.range(20).select(F.col("id").cast("string").alias("doc_id"))
    links = synthetic_links(docs)
    state = str(tmp_path / "pr_state2")
    a, _ = run_pagerank(docs, links, fixed_iterations=3, checkpoint_every=1,
                        state_dir=state)
    b, hist = run_pagerank(docs, links, fixed_iterations=3, checkpoint_every=1,
                           state_dir=state)
    assert hist == []  # nothing left to do
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_fixed_iterations_keep_only_the_returned_frame_cached(spark):
    """The fixed-iteration loop persists only at materialization points;
    each earlier persisted frame (the initial ranks included) must be
    released, leaving exactly the returned frame cached. Node names of
    its own: Spark shares one cache between equal plans."""
    import gc

    docs = spark.createDataFrame([("leak" + n,) for n in NODES], "doc_id string")
    links = spark.createDataFrame(
        [("leak" + s, "leak" + d) for s, d in LINKS], "src string, dst string"
    )
    gc.collect()
    # ids, not counts: other tests' cached RDDs may be cleaned meanwhile
    rdds = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    baseline = rdds()
    ranks, _ = run_pagerank(docs, links, fixed_iterations=3)
    assert len(rdds() - baseline) == 1
    ranks.unpersist()
    assert not rdds() - baseline
