"""Physical-plan assertions: partition pruning, filter pushdown, column
pruning, broadcast joins — the .explain("formatted") checks that guard the
100 TB story (SURVEY §4)."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.corpus import ingest, make_corpus
from distributed_search_engine_spark.index.segments import (
    assign_docnums,
    build_segments,
    read_segments_for_terms,
)
from distributed_search_engine_spark.operators.postings import build_index


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def seg_dir(spark, tmp_path_factory):
    docs = ingest(make_corpus(spark, n_docs=60, seed=9))
    idx = build_index(docs)
    ds = assign_docnums(idx["doc_stats"], n_partitions=4)
    avgdl = float(ds.agg(F.avg("doc_len")).collect()[0][0])
    out = str(tmp_path_factory.mktemp("plans") / "index")
    build_segments(
        idx["postings"], idx["term_stats"], ds, out, avgdl,
        n_partitions=8, batch_partitions=8,
    )
    return out


def test_segment_read_is_partition_pruned(spark, seg_dir):
    """Query-term lookups must scan only the part= directories that can
    hold the terms (partition pruning), and push the term filter into the
    parquet scan."""
    df = read_segments_for_terms(spark, seg_dir, ["spark", "compute"], 8)
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    # the part IN (...) predicate must appear as a partition filter,
    # not a post-scan filter
    assert "part" in plan.split("PartitionFilters")[1][:200]
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1][:300]


def test_projection_prunes_columns(spark, seg_dir):
    """A 2-column projection must not read the heavy blocks column."""
    df = spark.read.parquet(seg_dir + "/data").select("term", "df")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "term" in read_schema and "df" in read_schema
    assert "blocks" not in read_schema


def test_filter_pushdown_on_source_scan(spark, tmp_path):
    docs = ingest(make_corpus(spark, n_docs=30, seed=2))
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    df = spark.read.parquet(p).where(F.col("lang") == "py").select("doc_id", "lang")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1][:200]


def test_query_candidates_use_broadcast_join(spark, seg_dir):
    """The query engine's joins against the postings must broadcast the
    small side (term stats, titles and ranks), never shuffle the postings."""
    from distributed_search_engine_spark.operators.postings import build_index
    from distributed_search_engine_spark.query.engine import SearchIndex, search

    docs = ingest(make_corpus(spark, n_docs=60, seed=9))
    idx = build_index(docs)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    plan = plan_of(search(spark, sidx, "spark compute", mode="bm25"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_index_build_has_no_occurrence_shuffle(spark):
    """The Arrow kernel emits finished posting rows: the plan between the
    file scan and the posting output must contain NO Exchange (the 10x
    occurrence stream never shuffles)."""
    from distributed_search_engine_spark.operators.postings import emit_postings_arrow

    docs = ingest(make_corpus(spark, n_docs=30, seed=2))
    plan = plan_of(emit_postings_arrow(docs))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan


def test_asof_join_plan_has_no_join(spark):
    """The as-of operator is a single running window over the per-user
    stream — the plan must contain a Window and NO join of any kind."""
    import __spark_entry__ as E

    plan = plan_of(E._q_events_asof(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in plan, j


def test_batch_bm25_scans_postings_once(spark):
    """One batch plan for many queries: the postings relation must appear
    exactly once in the scan list (exploded against the inlined expansion
    map of every query), not once per query."""
    from distributed_search_engine_spark.corpus import ingest, make_corpus
    from distributed_search_engine_spark.operators.postings import build_index
    from distributed_search_engine_spark.query.engine import (
        SearchIndex,
        search_bm25_batch,
    )

    docs = ingest(make_corpus(spark, n_docs=40, seed=17))
    idx = build_index(docs)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    plan3 = plan_of(search_bm25_batch(spark, sidx, ["spark", "partition", "graph"], k=5))
    plan1 = plan_of(search_bm25_batch(spark, sidx, ["spark"], k=5))
    assert plan3.count("BroadcastExchange") >= 1  # term-stats broadcast
    # a per-query loop would repeat the postings subplan once per query;
    # the batch plan's scan count must NOT grow with the number of queries
    # (the Unions inside the index lineage itself — hot/cold caps — are
    # identical in both)
    for marker in ("InMemoryTableScan", "Union", "HashAggregate"):
        assert plan3.count(marker) == plan1.count(marker), marker


def test_corpus_clean_v2_single_declarative_plan(spark):
    """The composed round-3 cleaning recipe (dedup keeper ∘ decontamination
    ∘ repetition ceiling ∘ stratified sample) stays one Catalyst plan with
    equi-joins only — no cartesian products, no Python in the plan."""
    import __spark_entry__ as E

    df = E.queries()["pipeline_corpus_clean_v2"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # all stages JVM-side
    assert df.count() > 0


def test_mlt_plan_broadcasts_query_doc(spark):
    """more_like_this must broadcast the single query doc's weights —
    never a cartesian or a shuffled join against the full postings for
    the query side (the qnrm scalar crossJoin IS a 1-row broadcast)."""
    from distributed_search_engine_spark.query.engine import (
        SearchIndex,
        more_like_this,
    )

    docs = ingest(make_corpus(spark, n_docs=40, seed=3))
    idx = build_index(docs)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    plan = plan_of(
        more_like_this(sidx, docs.first()["doc_id"], k=5, materialize=False)
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_semantic_dedup_join_is_equi_on_cluster(spark):
    """The SemDeDup pair scan must be an equi-join on the cluster id
    (~N^2/k candidates), never a theta/cartesian pair join."""
    from distributed_search_engine_spark.operators.clustering import (
        seeded_centroids,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dedup(emb, seeded_centroids(4, 64, seed=2), threshold=0.4)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    # the pair join keys on the computed cluster column
    assert "cluster" in plan


def test_cc_round_is_shuffle_bounded(spark):
    """One fused star round = a groupBy per half + one distinct — no
    cartesian, no global window, and (in the executed plan) no join."""
    from distributed_search_engine_spark.operators.graph import (
        _large_star,
        _small_star,
    )

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "u long, v long"
    )
    fused = _small_star(_large_star(e))
    plan = plan_of(fused)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    fused.collect()
    executed = plan_of(fused)
    assert "isFinalPlan=true" in executed
    assert "Join" not in executed


def test_tpch_q5_broadcasts_dims(spark):
    """Small dims (region->nation->supplier) must broadcast; no
    cartesian anywhere; customer join left to AQE (large dim at scale)."""
    from distributed_search_engine_spark.analytics import regional_revenue

    sf = "/root/testdata/sf0.001"
    t = lambda n: spark.read.parquet(f"{sf}/{n}.parquet")
    plan = plan_of(
        regional_revenue(
            t("lineitem"), t("orders"), t("customer"),
            t("supplier"), t("nation"), t("region"),
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_pushes_shipdate_filter(spark):
    """The shipdate predicate must reach the parquet scan."""
    from distributed_search_engine_spark.analytics import pricing_summary

    df = pricing_summary(
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_bloom_prune_is_map_side_only(spark):
    """The Bloom probe filter must be a pure scan+filter — no join, no
    shuffle, whole-stage codegen."""
    from distributed_search_engine_spark.operators.bloom import (
        bloom_prune,
        build_bloom,
    )

    probe = spark.range(500).select(F.col("id").alias("k"))
    bm = build_bloom(
        spark.range(0, 500, 7).select(F.col("id").alias("k")), "k",
        m_bits=1 << 12,
    )
    plan = plan_of(bloom_prune(probe, "k", bm, m_bits=1 << 12))
    for bad in ("Join", "Exchange"):
        assert bad not in plan
    # formatted explain marks codegen stages with "[codegen id : N]"
    assert "codegen id" in plan


def test_hybrid_rrf_lexical_arm_is_pool_bounded(spark):
    """The RRF lexical arm must fetch only the top-`pool` BM25 rows: no
    million-row TakeOrdered feeding the fusion, and every window in the
    plan runs AFTER a bounded limit (the k-bounded-window-after-limit
    pattern) — never over the unbounded scored frame."""
    import __spark_entry__ as E

    df = E.queries()["search_hybrid_rrf"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # formatted explain prints TakeOrdered limits as "Arguments: <n>, [..."
    assert "Arguments: 1000000," not in plan
    # pool-bounded top-100 selection is a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Arguments: 100, [" in plan
    # fused output still correct at this SF
    assert df.count() > 0


def test_pack_sequences_has_no_global_doc_window(spark):
    """The distributed prefix sum must never sort all docs in one task:
    every window over doc rows is PARTITIONED by block; the only
    unpartitioned window runs over the N/block summary rows."""
    from distributed_search_engine_spark.operators.text_analysis import (
        pack_sequences,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = plan_of(pack_sequences(docs, seq_len=8, block=16))
    assert "Window" in plan
    # every window over doc-level n_tokens must be partitioned by blk
    # (the sole unpartitioned window runs over blk_tokens summaries)
    for seg in plan.split("Arguments: ")[1:]:
        head = seg.splitlines()[0]
        if "sum(n_tokens" in head:
            assert "blk" in head.split("]")[1], head
