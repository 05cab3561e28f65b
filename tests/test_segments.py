"""Segment build / pruned read / resume / WAND-vs-logical-engine tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.corpus import ingest, make_corpus
from distributed_search_engine_spark.index import codec
from distributed_search_engine_spark.index.segments import (
    assign_docnums,
    build_segments,
    read_manifest,
    read_segments_for_terms,
)
from distributed_search_engine_spark.index.wand import bruteforce_topk, wand_topk
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import SearchIndex, search
from tests import kernel_reference as R

N_PARTS = 8


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = ingest(make_corpus(spark, n_docs=120, seed=7))
    idx = build_index(docs)
    ds = assign_docnums(idx["doc_stats"], n_partitions=4).persist()
    avgdl = float(ds.agg(F.avg("doc_len")).collect()[0][0])
    out = str(tmp_path_factory.mktemp("segs") / "index")
    build_segments(
        idx["postings"], idx["term_stats"], ds, out, avgdl,
        n_partitions=N_PARTS, batch_partitions=4,
    )
    return docs, idx, ds, avgdl, out


def test_docnums_dense_and_deterministic(spark, built):
    _, _, ds, _, _ = built
    nums = sorted(r["docnum"] for r in ds.select("docnum").collect())
    assert nums == list(range(len(nums)))
    # deterministic: re-assign -> same mapping
    ds2 = assign_docnums(ds.drop("docnum"), n_partitions=4)
    j = ds.select("doc_id", "docnum").join(
        ds2.select("doc_id", F.col("docnum").alias("d2")), "doc_id"
    )
    assert j.where(F.col("docnum") != F.col("d2")).count() == 0


def test_docnums_equal_a_global_row_number(spark, built):
    """The two-phase assignment gives each doc_id the docnum a global
    ``row_number() over (order by doc_id) - 1`` gives, also with more
    range partitions than docs fill."""
    from pyspark.sql import Window

    _, idx, ds, _, _ = built
    want = sorted(
        map(
            tuple,
            idx["doc_stats"]
            .select("doc_id", F.row_number().over(Window.orderBy("doc_id")) - 1)
            .collect(),
        )
    )
    assert sorted(map(tuple, ds.select("doc_id", "docnum").collect())) == want
    wide = assign_docnums(idx["doc_stats"], n_partitions=200)
    assert sorted(map(tuple, wide.select("doc_id", "docnum").collect())) == want
    assert dict(ds.dtypes)["docnum"] == "bigint"


def test_manifest_complete(built):
    *_, out = built
    done = read_manifest(out)
    assert sorted(done) == list(range(N_PARTS))
    assert all(r["bytes"] > 0 for r in done.values())


def test_segments_roundtrip_vs_logical(spark, built):
    _, idx, ds, _, out = built
    seg = read_segments_for_terms(spark, out, ["spark", "compute"], N_PARTS)
    rows = {r["term"]: r for r in seg.collect()}
    logical = (
        idx["postings"].join(ds.select("doc_id", "docnum"), "doc_id")
        .where(F.col("term").isin(["spark", "compute"]))
        .collect()
    )
    by_term = {}
    for r in logical:
        by_term.setdefault(r["term"], []).append(r)
    for term, lrows in by_term.items():
        srow = rows[term]
        want = sorted((r["docnum"], r["tf"], r["doc_len"]) for r in lrows)
        docs, tfs, dls = [], [], []
        for b in srow["blocks"]:
            docs += codec.decode_docnums(bytes(b["docs"])).tolist()
            tfs += codec.varint_decode(bytes(b["tfs"])).tolist()
            dls += codec.varint_decode(bytes(b["dls"])).tolist()
        got = sorted(zip(map(int, docs), map(int, tfs), map(int, dls)))
        assert got == want, term
        assert srow["n_docs"] == len(want)
        # positions round-trip
        pos_lists = codec.decode_positions(bytes(srow["positions"]), srow["n_docs"])
        want_pos = [
            list(map(int, r["positions"]))
            for r in sorted(lrows, key=lambda r: r["docnum"])
        ]
        assert [list(map(int, p)) for p in pos_lists] == want_pos


def test_resume_after_injected_failure(spark, built, tmp_path):
    docs, idx, ds, avgdl, out = built
    out2 = str(tmp_path / "index2")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_segments(
            idx["postings"], idx["term_stats"], ds, out2, avgdl,
            n_partitions=N_PARTS, batch_partitions=2, fail_after_batches=2,
        )
    assert len(read_manifest(out2)) == 4  # 2 batches x 2 partitions
    # resume: completes only the missing partitions
    build_segments(
        idx["postings"], idx["term_stats"], ds, out2, avgdl,
        n_partitions=N_PARTS, batch_partitions=2,
    )
    assert sorted(read_manifest(out2)) == list(range(N_PARTS))
    # identical logical content vs the one-shot build
    a = spark.read.parquet(out + "/data").select(
        "term", "n_docs", F.col("positions").alias("n1")
    )
    b = spark.read.parquet(out2 + "/data").select(
        "term", F.col("n_docs").alias("nd2"), F.col("positions").alias("n2")
    )
    j = a.join(b, "term", "full")
    assert j.where(
        F.col("n_docs").isNull() | F.col("nd2").isNull()
        | (F.col("n_docs") != F.col("nd2")) | (F.col("n1") != F.col("n2"))
    ).count() == 0


def test_wand_matches_logical_bm25(spark, built):
    docs, idx, ds, avgdl, out = built
    terms = ["spark", "partition"]
    seg_rows = [
        r.asDict()
        for r in read_segments_for_terms(spark, out, terms, N_PARTS).collect()
    ]
    got = wand_topk(
        [
            {"idf_bm25": r["idf_bm25"], "blocks": [b.asDict() for b in r["blocks"]]}
            for r in seg_rows
        ],
        avgdl,
        10,
    )
    # logical engine, bm25 mode, no stems in play (both terms are fixpoints)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    res = search(spark, sidx, "spark partition", k=10, mode="bm25")
    num2id = {r["docnum"]: r["doc_id"] for r in ds.select("doc_id", "docnum").collect()}
    got_ids = [num2id[d] for d, _ in got]
    want = [(r["doc_id"], r["score"]) for r in res.collect()]
    assert got_ids == [d for d, _ in want]
    for (dn, s1), (_, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


def test_decoded_segments_equal_logical_postings(spark, built):
    """decode_segments is the exact inverse of the encoder: every decoded
    posting row (tf, doc_len, normalized_tf bit-exact, positions) matches
    the logical postings table."""
    from distributed_search_engine_spark.index.segments import read_postings_for_terms

    _, idx, ds, _, out = built
    terms = ["spark", "compute", "the"]
    dec = read_postings_for_terms(spark, out, terms, ds, N_PARTS)
    got = {
        (r["term"], r["doc_id"]): (
            r["tf"], r["doc_len"], r["normalized_tf"], list(r["positions"]),
        )
        for r in dec.collect()
    }
    want = {
        (r["term"], r["doc_id"]): (
            r["tf"], r["doc_len"], r["normalized_tf"], list(r["positions"]),
        )
        for r in idx["postings"].where(F.col("term").isin(terms)).collect()
    }
    assert got == want  # bit-exact, incl. float64 normalized_tf


def test_segment_backed_search_matches_logical(spark, built):
    """Reference-mode AND bm25-mode search through the segment-backed
    SearchIndex must equal the logical-postings path row for row."""
    from distributed_search_engine_spark.index.segments import segment_search_index

    docs, idx, ds, avgdl, out = built
    logical = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    segged = segment_search_index(
        spark, out, ds, idx["term_stats"], idx["term_dict"],
        idx["total_docs"], N_PARTS,
    )
    for q, mode in [
        ("spark partition", "bm25"),
        ("spark partition", "reference"),
        ("computing engine", "reference"),  # stem expansion in play
    ]:
        a = [tuple(r) for r in search(spark, logical, q, k=50, mode=mode).collect()]
        b = [tuple(r) for r in search(spark, segged, q, k=50, mode=mode).collect()]
        assert a == b, (q, mode)


def test_segment_backed_search_plan_is_pruned(spark, built):
    """The candidates plan in segment-backed mode must carry partition
    filters on part= — the whole-index scan is gone."""
    from tests.test_plans import plan_of
    from distributed_search_engine_spark.index.segments import segment_search_index

    docs, idx, ds, avgdl, out = built
    segged = segment_search_index(
        spark, out, ds, idx["term_stats"], idx["term_dict"],
        idx["total_docs"], N_PARTS,
    )
    plan = plan_of(search(spark, segged, "spark partition", k=10, mode="reference"))
    assert "PartitionFilters" in plan
    assert "part" in plan.split("PartitionFilters")[1][:200]


def test_segment_read_takes_the_stored_schema(spark, built):
    """A point read runs exactly one Spark job (the scan: the schema comes
    from segment_schema(), not from the files), has the columns and rows an
    inferring read gives, and keeps its partition filter on part."""
    from tests.test_plans import plan_of
    from tests.spark_jobs import jobs_of

    *_, out = built
    terms = ["spark", "compute"]
    rows, jobs = jobs_of(
        spark,
        lambda: read_segments_for_terms(spark, out, terms, N_PARTS).collect(),
        "segments-fetch",
    )
    assert rows and jobs == 1, jobs
    seg = read_segments_for_terms(spark, out, terms, N_PARTS)
    inferred = spark.read.parquet(out + "/data")
    assert seg.schema == inferred.schema
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, inferred.where(F.col("term").isin(terms)).collect())
    )
    plan = plan_of(seg)
    assert "part" in plan.split("PartitionFilters")[1][:200]


def test_batch_segment_read_is_one_job(spark, built):
    """read_segments_for_queries tags each (query, term) row through a
    map literal: one Spark job (the pruned scan), no relation to
    broadcast; a term repeated in a query is tagged once per repeat."""
    from distributed_search_engine_spark.index.segments import (
        read_segments_for_queries,
    )
    from tests.spark_jobs import jobs_of

    *_, out = built
    queries = {"a": ["spark", "compute"], "b": ["spark"], "c": ["spark", "spark"]}
    rows, jobs = jobs_of(
        spark,
        lambda: read_segments_for_queries(spark, out, queries, N_PARTS).collect(),
        "segments-fetch-batch",
    )
    assert jobs == 1, jobs
    assert sorted((r["query_id"], r["term"]) for r in rows) == [
        ("a", "compute"), ("a", "spark"), ("b", "spark"), ("c", "spark"), ("c", "spark"),
    ]
    empty = read_segments_for_queries(spark, out, {}, N_PARTS)
    assert empty.collect() == [] and empty.columns == ["query_id", "term", "idf_bm25", "blocks"]


def test_xxhash64_py_matches_spark(spark):
    """Driver-side term->partition hashing must be bit-identical to the
    F.xxhash64 the segment writer partitions by."""
    from distributed_search_engine_spark.index.segments import (
        term_partition,
        xxhash64_py,
    )

    terms = [
        "", "a", "data", "spark", "alpha", "tok123", "x" * 7, "y" * 8,
        "z" * 31, "w" * 32, "v" * 100, "café", "ümläut",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", F.xxhash64("t").alias("h")).collect()}
    for t in terms:
        assert xxhash64_py(t.encode("utf-8")) == got[t], t
    for t in terms:
        assert 0 <= term_partition(t, 8) < 8


def test_manifest_input_rows_from_accumulator(built):
    """input_rows still lands per partition (now via an accumulator inside
    the encode job — no second counting pass) and sums to the total
    posting rows."""
    _, idx, ds, avgdl, seg_dir = built
    done = read_manifest(seg_dir)
    total = sum(row["input_rows"] for row in done.values())
    assert total == idx["postings"].count()
    assert all(row["input_rows"] >= 0 for row in done.values())


def test_vectorized_encode_bytes_equal_per_block_reference(spark, built):
    """The round-4 partition-wide stream encode must produce byte-identical
    blocks/positions to the straightforward per-block codec calls (the
    pre-round-4 implementation): decode every stored block and position
    list and re-encode it per block — the bytes must round-trip exactly."""
    _, _, _, _, out = built
    df = spark.read.parquet(out + "/data")
    rows = df.collect()
    assert rows
    n_blocks = 0
    for r in rows:
        n_docs_seen = 0
        for b in r["blocks"]:
            docs = codec.decode_docnums(bytes(b["docs"]))
            tfs = codec.varint_decode(bytes(b["tfs"]))
            dls = codec.varint_decode(bytes(b["dls"]))
            assert len(docs) == len(tfs) == len(dls) > 0
            assert bytes(b["docs"]) == codec.encode_docnums(docs)
            assert bytes(b["tfs"]) == codec.varint_encode(tfs)
            assert bytes(b["dls"]) == codec.varint_encode(dls)
            assert int(b["last_docnum"]) == int(docs[-1])
            n_docs_seen += len(docs)
            n_blocks += 1
        assert n_docs_seen == r["n_docs"]
        plists = codec.decode_positions(bytes(r["positions"]), r["n_docs"])
        assert bytes(r["positions"]) == R.encode_positions(
            [p.tolist() for p in plists]
        )
    assert n_blocks >= len(rows)


def test_varint_encode_with_offsets_cuts_match_separate_encodes():
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 62, size=1000, dtype=np.uint64)
    full, off = codec.varint_encode_with_offsets(vals)
    assert off[0] == 0 and off[-1] == len(full)
    for s, e in ((0, 10), (10, 500), (500, 1000), (999, 1000), (7, 7)):
        assert full[off[s]:off[e]] == codec.varint_encode(vals[s:e])
