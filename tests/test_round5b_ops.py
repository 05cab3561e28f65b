"""Round-5 second-wave operators: anchor-text field aggregation,
paragraph-level keep-one dedup, PQ/ADC ANN, bloom-probe decontamination.

Each block checks the Spark operator against an independent hand/Python
model on a small fixture (the DuckDB cross-engine gate runs separately
via __spark_entry__/tools/check_oracle.py)."""

import contextlib
import io
import math

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators import anchors as AN
from distributed_search_engine_spark.operators import dedup as D
from distributed_search_engine_spark.operators import similarity as S


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# anchor-text extraction + aggregation
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def anchor_docs(spark):
    rows = [
        # two links, one with nested-tag anchor text (cleanAnchorText strips)
        (0, "intro [fast <b>vector</b> search](mod_2) and [data](mod_1)"),
        # empty anchor text (the crawler keeps the link; no terms emitted)
        (1, "see [](mod_2) plus [data data](mod_2)"),
        # unresolvable ref (external import — drops at the module-map join)
        (2, "ref [data](http_external) [spark notes](mod_0)"),
        # no links at all
        (3, "plain text only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, content string")


def test_extract_anchor_pairs(anchor_docs):
    got = {
        (r["src"], r["ref"], r["anchor_text"])
        for r in AN.extract_anchor_pairs(anchor_docs).collect()
    }
    assert got == {
        ("0", "mod_2", "fast vector search"),  # nested <b> stripped, ws collapsed
        ("0", "mod_1", "data"),
        ("1", "mod_2", ""),
        ("1", "mod_2", "data data"),
        ("2", "http_external", "data"),
        ("2", "mod_0", "spark notes"),
    }


def test_anchor_postings_aggregates_per_target(spark, anchor_docs):
    mm = spark.createDataFrame(
        [(f"mod_{i}", i) for i in range(4)], "module string, dst long"
    )
    idx = {
        (r["doc_id"], r["term"]): (r["anchor_tf"], r["n_srcs"])
        for r in AN.anchor_postings(AN.extract_anchor_pairs(anchor_docs), mm).collect()
    }
    # doc 2's inbound anchors: "fast vector search" (src 0), "" + "data data" (src 1)
    assert idx[("2", "data")] == (2, 1)
    assert idx[("2", "fast")] == (1, 1)
    assert idx[("2", "vector")] == (1, 1)
    assert idx[("2", "search")] == (1, 1)
    # doc 1 <- "data" from src 0 only
    assert idx[("1", "data")] == (1, 1)
    # doc 0 <- "spark notes" from src 2
    assert idx[("0", "spark")] == (1, 1)
    assert idx[("0", "notes")] == (1, 1)
    # the external ref never resolved
    assert not any(d not in {"0", "1", "2"} for d, _ in idx)


def test_anchor_scores_formula(spark, anchor_docs):
    mm = spark.createDataFrame(
        [(f"mod_{i}", i) for i in range(4)], "module string, dst long"
    )
    idx = AN.anchor_postings(AN.extract_anchor_pairs(anchor_docs), mm)
    got = {
        r["doc_id"]: r["anchor_score"]
        for r in AN.anchor_scores(idx, ["data", "spark"], n_docs=4.0).collect()
    }
    # df_a(data) = 2 docs {1, 2}; df_a(spark) = 1 doc {0}
    exp2 = math.log(4.0 / 2.0) * 2 / (1.2 + 2)  # doc 2: tf=2
    exp1 = math.log(4.0 / 2.0) * 1 / (1.2 + 1)  # doc 1: tf=1
    exp0 = math.log(4.0 / 1.0) * 1 / (1.2 + 1)  # doc 0: spark tf=1
    assert got["2"] == pytest.approx(exp2)
    assert got["1"] == pytest.approx(exp1)
    assert got["0"] == pytest.approx(exp0)


def test_anchor_extraction_plan_is_shuffle_free(anchor_docs):
    # extraction + cleaning is a pure map-side projection: no Exchange
    plan = plan_of(AN.extract_anchor_pairs(anchor_docs))
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# paragraph keep-one dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def para_docs(spark):
    b = "shared boilerplate"
    rows = [
        (10, f"unique ten\n\n{b}\n\ntail ten"),
        (2, f"unique two\n\n{b}\n\n{b}"),  # intra-doc repeat of the boilerplate
        (7, b),  # the whole doc IS the boilerplate
        (5, "   \n\n  "),  # only empty paragraphs
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_paragraph_stats(para_docs):
    got = {
        r["para_hash"]: (r["n_occurrences"], r["n_docs"])
        for r in D.paragraph_stats(para_docs).collect()
    }
    assert len(got) == 1  # only the boilerplate repeats
    assert list(got.values()) == [(4, 3)]  # 4 occurrences across 3 docs


def test_remove_dup_paragraphs_keeper_is_lowest_doc_then_idx(para_docs):
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in D.remove_dup_paragraphs(para_docs).collect()
    }
    # doc 2 is the lowest doc_id containing the boilerplate -> keeps its
    # FIRST occurrence (idx order), drops the intra-doc repeat
    assert got[2] == ("unique two\n\nshared boilerplate", 2, 1)
    # doc 7 loses its only paragraph but stays in the output
    assert got[7] == ("", 0, 1)
    # doc 10 keeps its unique paragraphs, loses the boilerplate
    assert got[10] == ("unique ten\n\ntail ten", 2, 1)
    # doc 5 had nothing hashable
    assert got[5] == ("", 0, 0)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pq_emb(spark):
    # dim 4, two clear clusters per 2-dim subspace
    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [0.1, 0.0, 10.0, 10.1]),
        (2, [5.0, 5.0, 0.0, 0.0]),
        (3, [5.1, 5.0, 0.1, 0.0]),
        (4, [0.0, 0.1, 0.0, 0.1]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_train_shapes_and_determinism(pq_emb):
    seeds = [[0.0, 0.0, 0.0, 0.0], [5.0, 5.0, 10.0, 10.0]]
    books = S.pq_train(pq_emb, seeds, m_subs=2, iters=1)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    assert all(len(c) == 2 for b in books for c in b)
    again = S.pq_train(pq_emb, seeds, m_subs=2, iters=1)
    assert books == again


def test_pq_encode_assigns_nearest_code(pq_emb):
    # hand-picked codebooks: subspace 0 codes at (0,0)/(5,5); subspace 1
    # codes at (10,10)/(0,0)
    books = [[[0.0, 0.0], [5.0, 5.0]], [[10.0, 10.0], [0.0, 0.0]]]
    got = {
        r["id"]: (r["code_0"], r["code_1"])
        for r in S.pq_encode(pq_emb, books).collect()
    }
    assert got[0] == (1, 1)
    assert got[1] == (1, 1)
    assert got[2] == (2, 2)
    assert got[3] == (2, 2)
    assert got[4] == (1, 2)


def test_pq_adc_matches_hand_lookup(pq_emb):
    books = [[[0.0, 0.0], [5.0, 5.0]], [[10.0, 10.0], [0.0, 0.0]]]
    out = {
        r["id"]: r["adc_dist"]
        for r in S.ann_pq_adc_topk(pq_emb, books, query_id=0, k=4).collect()
    }
    # query 0 subvectors: (0,0) and (10,10); lut0 = [0, 50], lut1 = [0, 200]
    assert out[1] == pytest.approx(0.0 + 0.0)  # codes (1,1)
    assert out[4] == pytest.approx(0.0 + 200.0)  # codes (1,2)
    assert out[2] == pytest.approx(50.0 + 200.0)  # codes (2,2)
    # ranking: ties broken by id asc, distances ascending
    ranked = sorted(out.items(), key=lambda kv: kv[1])
    assert ranked[0][0] == 1


def test_pq_adc_plan_is_broadcast_no_shuffle_scan(pq_emb):
    books = [[[0.0, 0.0], [5.0, 5.0]], [[10.0, 10.0], [0.0, 0.0]]]
    plan = plan_of(S.ann_pq_adc_topk(pq_emb, books, query_id=0, k=3))
    # the query's lookup tables are literals in the scan's projection, so
    # the plan joins nothing (no broadcast of a lut frame either); the
    # corpus side is scanned exactly once, map-side
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan


# ---------------------------------------------------------------------------
# bloom decontamination: superset-of-exact guarantee
# ---------------------------------------------------------------------------


def test_bloom_decontaminate_has_no_false_negatives(spark):
    from distributed_search_engine_spark.operators import bloom as BL

    rows = [(i, f"alpha beta w{i} gamma delta epsilon w{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingles(docs, n=3)
    bench = sh.where(F.col("doc_id").cast("int") < 5).select("shingle").distinct()
    bitmap = BL.build_bloom(bench, "shingle")
    train = sh.where(F.col("doc_id").cast("int") >= 5)
    bloom_hit = {
        r["doc_id"]
        for r in BL.bloom_prune(train, "shingle", bitmap)
        .select("doc_id")
        .distinct()
        .collect()
    }
    exact_hit = {
        r["doc_id"]
        for r in train.join(
            sh.where(F.col("doc_id").cast("int") < 5)
            .select("shingle")
            .distinct(),
            "shingle",
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    # bloom may add false positives, never false negatives
    assert exact_hit <= bloom_hit


# ---------------------------------------------------------------------------
# IVFADC: coarse cells + residual PQ codes + per-cell ADC lookup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivfadc_fixture(spark):
    # two obvious clusters in 4-dim space; 3 vectors each
    rows = [
        (0, [1.0, 0.9, 0.0, 0.1]),
        (1, [0.9, 1.1, 0.1, 0.0]),
        (2, [1.1, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.1, 1.0, 0.9]),
        (4, [0.1, 0.0, 0.9, 1.1]),
        (5, [0.0, 0.0, 1.1, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coarse = [[1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]
    return emb, coarse, rows


def _py_ivfadc(rows, coarse, books, qid, k, n_probe):
    """Pure-Python IVFADC model mirroring the operator's arithmetic."""
    dsub = len(books[0][0])

    def sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def assign(v):
        return min(range(len(coarse)), key=lambda j: (sq(v, coarse[j]), j))

    def encode(r):
        codes = []
        for m, book in enumerate(books):
            sub = r[m * dsub : (m + 1) * dsub]
            d = [round(sq(sub, c), 6) for c in book]
            codes.append(d.index(min(d)) + 1)  # 1-based like array_position
        return codes

    qv = dict((i, v) for i, v in rows)[qid]
    probes = sorted(range(len(coarse)), key=lambda j: (sq(qv, coarse[j]), j))[:n_probe]
    out = []
    for i, v in rows:
        if i == qid:
            continue
        c = assign(v)
        if c not in probes:
            continue
        r = [a - b for a, b in zip(v, coarse[c])]
        codes = encode(r)
        qr = [a - b for a, b in zip(qv, coarse[c])]
        adc = 0.0
        for m, book in enumerate(books):
            qsub = qr[m * dsub : (m + 1) * dsub]
            lut = [round(sq(qsub, cj), 6) for cj in book]
            adc += lut[codes[m] - 1]
        out.append((round(adc, 6), i))
    out.sort()
    return [(i, d, rk + 1) for rk, (d, i) in enumerate(out[:k])]


def test_residuals_subtract_nearest_centroid(spark, ivfadc_fixture):
    emb, coarse, rows = ivfadc_fixture
    got = {r["id"]: (r["cluster"], r["r"]) for r in S.residuals(emb, coarse).collect()}
    assert got[0][0] == 0 and got[3][0] == 1
    assert got[0][1] == pytest.approx([0.0, -0.1, 0.0, 0.1])
    assert got[4][1] == pytest.approx([0.1, 0.0, -0.1, 0.1])


def test_ann_ivfadc_matches_python_model(spark, ivfadc_fixture):
    emb, coarse, rows = ivfadc_fixture
    books = S.pq_train(
        S.residuals(emb, coarse),
        seeds=[[0.05, 0.0, 0.0, 0.05], [-0.05, 0.1, 0.1, -0.05]],
        m_subs=2,
        iters=2,
        id_col="id",
        vec_col="r",
    )
    for n_probe in (1, 2):
        got = [
            (r["id"], r["adc_dist"], r["rank"])
            for r in S.ann_ivfadc_topk(
                emb, coarse, books, query_id=0, k=5, n_probe=n_probe
            ).collect()
        ]
        want = _py_ivfadc(rows, coarse, books, qid=0, k=5, n_probe=n_probe)
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)
            assert g[2] == w[2]
    # n_probe=1 restricts candidates to the query's own cell
    one = S.ann_ivfadc_topk(emb, coarse, books, query_id=0, k=5, n_probe=1)
    assert {r["id"] for r in one.collect()} <= {1, 2}


def test_ivfadc_store_partition_pruned_probe(spark, ivfadc_fixture, tmp_path):
    emb, coarse, rows = ivfadc_fixture
    books = S.pq_train(
        S.residuals(emb, coarse),
        seeds=[[0.05, 0.0, 0.0, 0.05], [-0.05, 0.1, 0.1, -0.05]],
        m_subs=2,
        iters=2,
        id_col="id",
        vec_col="r",
    )
    store = str(tmp_path / "ivfadc_store")
    S.persist_coded_corpus(emb, coarse, books, store)

    qv = dict(rows)[0]
    served = S.ann_ivfadc_from_store(
        spark, store, coarse, books, qv, query_id=0, k=5, n_probe=1
    )
    inmem = S.ann_ivfadc_topk(emb, coarse, books, query_id=0, k=5, n_probe=1)
    got = [(r["id"], r["adc_dist"]) for r in served.collect()]
    want = [(r["id"], r["adc_dist"]) for r in inmem.collect()]
    assert got == want

    # the cluster filter must land in the scan's PartitionFilters (the
    # probe LISTS only the probed cluster= directories) — not a
    # post-scan Filter over all cells
    plan = plan_of(served)
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and any("cluster" in ln for ln in scan)

    # a zero-row corpus round-trips to an empty answer
    empty = str(tmp_path / "ivfadc_empty")
    S.persist_coded_corpus(emb.limit(0), coarse, books, empty)
    assert S.ann_ivfadc_from_store(spark, empty, coarse, books, qv, k=5).collect() == []


def test_ivfadc_store_and_in_memory_round_luts_alike(spark, tmp_path):
    """A lookup entry on a HALF_UP boundary: ||q - 0||^2 = 2.45e-05 for
    q = (0.0007, 0.0049). Spark's round takes it to 2.5e-05, Python's
    round to 2.4e-05; the store and in-memory paths share one scorer, so
    both answer 2.5e-05."""
    emb = spark.createDataFrame(
        [(0, [0.0007, 0.0049]), (1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    coarse, books = [[0.0, 0.0]], [[[0.0, 0.0], [1.0, 1.0]]]
    store = str(tmp_path / "ivfadc_boundary")
    S.persist_coded_corpus(emb, coarse, books, store)
    served = S.ann_ivfadc_from_store(
        spark, store, coarse, books, [0.0007, 0.0049], query_id=0, k=5, n_probe=1
    ).collect()
    inmem = S.ann_ivfadc_topk(emb, coarse, books, query_id=0, k=5, n_probe=1).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inmem]
    assert (served[0]["id"], served[0]["adc_dist"]) == (1, 2.5e-05)


# ---------------------------------------------------------------------------
# personalized PageRank (Haveliwala topic-sensitive teleport)
# ---------------------------------------------------------------------------


def test_personalized_pagerank_chain(spark):
    from distributed_search_engine_spark.operators.pagerank import (
        run_personalized_pagerank,
    )

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    # chain 0 -> 1 -> 2 -> 3 (3 dangling)
    links = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    got = {
        r["doc_id"]: r["rank"]
        for r in run_personalized_pagerank(
            docs, links, seeds=["0"], iterations=2
        ).collect()
    }
    # hand-unroll: p = (1,0,0,0); r0 = p
    # r1 = 0.15*p + 0.85*transfer(r0): node0 0.15, node1 0.85, rest 0
    # r2 = 0.15*p + 0.85*transfer(r1): node0 0.15, node1 0.85*0.15=0.1275,
    #      node2 0.85*0.85=0.7225, node3 0
    assert got["0"] == pytest.approx(0.15)
    assert got["1"] == pytest.approx(0.1275)
    assert got["2"] == pytest.approx(0.7225)
    assert got["3"] == pytest.approx(0.0)


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    from distributed_search_engine_spark.operators.pagerank import (
        run_personalized_pagerank,
        synthetic_links,
    )

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    ranks = {
        r["doc_id"]: r["rank"]
        for r in run_personalized_pagerank(
            docs, synthetic_links(docs), seeds=["10"], iterations=3
        ).collect()
    }
    # the seed and its direct successor (10 -> 11) outrank the median doc
    vals = sorted(ranks.values())
    median = vals[len(vals) // 2]
    assert ranks["10"] > median
    assert ranks["11"] > median
    # total mass is bounded by the teleport + damping geometry (< 1.6)
    assert 0.0 < sum(ranks.values()) < 1.6


def test_hits_star_graph(spark):
    from distributed_search_engine_spark.operators.pagerank import run_hits

    # star: 1,2,3 all point at 0; 0 points nowhere
    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    links = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "src long, dst long"
    )
    got = {
        r["doc_id"]: (r["authority"], r["hub"])
        for r in run_hits(docs, links, iterations=2).collect()
    }
    # 0 is the unique authority (norm 1); 1,2,3 are equal hubs 1/sqrt(3)
    assert got["0"][0] == pytest.approx(1.0)
    assert got["0"][1] == pytest.approx(0.0)
    for n in ("1", "2", "3"):
        assert got[n][0] == pytest.approx(0.0)
        assert got[n][1] == pytest.approx(1.0 / math.sqrt(3.0), abs=1e-5)


# ---------------------------------------------------------------------------
# proximity (slop) search
# ---------------------------------------------------------------------------


def test_search_proximity_gap_and_boost(spark):
    from distributed_search_engine_spark.query.engine import search_proximity

    postings = spark.createDataFrame(
        [
            ("alpha", "d1", [1, 10], 0.5),
            ("beta", "d1", [4, 30], 0.5),   # min gap |4-1| = 3
            ("alpha", "d2", [1], 0.5),
            ("beta", "d2", [20], 0.5),      # gap 19 > slop -> dropped
            ("alpha", "d3", [7], 0.5),
            ("beta", "d3", [7], 0.5),       # same position -> gap 0
        ],
        "term string, doc_id string, positions array<int>, normalized_tf double",
    )
    ts = spark.createDataFrame(
        [("alpha", 2.0), ("beta", 2.0)], "term string, idf double"
    )
    got = {
        r["doc_id"]: (r["min_gap"], r["score"], r["rank"])
        for r in search_proximity(postings, ts, "alpha", "beta", slop=4).collect()
    }
    assert set(got) == {"d1", "d3"}
    assert got["d3"][0] == 0 and got["d3"][1] == pytest.approx(4.0)  # 2*(1+1/1)
    assert got["d1"][0] == 3 and got["d1"][1] == pytest.approx(2.0 * 1.25)
    assert got["d3"][2] == 1 and got["d1"][2] == 2


def test_search_facets_counts_and_best_score(spark):
    from distributed_search_engine_spark.query.engine import search_facets

    postings = spark.createDataFrame(
        [("alpha", "1", 0.5), ("alpha", "2", 1.0), ("beta", "2", 0.25)],
        "term string, doc_id string, normalized_tf double",
    )
    ts = spark.createDataFrame(
        [("alpha", 2.0), ("beta", 4.0)], "term string, idf double"
    )
    docs = spark.createDataFrame(
        [(1, "py", "web"), (2, "md", "web"), (3, "py", "repo")],
        "doc_id long, lang string, source string",
    )
    got = {
        (r["facet"], r["value"]): (r["n_docs"], r["best_score"])
        for r in search_facets(
            postings, ts, docs, ["alpha", "beta"]
        ).collect()
    }
    # doc1 score 1.0 (py/web); doc2 score 2.0+1.0=3.0 (md/web); doc3 unmatched
    assert got[("lang", "py")] == (1, 1.0)
    assert got[("lang", "md")] == (1, 3.0)
    assert got[("source", "web")] == (2, 3.0)
    assert ("source", "repo") not in got


def test_mmr_demotes_near_duplicates(spark):
    # rel order: 1 (dup of 2), 2, 3 (orthogonal-ish); MMR must pick the
    # diverse doc over the near-duplicate of an already-selected one
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # query
        (1, [0.99, 0.14, 0.0, 0.0]),    # highly relevant
        (2, [0.985, 0.17, 0.0, 0.0]),   # near-dup of 1, slightly less rel
        (3, [0.7, 0.0, 0.71, 0.0]),     # less relevant but diverse
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r["id"], r["rank"])
        for r in S.mmr_rerank(emb, query_id=0, k=2, pool=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    assert got[0][0] == 1            # top pick = highest relevance
    assert got[1][0] == 3            # diversity beats the near-dup of 1


# ---------------------------------------------------------------------------
# plan shapes: the new query operators stay map-side + broadcast
# ---------------------------------------------------------------------------


def test_proximity_plan_has_no_explode(spark):
    from distributed_search_engine_spark.query.engine import search_proximity

    postings = spark.createDataFrame(
        [("alpha", "d1", [1], 0.5), ("beta", "d1", [2], 0.5)],
        "term string, doc_id string, positions array<int>, normalized_tf double",
    )
    ts = spark.createDataFrame(
        [("alpha", 2.0), ("beta", 2.0)], "term string, idf double"
    )
    plan = plan_of(search_proximity(postings, ts, "alpha", "beta"))
    # the min-gap is a pure HOF over the position arrays — no explode
    # (Generate) node; candidate volume stays one row per matching doc
    assert "Generate" not in plan


def test_ivfadc_plan_no_shuffle_join(spark, ivfadc_fixture):
    emb, coarse, rows = ivfadc_fixture
    books = S.pq_train(
        S.residuals(emb, coarse),
        seeds=[[0.05, 0.0, 0.0, 0.05], [-0.05, 0.1, 0.1, -0.05]],
        m_subs=2,
        iters=2,
        id_col="id",
        vec_col="r",
    )
    plan = plan_of(
        S.ann_ivfadc_topk(emb, coarse, books, query_id=0, k=5, n_probe=2)
    )
    # encode+assign are map-side; the query LUT row arrives broadcast;
    # the only shuffles allowed are broadcast distribution + the k-row
    # single-partition window after the ordered limit
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 3
