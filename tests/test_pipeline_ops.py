"""Training-data pipeline operators: dedup, similarity, text analysis."""

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators import dedup as D
from distributed_search_engine_spark.operators import similarity as S
from distributed_search_engine_spark.operators import text_analysis as TA

DOCS = [
    ("1", "the quick brown fox jumps over the lazy dog"),
    ("2", "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ("3", "the quick brown fox jumps over the lazy cat"),  # near dup
    ("4", "completely different words about spark engines"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_exact_dedup(spark, docs):
    out = {r["keep_doc_id"]: r["n_dupes"] for r in D.exact_dedup(docs).collect()}
    assert out["1"] == 2  # docs 1+2 collapse, min doc_id kept
    assert out["3"] == 1 and out["4"] == 1
    assert "2" not in out


def test_shingles_and_jaccard(spark, docs):
    sh = D.shingles(docs, n=3)
    # doc1: 9 tokens -> 7 trigrams, all distinct
    assert sh.where("doc_id = '1'").count() == 7
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs(sh, threshold=0.0).collect()
    }
    assert pairs[("1", "2")] == 1.0  # identical
    # 1 vs 3: differ only in the last token -> share 6 of 7 trigrams each
    j13 = pairs[("1", "3")]
    assert abs(j13 - 6 / (7 + 7 - 6)) < 1e-12
    assert ("1", "4") not in pairs  # no shared trigram


def test_shingles_plan_is_shuffle_free_and_minhash_single_md5(spark, docs):
    """shingles is a pure projection (each doc is one row -> per-row
    array_distinct IS per-doc distinctness: no window sort, no distinct
    exchange); signatures pay exactly ONE exchange (the groupBy) and
    compute exactly ONE md5 per shingle row (H affine maps share the
    projected base hash)."""
    from tests.test_plans import plan_of

    sh = D.shingles(docs, n=3)
    assert "Exchange" not in plan_of(sh)
    sig_plan = plan_of(D.minhash_signatures(sh, n_hashes=16))
    # formatted plans list each node twice (tree + details section)
    assert sig_plan.count("+- Exchange") == 1
    assert sig_plan.count("md5") == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    sh = D.shingles(docs, n=3)
    sig = D.minhash_signatures(sh, n_hashes=16)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(sig, n_hashes=16, bands=4).collect()
    }
    assert ("1", "2") in cands  # identical docs always collide
    assert ("1", "4") not in cands


def test_simhash_properties(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sh["1"] == sh["2"]  # identical text -> identical fingerprint
    assert sh["1"] != sh["4"]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_pairs(
            D.simhash(docs), max_hamming=64, exact=True
        ).collect()
    }
    assert pairs[("1", "2")] == 0
    # near dup closer than unrelated doc
    assert pairs[("1", "3")] < pairs[("1", "4")]


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    (4, [1.0, 0.01, 0.0, 0.0]),  # closest to 0
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_embedding_neardup(spark, emb):
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_neardup(emb, threshold=0.95).collect()
    }
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    assert (0, 2) not in pairs and (0, 3) not in pairs


def test_ann_bruteforce_order(spark, emb):
    res = S.ann_bruteforce_topk(emb, query_id=0, k=3).collect()
    assert [r["id"] for r in res] == [4, 1, 2]
    assert [r["rank"] for r in res] == [1, 2, 3]


def test_ann_lsh_subset_of_bruteforce(spark, emb):
    lsh = S.ann_lsh_topk(emb, query_id=0, k=3, n_dims=4).collect()
    # LSH returns a subset of candidates ranked identically by cosine
    brute = {r["id"]: r["cosine"] for r in S.ann_bruteforce_topk(emb, 0, k=5).collect()}
    for r in lsh:
        assert abs(brute[r["id"]] - r["cosine"]) < 1e-9
    # vectors nearly parallel to the query share its bucket
    assert {r["id"] for r in lsh} >= {4}


def test_lang_id(spark):
    docs = spark.createDataFrame(
        [
            ("1", "the cat and the dog in that house"),
            ("2", "el gato y la casa de los perros"),
            ("3", "le chat est dans les maisons pour un"),
            ("4", "zzz qqq www"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in TA.lang_id(docs).collect()}
    assert out["1"] == "en" and out["2"] == "es" and out["3"] == "fr"
    assert out["4"] == "unknown"


def test_quality_and_token_counts(spark):
    docs = spark.createDataFrame(
        [("1", "the quick fox!! 123"), ("2", "")], "doc_id string, text string"
    )
    q = {r["doc_id"]: r.asDict() for r in TA.quality_score(docs).collect()}
    assert q["1"]["n_tokens"] == 4
    assert q["1"]["punct_ratio"] == round(2 / 19, 6)
    assert q["1"]["stop_ratio"] == 0.25  # 'the'
    assert q["2"]["n_tokens"] == 0 and q["2"]["quality"] >= 0.0
    tc = {r["doc_id"]: r.asDict() for r in TA.token_counts(docs).collect()}
    assert tc["1"]["ws_tokens"] == 4
    # bpe-ish: the, quick, fox, !, !, 123 -> 6
    assert tc["1"]["bpe_ish_tokens"] == 6
    assert tc["2"]["ws_tokens"] == 0


def test_fingerprint_order_sensitive(spark):
    docs = spark.createDataFrame(
        [("1", "alpha beta gamma"), ("2", "gamma beta alpha"), ("3", "alpha beta gamma")],
        "doc_id string, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in TA.fingerprint(docs).collect()}
    assert fp["1"] == fp["3"]
    assert fp["1"] != fp["2"]  # rolling hash is order-sensitive


# ---------------------------------------------------------------------------
# scale-path candidate generation (round-2): banded/bucketed equi-joins must
# agree with the O(N^2) verification kernels
# ---------------------------------------------------------------------------

from distributed_search_engine_spark.corpus import ingest, make_corpus


@pytest.fixture(scope="module")
def corpus60(spark):
    return ingest(make_corpus(spark, n_docs=60, seed=7))


def test_simhash_pairs_banded_equals_exact(spark, corpus60):
    """Pigeonhole recall-completeness: chunk-banded candidates + exact
    hamming filter == all-pairs kernel, for every max_hamming < n_chunks."""
    sim = D.simhash(corpus60, content_col="content").persist()
    for mh in (0, 3):
        banded = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in D.simhash_pairs(sim, max_hamming=mh).collect()
        }
        exact = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in D.simhash_pairs(sim, max_hamming=mh, exact=True).collect()
        }
        assert banded == exact
    sim.unpersist()


def test_simhash_pairs_banded_plan_has_no_theta_join(spark, corpus60):
    from tests.test_plans import plan_of

    plan = plan_of(D.simhash_pairs(D.simhash(corpus60, content_col="content")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_candidates_path_matches_self_join(spark, corpus60):
    """The candidate-routed common-shingle count must equal the self-join
    count on every pair the candidates cover, and be a subset overall."""
    sh = D.shingles(corpus60, content_col="content").persist()
    cands = D.lsh_candidate_pairs(D.minhash_signatures(sh))
    routed = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 12)
        for r in D.jaccard_pairs(sh, threshold=0.0, candidates=cands).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 12)
        for r in D.jaccard_pairs(sh, threshold=0.0).collect()
    }
    assert set(routed) <= set(full)
    for k, v in routed.items():
        assert full[k] == v
    # every exact duplicate pair (jaccard 1.0) must survive LSH routing
    assert {k for k, v in full.items() if v == 1.0} <= set(routed)
    sh.unpersist()


def test_jaccard_max_shingle_df_drops_hot_shingles(spark, docs):
    sh = D.shingles(docs, n=3)
    # every shingle in docs 1/2/3 appears in <= 3 docs; cap at 1 keeps only
    # doc-unique shingles -> identical docs 1,2 share NO surviving shingle
    out = D.jaccard_pairs(sh, threshold=0.0, max_shingle_df=1).collect()
    assert out == []


def test_embedding_neardup_bucketed_subset_and_exact_values(spark):
    """Bucketed pairs are a subset of all-pairs with identical cosines; on
    a clustered fixture (tight clusters, like the testdata embeddings)
    recall at high cosine is full."""
    import math
    import random

    rng = random.Random(5)
    rows = []
    vid = 0
    for c in range(4):
        center = [rng.choice([-1.0, 1.0]) for _ in range(16)]
        for _ in range(6):
            vec = [x + rng.uniform(-0.05, 0.05) for x in center]
            rows.append((vid, vec))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.9, n_dims=16, n_bands=4, n_planes=4)
    bucketed = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in D.embedding_neardup(emb, **kw).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in D.embedding_neardup(emb, exact=True, **kw).collect()
    }
    assert set(bucketed) <= set(exact)
    for k, v in bucketed.items():
        assert exact[k] == v
    # tight clusters: plain LSH recall is near-full but not guaranteed 1.0
    # (a pair can straddle one plane in every band); multi_probe=1 probes
    # the hamming-1 buckets and recovers full recall on this fixture
    probed = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in D.embedding_neardup(emb, multi_probe=1, **kw).collect()
    }
    assert set(bucketed) <= set(probed) <= set(exact)
    assert probed == exact
    assert len(exact) == 4 * (6 * 5) // 2  # intra-cluster pairs only


def test_embedding_neardup_plan_is_equi_join(spark):
    from tests.test_plans import plan_of

    rows = [(i, [float(i % 3), 1.0, 0.5, -1.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = plan_of(D.embedding_neardup(emb, n_dims=4, n_bands=2, n_planes=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_topk_plan_uses_take_ordered(spark, emb):
    from tests.test_plans import plan_of

    plan = plan_of(S.ann_bruteforce_topk(emb, query_id=0, k=3))
    assert "TakeOrderedAndProject" in plan
    plan2 = plan_of(S.ann_lsh_topk(emb, query_id=0, k=3, n_dims=4))
    assert "TakeOrderedAndProject" in plan2


def test_ann_ivf_subset_and_recall(spark):
    """IVF results are exact cosines over a probed subset: every returned
    (id, cosine) appears in brute force with the identical value, and with
    all clusters probed IVF == brute force exactly."""
    rng = __import__("random").Random(9)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {r["id"]: r["cosine"] for r in S.ann_bruteforce_topk(emb, 0, k=59).collect()}
    ivf = S.ann_ivf_topk(emb, 0, k=10, n_centroids=8, n_probe=2).collect()
    assert 0 < len(ivf) <= 10
    for r in ivf:
        assert brute[r["id"]] == r["cosine"]  # exact rerank, 6dp-rounded both
    full = S.ann_ivf_topk(emb, 0, k=10, n_centroids=8, n_probe=8).collect()
    want = S.ann_bruteforce_topk(emb, 0, k=10).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in want]


def test_ann_ivf_assignment_has_no_shuffle(spark):
    """Centroid assignment is a pure map stage: no Exchange before the
    cluster filter."""
    from tests.test_plans import plan_of

    rows = [(i, [float((i * j) % 5) - 2.0 for j in range(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = plan_of(
        S.ann_ivf_topk(emb, 0, k=3, n_centroids=4, n_probe=2)
    )
    assert "CartesianProduct" not in plan


def test_source_roundtrips_preserve_rows(spark, tmp_path):
    """csv/json/orc write->read with explicit schema must reproduce every
    row exactly, including micro-precision timestamps and doubles."""
    import datetime

    from distributed_search_engine_spark import sources as SRC

    rows = [
        (1, datetime.datetime(2026, 1, 1, 0, 0, 0, 123456), "a,b\"c", 0.1 + 0.2),
        (2, datetime.datetime(2026, 1, 1, 23, 59, 59, 999999), None, -1e-9),
    ]
    schema = "id long, ts timestamp_ntz, s string, v double"
    df = spark.createDataFrame(rows, schema)
    want = sorted([tuple(r) for r in df.collect()])
    for fmt in ("csv", "json", "orc"):
        back = SRC.roundtrip(spark, df, str(tmp_path / fmt), fmt, schema)
        assert sorted([tuple(r) for r in back.collect()]) == want, fmt
    with __import__("pytest").raises(ValueError):
        SRC.read_table(spark, "x", "csv")  # schema required
    with __import__("pytest").raises(RuntimeError):
        SRC.read_table(spark, "cat.db.t", "iceberg")  # documented seam


def test_pigeonhole_keys_defuse_degenerate_hot_chunk(spark):
    """Round-3 skew guard: a corpus where every fingerprint shares an
    all-zero low block (the near-empty-doc pathology that made single
    8-bit chunk keys quadratic) must NOT explode the candidate join.
    With 3-block ~32-bit composite keys, unrelated docs collide only by
    agreeing on ~21 further random bits, so candidates stay ~= true pairs
    while the old single-chunk scheme would emit all C(N,2) pairs."""
    import random

    rng = random.Random(11)
    n = 256
    # low 11 bits (block 0 of the m=6 layout) zero for EVERY doc; the rest
    # uniform random -> no pair is actually within hamming 3
    rows = []
    for i in range(n):
        v = rng.getrandbits(64) & ~((1 << 11) - 1)
        if v >= 1 << 63:
            v -= 1 << 64  # to signed int64
        rows.append((str(i), v))
    sim = spark.createDataFrame(rows, "doc_id string, simhash long")
    cands = D.pigeonhole_candidates(sim, max_hamming=3).count()
    all_pairs = n * (n - 1) // 2
    assert cands < all_pairs / 20  # old scheme: == all_pairs
    # recall completeness unchanged on the same pathological input
    banded = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_pairs(sim, max_hamming=3).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_pairs(sim, max_hamming=3, exact=True).collect()
    }
    assert banded == exact


def test_pigeonhole_recall_complete_on_planted_near_dups(spark):
    """Planted pairs at every hamming distance 0..3 (and a 4 that must be
    excluded) are all recovered through the multi-block keys."""
    import random

    rng = random.Random(3)
    rows, expected = [], set()
    vid = 0
    for h in range(5):
        base = rng.getrandbits(63)  # keep sign bit clear for readability
        flip = 0
        bitpos = rng.sample(range(64), h)
        for b in bitpos:
            flip |= 1 << b
        v2 = base ^ flip
        if v2 >= 1 << 63:
            v2 -= 1 << 64
        rows.append((f"a{vid}", base))
        rows.append((f"b{vid}", v2))
        if h <= 3:
            expected.add((f"a{vid}", f"b{vid}", h))
        vid += 1
    sim = spark.createDataFrame(rows, "doc_id string, simhash long")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_pairs(sim, max_hamming=3).collect()
        if r["doc_a"][1:] == r["doc_b"][1:]  # planted pairs only
    }
    assert got == expected


def test_embedding_multiprobe_superset_with_exact_cosines(spark):
    """multi_probe=1 candidates are a superset of plain LSH candidates and
    a subset of the exact kernel, with identical cosine values; the test
    fixture is chosen (seeded) so the strict-superset case actually occurs
    (a near pair straddling one sign plane)."""
    import random

    rng = random.Random(23)
    rows = []
    for i in range(40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(8)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.5, n_dims=8, n_bands=1, n_planes=6)
    plain = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in D.embedding_neardup(emb, **kw).collect()
    }
    probed = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in D.embedding_neardup(emb, multi_probe=1, **kw).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in D.embedding_neardup(emb, exact=True, **kw).collect()
    }
    assert set(plain) <= set(probed) <= set(exact)
    assert len(probed) > len(plain)  # probe recovered >= 1 straddling pair
    for k, v in probed.items():
        assert exact[k] == v


def test_auto_n_planes_scales_with_corpus():
    assert D.auto_n_planes(1_000) == 8          # floor
    assert D.auto_n_planes(1_000_000) == 14     # log2(1e6/64)
    assert D.auto_n_planes(100_000_000) == 21
    assert D.auto_n_planes(10**12) == 34
    assert D.auto_n_blocks(3) == 6              # C(6,3)=20 combos, 32-bit keys
    assert D.auto_n_blocks(0) == 3


def test_lang_id_ngram_classifies_and_rejects_gibberish(spark):
    """Char-trigram NB model: correct language on held-out sentences that
    share no full words requirement with the wordlist heuristic, and
    'unknown' on gibberish / empty (match-ratio threshold)."""
    docs = spark.createDataFrame(
        [
            ("1", "this sentence was never in the training text but looks english"),
            ("2", "esta frase nunca estuvo en el texto pero parece espanola"),
            ("3", "cette phrase nouvelle ressemble beaucoup au francais"),
            ("4", "diese neue satzprobe sieht ziemlich deutsch aus"),
            ("5", "zzz qqq xxx vvv kkk"),
            ("6", ""),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in TA.lang_id_ngram(docs).collect()}
    assert out["1"] == "en" and out["2"] == "es"
    assert out["3"] == "fr" and out["4"] == "de"
    assert out["5"] == "unknown" and out["6"] == "unknown"


@pytest.mark.parametrize("seed", [0, 1])
def test_pigeonhole_property_random_fingerprints(spark, seed):
    """Property: banded == exact for random 64-bit fingerprints across
    max_hamming radii (auto block counts m=h+3 and the m=h+1 fallback)."""
    import random

    rng = random.Random(seed)
    unsigned = []
    for i in range(80):
        v = rng.getrandbits(64)
        # plant some near-dups of earlier docs (XOR in unsigned space)
        if i % 7 == 0 and unsigned:
            base = unsigned[rng.randrange(len(unsigned))]
            v = base ^ (1 << rng.randrange(64)) ^ (1 << rng.randrange(64))
        unsigned.append(v)
    rows = [
        (str(i), v - (1 << 64) if v >= 1 << 63 else v)
        for i, v in enumerate(unsigned)
    ]
    sim = spark.createDataFrame(rows, "doc_id string, simhash long").persist()
    for mh in (1, 2, 4, 5):
        banded = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in D.simhash_pairs(sim, max_hamming=mh).collect()
        }
        exact = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in D.simhash_pairs(sim, max_hamming=mh, exact=True).collect()
        }
        assert banded == exact, (seed, mh)
    sim.unpersist()


def test_redact_pii(spark):
    docs = spark.createDataFrame(
        [
            ("1", "mail a.b+c@test.org and 192.168.0.1 or call +1 555 123 4567 now"),
            ("2", "no pii here at all"),
            ("3", "two mails x@y.io z@w.co one ip 10.0.0.7"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in TA.redact_pii(docs).collect()}
    assert out["1"]["n_emails"] == 1 and out["1"]["n_ips"] == 1 and out["1"]["n_phones"] == 1
    assert "<EMAIL>" in out["1"]["clean_text"] and "<IP>" in out["1"]["clean_text"]
    assert "<PHONE>" in out["1"]["clean_text"]
    assert "test.org" not in out["1"]["clean_text"]
    assert out["2"]["clean_text"] == "no pii here at all"
    assert out["2"]["n_emails"] == out["2"]["n_phones"] == out["2"]["n_ips"] == 0
    assert out["3"]["n_emails"] == 2 and out["3"]["n_ips"] == 1


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [
            ("1", "same line\nsame line\nother line"),   # 1 dup of 3 lines
            ("2", "aa aa aa aa bb"),                      # top token 4/5, top bigram 3/4
            ("3", ""),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in TA.repetition_stats(docs).collect()}
    assert out["1"]["n_lines"] == 3
    assert out["1"]["dup_line_ratio"] == round(1 / 3, 6)
    assert out["2"]["top_token_ratio"] == 0.8
    assert out["2"]["top_bigram_ratio"] == 0.75  # 'aa aa' x3 of 4 bigrams
    assert out["3"]["n_lines"] == 0 and out["3"]["dup_line_ratio"] == 0.0


def test_decontaminate_flags_overlap(spark, docs):
    """Docs sharing any trigram with the benchmark are flagged; the
    benchmark member itself is fully contaminated; disjoint docs clean."""
    bench = spark.createDataFrame(
        [("b1", "the quick brown fox jumps")], "doc_id string, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in D.decontaminate(docs, bench, n=3).collect()}
    # docs 1/2/3 share 'the quick brown' etc.; doc 4 shares nothing
    assert out["1"]["contaminated"] and out["2"]["contaminated"] and out["3"]["contaminated"]
    assert not out["4"]["contaminated"]
    assert out["4"]["n_hit_shingles"] == 0
    # doc1 has 7 trigrams, bench covers the first 3
    assert out["1"]["n_hit_shingles"] == 3
    assert out["1"]["hit_ratio"] == round(3 / 7, 6)


def test_stratified_sample_deterministic_and_proportional(spark):
    rows = [(i, f"doc {i}", "a" if i % 2 == 0 else "b") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = TA.stratified_sample(docs, {"a": 0.5, "b": 0.0}, group_col="source")
    got = kept.groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in got}
    assert "b" not in by  # fraction 0 -> nothing kept
    assert 400 < by["a"] < 600  # ~50% of the 1000 'a' docs
    # deterministic: a second run keeps the exact same ids
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in TA.stratified_sample(docs, {"a": 0.5, "b": 0.0}, group_col="source").collect()
    )
    assert ids1 == ids2
    # different seed -> different (but same-sized ballpark) sample
    ids3 = sorted(
        r["doc_id"]
        for r in TA.stratified_sample(
            docs, {"a": 0.5, "b": 0.0}, group_col="source", seed="other"
        ).collect()
    )
    assert ids3 != ids1


def test_pack_sequences_offsets_and_chunks(spark):
    # hand-computed: doc 0 (3 tok), 1 (0 tok -> dropped), 2 (4 tok),
    # 5 (2 tok) with block=2 exercising cross-block offsets; seq_len=4
    rows = [
        (0, "a b c"),
        (1, "   "),
        (2, "w x y z"),
        (5, "p q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["start_offset"], r["first_chunk"], r["last_chunk"]
        )
        for r in TA.pack_sequences(df, seq_len=4, block=2).collect()
    }
    assert got == {
        0: (3, 0, 0, 0),        # tokens 0..2 -> chunk 0
        2: (4, 3, 0, 1),        # tokens 3..6 -> spans chunks 0-1
        5: (2, 7, 1, 2),        # tokens 7..8 -> spans chunks 1-2
    }


def test_pack_sequences_block_invariance(spark):
    # the distributed two-level prefix sum must be block-size-invariant
    rows = [(i, " ".join(["t"] * ((i * 7) % 5 + 1))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r["doc_id"], r["start_offset"])
        for r in TA.pack_sequences(df, seq_len=8, block=4).collect()
    )
    b = sorted(
        (r["doc_id"], r["start_offset"])
        for r in TA.pack_sequences(df, seq_len=8, block=1000).collect()
    )
    assert a == b
    # offsets are a permutation-free running sum: consecutive docs abut
    offs = dict(a)
    lens = {r[0]: (r[0] * 7) % 5 + 1 for r in rows}
    run = 0
    for d in sorted(offs):
        assert offs[d] == run
        run += lens[d]


def test_range_join_boundaries_and_spans(spark):
    from distributed_search_engine_spark.operators.temporal import range_join

    ev = spark.createDataFrame(
        [(1, 100.0), (2, 3600.0), (3, 5399.999), (4, 5400.0), (5, 9999.0)],
        "event_id long, ts double",
    )
    iv = spark.createDataFrame(
        [(0, 0.0, 5400.0), (1, 5400.0, 7200.0)],
        "interval_id int, start_ts double, end_ts double",
    )
    got = sorted(
        (r["event_id"], r["interval_id"])
        for r in range_join(ev, iv, bucket_secs=3600).collect()
    )
    # end-exclusive: 5400.0 belongs to interval 1 only; 9999 matches none;
    # interval 0 spans two buckets and still catches both its events
    assert got == [(1, 0), (2, 0), (3, 0), (4, 1)]


def test_range_join_plan_is_equi_not_theta(spark):
    from tests.test_plans import plan_of
    from distributed_search_engine_spark.operators.temporal import range_join

    ev = spark.range(100).select(
        F.col("id").alias("event_id"), (F.col("id") * 60.0).alias("ts")
    )
    iv = spark.range(5).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * 1000.0).alias("start_ts"),
        (F.col("id") * 1000.0 + 500).alias("end_ts"),
    )
    plan = plan_of(range_join(ev, iv))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temperature_sample_rates(spark):
    rows = [(i, "x", "A" if i < 900 else "B") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # tau=0 flattens: expected picks equal per group -> p_g = T*N/2/n_g
    out = TA.temperature_sample(df, tau=0.0, target_frac=0.1)
    ps = {r["source"]: r["keep_p"] for r in out.collect()}
    assert abs(ps["A"] - round(0.1 * 1000 / 2 / 900, 6)) < 1e-9
    assert abs(ps["B"] - round(0.1 * 1000 / 2 / 100, 6)) < 1e-9
    # tau=1 preserves natural proportions: uniform keep_p = target_frac
    out1 = TA.temperature_sample(df, tau=1.0, target_frac=0.4)
    ps1 = {r["source"]: r["keep_p"] for r in out1.collect()}
    assert ps1 == {"A": 0.4, "B": 0.4}
    # cap: a tiny group under strong flattening saturates at 1.0
    out0 = TA.temperature_sample(df, tau=0.0, target_frac=0.9)
    ps0 = {r["source"]: r["keep_p"] for r in out0.collect()}
    assert ps0["B"] == 1.0


def test_ngram_counts_hand_computed(spark):
    rows = [(1, "a b a b a"), (2, "a b a c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["ngram"], r["n_occurrences"], r["rank"])
        for r in TA.ngram_counts(df, n=2, k=3).collect()
    ]
    # bigrams: 'a b' x3, 'b a' x3, 'a c' x1, 'c d' x1
    assert got == [("a b", 3, 1), ("b a", 3, 2), ("a c", 1, 3)]


def test_ann_batch_equals_per_query(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    batch = S.ann_bruteforce_batch(emb, [0, 5], k=4).collect()
    for qid in (0, 5):
        single = [
            (r["id"], r["cosine"], r["rank"])
            for r in S.ann_bruteforce_topk(emb, qid, k=4).collect()
        ]
        got = sorted(
            ((r["id"], r["cosine"], r["rank"]) for r in batch if r["qid"] == qid),
            key=lambda x: x[2],
        )
        assert got == single


def test_quality_linear_bounded_and_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha"), (3, "zzz unknown")],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r["quality_prob"] for r in TA.quality_linear(docs).collect()}
    b = {r["doc_id"]: r["quality_prob"] for r in TA.quality_linear(docs).collect()}
    assert a == b
    assert all(0.0 < p < 1.0 for p in a.values())


def test_bloom_prune_no_false_negatives(spark):
    from distributed_search_engine_spark.operators.bloom import (
        bloom_prune,
        build_bloom,
    )

    probe = spark.range(2000).select(F.col("id").alias("k"))
    build = spark.range(0, 2000, 37).select(F.col("id").alias("k"))
    bm = build_bloom(build, "k", m_bits=1 << 12, k_hashes=4)
    kept = {r["k"] for r in bloom_prune(probe, "k", bm, m_bits=1 << 12).collect()}
    truth = set(range(0, 2000, 37))
    # every true member passes; the rest are bounded false positives
    assert truth <= kept
    assert len(kept) < 2000  # it actually prunes
    # deterministic: same bitmap, same survivors
    kept2 = {r["k"] for r in bloom_prune(probe, "k", bm, m_bits=1 << 12).collect()}
    assert kept == kept2


def test_bloom_fast_family_no_false_negatives(spark):
    from distributed_search_engine_spark.operators.bloom import (
        bloom_prune,
        build_bloom,
    )

    probe = spark.range(2000).select(F.col("id").alias("k"))
    build = spark.range(0, 2000, 37).select(F.col("id").alias("k"))
    # the production family: one xxhash64 + Kirsch-Mitzenmacher stride;
    # k is not capped at 4 (no digest-slice limit)
    bm = build_bloom(build, "k", m_bits=1 << 12, k_hashes=6, hash_family="fast")
    kept = {
        r["k"]
        for r in bloom_prune(
            probe, "k", bm, m_bits=1 << 12, k_hashes=6, hash_family="fast"
        ).collect()
    }
    truth = set(range(0, 2000, 37))
    assert truth <= kept
    assert len(kept) < 2000
    kept2 = {
        r["k"]
        for r in bloom_prune(
            probe, "k", bm, m_bits=1 << 12, k_hashes=6, hash_family="fast"
        ).collect()
    }
    assert kept == kept2


def test_bloom_bitmap_bytes(spark):
    from distributed_search_engine_spark.operators.bloom import build_bloom

    # dense fill: bitmap must be exactly m/8 bytes with high bits set too
    build = spark.range(3000).select(F.col("id").alias("k"))
    bm = build_bloom(build, "k", m_bits=1 << 10, k_hashes=4)
    assert isinstance(bm, bytes) and len(bm) == (1 << 10) // 8
    assert any(b & 0x80 for b in bm)  # bit 7 of some byte is set


def test_salted_join_equals_plain_join(spark):
    from distributed_search_engine_spark.operators.skew import salted_join

    # skewed fact: key 0 holds 80% of rows
    fact = spark.range(1000).select(
        F.col("id").alias("fid"),
        F.when(F.col("id") < 800, 0).otherwise(F.col("id") % 50).alias("k"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
    )
    plain = sorted(
        (r["fid"], r["attr"])
        for r in fact.join(dim, "k").select("fid", "attr").collect()
    )
    for how in ("inner", "left"):
        salted = sorted(
            (r["fid"], r["attr"])
            for r in salted_join(fact, dim, "k", "fid", n_salts=4, how=how)
            .select("fid", "attr")
            .collect()
        )
        want = plain if how == "inner" else sorted(
            (r["fid"], r["attr"])
            for r in fact.join(dim, "k", "left").select("fid", "attr").collect()
        )
        assert salted == want


def test_md5_hash_helper_matches_duckdb(spark):
    # the shared md5-prefix hash must stay bit-identical to the oracle
    # expression ('0x' || substr(md5(...), 1, 8))::bigint
    import duckdb

    from distributed_search_engine_spark.functions.hashing import (
        md5_bucket,
        md5_uniform,
    )

    df = spark.range(50).select(F.col("id").alias("k"))
    got = {
        r["k"]: (r["u"], r["b"])
        for r in df.select(
            "k",
            md5_uniform(F.col("k"), salt="s:").alias("u"),
            md5_bucket(F.col("k"), 97, salt="s:").alias("b"),
        ).collect()
    }
    want = {
        k: (u, b)
        for k, u, b in duckdb.sql(
            "SELECT r.range AS k,"
            " (('0x' || substr(md5('s:' || r.range::varchar), 1, 8))::bigint"
            f"  / {float(16 ** 8)!r}) AS u,"
            " (('0x' || substr(md5('s:' || r.range::varchar), 1, 8))::bigint"
            "  % 97) AS b"
            " FROM range(50) r"
        ).fetchall()
    }
    assert got == want


def _py_morton(a, b, bits=16):
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    return z


def test_zvalue_matches_python_morton(spark):
    from distributed_search_engine_spark.operators.layout import zvalue

    df = spark.createDataFrame(
        [(i, (i * 7) % 61, (i * 13) % 53) for i in range(100)],
        "id long, a long, b long",
    )
    z = df.select("id", zvalue(F.col("a"), F.col("b")).alias("zvalue"))
    got = {r["id"]: r["zvalue"] for r in z.collect()}
    for i in range(100):
        assert got[i] == _py_morton((i * 7) % 61, (i * 13) % 53)


def test_zorder_layout_prunes_more_files_than_row_major(spark):
    # 16x16 grid split into 16 "files" of 16 rows: a 4x4 box query must
    # intersect fewer files' [min,max] column stats under z-order than
    # under row-major layout — the whole point of the clustering key
    pts = [(x, y) for x in range(16) for y in range(16)]

    def files_touched(order_key):
        rows = sorted(pts, key=order_key)
        files = [rows[i : i + 16] for i in range(0, 256, 16)]
        n = 0
        for f in files:
            xs = [p[0] for p in f]
            ys = [p[1] for p in f]
            # box query: 4 <= x < 8 AND 4 <= y < 8 vs file min/max stats
            if min(xs) < 8 and max(xs) >= 4 and min(ys) < 8 and max(ys) >= 4:
                n += 1
        return n

    row_major = files_touched(lambda p: p[0] * 16 + p[1])
    zorder = files_touched(lambda p: _py_morton(p[0], p[1]))
    assert zorder < row_major


def test_length_histogram_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2), (4, 3), (5, 1024), (6, 1025)],
        "doc_id long, n_chars long",
    )
    got = {
        r["bucket"]: (r["lo"], r["hi"], r["n_docs"])
        for r in TA.length_histogram(docs).collect()
    }
    assert got == {
        -1: (0, 1, 1),       # len 0
        0: (1, 2, 1),        # len 1
        1: (2, 4, 2),        # len 2, 3
        10: (1024, 2048, 2),  # len 1024, 1025
    }


def test_chunk_documents_windows(spark):
    docs = spark.createDataFrame(
        [(1, "a" * 10), (2, "b" * 25), (3, ""), (4, "c" * 3)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_start"], r["chunk_len"])
        for r in TA.chunk_documents(docs, chunk_chars=10, overlap=4).collect()
    }
    # doc 1: exactly one full window; doc 3 (empty): dropped;
    # doc 2 (25 chars, step 6): windows at 0,6,12,18 -> last is short
    assert got == {
        ("1", 0): (0, 10),
        ("2", 0): (0, 10), ("2", 1): (6, 10), ("2", 2): (12, 10),
        ("2", 3): (18, 7),
        ("4", 0): (0, 3),
    }
    # consecutive windows overlap by exactly `overlap` chars
    assert 6 == 10 - 4


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        TA.chunk_documents(docs, chunk_chars=5, overlap=5)


# ---------------------------------------------------------------------------
# exact duplicate-substring detection (window-granular, Lee et al. 2022 shape)
# ---------------------------------------------------------------------------

SUB_DOCS = [
    # docs a+b share the 10-token run "one two ... ten" at different offsets;
    # doc c is unique; doc d is too short to hold a full window
    ("a", "alpha beta one two three four five six seven eight nine ten gamma"),
    ("b", "one two three four five six seven eight nine ten delta epsilon zeta"),
    ("c", "totally unrelated content with enough tokens to form windows here ok"),
    ("d", "tiny doc"),
]


@pytest.fixture(scope="module")
def sub_docs(spark):
    return spark.createDataFrame(SUB_DOCS, "doc_id string, text string")


def test_duplicate_windows_and_spans(spark, sub_docs):
    w = 8
    wins = D.duplicate_windows(sub_docs, w=w)
    got = {(r["doc_id"], r["pos"]) for r in wins.collect()}
    # the shared 10-token run yields 10-8+1 = 3 duplicated windows per doc:
    # doc a: run starts at token 3 -> starts 3,4,5; doc b: run at 1 -> 1,2,3
    assert got == {("a", 3), ("a", 4), ("a", 5), ("b", 1), ("b", 2), ("b", 3)}

    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in D.substring_spans(wins, w=w).collect()
    }
    # consecutive starts merge into ONE maximal span covering the 10 tokens
    assert spans == {"a": (3, 12, 3), "b": (1, 10, 3)}


def test_substring_spans_split_on_gap(spark):
    # two duplicated regions separated by > w tokens stay separate spans
    run1 = "one two three four"
    run2 = "red blue green yellow"
    filler = " ".join(f"f{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            ("x", f"{run1} {filler} {run2}"),
            ("y", f"{run1} {filler.replace('f', 'g')} {run2}"),
        ],
        "doc_id string, text string",
    )
    w = 4
    spans = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["n_windows"])
        for r in D.substring_spans(D.duplicate_windows(docs, w=w), w=w).collect()
    }
    # doc x: run1 at 1..4, run2 at 17..20 -> two spans per doc
    assert spans[("x", 1)] == (4, 1)
    assert spans[("x", 17)] == (20, 1)
    assert len([k for k in spans if k[0] == "x"]) == 2


def test_substring_dup_stats(spark, sub_docs):
    stats = {
        r["doc_id"]: r for r in D.substring_dup_stats(sub_docs, w=8).collect()
    }
    # doc a: 13 tokens, one 10-token dup span
    assert stats["a"]["n_tokens"] == 13
    assert stats["a"]["n_dup_windows"] == 3
    assert stats["a"]["dup_tokens"] == 10
    assert abs(stats["a"]["dup_fraction"] - round(10 / 13, 6)) < 1e-9
    # unique and too-short docs report zero but still appear
    assert stats["c"]["dup_tokens"] == 0 and stats["c"]["dup_fraction"] == 0.0
    assert stats["d"]["n_tokens"] == 2 and stats["d"]["n_dup_windows"] == 0


def test_window_hash_plan_is_shuffle_free(spark, sub_docs):
    """window hashing is a pure per-doc map stage: the (doc_id, pos, whash)
    stream duplicate_windows counts comes from one vectorized Arrow kernel
    (arrow_kernels.window_hashes_arrow) with ZERO exchanges and no
    row-at-a-time Python (no BatchEvalPython); the one shuffle is the
    hash-keyed count after it."""
    from distributed_search_engine_spark.operators.arrow_kernels import (
        window_hashes_arrow,
    )
    from tests.test_plans import plan_of

    p = plan_of(window_hashes_arrow(sub_docs, 8))
    assert "Exchange" not in p
    assert "MapInArrow" in p
    assert "BatchEvalPython" not in p


# ---------------------------------------------------------------------------
# bigram-LM perplexity scoring (CCNet quality-filter shape)
# ---------------------------------------------------------------------------


def test_bigram_lm_hand_computed(spark):
    """Self-trained corpus small enough to compute the smoothed model by
    hand: docs 'a b a b' and 'b c'. Train counts: bigrams {a b:2, b a:1,
    b c:1}, unigrams {a:2, b:3, c:1}, V=3."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in TA.bigram_lm_stats(docs, alpha=0.5).collect()}
    a, V = 0.5, 3
    lp_ab = math.log((2 + a) / (2 + a * V))  # p(b|a)
    lp_ba = math.log((1 + a) / (3 + a * V))  # p(a|b)
    lp_bc = math.log((1 + a) / (3 + a * V))  # p(c|b)
    avg1 = (2 * lp_ab + lp_ba) / 3
    assert out["1"]["n_bigrams"] == 3
    assert abs(out["1"]["avg_logprob"] - round(avg1, 6)) < 1e-9
    assert abs(out["1"]["ppl"] - round(math.exp(-avg1), 6)) < 1e-9
    assert out["2"]["n_bigrams"] == 1
    assert abs(out["2"]["avg_logprob"] - round(lp_bc, 6)) < 1e-9


def test_bigram_lm_unseen_and_short_docs(spark):
    """A doc scored under a model trained on OTHER docs: unseen context
    w1 -> p = alpha/(alpha*V) = 1/V; short docs report (0, 0.0, 1.0)."""
    import math

    train = spark.createDataFrame(
        [(10, "x y x y x y")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "q r"), (2, "solo")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in TA.bigram_lm_stats(docs, alpha=0.1, train_docs=train).collect()
    }
    # V=2 (x, y); bigram 'q r' unseen, context 'q' unseen: ln(0.1/(0.1*2))
    lp = math.log(0.1 / (0.1 * 2))
    assert out["1"]["n_bigrams"] == 1
    assert abs(out["1"]["avg_logprob"] - round(lp, 6)) < 1e-9
    assert out["2"] and out["2"]["n_bigrams"] == 0
    assert out["2"]["avg_logprob"] == 0.0 and out["2"]["ppl"] == 1.0


def test_bigram_lm_repetitive_scores_lower_ppl(spark):
    """The filter's point: under a self-trained model, a repetitive doc
    has lower perplexity than a doc of hapax tokens."""
    docs = spark.createDataFrame(
        [(1, "spam " * 30), (2, " ".join(f"tok{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["ppl"] for r in TA.bigram_lm_stats(docs).collect()}
    assert out["1"] < out["2"]


def test_bigram_stream_plan_is_shuffle_free(spark):
    """bigram emission is a pure map stage: one Arrow kernel, no
    Exchange and no per-row Python."""
    from tests.test_plans import plan_of

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    p = plan_of(TA._bigram_stream(docs, "doc_id", "text"))
    assert "Exchange" not in p and "BatchEvalPython" not in p
    assert "MapInArrow" in p


# ---------------------------------------------------------------------------
# interpolated Kneser-Ney bigram LM (the KenLM/CCNet smoothing)
# ---------------------------------------------------------------------------


def test_kneser_ney_hand_computed(spark):
    """Self-trained corpus small enough to evaluate Chen & Goodman eq.
    4.25 by hand: docs 'a b a b' and 'b c'. Bigram counts {a b:2, b a:1,
    b c:1}; c(a.)=2 N1+(a.)=1; c(b.)=2 N1+(b.)=2; N1+(.a)=N1+(.b)=
    N1+(.c)=1; T=3, V=3, so every continuation Pc = 1.5/4.5 = 1/3."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in TA.kneser_ney_lm_stats(docs, discount=0.75).collect()
    }
    p_b_a = (2 - 0.75) / 2 + 0.75 * 1 / 2 * (1 / 3)  # 0.75
    p_a_b = (1 - 0.75) / 2 + 0.75 * 2 / 2 * (1 / 3)  # 0.375
    p_c_b = p_a_b
    avg1 = (2 * math.log(p_b_a) + math.log(p_a_b)) / 3
    assert out["1"]["n_bigrams"] == 3
    assert abs(out["1"]["avg_logprob"] - round(avg1, 6)) < 1e-9
    assert abs(out["1"]["ppl"] - round(math.exp(-avg1), 6)) < 1e-9
    assert out["2"]["n_bigrams"] == 1
    assert abs(out["2"]["avg_logprob"] - round(math.log(p_c_b), 6)) < 1e-9


def test_kneser_ney_unseen_backoff_and_short_docs(spark):
    """Unseen CONTEXT backs off to the continuation distribution
    entirely; unseen continuation word gets the add-half floor
    0.5/(T+0.5V); discounted-out bigram (c12 unseen, context seen)
    keeps only the interpolation term. Short docs report (0, 0.0, 1.0)."""
    import math

    train = spark.createDataFrame(
        [(10, "x y x z")], "doc_id long, text string"
    )
    # T=3 {x y, y x, x z}, V=3 {x,y,z}; c(x.)=2 N1+(x.)=2; c(y.)=1
    # N1+(y.)=1; N1+(.y)=1, N1+(.x)=1, N1+(.z)=1; denom = 3+1.5 = 4.5
    docs = spark.createDataFrame(
        [(1, "q y"), (2, "y z"), (3, "solo")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in TA.kneser_ney_lm_stats(
            docs, discount=0.75, train_docs=train
        ).collect()
    }
    pc_y = 1.5 / 4.5
    # doc1: context 'q' unseen -> Pc(y)
    assert abs(out["1"]["avg_logprob"] - round(math.log(pc_y), 6)) < 1e-9
    # doc2: bigram 'y z' unseen but context 'y' seen (c=1, N1+=1):
    # max(0-D,0)/1 + D*1/1*Pc(z) = 0.75 * 1/3
    p_z_y = 0.75 * (1.5 / 4.5)
    assert abs(out["2"]["avg_logprob"] - round(math.log(p_z_y), 6)) < 1e-9
    assert out["3"]["n_bigrams"] == 0
    assert out["3"]["avg_logprob"] == 0.0 and out["3"]["ppl"] == 1.0


def test_kneser_ney_repetitive_scores_lower_ppl(spark):
    docs = spark.createDataFrame(
        [(1, "spam " * 30), (2, " ".join(f"tok{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["ppl"] for r in TA.kneser_ney_lm_stats(docs).collect()
    }
    assert out["1"] < out["2"]


def test_simhash_plan_is_pure_map_kernel(spark, docs):
    """Round-6 shape: simhash is ONE vectorized Arrow kernel emitting a
    row per doc — a pure map stage: ZERO Exchange, ZERO Generate, no
    row-at-a-time Python (no BatchEvalPython). The 64x bit-id explode
    (2 Generates, 2 Exchanges) and the 65-aggregate groupBy (1 Exchange,
    64 shift/mask trees per token) must not come back. The fingerprints
    are pinned by kernel_reference.simhash in test_arrow_kernels.py."""
    from tests.test_plans import plan_of

    p = plan_of(D.simhash(docs))
    assert "Exchange" not in p
    assert "Generate" not in p
    assert "BatchEvalPython" not in p
    assert "MapInArrow" in p


# ---------------------------------------------------------------------------
# Gopher rule battery (Rae et al. 2021 A1.1 as per-rule flags)
# ---------------------------------------------------------------------------


def test_gopher_rules_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the dog runs fast"), (2, "a b")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TA.gopher_rules(
            docs, min_words=3, max_words=10, stop_words=("the", "and"),
            min_stop=2,
        ).collect()
    }
    d1 = out["1"]
    assert d1["n_words"] == 7
    assert abs(d1["mean_word_len"] - round(23 / 7, 6)) < 1e-9
    assert d1["frac_alpha_words"] == 1.0 and d1["symbol_ratio"] == 0.0
    assert d1["n_stop_distinct"] == 2
    assert (
        d1["pass_word_count"], d1["pass_mean_len"], d1["pass_symbol"],
        d1["pass_alpha"], d1["pass_stop"], d1["pass_gopher"],
    ) == (1, 1, 1, 1, 1, 1)
    d2 = out["2"]  # 2 words < min 3; mean len 1 < 3; no stop words
    assert d2["n_words"] == 2 and d2["pass_word_count"] == 0
    assert d2["pass_mean_len"] == 0 and d2["pass_stop"] == 0
    assert d2["pass_gopher"] == 0


def test_gopher_symbols_and_alpha(spark):
    # '#' and '...' count from RAW text (the tokenizer strips them);
    # digit-only tokens lower the alphabetic fraction
    docs = spark.createDataFrame(
        [(1, "aa bb 22 # ...")], "doc_id long, text string"
    )
    r = TA.gopher_rules(docs, min_alpha_frac=0.8, max_symbol_ratio=0.1).collect()[0]
    assert r["n_words"] == 3  # aa, bb, 22
    assert abs(r["frac_alpha_words"] - round(2 / 3, 6)) < 1e-9
    assert abs(r["symbol_ratio"] - round(2 / 3, 6)) < 1e-9  # 1 hash + 1 ellipsis
    assert r["pass_symbol"] == 0 and r["pass_alpha"] == 0


def test_gopher_rules_zero_shuffle_plan(spark):
    # every Gopher metric is a map-side projection: the physical plan
    # over a parquet scan must contain NO Exchange
    import contextlib
    import io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        TA.gopher_rules(docs).explain("formatted")
    assert "Exchange" not in buf.getvalue()


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, exact unigram form)
# ---------------------------------------------------------------------------


def test_dsir_importance_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    target = docs.where(F.col("doc_id") == 1)
    out = {
        r["doc_id"]: r
        for r in TA.dsir_importance(docs, target, alpha=0.5).collect()
    }
    # background: a:1 b:2 c:1, V=3, N_b=4; target: a:1 b:1, N_t=2; alpha=.5
    def llr(ct, cb):
        return math.log((ct + 0.5) / (2 + 0.5 * 3)) - math.log(
            (cb + 0.5) / (4 + 0.5 * 3)
        )

    avg1 = (llr(1, 1) + llr(1, 2)) / 2
    avg2 = (llr(1, 2) + llr(0, 1)) / 2
    assert out["1"]["n_tokens"] == 2
    assert abs(out["1"]["avg_llr"] - round(avg1, 6)) < 1e-9
    assert abs(out["2"]["avg_llr"] - round(avg2, 6)) < 1e-9
    # target-like doc scores strictly higher
    assert out["1"]["avg_llr"] > out["2"]["avg_llr"]


def test_dsir_empty_doc_reports_zero(spark):
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in TA.dsir_importance(docs, docs.where("doc_id = 1")).collect()
    }
    assert out["2"]["n_tokens"] == 0 and out["2"]["avg_llr"] == 0.0


# ---------------------------------------------------------------------------
# BPE pair counts (Sennrich et al. 2016 merge-iteration kernel)
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab ba"), (2, "abc")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in TA.bpe_pair_counts(docs, k=5).collect()]
    # words: ab x2, ba x1, abc x1 -> 'a b': 2+1=3, 'b a': 1, 'b c': 1
    assert rows == [("a b", 3, 1), ("b a", 1, 2), ("b c", 1, 3)]


def test_bpe_pair_multiplicity_within_word(spark):
    docs = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    rows = [tuple(r) for r in TA.bpe_pair_counts(docs, k=5).collect()]
    assert rows == [("a a", 2, 1)]  # 'aaa' contains the pair twice


# ---------------------------------------------------------------------------
# tf-idf keywords + n-gram novelty
# ---------------------------------------------------------------------------


def test_tfidf_keywords_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id long, text string",
    )
    out = TA.tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # N=3; df: apple 1, banana 2, cherry 2, date 1
    d1 = sorted(by_doc["1"], key=lambda r: r["rank"])
    assert d1[0]["term"] == "apple" and d1[0]["tf"] == 2
    assert abs(d1[0]["tfidf"] - round(2 * math.log(3 / 1), 6)) < 1e-9
    assert d1[1]["term"] == "banana"
    assert abs(d1[1]["tfidf"] - round(1 * math.log(3 / 2), 6)) < 1e-9
    # doc 3: cherry (df 2) vs date (df 1) -> date scores higher
    d3 = sorted(by_doc["3"], key=lambda r: r["rank"])
    assert d3[0]["term"] == "date" and d3[1]["term"] == "cherry"


def test_tfidf_keywords_tie_breaks_term_asc(spark):
    docs = spark.createDataFrame(
        [(1, "zebra yak zebra yak")], "doc_id long, text string"
    )
    out = sorted(TA.tfidf_keywords(docs, k=2).collect(), key=lambda r: r["rank"])
    # identical tf and df -> identical score; tie broken term-ascending
    assert [r["term"] for r in out] == ["yak", "zebra"]


def test_ngram_novelty_first_doc_all_novel(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles: 'a b c', 'b c d'
            (2, "a b c d"),          # exact repeat: nothing novel
            (3, "a b c x y z"),      # 'a b c' old; 'b c x','c x y','x y z' new
            (4, "q"),                # too short for any trigram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TA.ngram_novelty(docs, n=3).collect()}
    assert out["1"]["n_shingles"] == 2 and out["1"]["novelty"] == 1.0
    assert out["2"]["n_shingles"] == 2 and out["2"]["novelty"] == 0.0
    assert out["3"]["n_shingles"] == 4 and out["3"]["novelty"] == 0.75
    assert out["4"]["n_shingles"] == 0 and out["4"]["novelty"] == 0.0


def test_remove_dup_spans_hand_computed(spark, sub_docs):
    out = {r["doc_id"]: r for r in D.remove_dup_spans(sub_docs, w=8).collect()}
    # doc a: 13 tokens, dup span 3..12 cut -> "alpha beta" + "gamma"
    assert out["a"]["n_tokens"] == 13 and out["a"]["n_removed"] == 10
    assert out["a"]["clean_text"] == "alpha beta gamma"
    # doc b: span 1..10 cut -> tail survives
    assert out["b"]["clean_text"] == "delta epsilon zeta"
    # unique / too-short docs pass through untouched
    assert out["c"]["n_removed"] == 0
    assert out["c"]["clean_text"].startswith("totally unrelated")
    assert out["d"] ["clean_text"] == "tiny doc" and out["d"]["n_removed"] == 0


def test_remove_dup_spans_full_doc_excised(spark):
    # two identical 8-token docs: the whole stream is one dup span in both
    t = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [("x", t), ("y", t)], "doc_id string, text string"
    )
    out = {r["doc_id"]: r for r in D.remove_dup_spans(docs, w=8).collect()}
    for d in ("x", "y"):
        assert out[d]["n_tokens"] == 8
        assert out[d]["n_removed"] == 8
        assert out[d]["clean_text"] == ""


def test_remove_dup_spans_keep_one_spares_first_occurrence(spark):
    # Lee et al. keep-one variant: two identical 8-token docs — the
    # corpus-first copy (doc_id 'x' < 'y') survives intact, the second
    # is excised; default mode removes both (RefinedWeb-style)
    t = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [("x", t), ("y", t)], "doc_id string, text string"
    )
    keep = {
        r["doc_id"]: r
        for r in D.remove_dup_spans(docs, w=8, keep_one=True).collect()
    }
    assert keep["x"]["n_removed"] == 0 and keep["x"]["clean_text"] == t
    assert keep["y"]["n_removed"] == 8 and keep["y"]["clean_text"] == ""
    # three copies: still exactly one survivor (the argmin doc)
    docs3 = spark.createDataFrame(
        [("x", t), ("y", t), ("w", t)], "doc_id string, text string"
    )
    keep3 = {
        r["doc_id"]: r["n_removed"]
        for r in D.remove_dup_spans(docs3, w=8, keep_one=True).collect()
    }
    assert keep3 == {"w": 0, "x": 8, "y": 8}  # 'w' < 'x' < 'y' string order


def test_remove_dup_spans_two_spans_one_doc(spark):
    # both duplicated regions cut, interior filler kept
    run1 = "one two three four"
    run2 = "red blue green yellow"
    filler = " ".join(f"f{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            ("x", f"{run1} {filler} {run2}"),
            ("y", f"{run1} {filler.replace('f', 'g')} {run2}"),
        ],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r for r in D.remove_dup_spans(docs, w=4).collect()}
    assert out["x"]["clean_text"] == filler
    assert out["x"]["n_removed"] == 8


def test_cms_exact_when_no_collisions(spark):
    docs = spark.createDataFrame(
        [("1", "a a a b b c"), ("2", "a b d")], "doc_id string, text string"
    )
    got = {
        r["token"]: (r["est_count"], r["rank"])
        for r in TA.cms_heavy_hitters(docs, k=10).collect()
    }
    # width=1024, 4 tokens: collisions virtually impossible -> exact
    assert got == {"a": (4, 1), "b": (3, 2), "c": (1, 3), "d": (1, 4)}


def test_cms_only_overestimates(spark):
    rows = [(str(i), f"t{i % 7} t{i % 3} common") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    # brutal sketch (width=2, d=1) forces collisions
    est = {
        r["token"]: r["est_count"]
        for r in TA.cms_heavy_hitters(docs, k=100, d=1, width=2).collect()
    }
    true = {
        r["tok"]: r["c"]
        for r in TA._tok_df(docs, "doc_id", "text")
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(est) == set(true)
    for t, c in true.items():
        assert est[t] >= c  # CMS never underestimates


def test_cms_counters_merge_by_addition(spark):
    docs = spark.createDataFrame(
        [("1", "x x y"), ("2", "x z z")], "doc_id string, text string"
    )
    whole = {
        (r["row"], r["bucket"]): r["c"] for r in TA.cms_build(docs).collect()
    }
    parts = {}
    for i in ("1", "2"):
        for r in TA.cms_build(docs.where(F.col("doc_id") == i)).collect():
            k = (r["row"], r["bucket"])
            parts[k] = parts.get(k, 0) + r["c"]
    assert whole == parts


def _plan_of(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_cms_build_single_exchange(spark):
    # the counter table is ONE partial-agg groupBy: exactly one Exchange,
    # preceded by a partial HashAggregate (map-side combine), and the d x
    # token fanout happens map-side (no join, no second shuffle)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan_of(TA.cms_build(docs))
    # formatted explain prints each node once in the tree and once as a
    # "(n) Exchange" detail header — count the detail headers
    assert plan.count(") Exchange") == 1
    assert "Join" not in plan


def test_span_removal_no_cartesian(spark):
    # reconstruction adds only equi-exchanges (window count, span merge,
    # doc-keyed join) — never a theta join or cartesian product
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan_of(D.remove_dup_spans(docs, w=8))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_hll_estimate_accuracy_and_merge_shape(spark):
    # 2000 distinct tokens, each appearing twice (multiplicity must not
    # move the estimate): HLL at b=8 should land within ~3 sigma of
    # 1.04/sqrt(256) ~= 6.5% relative error
    rows = [
        (str(i), " ".join(f"w{j}" for j in range(i * 50, (i + 1) * 50)) * 2)
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = TA.hll_distinct(docs, b=8).collect()[0]
    assert out["m"] == 256
    true = 2000
    assert abs(out["est_distinct"] - true) / true < 0.2
    # duplicated stream -> identical registers -> identical estimate
    out2 = TA.hll_distinct(
        docs.union(docs), b=8
    ).collect()[0]
    assert out2["est_distinct"] == out["est_distinct"]


def test_hll_small_range_correction(spark):
    # 3 distinct tokens at m=256 -> raw estimate is far below 2.5m with
    # many zero registers: linear-counting correction m*ln(m/V) applies
    import math

    docs = spark.createDataFrame(
        [("1", "alpha beta gamma alpha")], "doc_id string, text string"
    )
    out = TA.hll_distinct(docs, b=8).collect()[0]
    v = out["n_zero_registers"]
    assert v == 253  # 3 distinct tokens -> 3 occupied registers
    assert abs(out["est_distinct"] - round(256 * math.log(256 / v), 4)) < 1e-9


def test_hll_empty_stream_is_zero_not_null(spark):
    # an empty token stream (all-whitespace docs) leaves zero occupied
    # registers; the estimate must be 0.0, not NULL (V == m small-range
    # correction gives m*ln(m/m) = 0) — both here and in the DuckDB twin
    docs = spark.createDataFrame(
        [("1", "   "), ("2", "")], "doc_id string, text string"
    )
    out = TA.hll_distinct(docs, b=8).collect()[0]
    assert out["n_zero_registers"] == 256
    assert out["est_distinct"] == 0.0

    import duckdb

    from distributed_search_engine_spark.oracle import hll_distinct_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT '1' AS doc_id, '   ' AS text "
        "UNION ALL SELECT '2', ''"
    )
    sql = hll_distinct_sql(b=8)
    # the oracle's base_ctes read from the documents view registered above
    row = con.execute(sql).fetchall()[0]
    assert row[1] == 256 and row[2] == 0.0


def test_priority_sample_weight_bias_and_determinism(spark):
    # weights spanning 4 orders of magnitude: heavy docs must dominate
    # the sample (E[u^(1/w)] = w/(w+1) -> 1 as w grows)
    rows = [(f"h{i}", 10_000) for i in range(20)] + [
        (f"l{i}", 1) for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, n_chars int").withColumn(
        "text", F.lit("x")
    )
    out = TA.priority_sample(docs, k=20).collect()
    heavy = sum(1 for r in out if r["doc_id"].startswith("h"))
    assert heavy >= 15  # u^(1/10000) ~ 1; u^(1/1) uniform
    again = TA.priority_sample(docs, k=20).collect()
    assert out == again
    # zero/negative weights never sampled
    docs2 = docs.union(
        spark.createDataFrame(
            [("z", 0, "x"), ("n", -5, "x")], "doc_id string, n_chars int, text string"
        )
    )
    ids = {r["doc_id"] for r in TA.priority_sample(docs2, k=300).collect()}
    assert "z" not in ids and "n" not in ids


def test_pmi_hand_computed(spark):
    import math

    # "big data" always adjacent (6x); "the", "cat" frequent but never
    # adjacent to each other in a fixed pattern -> "big data" tops PMI
    rows = [(str(i), "big data the cat sat big data here") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = TA.pmi_collocations(docs, k=5, min_count=2).collect()
    got = {(r["w1"], r["w2"]): r for r in out}
    # corpus: per doc 8 tokens, 7 bigrams -> Nb=21, Nu=24
    # c(big)=c(data)=6, c12(big,data)=6
    want = round(math.log((6 / 21) / ((6 / 24) * (6 / 24))), 6)
    r = got[("big", "data")]
    assert r["c12"] == 6 and abs(r["pmi"] - want) < 1e-9
    # min_count floor: "sat big" occurs 3x -> present; singletons absent
    assert all(r["c12"] >= 2 for r in out)
    ranked = sorted(out, key=lambda r: r["rank"])
    assert all(
        ranked[i]["pmi"] >= ranked[i + 1]["pmi"] for i in range(len(ranked) - 1)
    )
