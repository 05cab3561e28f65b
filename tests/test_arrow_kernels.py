"""Differential tests pinning the vectorized Arrow kernels
(operators/arrow_kernels.py), each its operator's one implementation.
Every kernel is compared row for row with an independent pure-Python
reference in tests/kernel_reference.py (the `_matches_jvm` names recall
the JVM Column twins those references were checked against before the
twins were deleted). The DuckDB oracle gates cover the same operators
end-to-end at sf0.01/sf0.001.

The fixture corpus stresses the edge cases the kernels must reproduce:
empty docs, whitespace-only, NULL content, sub-window-length docs,
HTML tags, punctuation, unicode (case mapping + multibyte trigrams),
vertical-tab/whitespace-class corners, and heavy repetition. Each
document kernel also runs on the fixture with string doc ids, spread
over 16 partitions (most of them empty), and with no rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators import dedup as D
from distributed_search_engine_spark.operators import text_analysis as TA
from distributed_search_engine_spark.index import trigram as TRI
from tests import kernel_reference as R


ROWS = [
    (1, "The quick brown fox jumps over the lazy dog the quick brown fox"),
    (2, ""),
    (3, "   "),
    (4, None),
    (5, "a"),
    (6, "Hello, WORLD! 123 foo-bar <b>tag</b> baz qux quux corge grault"),
    (7, "ünïcode tëst ça va? 日本語 text here more words again ok fine"),
    (8, "x y z w v u t s r q p o n m l k j i h g f e d c b a " * 3),
    (9, "repeat me repeat me repeat me repeat me repeat me repeat me"),
    (10, "tab\tsep\nnewline\x0bvtab mix   spaces"),
    (11, "İstanbul ẞtraße ÆØÅ mixed CASE words here"),
]


@pytest.fixture(scope="module")
def kdocs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _variants(spark, kdocs):
    """(name, frame, driver rows) for the fixture as given, with string
    doc ids, repartitioned to 16 partitions, and with no rows."""
    frames = {
        "long ids": kdocs,
        "string ids": kdocs.select(
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
        ),
        "16 partitions": kdocs.repartition(16),
        "no rows": spark.createDataFrame([], kdocs.schema),
    }
    for name, df in frames.items():
        yield name, df, [tuple(r) for r in df.collect()]


def test_simhash_kernel_matches_jvm(spark, kdocs):
    for name, df, docs in _variants(spark, kdocs):
        assert _rows(D.simhash(df)) == R.simhash(docs), name


def test_shingles_kernel_matches_jvm(spark, kdocs):
    for name, df, docs in _variants(spark, kdocs):
        for n in (2, 3, 5):
            assert _rows(D.shingles(df, n=n)) == R.shingles(docs, n), (name, n)


def test_window_hash_kernel_matches_jvm(spark, kdocs):
    for name, df, docs in _variants(spark, kdocs):
        for w in (3, 8):
            assert _rows(D.duplicate_windows(df, w)) == R.duplicate_windows(
                docs, w
            ), (name, w)


def test_token_count_kernel_matches_jvm(spark, kdocs):
    from distributed_search_engine_spark.operators.arrow_kernels import (
        token_counts_arrow,
    )

    for name, df, docs in _variants(spark, kdocs):
        assert _rows(token_counts_arrow(df)) == R.token_counts(docs), name


def test_bigram_stream_kernel_matches_jvm(spark, kdocs):
    for name, df, docs in _variants(spark, kdocs):
        got = _rows(TA._bigram_stream(df, "doc_id", "text"))
        assert got == R.bigram_stream(docs), name


def test_cms_kernel_matches_jvm(spark, kdocs):
    for name, df, docs in _variants(spark, kdocs):
        assert _rows(TA.cms_build(df)) == R.cms(docs), name


def test_distinct_tokens_kernel_matches_jvm(spark, kdocs):
    from distributed_search_engine_spark.operators.arrow_kernels import (
        distinct_tokens_arrow,
    )

    for name, df, docs in _variants(spark, kdocs):
        assert _rows(distinct_tokens_arrow(df)) == R.distinct_tokens(docs), name


def test_hll_registers_kernel_matches_jvm(spark, kdocs):
    from distributed_search_engine_spark.operators.arrow_kernels import (
        hll_registers_arrow,
    )

    for name, df, docs in _variants(spark, kdocs):
        for b in (4, 8):
            got = _rows(hll_registers_arrow(df, b))
            assert got == R.hll_registers(docs, b), (name, b)


def test_trigram_kernel_matches_jvm(spark, kdocs):
    for name, df, _ in _variants(spark, kdocs):
        lowered = [tuple(r) for r in df.select("doc_id", F.lower("text")).collect()]
        assert _rows(TRI.trigram_postings(df)) == R.trigrams(lowered), name


def test_title_arrays_kernel_matches_reference(spark, kdocs):
    """The doc-meta title arrays, with the fixture texts as titles: the
    other columns pass through with their types."""
    from distributed_search_engine_spark.operators.arrow_kernels import title_arrays_arrow

    for name, df, docs in _variants(spark, kdocs):
        titled = df.withColumnRenamed("text", "title")
        out = title_arrays_arrow(titled)
        assert out.schema.fields[:2] == titled.schema.fields, name
        assert out.columns[2:] == ["title_toks", "title_stems"], name
        got = sorted(
            ((r[0], r[1], list(r[2]), list(r[3])) for r in out.collect()),
            key=lambda r: r[0],
        )
        assert got == R.title_arrays(docs), name


# ---------------------------------------------------------------------------
# vector assignment kernels (k-means argmin, IVFADC residual-PQ codes):
# raw distances use the identical sequential float fold, PQ codes argmin
# over HALF_UP-rounded distances — all pinned against kernel_reference.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def kvecs(spark):
    from pyspark.sql import functions as F

    vec = F.array(
        *[
            (F.xxhash64(F.col("id"), F.lit(d)) / F.lit(float(1 << 63)))
            for d in range(16)
        ]
    )
    return spark.range(800).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def _vecs(df):
    return [(r[0], list(r[1])) for r in df.collect()]


def _vec_variants(spark, kvecs, string_ids=False):
    """The vectors as given, over 16 partitions, and with no rows; with
    ``string_ids`` also with the ids as strings."""
    yield "as given", kvecs
    if string_ids:
        yield "string ids", kvecs.select(
            F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
        )
    yield "16 partitions", kvecs.repartition(16)
    yield "no rows", spark.createDataFrame([], kvecs.schema)


def test_assign_clusters_kernel_matches_jvm(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import (
        assign_clusters,
        seeded_centroids,
    )

    cents = seeded_centroids(8, 16, seed=5)
    for name, df in _vec_variants(spark, kvecs):
        got = _rows(assign_clusters(df, cents))
        assert got == R.assign_clusters(_vecs(df), cents), name


def test_update_centroids_kernel_matches_jvm(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import (
        seeded_centroids,
        update_centroids,
    )

    cents = seeded_centroids(8, 16, seed=5)
    for name, df in _vec_variants(spark, kvecs):
        got = _rows(update_centroids(df, cents))
        assert got == R.update_centroids(_vecs(df), cents), name


def test_coded_corpus_kernel_matches_jvm(spark, kvecs, tmp_path):
    from distributed_search_engine_spark.operators.clustering import (
        seeded_centroids,
    )
    from distributed_search_engine_spark.operators.similarity import (
        persist_coded_corpus,
        pq_train,
        residuals,
    )

    cents = seeded_centroids(4, 16, seed=5)
    books = pq_train(
        residuals(kvecs, cents), seeded_centroids(4, 16, seed=17),
        m_subs=4, iters=1, id_col="id", vec_col="r",
    )
    d = str(tmp_path / "coded")
    persist_coded_corpus(kvecs, cents, books, d)
    cols = ["id", "cluster"] + [f"code_{m}" for m in range(len(books))]
    got = _rows(spark.read.option("basePath", d).parquet(d).select(*cols))
    assert got == R.coded_corpus(_vecs(kvecs), cents, books)


def test_round6_half_up_matches_spark_round(spark):
    """The kernel's vectorized HALF_UP twin vs Spark's round(x, 6),
    including exact .5 boundaries and shortest-repr corner values."""
    import numpy as np
    from pyspark.sql import functions as F

    from distributed_search_engine_spark.operators.arrow_kernels import (
        _round6_half_up,
    )

    vals = [
        0.0, 0.25, 1.0000005, 2.9999995, 0.1234565, 0.12345649999,
        0.1234575, 3.0000004999, 123.4567894999, 123.4567895,
        7.000000499999999, 0.9999995, 1e-7, 4.9999995e-1,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r["y"] for r in df.select(F.round("x", 6).alias("y")).collect()]
    got = list(_round6_half_up(np.array(vals, dtype=np.float64)))
    assert got == want, list(zip(vals, got, want))


def test_round6_half_up_large_magnitudes_match_spark_round(spark):
    """|x| > 4e3 at .5 boundaries: the float error of x*1e6 outgrows a
    fixed guard band there, so the band must scale with magnitude. Also
    negative ties (away from zero), magnitudes where x*1e6 loses the
    .5 or overflows, and NaN/inf pass-through."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from distributed_search_engine_spark.operators.arrow_kernels import (
        _round6_half_up,
    )

    rng = random.Random(11)
    vals = []
    for lo, hi in ((4_000, 10**5), (10**5, 10**7), (10**7, 10**9)):
        for _ in range(100):
            ip, frac6 = rng.randrange(lo, hi), rng.randrange(10**6)
            sign = rng.choice(("", "-"))
            # just below, at and just above the boundary
            for tail in ("4999999", "5", "5000001"):
                vals.append(float(f"{sign}{ip}.{frac6:06d}{tail}"))
    vals += [
        4500.0000005, 123456789012.3456785, 9007199254.7409915, 1e15 + 0.5,
        -2.5e-6, -1.0000005, 1e300, -1.7e308, 1.7976931348623157e308,
        float("inf"), float("-inf"), float("nan"),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r["y"] for r in df.select(F.round("x", 6).alias("y")).collect()]
    got = list(_round6_half_up(np.array(vals, dtype=np.float64)))
    bad = [(v, g, w) for v, g, w in zip(vals, got, want) if repr(g) != repr(w)]
    assert not bad, bad[:10]


def test_assign_clusters_kernel_keeps_string_ids(spark, kvecs):
    """Non-numeric ids pass through the kernel with their type (a long
    cast would fail on them under ANSI)."""
    from pyspark.sql import functions as F

    from distributed_search_engine_spark.operators.clustering import (
        assign_clusters,
        seeded_centroids,
        update_centroids,
    )

    svecs = kvecs.select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    cents = seeded_centroids(8, 16, seed=5)
    got = assign_clusters(svecs, cents)
    assert got.schema["vec_id"].dataType.simpleString() == "string"
    assert _rows(got) == R.assign_clusters(_vecs(svecs), cents)
    assert _rows(update_centroids(svecs, cents)) == _rows(
        update_centroids(kvecs, cents)
    )


# ---------------------------------------------------------------------------
# the kernel's other callers: k-means to convergence, SemDeDup, residuals
# ---------------------------------------------------------------------------


def test_kmeans_fit_assigns_through_the_kernel(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import kmeans_fit

    fits = {}
    for name, df in _vec_variants(spark, kvecs, string_ids=True):
        if name == "no rows":
            with pytest.raises(ValueError, match="at least one"):
                kmeans_fit(df, 4, max_iter=3, seed=5)
            continue
        cents, assignment, history = kmeans_fit(df, 4, max_iter=3, seed=5)
        assert _rows(assignment) == R.assign_clusters(_vecs(df), cents), name
        assert len(history) == 3 and history == sorted(history, reverse=True), name
        fits[name] = cents
    # ids do not enter the fit
    assert fits["string ids"] == fits["as given"]


def test_semantic_dedup_assigns_through_the_kernel(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import (
        seeded_centroids,
        semantic_dedup,
    )

    cents = seeded_centroids(4, 16, seed=5)
    for name, df in _vec_variants(spark, kvecs, string_ids=True):
        got = semantic_dedup(df, cents, threshold=0.6)
        assert got.schema["vec_id"].dataType == df.schema["vec_id"].dataType, name
        want = R.semantic_dedup(_vecs(df), cents, 0.6)
        assert sorted(r["vec_id"] for r in got.collect()) == want, name
        assert name == "no rows" or len(want) < 800, name  # something goes


def test_residuals_assign_through_the_kernel(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import (
        seeded_centroids,
    )
    from distributed_search_engine_spark.operators.similarity import residuals

    cents = seeded_centroids(4, 16, seed=5)
    for name, df in _vec_variants(spark, kvecs):
        got = residuals(df, cents)
        assert got.schema.simpleString() == (
            "struct<id:bigint,r:array<double>,cluster:int>"
        ), name
        rows = sorted((r["id"], list(r["r"]), r["cluster"]) for r in got.collect())
        assert rows == R.residuals(_vecs(df), cents), name


def test_ragged_embeddings_raise_in_every_kernel_caller(spark):
    from distributed_search_engine_spark.operators import clustering as C
    from distributed_search_engine_spark.operators import similarity as S

    ragged = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0, 2.0])], "vec_id long, embedding array<double>"
    )
    cents, books = [[0.0, 0.0], [1.0, 1.0]], [[[0.0, 0.0], [1.0, 1.0]]]
    calls = {
        "assign_clusters": lambda: C.assign_clusters(ragged, cents).collect(),
        "kmeans_fit": lambda: C.kmeans_fit(ragged, 2, max_iter=1),
        "semantic_dedup": lambda: C.semantic_dedup(ragged, cents).collect(),
        "residuals": lambda: S.residuals(ragged, cents).collect(),
        "pq_encode": lambda: S.pq_encode(ragged, books).collect(),
        "ann_pq_adc_topk": lambda: S.ann_pq_adc_topk(ragged, books).collect(),
        "ann_ivfadc_topk": lambda: S.ann_ivfadc_topk(ragged, cents, books).collect(),
    }
    for name, call in calls.items():
        with pytest.raises(Exception, match="not uniformly sized"):
            call()
