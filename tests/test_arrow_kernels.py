"""Round-6 optimization: differential tests pinning the vectorized Arrow
kernels (operators/arrow_kernels.py) value-identical to the JVM Column
paths they replaced. Every operator keeps a use_arrow=False fallback
precisely so this comparison stays runnable; the DuckDB oracle gates
cover the same operators end-to-end at sf0.01/sf0.001.

The fixture corpus stresses the edge cases the kernels must reproduce:
empty docs, whitespace-only, NULL content, sub-window-length docs,
HTML tags, punctuation, unicode (case mapping + multibyte trigrams),
vertical-tab/whitespace-class corners, and heavy repetition.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_search_engine_spark.operators import dedup as D
from distributed_search_engine_spark.operators import text_analysis as TA
from distributed_search_engine_spark.index import trigram as TRI


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


def test_simhash_kernel_matches_jvm(spark, kdocs):
    assert _rows(D.simhash(kdocs)) == _rows(D.simhash(kdocs, use_arrow=False))


def test_shingles_kernel_matches_jvm(spark, kdocs):
    for n in (2, 3, 5):
        assert _rows(D.shingles(kdocs, n=n)) == _rows(
            D.shingles(kdocs, n=n, use_arrow=False)
        )


def test_window_hash_kernel_matches_jvm(spark, kdocs):
    for w in (3, 8):
        assert _rows(D.duplicate_windows(kdocs, w)) == _rows(
            D.duplicate_windows(kdocs, w, use_arrow=False)
        )


def test_token_count_kernel_matches_jvm(spark, kdocs):
    from distributed_search_engine_spark.operators.arrow_kernels import (
        token_counts_arrow,
    )

    jvm = D._token_arrays(kdocs, "doc_id", "text").select(
        "doc_id", F.size("toks").alias("n_tokens")
    )
    assert _rows(token_counts_arrow(kdocs)) == _rows(jvm)


def test_bigram_stream_kernel_matches_jvm(spark, kdocs):
    assert _rows(TA._bigram_stream(kdocs, "doc_id", "text")) == _rows(
        TA._bigram_stream(kdocs, "doc_id", "text", use_arrow=False)
    )


def test_cms_kernel_matches_jvm(spark, kdocs):
    assert _rows(TA.cms_build(kdocs)) == _rows(TA.cms_build(kdocs, use_arrow=False))


def test_distinct_tokens_kernel_matches_jvm(spark, kdocs):
    from distributed_search_engine_spark.operators.arrow_kernels import (
        distinct_tokens_arrow,
    )

    jvm = (
        TA._tok_df(kdocs, "doc_id", "text")
        .where(F.col("tok") != "")
        .select("tok")
        .distinct()
    )
    assert _rows(distinct_tokens_arrow(kdocs)) == _rows(jvm)


def test_hll_registers_kernel_matches_jvm(spark, kdocs):
    from distributed_search_engine_spark.functions.hashing import md5_prefix_long
    from distributed_search_engine_spark.operators.arrow_kernels import (
        hll_registers_arrow,
    )

    b, rem = 8, 24
    t = TA._tok_df(kdocs, "doc_id", "text").where(F.col("tok") != "")
    h = md5_prefix_long(F.col("tok"))
    r = h.bitwiseAND(F.lit((1 << rem) - 1))
    rho = F.when(r == 0, F.lit(rem + 1)).otherwise(
        F.lit(rem + 1) - F.length(F.bin(r))
    )
    jvm = (
        t.select(F.shiftright(h, rem).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").cast("long").alias("reg"))
    )
    assert _rows(hll_registers_arrow(kdocs, b)) == _rows(jvm)


def test_trigram_kernel_matches_jvm(spark, kdocs):
    assert _rows(TRI.trigram_postings(kdocs)) == _rows(
        TRI.trigram_postings(kdocs, use_arrow=False)
    )


# ---------------------------------------------------------------------------
# vector assignment kernels (k-means argmin, IVFADC residual-PQ codes):
# raw distances use the identical sequential float fold, PQ codes argmin
# over HALF_UP-rounded distances — all pinned against the JVM paths.
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


def test_assign_clusters_kernel_matches_jvm(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import (
        assign_clusters,
        seeded_centroids,
    )

    cents = seeded_centroids(8, 16, seed=5)
    assert _rows(assign_clusters(kvecs, cents)) == _rows(
        assign_clusters(kvecs, cents, use_arrow=False)
    )


def test_update_centroids_kernel_matches_jvm(spark, kvecs):
    from distributed_search_engine_spark.operators.clustering import (
        seeded_centroids,
        update_centroids,
    )

    cents = seeded_centroids(8, 16, seed=5)
    assert _rows(update_centroids(kvecs, cents)) == _rows(
        update_centroids(kvecs, cents, use_arrow=False)
    )


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
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    persist_coded_corpus(kvecs, cents, books, d1)
    persist_coded_corpus(kvecs, cents, books, d2, use_arrow=False)
    r1 = _rows(spark.read.option("basePath", d1).parquet(d1))
    r2 = _rows(spark.read.option("basePath", d2).parquet(d2))
    assert r1 == r2


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
    """Non-numeric ids pass through the kernel with their type, as in the
    JVM path (a long cast would fail on them under ANSI)."""
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
    assert _rows(got) == _rows(assign_clusters(svecs, cents, use_arrow=False))
    assert _rows(update_centroids(svecs, cents)) == _rows(
        update_centroids(kvecs, cents)
    )
