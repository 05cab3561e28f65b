"""The data-independent literals the Spark plans and the DuckDB oracle SQL
both inline — MinHash coefficients, k-means seed centroids, LSH
hyperplane weights — all come from the one splitmix64 finalizer in
functions/hashing.py. The values are pinned, so a change to the mixer,
its constants or how a caller feeds it fails here before it reaches a
gate. No Spark session.
"""

from __future__ import annotations

import hashlib

from distributed_search_engine_spark.functions.hashing import splitmix64_mix
from distributed_search_engine_spark.operators.clustering import seeded_centroids
from distributed_search_engine_spark.operators.dedup import minhash_coeffs
from distributed_search_engine_spark.operators.similarity import plane_weight


def _sha256(value) -> str:
    return hashlib.sha256(repr(value).encode()).hexdigest()


def test_splitmix64_mix_known_values():
    # splitmix64 seeded with 0: the finalizer of gamma, then of 2*gamma
    assert splitmix64_mix(0x9E3779B97F4A7C15) == 0xE220A8397B1DCDAF
    assert splitmix64_mix(2 * 0x9E3779B97F4A7C15) == 0x6E789E6AA1B965F4
    assert splitmix64_mix(0) == 0


def test_minhash_coeffs_are_pinned():
    assert minhash_coeffs() == [
        (2121609248, 427102089), (887425304, 1814104629),
        (487280846, 1592742470), (732999910, 1935726421),
        (343398143, 374814044), (2119411104, 1473341008),
        (941977311, 2093716941), (1101805553, 394471029),
        (1790873380, 1810236572), (590660263, 1163263985),
        (1978100301, 400177534), (419547873, 1140657808),
        (741166826, 2059033223), (2107581679, 30536150),
        (1348001922, 841941674), (252425271, 130205591),
    ]


def test_seeded_centroids_are_pinned():
    cents = seeded_centroids(8, 64, seed=11)
    assert cents[0][:3] == [0.11248653709046397, 0.0792023978788037, -0.12706347465163315]
    assert cents[7][-2:] == [0.033397773505551925, -0.1524350333442766]
    assert _sha256(cents) == (
        "8f5965db17a435ea2035681461821b9af785bbeed8f5cec052a33c999b8c6be7"
    )


def test_plane_weights_are_pinned():
    table = [
        "".join("+" if plane_weight(p, d) > 0 else "-" for d in range(64))
        for p in range(8)
    ]
    assert table == [
        "+++----+-+----+-+-++-+++-+-+++--+---+---+++-+--++++--++---+--++-",
        "-+----------++------+++----++++++--+-+----+-++-+-+++--++-+--++--",
        "+-+--++---++++------++++-+++++-++-+++++-+-+-++++-+---+++-+++----",
        "--+-+---+-+++----+---+-++-+++-++++--+++--+---+-++++-++++-+-++-+-",
        "--+---+++--+++-+++--+-+--+-+++-+++-+-++-++--+--++++-++-+++-+----",
        "+-----+-+++--+++++-++---+++------+++-+-++----++--+-+---+-+---++-",
        "+++---+++-+--+--+-++--+-++++-+++-+--+-++-+----+----+++-----+----",
        "+--++----++-+--+++-++---+---+-+++-+-++-++-+-+-+----+--++-+++++-+",
    ]
    # the 32 planes of the 4-band near-dup LSH
    assert _sha256([[plane_weight(p, d) for d in range(64)] for p in range(32)]) == (
        "f1f9fe05b3cfb2a4418dd06c54446c7e512822c5f970202b5a66c8b13bd94254"
    )
