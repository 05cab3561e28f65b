"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys (docs_per_sec, cores, scaling inputs) ride along for
BENCH/BASELINE.md. Run twice at different SPARK_GRAFT_CPUS (8 vs 32) for the
N-vs-4N scaling-efficiency evidence (BASELINE.json north rule).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from distributed_search_engine_spark.index.segments import (
    assign_docnums,
    build_segments,
    read_segments_for_terms,
)
from distributed_search_engine_spark.index.wand import wand_topk
from distributed_search_engine_spark.operators.pagerank import (
    run_pagerank,
    synthetic_links,
)
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import SearchIndex, search
from distributed_search_engine_spark.session import get_spark

QUERY_SET = [
    "data", "spark join", "data stream", "query filter sort",
    "customer order", "hash merge", "window agg", "big table scan",
    "fast vector", "group key value",
]

N_SEG_PARTS = 32


def _burn(_):
    t = time.time()
    x = 0
    while time.time() - t < 3.0:
        x += 1
    return x


def host_control() -> dict:
    """Pure-CPU iterations/3s at 1 and 8 processes — the host-health
    marker. This KVM sandbox shows up to ~2x steal-time swings between
    identical runs (BENCH/BASELINE.md history); round-over-round query
    timings should be read relative to these numbers, not absolutely."""
    import multiprocessing as mp

    one = _burn(0)
    with mp.Pool(8) as p:
        eight = sum(p.map(_burn, range(8)))
    return {"host_iters_1p": one, "host_iters_8p": eight}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ctl = host_control()
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("dse-bench", cores=cores, shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    # q1: logical index build (tokenize -> postings -> stats), fully stemmed
    t0 = time.time()
    idx = build_index(docs, doc_id_col="doc_id", content_col="text")
    idx["postings"] = idx["postings"].persist()
    n_postings = idx["postings"].count()
    idx["term_stats"] = idx["term_stats"].persist()
    idx["term_stats"].count()
    timings["index_build"] = time.time() - t0
    docs_per_sec = n_docs / timings["index_build"]

    # q2: physical segments (docnums, compress, manifest)
    ds = assign_docnums(idx["doc_stats"], n_partitions=max(4, cores // 4)).persist()
    avgdl = float(ds.agg(F.avg("doc_len")).collect()[0][0])
    seg_dir = tempfile.mkdtemp(prefix="dse_segs_")
    t0 = time.time()
    build_segments(
        idx["postings"], idx["term_stats"], ds, seg_dir, avgdl,
        n_partitions=N_SEG_PARTS, batch_partitions=N_SEG_PARTS,
    )
    timings["segments_build"] = time.time() - t0

    # q3: PageRank, 10 fixed iterations over the synthetic link graph
    t0 = time.time()
    ranks, _ = run_pagerank(docs, synthetic_links(docs), fixed_iterations=10)
    ranks = ranks.persist()
    ranks.count()
    timings["pagerank_10iter"] = time.time() - t0

    # q4: BM25 top-10 via the block-max kernel over compressed segments
    t0 = time.time()
    for q in QUERY_SET:
        terms = q.split()
        # slim projection: WAND needs only idf + blocks, never the
        # positions/norm_tfs binaries — don't ship them to the driver
        rows = [
            r.asDict()
            for r in read_segments_for_terms(spark, seg_dir, terms, N_SEG_PARTS)
            .select("idf_bm25", "blocks")
            .collect()
        ]
        wand_topk(
            [{"idf_bm25": r["idf_bm25"], "blocks": [b.asDict() for b in r["blocks"]]} for r in rows],
            avgdl, 10,
        )
    timings["query_bm25_wand_x10"] = time.time() - t0

    # q4b: executor-side doc-range-sharded top-k over the same pruned
    # segments — no posting bytes ever reach the driver. All 10 queries
    # ride ONE job (read_segments_for_queries + distributed_topk_batch):
    # the per-job Python-stage floor (~0.35 s on this host) amortizes
    # across the batch, the serving shape a frontend uses at scale.
    from distributed_search_engine_spark.index.segments import (
        read_segments_for_queries,
    )
    from distributed_search_engine_spark.index.wand import (
        distributed_topk_batch,
    )

    t0 = time.time()
    tagged = read_segments_for_queries(
        spark, seg_dir, {q: q.split() for q in QUERY_SET}, N_SEG_PARTS
    )
    out = distributed_topk_batch(
        spark, tagged, avgdl, 10, n_ranges=max(4, cores // 4), max_docnum=n_docs
    )
    assert len(out) == len(QUERY_SET)
    timings["query_wand_dist_x10"] = time.time() - t0

    # q5: full reference-mode scoring chain (DataFrame path)
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"], ranks=ranks,
    ).cache_term_dict()  # repeated-query workload: skip the per-query
    # related-words job (the reference frontend holds the same dict in RAM)
    t0 = time.time()
    for q in QUERY_SET[:5]:
        search(spark, sidx, q, k=20, mode="reference").collect()
    timings["query_reference_x5"] = time.time() - t0

    # q5b: the SAME 5 reference-chain queries as one batch — search()'s
    # scoring statement keyed by query, 3 Spark jobs for the whole set
    # (one search() also runs 3); compare against query_reference_x5's loop
    from distributed_search_engine_spark.query.engine import (
        search_reference_batch,
    )

    t0 = time.time()
    search_reference_batch(spark, sidx, QUERY_SET[:5], k=20).collect()
    timings["query_reference_batch_x5"] = time.time() - t0

    # q6: BM25 logical DataFrame path (for WAND-vs-DataFrame comparison)
    t0 = time.time()
    for q in QUERY_SET[:5]:
        search(spark, sidx, q, k=20, mode="bm25").collect()
    timings["query_bm25_df_x5"] = time.time() - t0

    # q6b: the same 10 queries as one batch (multi-query throughput):
    # search(mode="bm25")'s scorer keyed by query, 4 Spark jobs for the set
    from distributed_search_engine_spark.query.engine import search_bm25_batch

    t0 = time.time()
    search_bm25_batch(spark, sidx, QUERY_SET, k=20).collect()
    timings["query_bm25_batch_x10"] = time.time() - t0

    shutil.rmtree(seg_dir, ignore_errors=True)

    # q7: shuffle-dominated scale point — a deterministic 60k-doc synthetic
    # corpus (executor-side generation, fixed seed) so round-over-round
    # comparisons include a workload where fixed costs don't dominate.
    # Skip with SPARK_GRAFT_BENCH_BIG=0.
    if os.environ.get("SPARK_GRAFT_BENCH_BIG", "1") != "0":
        from distributed_search_engine_spark.corpus import (
            ingest,
            make_corpus_distributed,
        )

        n_big = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_DOCS", "60000"))
        big = ingest(
            make_corpus_distributed(
                spark, n_big, seed=42, n_partitions=max(2 * cores, 16)
            )
        ).persist()
        big.count()  # materialize generation outside the timed window
        t0 = time.time()
        bidx = build_index(big, doc_id_col="doc_id", content_col="content")
        n_big_postings = bidx["postings"].count()
        timings["index_build_60k"] = time.time() - t0
        # the cold build above is dominated by JIT/codegen/Arrow warm-up
        # (measured 25-76 s across interleaved A/B runs with NO tree
        # dependence — BENCH/BASELINE.md round-5 attribution); the warm
        # rebuild is the steady-state, cross-round-comparable number
        t0 = time.time()
        build_index(big, doc_id_col="doc_id", content_col="content")[
            "postings"
        ].count()
        timings["index_build_60k_warm"] = time.time() - t0
        big_docs_per_sec = n_big / timings["index_build_60k_warm"]
        # warm the cache for the query stages OUTSIDE the timed build (the
        # build metric stays comparable with earlier rounds). term_stats
        # must be warmed too: build_segments joins it, and an unpersisted
        # term_stats re-runs the whole capped-postings pipeline inside the
        # segment job (round-4 finding — this, not the encode kernel, was
        # half of segments_build_60k)
        bidx["postings"] = bidx["postings"].persist()
        bidx["postings"].count()
        bidx["term_stats"] = bidx["term_stats"].persist()
        bidx["term_stats"].count()

        # query stages against the 60k index (round-3: per-round query
        # numbers on a non-trivial index, not just the 5k sf0.1 one)
        bds = assign_docnums(bidx["doc_stats"], n_partitions=max(4, cores // 4)).persist()
        bavgdl = float(bds.agg(F.avg("doc_len")).collect()[0][0])
        bseg_dir = tempfile.mkdtemp(prefix="dse_segs60k_")
        t0 = time.time()
        build_segments(
            bidx["postings"], bidx["term_stats"], bds, bseg_dir, bavgdl,
            n_partitions=N_SEG_PARTS, batch_partitions=N_SEG_PARTS,
        )
        timings["segments_build_60k"] = time.time() - t0
        t0 = time.time()
        for q in QUERY_SET:
            terms = q.split()
            rows = [
                r.asDict()
                for r in read_segments_for_terms(spark, bseg_dir, terms, N_SEG_PARTS)
                .select("idf_bm25", "blocks")
                .collect()
            ]
            wand_topk(
                [{"idf_bm25": r["idf_bm25"], "blocks": [b.asDict() for b in r["blocks"]]} for r in rows],
                bavgdl, 10,
            )
        timings["query_wand_60k_x10"] = time.time() - t0

        # the same driver-side block-max kernel again (the MaxScore engine
        # it once timed is folded into it); the leaf keeps its key so the
        # per-round series continues
        t0 = time.time()
        for q in QUERY_SET:
            terms = q.split()
            rows = [
                r.asDict()
                for r in read_segments_for_terms(spark, bseg_dir, terms, N_SEG_PARTS)
                .select("idf_bm25", "blocks")
                .collect()
            ]
            wand_topk(
                [{"idf_bm25": r["idf_bm25"], "blocks": [b.asDict() for b in r["blocks"]]} for r in rows],
                bavgdl, 10,
            )
        timings["query_maxscore_60k_x10"] = time.time() - t0
        t0 = time.time()
        btagged = read_segments_for_queries(
            spark, bseg_dir, {q: q.split() for q in QUERY_SET}, N_SEG_PARTS
        )
        bout = distributed_topk_batch(
            spark, btagged, bavgdl, 10, n_ranges=max(4, cores // 4),
            max_docnum=n_big,
        )
        # the synthetic 60k vocab need not contain every query term; a
        # query with no indexed terms is legitimately absent
        assert 0 < len(bout) <= len(QUERY_SET)
        timings["query_wand_dist_60k_x10"] = time.time() - t0
        bsidx = SearchIndex(
            postings=bidx["postings"], term_stats=bidx["term_stats"],
            doc_stats=bidx["doc_stats"], term_dict=bidx["term_dict"],
            total_docs=bidx["total_docs"],
        ).cache_term_dict()
        t0 = time.time()
        search_bm25_batch(spark, bsidx, QUERY_SET, k=20).collect()
        timings["query_bm25_batch_60k_x10"] = time.time() - t0
        # same batch through the SEGMENT-backed index: postings arrive via
        # partition-pruned compressed-segment decode — the path that holds
        # at 100 TB, where the logical postings can't live in memory
        from distributed_search_engine_spark.index.segments import (
            segment_search_index,
        )

        bseg_sidx = segment_search_index(
            spark, bseg_dir, bds, bidx["term_stats"], bidx["term_dict"],
            bidx["total_docs"], n_partitions=N_SEG_PARTS,
        ).cache_term_dict()
        t0 = time.time()
        search_bm25_batch(spark, bseg_sidx, QUERY_SET, k=20).collect()
        timings["query_bm25_batch_60k_seg_x10"] = time.time() - t0
        shutil.rmtree(bseg_dir, ignore_errors=True)

        # q7b: flagship dedup path over the same 60k corpus — MinHash
        # signatures -> LSH banding -> jaccard rerank on candidates, and
        # the simhash pigeonhole path, with PLANTED skew so banding cost
        # under a hot key is tracked round-over-round:
        #  - ~5% of docs get a shared boilerplate prefix (hot shingles /
        #    hot band buckets),
        #  - ~0.3% become a boilerplate-only near-dup clique (one band
        #    bucket exploding into ~N^2/2 candidate pairs — the skew
        #    shape that kills naive all-pairs at scale).
        from distributed_search_engine_spark.operators.dedup import (
            jaccard_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
            shingles,
            simhash,
            simhash_pairs,
        )

        boiler = (
            "terms of service apply to this document revision "
            "please read carefully before proceeding further"
        )
        hsel = F.pmod(F.xxhash64("doc_id"), F.lit(1000))
        ded = big.select(
            "doc_id",
            F.when(
                hsel < 3,  # near-dup clique (~180 docs)
                F.concat(F.lit((boiler + " ") * 6), F.substring("content", 1, 24)),
            )
            .when(hsel < 50, F.concat(F.lit(boiler + " "), F.col("content")))
            .otherwise(F.col("content"))
            .alias("text"),
        )
        t0 = time.time()
        dsh = shingles(ded).persist()
        dcand = lsh_candidate_pairs(minhash_signatures(dsh)).persist()
        n_cand = dcand.count()
        n_dup = (
            jaccard_pairs(dsh, threshold=0.5, candidates=dcand)
            .count()
        )
        timings["dedup_lsh_60k"] = time.time() - t0
        # the 9M-row shingle/candidate caches are only inputs to the LSH
        # stage; holding them through the simhash/substring/LM stages
        # pressures storage memory and can evict `big`, silently charging
        # corpus REGENERATION to those stages' timings
        dsh.unpersist()
        dcand.unpersist()
        t0 = time.time()
        n_simp = simhash_pairs(simhash(ded, content_col="text"), 3).count()
        timings["dedup_simhash_60k"] = time.time() - t0

        # exact duplicate-substring coverage (Lee et al. window-granular):
        # the planted boilerplate prefixes are real duplicated spans, so
        # this stage tracks window hashing + hot-hash count + island merge
        from distributed_search_engine_spark.operators.dedup import (
            substring_dup_stats,
        )

        t0 = time.time()
        n_subdup_docs = (
            substring_dup_stats(ded, w=8).where("dup_fraction > 0").count()
        )
        timings["dedup_substring_60k"] = time.time() - t0

        # bigram-LM quality scoring (CCNet shape): self-trained model +
        # per-doc perplexity — tracks the two model groupBys and the
        # bigram/unigram scoring joins
        from distributed_search_engine_spark.operators.text_analysis import (
            bigram_lm_stats,
        )

        t0 = time.time()
        n_lm_bigrams = int(
            bigram_lm_stats(ded)
            .agg(F.sum("n_bigrams"))
            .collect()[0][0]
        )
        timings["lm_bigram_60k"] = time.time() - t0

        # mergeable-sketch family over the same token stream: count-min
        # heavy hitters (d x width counters + vocab-probe min) and the
        # HyperLogLog distinct estimate (m max-rank registers) — the
        # bounded-memory profile pass tracked like the exact stages
        from distributed_search_engine_spark.operators.text_analysis import (
            cms_heavy_hitters,
            hll_distinct,
        )

        t0 = time.time()
        top_tok = cms_heavy_hitters(ded, k=20).collect()
        assert len(top_tok) == 20
        hll_est = float(hll_distinct(ded).collect()[0]["est_distinct"])
        timings["sketches_60k"] = time.time() - t0

        # trigram substring index (round-5 code-search path): build the
        # distinct (trigram, doc_id) postings over the 60k corpus, then
        # serve 5 substring lookups through rarest-trigram pruning +
        # exact verify — tracks the window projection + distinct
        # exchange and the bounded candidate join round-over-round
        from distributed_search_engine_spark.index.trigram import (
            _alt_trigrams,
            load_trigram_postings,
            store_trigram_postings,
            substring_search_batch,
            trigram_postings,
        )

        t0 = time.time()
        tpost = trigram_postings(
            big, doc_id_col="doc_id", content_col="content"
        ).persist()
        n_trigram_postings = tpost.count()
        timings["trigram_build_60k"] = time.time() - t0
        # durable store: trigram-hash-partitioned parquet (the 100-TB
        # shape — serving reads prune to the needle's part= dirs)
        t0 = time.time()
        tri_dir = tempfile.mkdtemp(prefix="dse_trigram_")
        store_trigram_postings(tpost, tri_dir, n_partitions=64)
        timings["trigram_store_60k"] = time.time() - t0
        tpost.unpersist()
        # serving shape: ONE batch job for the whole needle set, reading
        # ONLY the part= directories the union of needle trigrams hash
        # to (driver-side xxhash twin, zero planning jobs)
        t0 = time.time()
        batch_needles = [
            "terms of service", "sort merge", "spark", "window agg",
            "read carefully before",
        ]
        union_grams = sorted(
            {g for n in batch_needles for g in _alt_trigrams(n.lower())}
        )
        pruned = load_trigram_postings(
            spark, tri_dir, union_grams, 64
        ).drop("part")
        n_sub_hits = substring_search_batch(
            big.withColumnRenamed("content", "text"), pruned, batch_needles
        ).count()
        timings["substring_search_60k_x5"] = time.time() - t0

        # regex serving through the same pruned store: one batch job for
        # 3 patterns (clause compile -> union trigram partitions ->
        # candidates -> per-row pattern verify)
        from distributed_search_engine_spark.index.regex_search import (
            regex_search_batch,
            required_clauses,
        )

        t0 = time.time()
        rx_pats = [
            r"the\s+spark",
            r"shuffle\s+(this|the)",
            r"comput(e|ing)\s+engine",
        ]
        rx_grams = sorted(
            {
                g
                for p in rx_pats
                for cl in required_clauses(p)
                for a in cl
                for g in _alt_trigrams(a)
            }
        )
        rx_pruned = load_trigram_postings(
            spark, tri_dir, rx_grams, 64
        ).drop("part")
        n_rx_hits = regex_search_batch(
            big.withColumnRenamed("content", "text"), rx_pruned, rx_pats
        ).count()
        timings["regex_search_60k_x3"] = time.time() - t0
        shutil.rmtree(tri_dir, ignore_errors=True)

        # structural code-search ranking (round-5): derive the code-shaped
        # corpus (same construction as the gate's derived corpus) from the
        # 60k docs, then BM25-over-identifier-postings with definition +
        # path boosts — tracks the dual-index tokenize, the symbol
        # extraction Generate, and the filtered-postings joins
        from distributed_search_engine_spark.query.code_search import (
            code_search_ranked,
        )

        t0 = time.time()
        bt = F.split(F.col("content"), " ")
        code60 = big.where(F.size(bt) >= 4).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit("python").alias("lang"),
            F.concat(
                F.lit("src/"), bt[0], F.lit("/"), bt[1], F.lit(".py")
            ).alias("path"),
            F.concat(
                F.lit("def "), bt[0], F.lit("_"), bt[1],
                F.lit("(arg):\n    return "), bt[2], F.lit("\nclass "),
                F.upper(F.substring(bt[3], 1, 1)),
                F.substring(bt[3], 2, 1000),
                F.lit("Handler:\n    pass"),
            ).alias("content"),
        )
        n_code_ranked = code_search_ranked(
            code60, ["spark", "handler"]
        ).count()
        timings["code_ranked_60k"] = time.time() - t0

        # paragraph-level keep-one dedup (round-5): synthetic paragraph
        # layout (unique body + cross-doc boilerplate + conditional
        # intra-doc repeat, the gate's shape) — tracks the split+hash
        # projection, the ONE hash-keyed keeper window, and the doc-keyed
        # rebuild
        from distributed_search_engine_spark.operators.dedup import (
            remove_dup_paragraphs,
        )

        # the 60k corpus doc_id is a sha string — derive a numeric key for
        # the synthetic layout (remove_dup_paragraphs itself needs numeric
        # ids for the keeper ordering)
        pkey = F.pmod(F.xxhash64("doc_id"), F.lit(1_000_000_007))
        pboiler = F.concat(
            F.lit("boilerplate notice "), F.pmod(pkey, F.lit(17)).cast("string")
        )
        pdocs = ded.select(
            pkey.alias("doc_id"),
            F.concat(
                F.col("text"), F.lit("\n\n"), pboiler, F.lit("\n\n"),
                F.when(F.pmod(pkey, F.lit(5)) == 0, pboiler).otherwise(
                    F.concat(F.lit("tail "), pkey.cast("string"))
                ),
            ).alias("text"),
        )
        t0 = time.time()
        n_para_removed = int(
            remove_dup_paragraphs(pdocs).agg(F.sum("n_removed")).collect()[0][0]
        )
        timings["dedup_paragraph_60k"] = time.time() - t0
        assert n_para_removed > 0

        # decontamination at 60k: the exact shingle equi-join vs the
        # round-5 bloom-bitmap map-side probe (build over the first 2k
        # docs' shingles, probe the other 58k) — the broadcast-filter
        # scale path's win should grow with corpus size
        from distributed_search_engine_spark.operators.bloom import (
            bloom_prune,
            build_bloom,
        )
        from distributed_search_engine_spark.operators.dedup import decontaminate

        is_bench = F.pmod(F.xxhash64("doc_id"), F.lit(30)) == 0  # ~2k docs
        bench_docs = ded.where(is_bench)
        t0 = time.time()
        n_contam_exact = (
            decontaminate(ded.where(~is_bench), bench_docs)
            .where("contaminated")
            .count()
        )
        timings["decontam_exact_60k"] = time.time() - t0
        # production shape: the 'fast' xxhash64 family (the md5 'portable'
        # family exists for the cross-engine hash gates) and a bitmap
        # sized for the ~290k bench shingles (2^23 bits -> fp ~3e-4;
        # 2^20 saturates at ~19% fp and the probe stops pruning)
        t0 = time.time()
        bench_sh = shingles(bench_docs).select("shingle").distinct()
        bitmap = build_bloom(
            bench_sh, "shingle", m_bits=1 << 23, hash_family="fast"
        )
        train_sh = shingles(ded.where(~is_bench))
        n_contam_bloom = (
            bloom_prune(
                train_sh, "shingle", bitmap, m_bits=1 << 23, hash_family="fast"
            )
            .select("doc_id")
            .distinct()
            .count()
        )
        timings["decontam_bloom_60k"] = time.time() - t0
        # bloom flags every exactly-contaminated doc (no false negatives)
        assert n_contam_bloom >= n_contam_exact
        big.unpersist()

        # q8: connected components on a 300k-node chain graph (chains of
        # 50 -> diameter 49): ~7 large-star/small-star alternations, the
        # iterative-shuffle workload class (dedup pairs -> clusters).
        from distributed_search_engine_spark.operators.graph import (
            connected_components,
        )

        n_cc = 300_000
        cc_edges = spark.range(n_cc).where(F.col("id") % 50 != 0).select(
            F.col("id").alias("u"), (F.col("id") - 1).alias("v")
        )
        t0 = time.time()
        cc = connected_components(cc_edges)
        cc_bad = cc.where(
            F.col("component") != F.col("node") - F.col("node") % 50
        ).count()
        timings["graph_cc_300k"] = time.time() - t0
        assert cc_bad == 0, f"cc benchmark produced {cc_bad} wrong labels"

        # q9: k-means assign+update over 100k deterministic 64-dim
        # vectors, k=16 — the map-only literal-centroid argmin scan plus
        # one partial-agg shuffle (the per-iteration cost of Lloyd's).
        from distributed_search_engine_spark.operators.clustering import (
            seeded_centroids,
            update_centroids,
        )

        n_km, km_dim, km_k = 100_000, 64, 16
        km_vec = F.array(
            *[
                (F.xxhash64(F.col("id"), F.lit(d)) / F.lit(float(1 << 63)))
                for d in range(km_dim)
            ]
        )
        km_emb = spark.range(n_km).select(
            F.col("id").alias("vec_id"), km_vec.alias("embedding")
        ).persist()
        km_emb.count()
        t0 = time.time()
        km_rows = update_centroids(
            km_emb, seeded_centroids(km_k, km_dim, seed=5)
        ).collect()
        timings["kmeans_update_100k"] = time.time() - t0
        assert len(km_rows) == km_k

        # q9b: IVFADC over the same 100k vectors — encode+persist the
        # coded corpus partitioned by coarse cell (the build), then 5
        # served queries probing 2 of 16 cells each (partition-pruned
        # scans of compressed codes; the billion-scale ANN serving shape)
        from distributed_search_engine_spark.operators.similarity import (
            ann_ivfadc_from_store,
            persist_coded_corpus,
            pq_train,
            residuals,
        )

        ivf_cents = seeded_centroids(16, km_dim, seed=5)
        # persist the residual frame: 8 per-subspace Lloyd scans would
        # otherwise each re-run the 16-centroid coarse argmin
        ivf_res = residuals(km_emb, ivf_cents).persist()
        ivf_res.count()
        ivf_books = pq_train(
            ivf_res,
            seeded_centroids(16, km_dim, seed=17),
            m_subs=8,
            iters=1,
            id_col="id",
            vec_col="r",
        )
        ivf_res.unpersist()
        store_dir = tempfile.mkdtemp(prefix="dse_ivfadc_bench_")
        t0 = time.time()
        persist_coded_corpus(km_emb, ivf_cents, ivf_books, store_dir)
        timings["ann_ivfadc_build_100k"] = time.time() - t0
        qvecs = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in km_emb.where(F.col("vec_id") < 5).collect()
        }
        t0 = time.time()
        n_served = 0
        for qid, qv in sorted(qvecs.items()):
            n_served += ann_ivfadc_from_store(
                spark, store_dir, ivf_cents, ivf_books, qv,
                query_id=qid, k=10, n_probe=2,
            ).count()
        timings["ann_ivfadc_serve_100k_x5"] = time.time() - t0
        assert n_served == 50
        shutil.rmtree(store_dir, ignore_errors=True)
        km_emb.unpersist()

        extra_big = {
            "n_docs_60k": n_big,
            "n_postings_60k": n_big_postings,
            "index_docs_per_sec_60k": round(big_docs_per_sec, 1),
            "dedup_lsh_candidates_60k": n_cand,
            "dedup_jaccard_pairs_60k": n_dup,
            "dedup_simhash_pairs_60k": n_simp,
            "dedup_substring_docs_60k": n_subdup_docs,
            "lm_bigrams_60k": n_lm_bigrams,
            "hll_est_distinct_60k": hll_est,
            "trigram_postings_60k": n_trigram_postings,
            "substring_hits_60k": n_sub_hits,
            "regex_hits_60k": n_rx_hits,
            "code_ranked_hits_60k": n_code_ranked,
        }
    else:
        extra_big = {}

    # q10: warehouse analytics — the three decimal-exact TPC-H shapes
    from distributed_search_engine_spark.analytics import (
        pricing_summary,
        regional_revenue,
        top_revenue_orders,
    )

    tt = lambda name: spark.read.parquet(f"{sf_dir}/{name}.parquet")
    t0 = time.time()
    pricing_summary(tt("lineitem")).collect()
    top_revenue_orders(tt("lineitem"), tt("orders"), tt("customer")).collect()
    regional_revenue(
        tt("lineitem"), tt("orders"), tt("customer"),
        tt("supplier"), tt("nation"), tt("region"),
    ).collect()
    timings["analytics_q1_q3_q5"] = time.time() - t0

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "index_build_and_query_suite_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "sf": sf,
                "cores": cores,
                "n_docs": n_docs,
                "n_postings": n_postings,
                "index_docs_per_sec": round(docs_per_sec, 1),
                **ctl,
                **extra_big,
            }
        )
    )


if __name__ == "__main__":
    main()
