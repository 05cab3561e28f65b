"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: BM25 top-k search over the sf0.001 documents
                 corpus through the full stemmed index.
queries()      — one entry per implemented operator (SURVEY.md §2);
                 each callable (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL per query (distributed_search_engine_spark.oracle);
                 column names/aliases match the Spark side exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_search_engine_spark import oracle
from distributed_search_engine_spark.operators import clustering as C
from distributed_search_engine_spark.operators import dedup as D
from distributed_search_engine_spark.operators import graph as G
from distributed_search_engine_spark.operators import similarity as S
from distributed_search_engine_spark.operators import bpe as B
from distributed_search_engine_spark.operators import text_analysis as TA
from distributed_search_engine_spark.operators.docstats import filter_indexable
from distributed_search_engine_spark.operators.pagerank import (
    run_pagerank,
    synthetic_links,
)
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query.engine import (
    SearchIndex,
    search,
    search_rm3,
)

# ---------------------------------------------------------------------------
# index cache: the driver calls each query separately; building the index
# once per (sf_dir, stems) keeps the gate fast without changing semantics.
# ---------------------------------------------------------------------------
_INDEX_CACHE: dict[tuple[str, bool], dict] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _index(spark: SparkSession, sf_dir: str, with_stems: bool) -> dict:
    key = (sf_dir, with_stems)
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        idx = build_index(
            docs, doc_id_col="doc_id", content_col="text", with_stems=with_stems
        )
        for name in ("postings", "doc_stats", "term_stats"):
            idx[name] = idx[name].persist()
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def _search_index(spark: SparkSession, sf_dir: str, with_stems: bool) -> SearchIndex:
    idx = _index(spark, sf_dir, with_stems)
    return SearchIndex(
        postings=idx["postings"],
        term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"],
        term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )


def _ranks(spark: SparkSession, sf_dir: str, iterations: int = 3) -> DataFrame:
    key = (sf_dir, f"ranks{iterations}")
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir)
        ranks, _ = run_pagerank(
            docs, synthetic_links(docs), fixed_iterations=iterations
        )
        _INDEX_CACHE[key] = ranks.persist()
    return _INDEX_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full stemmed index over sf0.001 + PageRank blend + BM25
    top-20 (the north-star query path)."""
    sf_dir = "/root/testdata/sf0.001"
    sidx = _search_index(spark, sf_dir, with_stems=True)
    sidx.ranks = _ranks(spark, sf_dir)
    return search(spark, sidx, "spark data query", k=20, mode="bm25")


# ---------------------------------------------------------------------------
# oracle-gated queries (each maps to SURVEY.md §2 logical ops)
# ---------------------------------------------------------------------------

def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I5: doc_len / max_tf / title per doc
    ds = _index(spark, sf_dir, with_stems=False)["doc_stats"]
    return ds.select("doc_id", "doc_len", "max_tf", "title")


def _q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I7/I8/I9: postings with stream positions + normalized tf (unstemmed
    # mode; stemmed emission is covered by index_postings_stemmed, rows-only)
    p = _index(spark, sf_dir, with_stems=False)["postings"]
    return p.select(
        "term",
        "doc_id",
        "tf",
        F.round("normalized_tf", 6).alias("normalized_tf"),
        "doc_len",
        F.array_join(F.col("positions").cast("array<string>"), " ").alias("positions"),
    )


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # I10/I11: df + idf (+ BM25 idf) after caps
    ts = _index(spark, sf_dir, with_stems=False)["term_stats"]
    return ts.select(
        "term",
        "df",
        F.round("idf", 6).alias("idf"),
        F.round("idf_bm25", 6).alias("idf_bm25"),
    )


def _q_content_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row invariant (BASELINE input_hint): sha256(content) through the
    # pipeline equals sha256 on the source
    ds = _index(spark, sf_dir, with_stems=False)["doc_stats"]
    return ds.select("doc_id", "content_sha")


def _q_tfidf_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q1/Q4/Q5/Q9(pr=0): reference-mode single-term scoring
    sidx = _search_index(spark, sf_dir, with_stems=False)
    res = search(
        spark, sidx, "data", k=None, mode="reference", use_title_boost=False
    )
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_and_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q5/Q7/Q8/Q10: two-term AND + phrase boost + all-matched x4.0
    sidx = _search_index(spark, sf_dir, with_stems=False)
    res = search(
        spark, sidx, "data stream", k=None, mode="reference",
        use_title_boost=False,
    )
    return res.select("doc_id", F.round("score", 6).alias("score"))


REFERENCE_BATCH_QUERIES = [["data"], ["data", "stream"]]


def _q_reference_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the WHOLE reference chain Q1-Q12 for a query set through search()'s
    # one scoring statement keyed by query (inlined per-query map
    # literals, one scoring shuffle) — per-query hash-equal to search();
    # on a cached index a batch of five runs 3 Spark jobs, as one
    # search() does; stem-fixpoint terms so the unstemmed oracle mirrors
    # the expansion exactly
    from distributed_search_engine_spark.query.engine import (
        search_reference_batch,
    )

    sidx = _search_index(spark, sf_dir, with_stems=False)
    res = search_reference_batch(
        spark,
        sidx,
        [" ".join(t) for t in REFERENCE_BATCH_QUERIES],
        k=None,
        use_title_boost=False,
    )
    return res.select("query", "doc_id", F.round("score", 6).alias("score"))


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M5 scorer: BM25(k1=1.2, b=0.75) multi-term, pagerank 0
    sidx = _search_index(spark, sf_dir, with_stems=False)
    # k=None = full scored frame with NO global-sort node (the gate hashes
    # order-insensitively; a limit would be a 1M-row TakeOrdered for nothing)
    res = search(spark, sidx, "spark join", k=None, mode="bm25")
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc-to-doc similarity THROUGH the inverted index: tf-idf-space
    # cosine, broadcast query-doc weights, ordered-limit top-k (no
    # global sort); 6dp-rounded score before ranking on both engines
    from distributed_search_engine_spark.query.engine import more_like_this

    sidx = _search_index(spark, sf_dir, with_stems=False)
    return more_like_this(sidx, "7", k=10)


def _q_forward_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # forward index (doc -> sorted term list): the per-doc mirror of the
    # postings that makes doc-centric lookups (MLT step 1) pruned reads
    from distributed_search_engine_spark.query.engine import build_forward_index

    idx = _index(spark, sf_dir, with_stems=False)
    fwd = build_forward_index(idx["postings"])
    return fwd.select(
        "doc_id",
        F.array_join("terms", " ").alias("terms"),
        F.size("terms").cast("int").alias("n_terms"),
    )


def _q_mlt_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scale-path MLT: forward-index term lookup + partition-pruned
    # segment postings + precomputed norms — shares the oracle with
    # search_more_like_this (identical output is the point)
    from distributed_search_engine_spark.query.engine import (
        build_forward_index,
        more_like_this_pruned,
        tfidf_doc_norms,
    )

    idx = _index(spark, sf_dir, with_stems=False)
    seg = _segment_index(spark, sf_dir)
    key = (sf_dir, "mlt_pruned_aux")
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = {
            "fwd": build_forward_index(idx["postings"]).persist(),
            "norms": tfidf_doc_norms(idx["postings"], idx["term_stats"]).persist(),
        }
    aux = _INDEX_CACHE[key]
    return more_like_this_pruned(
        seg["sidx"], "7", forward=aux["fwd"], doc_norms=aux["norms"], k=10
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1-P8: 3 fixed iterations over the deterministic synthetic link graph
    return _ranks(spark, sf_dir, 3).select(
        "doc_id", F.round("rank", 6).alias("rank")
    )


def _q_search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sloppy-phrase retrieval: 'data' and 'stream' within 4 positions,
    # tf-idf sum x (1 + 1/(1+min_gap)) closeness boost
    from distributed_search_engine_spark.query.engine import search_proximity

    idx = _index(spark, sf_dir, with_stems=False)
    return search_proximity(
        idx["postings"], idx["term_stats"], "data", "stream", slop=4, k=20
    )


def _q_ann_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # diversified retrieval: MMR over the brute-force top-20 pool
    return S.mmr_rerank(_emb(spark, sf_dir), query_id=0, k=5, pool=20, lam=0.7)


def _q_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # aggregations alongside hits: per-(lang, source) match counts +
    # best tf-idf score for the two-term query
    from distributed_search_engine_spark.query.engine import search_facets

    idx = _index(spark, sf_dir, with_stems=False)
    return search_facets(
        idx["postings"],
        idx["term_stats"],
        _docs(spark, sf_dir),
        ["data", "stream"],
    )


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kleinberg HITS, 2 unrolled rounds over the synthetic link graph —
    # L2 normalizers 6dp-rounded before dividing (shared contract)
    from distributed_search_engine_spark.operators.pagerank import run_hits

    docs = _docs(spark, sf_dir)
    return run_hits(docs, synthetic_links(docs), iterations=2)


_PPR_SEEDS = [3, 11, 42]


def _q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Haveliwala topic-sensitive PR: teleport onto a 3-doc seed set
    # (r0 = p, base term 0.15*p), same transfer math as pagerank_3iter;
    # oracle unrolls the identical rounds with the personalized base
    from distributed_search_engine_spark.operators.pagerank import (
        run_personalized_pagerank,
    )

    docs = _docs(spark, sf_dir)
    return run_personalized_pagerank(
        docs, synthetic_links(docs), seeds=_PPR_SEEDS, iterations=3
    ).select("doc_id", F.round("rank", 6).alias("rank"))


def _q_pagerank_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P7 persisted checkpoint/resume: run 2 iterations (checkpoint each),
    # crash-free stop, then a SECOND invocation resumes from the iter=2
    # parquet state and completes iteration 3 — must equal the same
    # 3-iteration unrolled-SQL oracle as pagerank_3iter
    import tempfile

    state_dir = tempfile.mkdtemp(prefix="dse_pr_state_")
    docs = _docs(spark, sf_dir)
    links = synthetic_links(docs)
    run_pagerank(docs, links, fixed_iterations=2, checkpoint_every=1,
                 state_dir=state_dir)
    ranks, _ = run_pagerank(docs, links, fixed_iterations=3,
                            checkpoint_every=1, state_dir=state_dir)
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


def _segment_index(spark: SparkSession, sf_dir: str):
    # build-once physical segments for the segment-backed gated queries
    key = (sf_dir, "segments")
    if key not in _INDEX_CACHE:
        import tempfile

        from distributed_search_engine_spark.index.segments import (
            assign_docnums,
            build_segments,
            segment_search_index,
        )

        idx = _index(spark, sf_dir, with_stems=False)
        ds = assign_docnums(idx["doc_stats"], n_partitions=8).persist()
        avgdl = float(ds.agg(F.avg("doc_len")).collect()[0][0])
        out = tempfile.mkdtemp(prefix="dse_gate_segs_") + "/index"
        build_segments(
            idx["postings"], idx["term_stats"], ds, out, avgdl,
            n_partitions=16, batch_partitions=16,
        )
        _INDEX_CACHE[key] = {
            "sidx": segment_search_index(
                spark, out, ds, idx["term_stats"], idx["term_dict"],
                idx["total_docs"], n_partitions=16,
            ),
            "seg_dir": out,
            "ds": ds,
            "avgdl": avgdl,
        }
    return _INDEX_CACHE[key]


#  every term is a Porter fixpoint (stem == term), so the Spark-side
#  expansion adds nothing the oracle's raw IN-list doesn't score ("merge"
#  would stem to "merg" and expand to any merg-stemmed vocabulary term)
BATCH_QUERIES = [["data", "stream"], ["spark", "join"], ["hash", "sort"], ["window"]]


def _q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch multi-query BM25: search(mode="bm25")'s scorer keyed by query
    # (postings scanned once for all queries' expansions; on a cached
    # index 4 Spark jobs for any set size); stem-fixpoint terms so the
    # unstemmed oracle mirrors the expansion exactly
    from distributed_search_engine_spark.query.engine import search_bm25_batch

    sidx = _search_index(spark, sf_dir, with_stems=False)
    return search_bm25_batch(
        spark, sidx, [" ".join(t) for t in BATCH_QUERIES], k=10
    )


def _q_tfidf_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME reference-mode query as search_tfidf_single, but every
    # posting lookup is a partition-pruned compressed-segment read
    # (decode -> docnum join); shares search_tfidf_single's oracle SQL —
    # the segment round-trip must be score-invariant to the last 6dp
    sidx = _segment_index(spark, sf_dir)["sidx"]
    res = search(
        spark, sidx, "data", k=None, mode="reference", use_title_boost=False
    )
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_phrase_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    sidx = _segment_index(spark, sf_dir)["sidx"]
    res = search(
        spark, sidx, "data stream", k=None, mode="reference",
        use_title_boost=False,
    )
    return res.select("doc_id", F.round("score", 6).alias("score"))


def _q_bm25_dist_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # executor-side doc-range-sharded BM25 top-k over the compressed
    # segments (index/wand.distributed_topk) — the scale path where no
    # posting bytes reach the driver — joined back docnum -> doc_id and
    # hash-gated against a plain SQL BM25 top-k (rank ties: score desc,
    # doc_id asc == docnum asc, since docnums are assigned in doc_id order)
    from distributed_search_engine_spark.index.segments import (
        read_segments_for_terms,
    )
    from distributed_search_engine_spark.index.wand import distributed_topk

    seg = _segment_index(spark, sf_dir)
    terms = ["data", "stream"]
    sdf = read_segments_for_terms(spark, seg["seg_dir"], terms, 16).select(
        "term", "idf_bm25", "blocks"
    )
    top = distributed_topk(spark, sdf, seg["avgdl"], k=10, n_ranges=4)
    rows = [(int(d), float(s), i + 1) for i, (d, s) in enumerate(top)]
    df = spark.createDataFrame(rows, "docnum long, score double, rank int")
    return df.join(seg["ds"].select("doc_id", "docnum"), "docnum").select(
        "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def _q_bm25_maxscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # driver-side block-max top-k (index/wand.wand_topk) over the same
    # compressed segments for a 3-term query, so cross-term block bounds
    # engage. Bounded by the I10 20k/5k per-term caps; the sharded
    # executor path stays distributed_topk. Gated against the plain SQL
    # BM25 top-k.
    from distributed_search_engine_spark.index.segments import (
        read_segments_for_terms,
    )
    from distributed_search_engine_spark.index.wand import wand_topk

    seg = _segment_index(spark, sf_dir)
    terms = ["table", "window", "scan"]
    seg_rows = [
        r.asDict(recursive=True)
        for r in read_segments_for_terms(spark, seg["seg_dir"], terms, 16)
        .select("term", "idf_bm25", "blocks")
        .collect()
    ]
    top = wand_topk(seg_rows, seg["avgdl"], k=10)
    rows = [(int(d), float(s), i + 1) for i, (d, s) in enumerate(top)]
    df = spark.createDataFrame(rows, "docnum long, score double, rank int")
    return df.join(seg["ds"].select("doc_id", "docnum"), "docnum").select(
        "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def _q_bm25_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene-explain()-style per-(doc, term) score breakdown
    from distributed_search_engine_spark.query.engine import explain_bm25

    sidx = _search_index(spark, sf_dir, False)
    return explain_bm25(spark, sidx, "data stream")


_CHAMPION_M = 40


def _q_bm25_champion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tiered-index champion lists: per-term top-m postings by exact
    # 6dp-rounded BM25 contribution, batch top-k over champions only —
    # deterministic approximation, hash-gated like an exact query
    from distributed_search_engine_spark.index.champions import (
        champion_postings,
        search_bm25_champion,
    )

    sidx = _search_index(spark, sf_dir, False)
    champs = champion_postings(
        sidx.postings, sidx.term_stats, sidx.avgdl, _CHAMPION_M
    )
    return search_bm25_champion(spark, champs, BATCH_QUERIES, k=10)


def _q_pagerank_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 end-to-end over EXTRACTED (not synthetic) links: derive a code
    # document per row whose import statements encode the same deterministic
    # graph as synthetic_links, run the real regex extractor (pandas UDF) +
    # module-map resolution (Crawler.java:422-491 analog), then PageRank —
    # hash-matched against the same unrolled-SQL oracle as pagerank_3iter.
    from distributed_search_engine_spark.operators.pagerank import (
        extract_links,
        resolve_links,
    )

    docs = _docs(spark, sf_dir)
    n = docs.count()
    code = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("txt "),  # line 1 can never start with import/from
            F.col("text"),
            F.lit("\nimport mod_"),
            ((F.col("doc_id") + 1) % n).cast("string"),
            F.lit("\nimport mod_"),
            ((F.col("doc_id") * 3 + 7) % n).cast("string"),
        ).alias("content"),
        F.lit("py").alias("lang"),
    )
    refs = extract_links(code)
    module_map = docs.select(
        F.concat(F.lit("mod_"), F.col("doc_id").cast("string")).alias("module"),
        F.col("doc_id").alias("dst"),
    )
    links = resolve_links(refs, module_map)
    ranks, _ = run_pagerank(docs, links, fixed_iterations=3)
    return ranks.select("doc_id", F.round("rank", 6).alias("rank"))


def _q_postings_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check (Porter stemming not expressible in SQL): stem-expanded
    # postings — jobs/Indexer.java:463-475 semantics
    p = _index(spark, sf_dir, with_stems=True)["postings"]
    return p.select(
        "term", "doc_id", "tf",
        F.array_join(F.col("positions").cast("array<string>"), " ").alias("positions"),
    )


# ---------------------------------------------------------------------------
# I4 weighted tokenize: both engines derive the SAME deterministic HTML page
# from documents.text (literal ops below), index it with visible-1.0 /
# script+style-0.001 weights, and compare weighted_tf / normalized_tf /
# positions / per-position weights.
# ---------------------------------------------------------------------------

_HTML_SPEC: list = [
    "<html><head><title>", ("sub", 1, 30),
    '</title><meta charset="utf-8"><style>body { color: red; } .c ',
    ("sub", 1, 25),
    "</style></head><body><p>", ("full",),
    '</p><script type="text/javascript">var x = 12; ', ("sub", 31, 40),
    "</script><!-- note ", ("sub", 5, 10),
    " --></body></html>",
]


def _html_col() -> F.Column:
    parts = []
    for p in _HTML_SPEC:
        if isinstance(p, str):
            parts.append(F.lit(p))
        elif p[0] == "full":
            parts.append(F.col("text"))
        else:
            parts.append(F.substring(F.col("text"), p[1], p[2]))
    return F.concat(*parts)


def _html_sql() -> str:
    parts = []
    for p in _HTML_SPEC:
        if isinstance(p, str):
            parts.append("'" + p.replace("'", "''") + "'")
        elif p[0] == "full":
            parts.append("text")
        else:
            parts.append(f"substr(text, {p[1]}, {p[2]})")
    return "(" + " || ".join(parts) + ")"


def _q_weighted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_search_engine_spark.operators.postings import (
        build_weighted_index,
    )

    key = (sf_dir, "weighted")
    if key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
            F.col("doc_id").cast("string").alias("doc_id"), _html_col().alias("html")
        )
        idx = build_weighted_index(docs, doc_id_col="doc_id", content_col="html")
        # title comes from doc_stats' HTML-aware extractTitle
        # (jobs/Indexer.java:1404-1430) — hash-gated per posting row
        _INDEX_CACHE[key] = (
            idx["postings"]
            .join(
                F.broadcast(idx["doc_stats"].select("doc_id", "title")), "doc_id"
            )
            .persist()
        )
    p = _INDEX_CACHE[key]
    return p.select(
        "term",
        "doc_id",
        "title",
        "tf",
        F.round("weighted_tf", 6).alias("weighted_tf"),
        F.round("normalized_tf", 6).alias("normalized_tf"),
        F.array_join(F.col("positions").cast("array<string>"), " ").alias("positions"),
        F.array_join(
            F.transform(
                "weights",
                lambda w: F.when(w == 1.0, F.lit(1000)).otherwise(F.lit(1)).cast("string"),
            ),
            " ",
        ).alias("weights_milli"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline ops (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

def _capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filter_indexable(_docs(spark, sf_dir), "text")


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (sf_dir, "shingles")
    if key not in _INDEX_CACHE:
        _INDEX_CACHE[key] = D.shingles(_capped_docs(spark, sf_dir)).persist()
    return _INDEX_CACHE[key]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(_capped_docs(spark, sf_dir))


def _q_minhash(spark, sf_dir):
    return D.minhash_signatures(_shingles(spark, sf_dir))


def _q_lsh_pairs(spark, sf_dir):
    return D.lsh_candidate_pairs(D.minhash_signatures(_shingles(spark, sf_dir)))


def _q_jaccard(spark, sf_dir):
    # scale path: exact jaccard restricted to MinHash-LSH candidates — the
    # shingle self-join never runs (oracle applies the identical banding)
    sh = _shingles(spark, sf_dir)
    cands = D.lsh_candidate_pairs(D.minhash_signatures(sh))
    out = D.jaccard_pairs(sh, threshold=0.5, candidates=cands)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q_simhash(spark, sf_dir):
    return D.simhash(_capped_docs(spark, sf_dir))


def _q_simhash_pairs(spark, sf_dir):
    out = D.simhash_pairs(D.simhash(_capped_docs(spark, sf_dir)), max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


def _q_substring_spans(spark, sf_dir):
    # window-granular exact duplicate-substring detection (Lee et al. 2022
    # shape): zero-shuffle window hashing -> count groupBy -> island merge
    return D.substring_spans(
        D.duplicate_windows(_capped_docs(spark, sf_dir), w=8), w=8
    )


def _q_substring_stats(spark, sf_dir):
    return D.substring_dup_stats(_capped_docs(spark, sf_dir), w=8)


def _q_pmi_collocations(spark, sf_dir):
    # collocation mining: top adjacent pairs by pointwise mutual
    # information (Church & Hanks 1990), min_count floor against PMI's
    # low-count pathology; reuses the bigram-LM count-table shape
    return TA.pmi_collocations(_capped_docs(spark, sf_dir), k=20, min_count=5)


def _q_priority_sample(spark, sf_dir):
    # weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    # inclusion probability tracks n_chars; deterministic md5 uniform ->
    # the "random" sample equality-gates. One ordered limit, no shuffle
    return TA.priority_sample(
        _capped_docs(spark, sf_dir), k=50, weight_col="n_chars"
    )


def _q_hll_distinct(spark, sf_dir):
    # HyperLogLog distinct-token estimate: m=256 max-rank registers,
    # one partial-agg exchange; with linear counting + count-min this
    # completes the mergeable-sketch family. Deterministic md5 hash ->
    # the ESTIMATE is bit-identical cross-engine (equality gate)
    return TA.hll_distinct(_capped_docs(spark, sf_dir), b=8)


def _q_hybrid_rrf(spark, sf_dir):
    # modern hybrid search: BM25 through the inverted index + embedding
    # cosine through the broadcast-query ANN scan, fused by reciprocal
    # ranks over the union of the two top-100 pools (Cormack et al.
    # SIGIR'09). Fusion is pool-bounded — costs max(retriever costs)
    from distributed_search_engine_spark.query.engine import hybrid_rrf_topk

    sidx = _search_index(spark, sf_dir, with_stems=False)
    return hybrid_rrf_topk(
        spark, sidx, "spark join", _emb(spark, sf_dir), query_vec_id=0, k=10
    )


def _q_cms_heavy_hitters(spark, sf_dir):
    # bounded-memory hot-token detection: d x width count-min counter
    # table (mergeable by addition), min-over-rows estimate, top-20.
    # Deterministic md5 buckets -> the overestimates are bit-identical
    # cross-engine, so the gate is equality, not tolerance
    return TA.cms_heavy_hitters(_capped_docs(spark, sf_dir), k=20)


def _q_span_removal(spark, sf_dir):
    # the excision step completing the duplicate-substring pipeline:
    # cut every corpus-duplicated >=8-token span, re-join the remainder
    return D.remove_dup_spans(_capped_docs(spark, sf_dir), w=8)


def _q_span_removal_keepone(spark, sf_dir):
    # Lee et al. 2022 exact-paper variant: the corpus-FIRST occurrence of
    # each duplicated window survives excision (per-hash argmin over
    # (doc_id, pos)) so one copy of every duplicated substring remains
    return D.remove_dup_spans(_capped_docs(spark, sf_dir), w=8, keep_one=True)


def _q_bm25f(spark, sf_dir):
    # BM25F (Zaragoza et al. CIKM'04): field-weighted retrieval over
    # {title (extractTitle contract, weight 2.0), body (the postings
    # tokenizer, weight 1.0)} — per-field length-normalized tfs combine
    # into one pseudo-frequency BEFORE k1 saturation
    from distributed_search_engine_spark.query.engine import search_bm25f

    return search_bm25f(_capped_docs(spark, sf_dir), ["spark", "join"])


def _q_containment(spark, sf_dir):
    # asymmetric n-gram containment (Broder SEQUENCES'97) on the MinHash-
    # LSH candidates: |common|/|A|, |common|/|B|, and the max — the
    # doc-inside-doc detector jaccard structurally misses
    sh = _shingles(spark, sf_dir)
    cands = D.lsh_candidate_pairs(D.minhash_signatures(sh))
    return D.containment_pairs(sh, threshold=0.5, candidates=cands)


def _q_events_scd2(spark, sf_dir):
    # SCD2-style state-change compression: per user, consecutive runs of
    # the same event_type collapse to one (valid_from, valid_to) row —
    # the lakehouse "latest state history" op. Two windows, BOTH
    # partitioned by user_id (no global sort; scale-safe), epoch doubles
    # so interval arithmetic is bit-identical cross-engine.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("double")
    runs = (
        e.withColumn(
            "_chg",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .withColumn("_run", F.sum("_chg").over(w))
        .groupBy("user_id", "_run")
        .agg(
            F.min("event_type").alias("event_type"),
            F.min(epoch).alias("valid_from"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    wr = Window.partitionBy("user_id").orderBy("_run")
    return runs.select(
        "user_id",
        "event_type",
        F.round("valid_from", 6).alias("valid_from"),
        F.round(
            F.coalesce(
                F.lead("valid_from").over(wr), F.lit(float("inf"))
            ),
            6,
        ).alias("valid_to"),
        "n_events",
    )


def _q_bpe_encode(spark, sf_dir):
    # full BPE tokenizer: distributed word-count pass -> driver merge loop
    # (vocab-sized) -> broadcast-merge pandas-UDF encode. The TRAIN loop is
    # iterative with data-dependent ranks (non-SQL), but the ENCODE of the
    # trained merges is deterministic — so the gate compares against a
    # Python-materialized expected table (_bpe_expected_values, the
    # index_postings_stemmed VALUES-map trick): full hash gate, no
    # rows-only exemption. subwords_md5 pins the ENTIRE subword sequence
    # per doc, not just the counts.
    docs = _capped_docs(spark, sf_dir)
    merges = B.bpe_train(docs, n_merges=50)
    return B.bpe_encode(docs, merges).select(
        "doc_id",
        "n_words",
        "n_subwords",
        F.md5(F.array_join("subwords", " ")).alias("subwords_md5"),
    )


def _q_bigram_lm(spark, sf_dir):
    # CCNet-shape LM quality scoring: add-alpha bigram model self-trained
    # on the capped corpus, per-doc avg logprob + perplexity
    return TA.bigram_lm_stats(_capped_docs(spark, sf_dir))


def _q_kneser_ney(spark, sf_dir):
    # the REAL CCNet model family: interpolated Kneser-Ney bigram LM
    # (KenLM's smoothing), self-trained on the capped corpus
    return TA.kneser_ney_lm_stats(_capped_docs(spark, sf_dir))


def _q_search_rm3(spark, sf_dir):
    # RM3 pseudo-relevance feedback: expansion terms mined from the
    # top-10 first-pass docs' term distributions, second pass
    # interpolated at beta=0.6 (Lavrenko & Croft / UMass RM3)
    sidx = _search_index(spark, sf_dir, with_stems=False)
    return search_rm3(
        spark, sidx, ["spark", "join"], k=10, fb_docs=10, fb_terms=5,
        beta=0.6,
    )


def _q_rank_eval(spark, sf_dir):
    # TREC metric battery (P@k / recall@k / MRR / nDCG@k) over the batch
    # BM25 runs vs deterministic term-overlap pseudo-qrels
    from distributed_search_engine_spark.operators import rank_eval as RE
    from distributed_search_engine_spark.query.engine import search_bm25_batch

    sidx = _search_index(spark, sf_dir, with_stems=False)
    runs = search_bm25_batch(
        spark, sidx, [" ".join(t) for t in BATCH_QUERIES], k=10
    )
    idx = _index(spark, sf_dir, False)
    qrels = RE.term_overlap_qrels(
        idx["postings"], {" ".join(t): t for t in BATCH_QUERIES}
    )
    return RE.rank_metrics(runs, qrels, k=10)


def _q_trigram_postings(spark, sf_dir):
    # code-search substring index: distinct lowercased 3-char windows
    from distributed_search_engine_spark.index import trigram as TRI

    return TRI.trigram_postings(_capped_docs(spark, sf_dir)).select(
        "trigram", F.col("doc_id").cast("string").alias("doc_id")
    )


def _q_substring_search(spark, sf_dir):
    # rarest-trigram candidate pruning + exact verify; the oracle is an
    # INDEPENDENT full-scan contains() - equality proves losslessness
    from distributed_search_engine_spark.index import trigram as TRI

    docs = _capped_docs(spark, sf_dir)
    post = TRI.trigram_postings(docs)
    return TRI.substring_search(docs, post, "data stream").select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_occurrences"
    )


_SUBSTRING_BATCH = ["data stream", "sort merge", "window", "zzzqqq", "ab"]


def _q_substring_batch(spark, sf_dir):
    # batch form: one plan for the whole needle set (stats collect + one
    # map-literal candidate step + per-row needle verify); includes an
    # absent-trigram needle (empty) and a sub-3-char full-scan needle
    from distributed_search_engine_spark.index import trigram as TRI

    docs = _capped_docs(spark, sf_dir)
    post = TRI.trigram_postings(docs)
    return TRI.substring_search_batch(docs, post, _SUBSTRING_BATCH).select(
        "needle", F.col("doc_id").cast("string").alias("doc_id"),
        "n_occurrences",
    )


_REGEX_PAT = r"(sort|merge)\s+(batch|table)"
_REGEX_PAT_OPT = r"window\s+agg(regate)?s?"
_REGEX_BATCH = [
    _REGEX_PAT,
    _REGEX_PAT_OPT,
    r"stream(ing)?\s+sort",
    r"(zzzqqq|qqqzzz)x",  # absent required literal: contributes nothing
]


def _q_regex_batch(spark, sf_dir):
    # batch form: one plan for the whole pattern set (the same candidate
    # step, per-row pattern-column verify)
    from distributed_search_engine_spark.index import trigram as TRI
    from distributed_search_engine_spark.index.regex_search import (
        regex_search_batch,
    )

    docs = _capped_docs(spark, sf_dir)
    post = TRI.trigram_postings(docs)
    return regex_search_batch(docs, post, _REGEX_BATCH).select(
        "pattern", F.col("doc_id").cast("string").alias("doc_id"),
        "n_matches",
    )


def _q_regex_search(spark, sf_dir):
    # Cox-style regex -> trigram CNF: two alternation clauses, one
    # candidate step, exact (?i) verify on candidates only; the oracle is
    # an INDEPENDENT full-scan RE2 regexp - equality proves losslessness
    from distributed_search_engine_spark.index import trigram as TRI
    from distributed_search_engine_spark.index.regex_search import regex_search

    docs = _capped_docs(spark, sf_dir)
    post = TRI.trigram_postings(docs)
    return regex_search(docs, post, _REGEX_PAT).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_matches"
    )


def _q_regex_search_opt(spark, sf_dir):
    # optional-group pattern: (regexe)? drops its clause, s? breaks the
    # run - exercises the min==0 requirement-dropping path
    from distributed_search_engine_spark.index import trigram as TRI
    from distributed_search_engine_spark.index.regex_search import regex_search

    docs = _capped_docs(spark, sf_dir)
    post = TRI.trigram_postings(docs)
    return regex_search(docs, post, _REGEX_PAT_OPT).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_matches"
    )


def _derived_code_docs(spark, sf_dir):
    # deterministic code-shaped corpus derived from each doc's first 4
    # tokens (documents.text is word salad; the extraction machinery
    # needs real def/class sites) — mirrored in oracle._CODE_SYMBOLS_CTES
    docs = _capped_docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    content = F.concat(
        F.lit("def "), t[0], F.lit("_"), t[1], F.lit("(arg):\n    return "),
        t[2], F.lit("\nclass "),
        F.upper(F.substring(t[3], 1, 1)), F.substring(t[3], 2, 1000),
        F.lit("Handler:\n    pass"),
    )
    return docs.where(F.size(t) >= 4).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("python").alias("lang"),
        # deterministic input_hint-shaped (repo, path) columns: path from
        # the same tokens as the def site (so path boosts correlate with
        # content, as in real trees), repo from md5(doc_id) (16 buckets —
        # content dupes land in different repos, modeling vendored copies)
        F.concat(
            F.lit("src/"), t[0], F.lit("/"), t[1], F.lit(".py")
        ).alias("path"),
        F.concat(
            F.lit("repo_"), F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        ).alias("repo"),
        content.alias("content"),
    )


def _q_grep_lines(spark, sf_dir):
    # ripgrep-shape result: matching lines + 1 line of context over the
    # derived code corpus, candidates through the trigram index
    from distributed_search_engine_spark.index import trigram as TRI
    from distributed_search_engine_spark.index.grep import grep_lines

    code = _derived_code_docs(spark, sf_dir)
    post = TRI.trigram_postings(code, content_col="content")
    return grep_lines(
        code, post, "return", context=1, content_col="content"
    )


def _q_code_symbols(spark, sf_dir):
    # ctags-lite definition-site extraction (payload=code axis)
    from distributed_search_engine_spark.operators.code_symbols import (
        extract_symbols,
    )

    return extract_symbols(_derived_code_docs(spark, sf_dir)).select(
        "doc_id", "kind", "symbol", "line_no"
    )


def _q_code_symbol_stats(spark, sf_dir):
    from distributed_search_engine_spark.operators.code_symbols import (
        extract_symbols,
        symbol_stats,
    )

    return symbol_stats(extract_symbols(_derived_code_docs(spark, sf_dir)))


def _q_code_postings(spark, sf_dir):
    # payload=code axis: dual-index identifier tokenization
    # (whole identifier + camelCase/snake_case subtokens)
    from distributed_search_engine_spark.functions import code as CODE

    return CODE.code_postings(_capped_docs(spark, sf_dir)).select(
        "term", F.col("doc_id").cast("string").alias("doc_id"), "tf"
    )


def _q_code_autocomplete(spark, sf_dir):
    # ranked identifier completion over the dual code index (df desc)
    from distributed_search_engine_spark.functions import code as CODE

    return CODE.code_autocomplete(
        CODE.code_postings(_capped_docs(spark, sf_dir)), "s", limit=10
    )


CODE_RANKED_TERMS = ["data", "handler"]


def _q_code_ranked(spark, sf_dir):
    # structural code-search ranking: BM25 over the dual identifier
    # index x(1+1.0) on definition match x(1+0.5) on path match —
    # the GitHub/Sourcegraph "definition beats mention" contract
    from distributed_search_engine_spark.query.code_search import (
        code_search_ranked,
    )

    return code_search_ranked(
        _derived_code_docs(spark, sf_dir), CODE_RANKED_TERMS
    )


def _q_cross_repo_dupes(spark, sf_dir):
    # vendored-copy detection: exact content sha groups spanning >=2
    # repos of the derived code corpus (one uniform sha-keyed shuffle)
    from distributed_search_engine_spark.query.code_search import (
        cross_repo_dupes,
    )

    return cross_repo_dupes(_derived_code_docs(spark, sf_dir))


def _q_code_collapsed(spark, sf_dir):
    # vendored-duplicate collapsing in results: one row per exact content
    # group, best (score, doc_id) representative + matched-copy count
    from distributed_search_engine_spark.query.code_search import (
        code_search_collapsed,
    )

    return code_search_collapsed(
        _derived_code_docs(spark, sf_dir), CODE_RANKED_TERMS
    )


def _q_index_metrics(spark, sf_dir):
    # one-row index health/metrics summary (the north rule's "metrics"
    # clause): corpus size, vocabulary, postings count, token totals —
    # three scalar partial aggs crossJoined (each a broadcast of 1 row)
    idx = _index(spark, sf_dir, with_stems=False)
    d = idx["doc_stats"].groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_len").cast("long").alias("total_tokens"),
        F.round(F.avg("doc_len"), 6).alias("avg_doc_len"),
    )
    t = idx["term_stats"].groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("df").cast("long").alias("max_df"),
    )
    p = idx["postings"].groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_postings")
    )
    return d.crossJoin(t).crossJoin(p)


def _q_search_after(spark, sf_dir):
    # keyset ("search_after") pagination: page 2 of the BM25 ranking via
    # a (score, doc_id) cursor filter + bounded TakeOrdered — deep pages
    # cost what page 2 costs (no deep OFFSET re-sort at 10^12 docs)
    from distributed_search_engine_spark.query.code_search import (
        search_after_page,
    )

    sidx = _search_index(spark, sf_dir, with_stems=False)
    scored = search(spark, sidx, "spark join", k=None, mode="bm25").select(
        "doc_id", F.round("score", 6).alias("score")
    )
    return search_after_page(scored, page_size=10, page=2)


def _q_neardup_emb(spark, sf_dir):
    # scale path: multi-band sign-LSH candidates + exact cosine rerank
    # (oracle applies the identical banding; exact=True is the pytest-only
    # all-pairs differential baseline)
    out = D.embedding_neardup(_emb(spark, sf_dir), threshold=0.4, n_dims=64)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _q_ann_brute(spark, sf_dir):
    return S.ann_bruteforce_topk(_emb(spark, sf_dir), query_id=0, k=10)


def _q_ann_lsh(spark, sf_dir):
    return S.ann_lsh_topk(_emb(spark, sf_dir), query_id=0, k=10, n_dims=64)


def _q_ann_ivf(spark, sf_dir):
    return S.ann_ivf_topk(
        _emb(spark, sf_dir), query_id=0, k=10, n_centroids=16, n_probe=4
    )


def _q_knn_join(spark, sf_dir):
    return S.knn_join(_emb(spark, sf_dir), k=5, n_dims=64)


def _q_knn_join_probed(spark, sf_dir):
    # multi-probe LSH (one-sided hamming-1 bucket probes): higher-recall
    # neighbor lists from the same banding — oracle mirrors the probe
    return S.knn_join(_emb(spark, sf_dir), k=5, n_dims=64, multi_probe=1)


def _q_distinct_sketch(spark, sf_dir):
    return TA.distinct_token_sketch(_capped_docs(spark, sf_dir), m=1024)


def _q_lang_id(spark, sf_dir):
    return TA.lang_id(_capped_docs(spark, sf_dir))


def _q_stratified_sample(spark, sf_dir):
    # domain-mixing sampler: per-source deterministic hash fractions —
    # kept rows + per-source kept counts hash-gated (both engines apply
    # the identical md5-uniform arithmetic)
    from pyspark.sql import Window as W

    fractions = {"src0": 0.8, "src1": 0.5, "src2": 0.1, "src3": 0.0}
    docs = _capped_docs(spark, sf_dir)
    kept = TA.stratified_sample(docs, fractions, group_col="source",
                                default_fraction=0.25)
    return kept.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        F.count(F.lit(1)).over(W.partitionBy("source")).cast("int").alias("n_kept_in_source"),
    )


def _q_decontaminate(spark, sf_dir):
    # benchmark-decontamination pass: flag training docs sharing any
    # trigram with the "benchmark" subset (doc_id < 25 of the same table)
    docs = _capped_docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id").cast("int") < 25)
    return D.decontaminate(docs, bench, n=3)


def _q_pii(spark, sf_dir):
    # PII scrub: deterministically augment each doc with doc-derived
    # email/ip + a fixed phone (the synthetic corpus has no real PII),
    # then count + redact — clean_text/counts hash-gated per doc
    docs = _capped_docs(spark, sf_dir)
    aug = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id").cast("int") % 256).cast("string"),
            F.lit(".7 call +1 555 123 4567"),
        ).alias("text"),
    )
    return TA.redact_pii(aug)


def _q_repetition(spark, sf_dir):
    # Gopher/C4 repetition signals over line-doubled docs (deterministic
    # duplicate lines so dup_line_ratio is non-trivial)
    docs = _capped_docs(spark, sf_dir)
    doubled = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.col("text"), F.lit("\n"), F.col("text")).alias("text"),
    )
    return TA.repetition_stats(doubled)


def _q_lang_id_ngram(spark, sf_dir):
    # char-trigram Naive-Bayes language ID (add-1 smoothed, per-language
    # models from LANG_TRAIN) — the real-classifier upgrade of the
    # wordlist heuristic; oracle inlines the identical log-prob table
    return TA.lang_id_ngram(_capped_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    return TA.quality_score(_capped_docs(spark, sf_dir))


def _q_token_counts(spark, sf_dir):
    return TA.token_counts(_capped_docs(spark, sf_dir))


def _q_ann_batch(spark, sf_dir):
    # multi-query exact ANN in ONE job (the batch-BM25 analog for
    # vectors): broadcast query rows, one scored scan, per-query
    # bounded window top-k
    return S.ann_bruteforce_batch(_emb(spark, sf_dir), [0, 3, 7, 11], k=5)


def _q_top_docs_per_source(spark, sf_dir):
    # per-group top-k via a group-bounded window (never a global sort)
    return TA.top_docs_per_group(_docs(spark, sf_dir), k=3)


def _q_length_histogram(spark, sf_dir):
    # power-of-two length histogram; EXACT integer bucketing (float
    # log2 floors can straddle engines at exact powers)
    return TA.length_histogram(_docs(spark, sf_dir))


def _q_zorder(spark, sf_dir):
    # Z-order clustering key over (user_id, epoch-hour): the layout key
    # behind 2-D file pruning; pure bit interleave, term-identical SQL
    from distributed_search_engine_spark.operators.layout import zvalue

    e = _t(spark, sf_dir, "events")
    hr = F.floor(
        F.col("ts").cast("timestamp").cast("double").cast("long") / 3600
    )
    return e.select(
        "event_id", "user_id", zvalue(F.col("user_id"), hr).alias("zvalue")
    )


def _q_quality_linear(spark, sf_dir):
    # fastText-style quality model inference as a broadcast join: hashed
    # token features x (bucket, weight) model table, mean-pool, sigmoid
    return TA.quality_linear(_capped_docs(spark, sf_dir))


def _q_temperature_sample(spark, sf_dir):
    # T5/PaLM temperature mixture: group share of the kept set ∝ n_g^0.7,
    # expected half the corpus kept; auditable keep_p in the output
    return TA.temperature_sample(
        _capped_docs(spark, sf_dir), tau=0.7, target_frac=0.5
    )


def _q_ngram_counts(spark, sf_dir):
    # LM-style corpus trigram counts (ALL occurrences), top-20 ranked
    return TA.ngram_counts(_capped_docs(spark, sf_dir), n=3, k=20)


def _q_chunk_documents(spark, sf_dir):
    # embedding/RAG prep: fixed-size overlapping character windows,
    # pure integer window math + per-chunk md5 (compact keys for
    # downstream chunk dedup/embedding)
    return TA.chunk_documents(_docs(spark, sf_dir), chunk_chars=200, overlap=40)


def _q_length_stats(spark, sf_dir):
    # per-source length profile with EXACT percentiles (the oracle-
    # matchable form; approx_percentile is the documented 100 TB swap)
    return TA.corpus_length_stats(_docs(spark, sf_dir))


def _q_pack_sequences(spark, sf_dir):
    # GPT-style concat-and-chunk packing offsets via the DISTRIBUTED
    # two-level prefix sum (block totals -> block offsets -> within-block
    # cumsum); the oracle computes the identical offsets with one serial
    # window — equality proves the decomposition
    return TA.pack_sequences(_capped_docs(spark, sf_dir), seq_len=512, block=64)


def _q_fingerprint(spark, sf_dir):
    return TA.fingerprint(_capped_docs(spark, sf_dir))


def _q_corpus_clean(spark, sf_dir):
    # the composed training-data cleaning recipe, one plan: exact-dedup
    # keeper ∘ quality floor ∘ language allowlist — what a 100 TB corpus
    # actually runs before tokenizer training. Each stage is its own gated
    # operator; this query proves they compose.
    docs = _capped_docs(spark, sf_dir)
    keep = D.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    q = TA.quality_score(docs).select("doc_id", "quality")
    lang = TA.lang_id(docs).select("doc_id", "predicted_lang")
    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"))
        .join(keep, "doc_id", "left_semi")
        .join(q, "doc_id")
        .join(lang, "doc_id")
        .where((F.col("quality") >= 0.5) & (F.col("predicted_lang") != "unknown"))
        .select("doc_id", F.round("quality", 6).alias("quality"), "predicted_lang")
    )


def _q_corpus_clean_v2(spark, sf_dir):
    # round-3 composed cleaning recipe in ONE plan: exact-dedup keeper
    # ∘ decontamination ceiling (hit_ratio <= 0.5 vs the doc_id<25 bench)
    # ∘ repetition ceiling (top_token_ratio <= 0.12) ∘ per-source
    # stratified sampling — every stage is its own gated operator; this
    # proves the composition stays one Catalyst plan end to end
    docs = _capped_docs(spark, sf_dir)
    keep = D.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    bench = docs.where(F.col("doc_id").cast("int") < 25)
    deco = D.decontaminate(docs, bench, n=3).select("doc_id", "hit_ratio")
    rep = TA.repetition_stats(docs).select("doc_id", "top_token_ratio")
    sampled = TA.stratified_sample(
        docs, {"src0": 1.0, "src1": 1.0, "src2": 0.5}, group_col="source",
        default_fraction=0.75,
    ).select(F.col("doc_id").cast("string").alias("doc_id"), "source")
    return (
        sampled.join(keep, "doc_id", "left_semi")
        .join(deco, "doc_id")
        .join(rep, "doc_id")
        .where((F.col("hit_ratio") <= 0.5) & (F.col("top_token_ratio") <= 0.12))
        .select("doc_id", "source", "hit_ratio", "top_token_ratio")
    )


def _q_gopher_rules(spark, sf_dir):
    # Gopher A1.1 rule battery as auditable per-rule 0/1 flags; the
    # stop-word rule uses the corpus' own function words ('a', 'the') so
    # the flag discriminates on synthetic text the way Gopher's 8-word
    # list does on web text
    return TA.gopher_rules(
        _capped_docs(spark, sf_dir), stop_words=("a", "the"), min_stop=2
    )


def _q_dsir_importance(spark, sf_dir):
    # DSIR data selection: weight every doc by how src0-like its unigram
    # distribution is vs the whole-corpus background (exact unigram form
    # of Xie et al. 2023's hashed-ngram importance weights)
    docs = _capped_docs(spark, sf_dir)
    return TA.dsir_importance(docs, docs.where(F.col("source") == "src0"))


def _q_bpe_pairs(spark, sf_dir):
    # one BPE merge iteration over the corpus: frequency-weighted
    # adjacent-char pair counts, top-20 (the tokenizer-training kernel;
    # corpus-scale work is one groupBy(word) — pairs expand vocab-side)
    return TA.bpe_pair_counts(_capped_docs(spark, sf_dir), k=20)


def _q_tfidf_keywords(spark, sf_dir):
    # per-doc top-5 salient terms by raw tf*ln(N/df) — keyword
    # extraction / topic faceting; scores rounded before ranking so the
    # cross-engine ordering is exact
    return TA.tfidf_keywords(_capped_docs(spark, sf_dir), k=5)


def _q_ngram_novelty(spark, sf_dir):
    # fraction of each doc's distinct trigrams first seen (min numeric
    # doc id) in that doc — the memorization/recombination lens
    return TA.ngram_novelty(_capped_docs(spark, sf_dir), n=3)


def _q_corpus_clean_v3(spark, sf_dir):
    # round-4 composed cleaning recipe, still ONE plan: the v2 chain
    # (dedup keeper ∘ decontamination ceiling ∘ repetition ceiling ∘
    # stratified sample) with the CCNet-shaped bigram-LM perplexity
    # ceiling composed in (ppl <= 31.5 trims the worst ~7% at sf0.01).
    # The LM is trained on the same capped corpus it scores — two
    # groupBys + two joins that Catalyst folds into the same DAG.
    docs = _capped_docs(spark, sf_dir)
    keep = D.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
    bench = docs.where(F.col("doc_id").cast("int") < 25)
    deco = D.decontaminate(docs, bench, n=3).select("doc_id", "hit_ratio")
    rep = TA.repetition_stats(docs).select("doc_id", "top_token_ratio")
    lm = TA.bigram_lm_stats(docs).select("doc_id", "ppl")
    sampled = TA.stratified_sample(
        docs, {"src0": 1.0, "src1": 1.0, "src2": 0.5}, group_col="source",
        default_fraction=0.75,
    ).select(F.col("doc_id").cast("string").alias("doc_id"), "source")
    return (
        sampled.join(keep, "doc_id", "left_semi")
        .join(deco, "doc_id")
        .join(rep, "doc_id")
        .join(lm, "doc_id")
        .where(
            (F.col("hit_ratio") <= 0.5)
            & (F.col("top_token_ratio") <= 0.12)
            & (F.col("ppl") <= 31.5)
        )
        .select("doc_id", "source", "hit_ratio", "top_token_ratio", "ppl")
    )


# ---------------------------------------------------------------------------
# connected components (operators/graph.py): near-dup pairs -> transitive
# clusters -> canonical keeper — the dedup stage the pairwise operators
# feed at corpus scale (near-duplication is not transitive; see module
# docstring). Three gates: the SQL-unrollable propagation kernel on real
# LSH pairs; the convergence-checked large-star/small-star kernel on a
# deterministic diameter-49 chain graph (closed-form oracle); and the
# end-to-end keeper pipeline.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# k-means + SemDeDup (operators/clustering.py): both Lloyd steps and the
# cluster-scoped semantic dedup gate with the SAME seeded centroid
# literals inlined on both engines (see module docstring); the full
# iterative fit is pytest-gated (tests/test_clustering.py).
# ---------------------------------------------------------------------------

_KM_CENTS = C.seeded_centroids(8, 64, seed=11)


def _q_kmeans_assign(spark, sf_dir):
    # map-only argmin over 8 literal centroids — no shuffle, no UDF
    return C.assign_clusters(_emb(spark, sf_dir), _KM_CENTS)


def _q_kmeans_update(spark, sf_dir):
    # one Lloyd update: per-cluster count + element-wise mean (the
    # centroid the next iteration would broadcast)
    return C.update_centroids(_emb(spark, sf_dir), _KM_CENTS)


def _q_ann_ivf_trained(spark, sf_dir):
    # TRAINED coarse quantizer feeding the gated IVF path: 2 fixed Lloyd
    # rounds (6dp-rounded centroid re-inline per round — the oracle
    # unrolls the identical kmeans_update_sql rounds), then the standard
    # probe/rerank. Tighter cells than id-sampled seeds -> better recall
    # at the same n_probe (measured vs brute force in RECALL.md)
    cents = C.kmeans_fit_fixed(_emb(spark, sf_dir), _KM_CENTS, iters=2)
    return S.ann_ivf_topk(
        _emb(spark, sf_dir), query_id=0, k=10, n_probe=4, centroids=cents
    )


def _kmeans_cents_for_oracle(iters: int = 2) -> list[list[float]]:
    """DuckDB-side twin of kmeans_fit_fixed for the ann_ivf_trained gate:
    unrolls the same fixed Lloyd rounds through kmeans_update_sql (each
    round 6dp-rounded, re-inlined) so the oracle's IVF literals are the
    centroids DUCKDB computes — neither engine's unrounded float dust can
    leak into the comparison."""
    import os

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    cents = [[float(x) for x in c] for c in _KM_CENTS]
    dim = len(cents[0])
    for _ in range(iters):
        rows = con.execute(oracle.kmeans_update_sql(cents)).fetchall()
        new = list(cents)
        for r in rows:
            new[int(r[0])] = [float(x) for x in r[2 : 2 + dim]]
        cents = new
    return cents


def _q_semantic_dedup(spark, sf_dir):
    # SemDeDup keepers: per-cluster cosine scan (equi-join on cluster,
    # ~N^2/k pairs), drop any vector with a lower-id neighbor >= 0.4
    return C.semantic_dedup(_emb(spark, sf_dir), _KM_CENTS, threshold=0.4).select(
        "vec_id", "label"
    )


def _q_cc_prop4(spark, sf_dir):
    # fixed-4-round min-label propagation over the MinHash-LSH candidate
    # pair graph; the oracle unrolls the same 4 rounds (string ids on
    # both sides -> lexicographic min in both engines)
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(_shingles(spark, sf_dir)))
    return G.components_from_pairs(pairs, iterations=4)


def _q_cc_chain(spark, sf_dir):
    # chains of 50 docs (doc_id -> doc_id-1 unless doc_id % 50 == 0):
    # diameter 49, far past any fixed unroll — run the O(log^2 n)
    # large-star/small-star kernel; the oracle is the closed form
    # component = doc_id - doc_id % 50
    docs = _docs(spark, sf_dir)
    edges = docs.where(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("u"), (F.col("doc_id") - 1).alias("v")
    )
    cc = G.connected_components(edges, node_col="node")
    # cover EVERY doc like the closed-form oracle does: a chain of
    # length 1 (N % 50 == 1) has no edges, so its doc is absent from the
    # CC output and must label itself
    return (
        docs.select(F.col("doc_id").alias("node"))
        .join(cc, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def _q_cc_keepers(spark, sf_dir):
    # end-to-end transitive dedup: LSH pairs -> connected components ->
    # keep only each component's min doc id (convergence-checked kernel;
    # tests/test_graph.py asserts it equals the prop-4 oracle's labels on
    # this corpus — measured component diameter is 1)
    docs = _docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(_shingles(spark, sf_dir)))
    return G.dedup_keep_canonical(docs, pairs).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Flame dataflow-operator analogs (SURVEY.md §2.1) over the TPC-H-ish tables —
# each row of the §2.1 table maps to a Spark primitive; these queries prove
# the mapping with a DuckDB oracle.
# ---------------------------------------------------------------------------

def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _q_flame_distinct(spark, sf_dir):
    # distinct (flame/Worker.java:688-759) -> df.distinct()
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


def _q_flame_sample(spark, sf_dir):
    # sample (flame/Worker.java:333-393): DETERMINISTIC hash-based Bernoulli
    # (hash of value -> [0,1)); reproduced with md5 so both engines agree
    o = _t(spark, sf_dir, "orders")
    return o.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4) < "1999"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def _q_flame_intersection(spark, sf_dir):
    # intersection (flame/Worker.java:295-330) -> intersect
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.intersect(o)


def _q_flame_fold(spark, sf_dir):
    # fold (flame/Coordinator.java:378-476; PageRank convergence stats) ->
    # one aggregate pass: max / conditional-sum / count
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        F.round(F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_quantity")).otherwise(0.0)), 6).alias("qty_discounted"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def _q_flame_join(spark, sf_dir):
    # join (flame/Worker.java:762-807: point-lookup inner equi-join) ->
    # Catalyst join; aggregated per nation for a compact deterministic result
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )


def _q_flame_cogroup(spark, sf_dir):
    # cogroup (flame/Worker.java:845-923: full-outer grouped join with
    # sorted value lists) -> per-side aggregate + full outer join
    o = _t(spark, sf_dir, "orders").groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.lit(1).alias("present")
    )
    return c.join(o, "key", "full_outer").select(
        "key",
        F.coalesce(F.col("present"), F.lit(0)).alias("has_customer"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
    )


def _q_flame_groupby_concat(spark, sf_dir):
    # groupBy + comma-concat foldByKey (flame/FlameRDDImpl.java:86-90,
    # jobs/Indexer.java:528-536) -> sorted deterministic string_agg
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


def _q_events_windowed(spark, sf_dir):
    # event-time tumbling-window aggregation: hourly counts and value
    # totals per event type
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def _q_events_sessionize(spark, sf_dir):
    # sessionization: new session when gap > 30 min; count per user
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional-second epoch (double) so gap arithmetic is bit-identical
    # to the oracle's epoch(ts) — unix_timestamp truncates to whole seconds
    # and can classify a gap near the 1800 s boundary differently
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    sess = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join (an operator Spark lacks natively): each 'purchase' event
    # picks up the most recent prior-or-equal 'view' event's (ts, value)
    # per user. Composition of existing ops: ONE pass — a last(ignorenulls)
    # running window over the per-user event stream, then filter; no
    # self-join, no range explosion. DuckDB twin uses the same window.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    view_struct = F.when(
        F.col("event_type") == "view", F.struct(F.col("ts"), F.col("value"))
    )
    out = (
        e.withColumn("last_view", F.last(view_struct, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("ts").cast("timestamp").cast("double"), 6).alias("ts_epoch"),
            F.round(
                F.col("last_view.ts").cast("timestamp").cast("double"), 6
            ).alias("view_ts_epoch"),
            F.round("last_view.value", 6).alias("view_value"),
        )
    )
    return out


_EVENTS_ASOF_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, event_type, epoch(ts) AS ep,
         last_value(CASE WHEN event_type = 'view' THEN epoch(ts) END IGNORE NULLS)
           OVER w AS view_ep,
         last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
           OVER w AS view_value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, round(ep, 6) AS ts_epoch,
       round(view_ep, 6) AS view_ts_epoch,
       round(view_value, 6) AS view_value
FROM t WHERE event_type = 'purchase'
"""


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_search_engine_spark.analytics import forecast_revenue_change

    return forecast_revenue_change(_t(spark, sf_dir, "lineitem"))


def _q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # runtime-filter pattern: Bloom bitmap over 'purchase' user ids,
    # broadcast as plan literals, map-side prune of the full event scan
    # BEFORE any join shuffle. Output includes the bitmap's deterministic
    # false positives — the oracle reproduces the identical membership
    # semantics (probe positions ⊆ build positions)
    from distributed_search_engine_spark.operators.bloom import (
        bloom_prune,
        build_bloom,
    )

    e = _t(spark, sf_dir, "events")
    build = (
        e.where((F.col("event_type") == "purchase") & (F.col("value") >= 200))
        .select("user_id")
        .distinct()
    )
    bitmap = build_bloom(build, "user_id")
    # prunes ~79% of the probe scan at sf0.01 (32 build keys)
    return bloom_prune(e, "user_id", bitmap).select("event_id", "user_id")


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # funnel conversion: purchases with a 'view' by the same user within
    # the preceding hour, per epoch-day — the as-of pattern applied to
    # analytics (ONE running window, no self-join / range explosion);
    # max() is order-insensitive so the window needs no tie-break
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    ep = F.col("ts").cast("timestamp").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ep.asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_ep = F.when(F.col("event_type") == "view", ep)
    out = (
        e.withColumn("ep", ep)
        .withColumn("last_view", F.max(view_ep).over(w))
        .where(F.col("event_type") == "purchase")
        .withColumn(
            "converted",
            (F.col("last_view") >= F.col("ep") - 3600).cast("int"),
        )
        .groupBy(F.floor(F.col("ep") / 86400).cast("long").alias("day_num"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.coalesce(F.sum("converted"), F.lit(0))
            .cast("long")
            .alias("n_converted"),
        )
    )
    return out


_EVENTS_FUNNEL_ORACLE = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch(ts) AS ep FROM events
),
w AS (
  SELECT *,
         max(CASE WHEN event_type = 'view' THEN ep END) OVER (
           PARTITION BY user_id ORDER BY ep ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_view
  FROM ev
)
SELECT floor(ep / 86400)::bigint AS day_num,
       count(*)::bigint AS n_purchases,
       coalesce(sum(CASE WHEN last_view >= ep - 3600 THEN 1 ELSE 0 END), 0)::bigint
         AS n_converted
FROM w WHERE event_type = 'purchase'
GROUP BY 1
"""


def _q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort retention: users grouped by their first-activity day; for
    # each (cohort_day, day_offset) the distinct users active again.
    # Pure integer day arithmetic (fully deterministic); one distinct +
    # one min-agg + one equi-join + one count-distinct — every stage
    # partial-aggregates map-side
    e = _t(spark, sf_dir, "events")
    day = F.floor(
        F.col("ts").cast("timestamp").cast("double").cast("long") / 86400
    ).cast("long")
    user_days = e.select("user_id", day.alias("day")).distinct()
    cohort = user_days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        user_days.join(cohort, "user_id")
        .groupBy(
            F.col("first_day").alias("cohort_day"),
            (F.col("day") - F.col("first_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


_EVENTS_RETENTION_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, (floor(epoch(ts))::bigint // 86400) AS day
  FROM events
),
cohort AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
SELECT c.first_day AS cohort_day,
       (ud.day - c.first_day)::bigint AS day_offset,
       count(DISTINCT ud.user_id)::bigint AS n_users
FROM ud JOIN cohort c USING (user_id)
GROUP BY 1, 2
"""


_EVENTS_SCD2_ORACLE = """
WITH r AS (
  SELECT user_id, event_type, event_id, epoch(ts) AS ep,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs0 AS (
  SELECT user_id, event_type, ep,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS run
  FROM r
),
runs AS (
  SELECT user_id, run, min(event_type) AS event_type,
         min(ep) AS valid_from, count(*)::bigint AS n_events
  FROM runs0 GROUP BY 1, 2
)
SELECT user_id, event_type,
       round(valid_from, 6) AS valid_from,
       round(coalesce(lead(valid_from)
                        OVER (PARTITION BY user_id ORDER BY run),
                      'infinity'::double), 6) AS valid_to,
       n_events
FROM runs
"""


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-mitigated equi-join: deterministic 8-way salting spreads any
    # hot user's events over 8 reducers; output is ROW-IDENTICAL to the
    # plain join — which is exactly what the oracle checks (salting is
    # a physical rewrite, not a semantic one)
    from distributed_search_engine_spark.operators.skew import salted_join

    e = _t(spark, sf_dir, "events")
    dim = e.where(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases")
    )
    out = salted_join(
        e.select("event_id", "user_id", "event_type"),
        dim,
        key="user_id",
        fact_id_col="event_id",
        n_salts=8,
    )
    return out.select("event_id", "user_id", "event_type", "n_purchases")


_SALTED_JOIN_ORACLE = """
WITH dim AS (
  SELECT user_id, count(*)::bigint AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type, dim.n_purchases
FROM events e JOIN dim USING (user_id)
"""


_BLOOM_PRUNE_ORACLE = """
WITH bk AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value >= 200
),
bp AS (
  SELECT DISTINCT
    (('0x' || substr(md5(bk.user_id::varchar), 1 + 8 * h.range, 8))::bigint
     % 65536) AS pos
  FROM bk, range(4) h
),
pp AS (
  SELECT e.event_id, e.user_id,
    (('0x' || substr(md5(e.user_id::varchar), 1 + 8 * h.range, 8))::bigint
     % 65536) AS pos
  FROM events e, range(4) h
)
SELECT pp.event_id, pp.user_id
FROM pp LEFT JOIN bp USING (pos)
GROUP BY 1, 2
HAVING count(bp.pos) = 4
"""


# ---------------------------------------------------------------------------
# warehouse analytics (analytics.py): TPC-H Q1/Q3/Q5 shapes over the
# TPC-H-ish tables — decimal-exact money math, broadcast dims.
# ---------------------------------------------------------------------------

def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_search_engine_spark.analytics import pricing_summary

    return pricing_summary(_t(spark, sf_dir, "lineitem"))


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_search_engine_spark.analytics import top_revenue_orders

    return top_revenue_orders(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_search_engine_spark.analytics import regional_revenue

    return regional_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


_RJ_BASE = 1704074400  # 2024-01-01T02:00:00Z
_RJ_LEN, _RJ_DAYS = 5400, 30  # 90-minute daily windows


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interval/range join via the bucketed equi-join (operators/temporal):
    # 30 daily 90-min windows x events; an interval spanning b buckets
    # emits b rows and the join is equi on bucket id + residual filter —
    # never the O(N*M) theta/cartesian plan (plan-asserted in tests)
    from distributed_search_engine_spark.operators.temporal import range_join

    e = _t(spark, sf_dir, "events")
    iv = spark.range(_RJ_DAYS).select(
        F.col("id").cast("int").alias("interval_id"),
        (F.lit(_RJ_BASE) + F.col("id") * 86400).cast("double").alias("start_ts"),
        (F.lit(_RJ_BASE) + F.col("id") * 86400 + _RJ_LEN)
        .cast("double")
        .alias("end_ts"),
    )
    out = range_join(e, iv, bucket_secs=3600)
    return out.select("event_id", "interval_id", "user_id", "event_type")


_EVENTS_RANGE_JOIN_ORACLE = f"""
WITH iv AS (
  SELECT d.range::int AS interval_id,
         ({_RJ_BASE} + d.range * 86400)::double AS start_ep,
         ({_RJ_BASE} + d.range * 86400 + {_RJ_LEN})::double AS end_ep
  FROM range({_RJ_DAYS}) d
)
SELECT e.event_id, i.interval_id, e.user_id, e.event_type
FROM events e JOIN iv i
  ON epoch(e.ts) >= i.start_ep AND epoch(e.ts) < i.end_ep
"""


def _q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hypertable-style rollup: the DAY aggregate is computed FROM the HOUR
    # materialization (count/sum partials re-aggregate losslessly) — the
    # continuous-aggregate reuse pattern, NOT a rescan of the raw events.
    # The oracle mirrors the same two-level aggregation (see note below).
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("sv"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n"),
        F.round(F.sum("sv"), 6).alias("total_value"),
    )
    return daily.select(
        F.round(F.col("day").cast("timestamp").cast("double"), 6).alias("day_epoch"),
        "event_type",
        "n",
        "total_value",
    )


_EVENTS_ROLLUP_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*)::bigint AS n, sum(value) AS sv
  FROM events GROUP BY 1, 2
)
SELECT round(epoch(date_trunc('day', hour)), 6) AS day_epoch, event_type,
       sum(n)::bigint AS n, round(sum(sv), 6) AS total_value
FROM h GROUP BY 1, 2
"""
# the oracle aggregates through the SAME hour->day two-level structure so
# both engines sum the identical 24 hourly partials — a single-pass raw sum
# can differ in the last ulp and flip a 6dp rounding boundary


EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _q_source_roundtrip(fmt: str):
    # source/sink layer: write events as <fmt>, read back with an explicit
    # schema, aggregate — must hash-match the direct-parquet oracle
    # (proves lossless round-trip incl. micro-precision timestamps and
    # shortest-round-trip doubles)
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from distributed_search_engine_spark import sources as SRC

        e = _t(spark, sf_dir, "events")
        path = tempfile.mkdtemp(prefix=f"dse_src_{fmt}_") + "/t"
        rt = SRC.roundtrip(spark, e, path, fmt, EVENTS_SCHEMA)
        return rt.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.round(
                F.max(F.col("ts").cast("timestamp").cast("double")), 6
            ).alias("max_epoch"),
        )

    return q


_SOURCE_ROUNDTRIP_ORACLE = (
    "SELECT event_type, count(*)::bigint AS n, "
    "round(sum(value), 6) AS total_value, "
    "round(epoch(max(ts)), 6) AS max_epoch "
    "FROM events GROUP BY 1"
)


def _q_autocomplete(spark, sf_dir):
    # Q14 over the unstemmed dictionary (prefix 's')
    from distributed_search_engine_spark.query.suggest import autocomplete

    ts = _index(spark, sf_dir, with_stems=False)["term_stats"]
    return autocomplete(ts, "s", limit=10)


def _q_spellcheck(spark, sf_dir):
    # Q15: correct the typo 'strem' -> nearest dictionary term
    from distributed_search_engine_spark.query.suggest import spellcheck_word

    ts = _index(spark, sf_dir, with_stems=False)["term_stats"]
    return spellcheck_word(ts, "strem")


SPELLCHECK_QUERY_WORDS = ["strem", "sprak", "wndow"]


def _q_spellcheck_query(spark, sf_dir):
    # Q15 whole-query batch form: every word corrected in ONE job
    # (broadcast word list x reasonable terms, min(struct(distance, term))
    # per word) — replaces the job-per-word loop (~0.35 s/job floor each)
    from distributed_search_engine_spark.query.suggest import spellcheck_words

    ts = _index(spark, sf_dir, with_stems=False)["term_stats"]
    return spellcheck_words(ts, SPELLCHECK_QUERY_WORDS)


def _q_snippets(spark, sf_dir):
    # Q16/Q17: snippet windowing + highlight, oracle-gated (DuckDB
    # strpos/substr + regexp_replace replicate the 350-char window with
    # 80-char lookback and the \b<mark>\b wrap). doc_id < 50 is a
    # deterministic subset (a bare limit() has no defined row order).
    from distributed_search_engine_spark.query.suggest import snippets

    docs = _capped_docs(spark, sf_dir).where(F.col("doc_id") < 50)
    return snippets(docs, "data stream", content_col="text", highlight=True)


def _lsh_plane_weights(n_planes: int = S.N_PLANES) -> list[list[float]]:
    return [
        [float(S.plane_weight(p, d)) for d in range(64)] for p in range(n_planes)
    ]


def _stem_map_for_oracle() -> list[tuple[str, str]]:
    """(term, stem) pairs for every non-stop corpus term whose Porter stem
    differs — materialized from the gate-SF parquet with the SAME duckdb
    tokenizer the oracle CTEs use, so the vocabulary cannot drift. This is
    what turns the stemmed-postings check from rows-only into a full
    hash-gated oracle: stemming stays in Python, the SQL just joins the
    finite map."""
    import os

    import duckdb

    from distributed_search_engine_spark.functions.stemmer import porter_stem
    from distributed_search_engine_spark.functions.stopwords import STOP_WORDS
    from distributed_search_engine_spark.functions.text import (
        MAX_DOC_CHARS,
        duckdb_tokens_expr,
        duckdb_worth,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    toks = duckdb_tokens_expr("text")
    rows = duckdb.connect().execute(
        f"""
        SELECT DISTINCT tok FROM (
          SELECT unnest({toks}) AS tok
          FROM read_parquet('{sf_dir}/documents.parquet')
          WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
        ) WHERE tok <> '' AND {duckdb_worth('tok')}
        """
    ).fetchall()
    out = []
    for (t,) in rows:
        if t in STOP_WORDS:
            continue
        s = porter_stem(t)
        if s != t:
            out.append((t, s))
    return sorted(out)


def _bpe_expected_sql(n_merges: int = 50) -> str:
    """text_bpe_encode oracle: the TRAIN loop is iterative (non-SQL), but
    the ENCODE of a fixed trained merge list is deterministic — so the
    expected table is materialized in pure Python from the gate-SF parquet
    (same tokenize_py + the bpe.py merge/encode kernels, train twin
    mirroring bpe_train's exact tie-breaks) and inlined as VALUES: the
    stemmed-postings trick, turning the repo's one rows-only entry into a
    full rows+schema+hash gate. subwords_md5 pins the whole per-doc
    subword sequence, not just the counts."""
    import hashlib
    import os
    from collections import Counter

    import duckdb

    from distributed_search_engine_spark.functions.text import (
        MAX_DOC_CHARS,
        tokenize_py,
    )
    from distributed_search_engine_spark.operators.bpe import (
        _encode_word,
        _merge_word,
        _pair_counts,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    rows = duckdb.connect().execute(
        f"""SELECT doc_id::varchar, text
            FROM read_parquet('{sf_dir}/documents.parquet')
            WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}"""
    ).fetchall()
    doc_toks = [
        (d, [t for t in tokenize_py(text or "") if t]) for d, text in rows
    ]
    wc: Counter = Counter()
    for _, toks in doc_toks:
        wc.update(toks)
    # bpe_train's max_vocab_words cap: count desc, word asc (inert at gate SF)
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:200_000]
    vocab: dict[tuple[str, ...], int] = {}
    for w, n in top:
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + n
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = _pair_counts(vocab)
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        nxt: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            m = _merge_word(syms, best)
            nxt[m] = nxt.get(m, 0) + n
        vocab = nxt
    ranks = {p: i for i, p in enumerate(merges)}
    vals = []
    for d, toks in doc_toks:
        cache: dict[str, tuple[str, ...]] = {}
        subs: list[str] = []
        for w in toks:
            got = cache.get(w)
            if got is None:
                got = cache[w] = _encode_word(w, ranks)
            subs.extend(got)
        md5 = hashlib.md5(" ".join(subs).encode()).hexdigest()
        did = d.replace("'", "''")
        vals.append(f"('{did}', {len(toks)}, {len(subs)}, '{md5}')")
    return (
        "SELECT doc_id, n_words::int AS n_words, n_subwords::int AS n_subwords,"
        " subwords_md5"
        f" FROM (VALUES {', '.join(vals)})"
        " AS t(doc_id, n_words, n_subwords, subwords_md5)"
    )


# ---------------------------------------------------------------------------
# anchor-text field (operators/anchors.py): the signal the reference
# extracts (Crawler.java:307-353 Link(href, text) + cleanAnchorText) but
# never indexes — aggregated into the TARGET document's field and blended
# with body BM25 (Brin & Page '98 §2.2; BM25F, Zaragoza et al. CIKM'04).
# ---------------------------------------------------------------------------

_ANCHOR_TERMS = ["data", "spark"]


def _anchor_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated anchor postings over the synthetic markdown-link layout
    (dst1 = (id*7+3) % n, dst2 = (id+13) % n, anchor word = lex[dst % 7])
    — built with the SAME formula in oracle._anchor_ctes."""
    from distributed_search_engine_spark.operators import anchors as AN

    docs = _docs(spark, sf_dir)
    n = docs.count()
    lexarr = F.array(*[F.lit(w) for w in oracle.ANCHOR_LEX])
    dst1 = (F.col("doc_id") * 7 + 3) % n
    dst2 = (F.col("doc_id") + 13) % n
    content = F.concat(
        F.col("text"),
        F.lit(" see ["),
        F.element_at(lexarr, (dst1 % 7 + 1).cast("int")),
        F.lit(" guide](mod_"),
        dst1.cast("string"),
        F.lit(") and ["),
        F.element_at(lexarr, (dst2 % 7 + 1).cast("int")),
        F.lit(" notes](mod_"),
        dst2.cast("string"),
        F.lit(")"),
    )
    linked = docs.select(F.col("doc_id"), content.alias("content"))
    pairs = AN.extract_anchor_pairs(linked)
    module_map = docs.select(
        F.concat(F.lit("mod_"), F.col("doc_id").cast("string")).alias("module"),
        F.col("doc_id").alias("dst"),
    )
    return AN.anchor_postings(pairs, module_map)


def _q_anchor_postings(spark, sf_dir):
    # extraction (JVM regexp_extract_all, zero shuffle) -> module-map
    # resolve -> ONE (dst, term) exchange with map-side partial counts
    return _anchor_idx(spark, sf_dir)


def _q_anchor_blend(spark, sf_dir):
    # body BM25 (the gated search() bm25 path) + 2.0 x saturated anchor-
    # field score, 6dp-rounded before the k-bounded rank window
    from pyspark.sql import Window

    from distributed_search_engine_spark.operators import anchors as AN

    docs = _docs(spark, sf_dir)
    n = docs.count()
    ascore = AN.anchor_scores(_anchor_idx(spark, sf_dir), _ANCHOR_TERMS, n_docs=n)
    sidx = _search_index(spark, sf_dir, with_stems=False)
    body = search(spark, sidx, " ".join(_ANCHOR_TERMS), k=None, mode="bm25").select(
        "doc_id", F.col("score").alias("body_score")
    )
    blend = body.join(ascore, "doc_id", "full").select(
        "doc_id",
        F.round(
            F.coalesce("body_score", F.lit(0.0))
            + 2.0 * F.coalesce("anchor_score", F.lit(0.0)),
            6,
        ).alias("score"),
        F.round(F.coalesce("body_score", F.lit(0.0)), 6).alias("body_score"),
        F.round(F.coalesce("anchor_score", F.lit(0.0)), 6).alias("anchor_score"),
    )
    top = blend.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# paragraph-level keep-one dedup (operators/dedup.py): the RefinedWeb /
# Lee-et-al unit between document dedup and substring excision, over a
# synthetic paragraph layout (unique body + cross-doc boilerplate +
# conditional intra-doc repeat) both engines build identically.
# ---------------------------------------------------------------------------

def _para_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sep = "\n\n"
    boiler = F.concat(
        F.lit("boilerplate notice "), (F.col("doc_id") % 17).cast("string")
    )
    p3 = F.when(F.col("doc_id") % 5 == 0, boiler).otherwise(
        F.concat(F.lit("tail "), F.col("doc_id").cast("string"))
    )
    return docs.select(
        F.col("doc_id"),
        F.concat(F.col("text"), F.lit(sep), boiler, F.lit(sep), p3).alias("text"),
    )


def _q_paragraph_stats(spark, sf_dir):
    return D.paragraph_stats(_para_docs(spark, sf_dir))


def _q_paragraph_removal(spark, sf_dir):
    return D.remove_dup_paragraphs(_para_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# product quantization ADC (operators/similarity.py): 4 subspaces x 16
# dims, K=8 codes trained per subspace by the oracle-mirrorable fixed-
# Lloyd fit; ADC scan = map-side lookups over literal codebooks.
# ---------------------------------------------------------------------------

_PQ_M = 16  # subspaces (dsub = 4); K = 16 codes each — measured ADC
_PQ_K = 16  # recall@10 0.50 / rerank-50 0.80 on the gate corpus (RECALL.md)


def _pq_seeds():
    return C.seeded_centroids(_PQ_K, 64, seed=13)


def _q_ann_pq_adc(spark, sf_dir):
    books = S.pq_train(_emb(spark, sf_dir), _pq_seeds(), m_subs=_PQ_M, iters=2)
    return S.ann_pq_adc_topk(_emb(spark, sf_dir), books, query_id=0, k=10)


def _q_ann_pq_rerank(spark, sf_dir):
    # the production PQ serving shape: compressed-code ADC shortlist,
    # exact L2 rerank of 50 candidates against raw vectors
    books = S.pq_train(_emb(spark, sf_dir), _pq_seeds(), m_subs=_PQ_M, iters=2)
    return S.ann_pq_rerank_topk(
        _emb(spark, sf_dir), books, query_id=0, k=10, shortlist=50
    )


# IVFADC (Jégou et al. §IV-A): trained coarse quantizer (the SAME
# 2-round fixed-Lloyd fit the gated ann_ivf_trained uses) in front of a
# PQ/ADC scan whose codebooks are trained on RESIDUALS v - c(v).
# M=8 (dsub=8), K=16, n_probe=2 of 8 cells — the scan touches only the
# probed cells' codes (partition-prunable when the coded corpus is
# persisted bucketed by cell).

_IVFADC_M = 8


def _ivfadc_seeds():
    return C.seeded_centroids(16, 64, seed=17)


def _q_ann_ivfadc(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cents = C.kmeans_fit_fixed(emb, _KM_CENTS, iters=2)
    res = S.residuals(emb, cents)
    books = S.pq_train(
        res, _ivfadc_seeds(), m_subs=_IVFADC_M, iters=2, id_col="id", vec_col="r"
    )
    return S.ann_ivfadc_topk(
        emb, cents, books, query_id=0, k=10, n_probe=2
    )


def _ivfadc_books_for_oracle(
    m_subs: int = _IVFADC_M, iters: int = 2
) -> list[list[list[float]]]:
    """DuckDB-side twin of the residual PQ training: coarse cells via
    _kmeans_cents_for_oracle, residual slices materialized per subspace,
    then the same unrolled kmeans_update_sql rounds — the codebook
    literals are what DUCKDB computes over ITS residuals."""
    import os

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    coarse = _kmeans_cents_for_oracle(2)
    seeds = _ivfadc_seeds()
    dim = len(seeds[0])
    dsub = dim // m_subs
    cents_all = "[" + ", ".join(oracle._centroid_arr(c) for c in coarse) + "]"
    books = []
    for m in range(m_subs):
        lo = m * dsub
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        resid_sql = oracle._kmeans_assign_ctes(coarse) + f"""
SELECT id AS vec_id,
       list_transform(generate_series({lo + 1}, {lo + dsub}),
                      i -> v[i] - ({cents_all})[cluster + 1][i]) AS embedding
FROM asg
"""
        con.execute(f"CREATE TABLE resid AS {resid_sql}")
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS "
            "SELECT vec_id, embedding FROM resid"
        )
        cents = [[float(x) for x in s[lo : lo + dsub]] for s in seeds]
        for _ in range(iters):
            rows = con.execute(oracle.kmeans_update_sql(cents)).fetchall()
            new = list(cents)
            for r in rows:
                new[int(r[0])] = [float(x) for x in r[2 : 2 + dsub]]
            cents = new
        books.append(cents)
        con.close()
    return books


def _pq_books_for_oracle(m_subs: int = _PQ_M, iters: int = 2) -> list[list[list[float]]]:
    """DuckDB-side twin of pq_train: per-subspace sliced view + the same
    unrolled kmeans_update_sql rounds as _kmeans_cents_for_oracle, so the
    oracle's codebook literals are what DUCKDB computes."""
    import os

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    seeds = _pq_seeds()
    dim = len(seeds[0])
    dsub = dim // m_subs
    books = []
    for m in range(m_subs):
        lo = m * dsub
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT vec_id, "
            f"embedding[{lo + 1}:{lo + dsub}] AS embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        cents = [[float(x) for x in c[lo : lo + dsub]] for c in seeds]
        for _ in range(iters):
            rows = con.execute(oracle.kmeans_update_sql(cents)).fetchall()
            new = list(cents)
            for r in rows:
                new[int(r[0])] = [float(x) for x in r[2 : 2 + dsub]]
            cents = new
        books.append(cents)
        con.close()
    return books


# ---------------------------------------------------------------------------
# bloom-filter decontamination (operators/bloom.py over benchmark
# shingles): the broadcast-bitmap scale path for the decontaminate gate —
# at 100 TB the bitmap replaces shuffling the benchmark shingle set
# against every train shingle; membership semantics (false positives and
# all) are hash-gated against the same md5-position arithmetic in SQL.
# ---------------------------------------------------------------------------

def _q_bloom_decontaminate(spark, sf_dir):
    from distributed_search_engine_spark.operators import bloom as BL

    sh = _shingles(spark, sf_dir)
    bench_sh = (
        sh.where(F.col("doc_id").cast("int") < 25).select("shingle").distinct()
    )
    bitmap = BL.build_bloom(bench_sh, "shingle")
    train = sh.where(F.col("doc_id").cast("int") >= 25)
    hits = (
        BL.bloom_prune(train, "shingle", bitmap)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_bloom_hits"))
    )
    base = train.select("doc_id").distinct()
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bloom_hits", F.lit(0)).cast("int").alias("n_bloom_hits"),
        (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias("contaminated"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- round-5 new/changed entries first: the driver's 50-query gate
        # window truncates at dict position 50, so anything new or whose
        # plan changed this round must sit at the front (then the window
        # rotates: the r3-gated block, then the r4-gated block)
        "index_anchor_postings": _q_anchor_postings,
        "search_anchor_blend": _q_anchor_blend,
        "dedup_paragraph_stats": _q_paragraph_stats,
        "dedup_paragraph_removal": _q_paragraph_removal,
        "ann_pq_adc": _q_ann_pq_adc,
        "ann_pq_rerank": _q_ann_pq_rerank,
        "ann_ivfadc": _q_ann_ivfadc,
        "pagerank_personalized_3iter": _q_pagerank_personalized,
        "graph_hits_2iter": _q_hits,
        "search_proximity": _q_search_proximity,
        "search_facets": _q_search_facets,
        "ann_mmr_rerank": _q_ann_mmr,
        "text_kneser_ney_ppl": _q_kneser_ney,
        "index_postings_code": _q_code_postings,
        "search_rm3": _q_search_rm3,
        "index_trigrams": _q_trigram_postings,
        "eval_rank_metrics": _q_rank_eval,
        "search_substring": _q_substring_search,
        "search_regex": _q_regex_search,
        "search_regex_opt": _q_regex_search_opt,
        "search_substring_batch": _q_substring_batch,
        "search_regex_batch": _q_regex_batch,
        "code_symbols": _q_code_symbols,
        "suggest_code_autocomplete": _q_code_autocomplete,
        "search_code_ranked": _q_code_ranked,
        "dedup_cross_repo": _q_cross_repo_dupes,
        "search_page_after": _q_search_after,
        "index_metrics": _q_index_metrics,
        "search_code_collapsed": _q_code_collapsed,
        "search_grep_lines": _q_grep_lines,
        "code_symbol_stats": _q_code_symbol_stats,
        "dedup_decontaminate_bloom": _q_bloom_decontaminate,
        # hash family changed round 5 (one-digest slice positions) ->
        # different false positives -> back inside the driver gate window
        "pipeline_bloom_prune": _q_bloom_prune,
        "text_bpe_encode": _q_bpe_encode,
        "search_bm25f": _q_bm25f,
        "dedup_containment": _q_containment,
        "events_scd2_compress": _q_events_scd2,
        "suggest_spellcheck_query": _q_spellcheck_query,
        "search_reference_batch": _q_reference_batch,
        "ann_ivf_trained": _q_ann_ivf_trained,
        "search_hybrid_rrf": _q_hybrid_rrf,
        "search_bm25": _q_bm25,
        "search_tfidf_single": _q_tfidf_single,
        "search_and_phrase": _q_and_phrase,
        "text_distinct_hll": _q_hll_distinct,
        "dedup_span_removal_keepone": _q_span_removal_keepone,
        # never driver-gated: must sit inside the 50-query window
        "search_bm25_maxscore": _q_bm25_maxscore,
        "search_bm25_champion": _q_bm25_champion,
        "search_bm25_explain": _q_bm25_explain,
        # --- last driver-gated on round-3 code ---
        "index_doc_stats": _q_doc_stats,
        "index_postings": _q_postings,
        "index_term_stats": _q_term_stats,
        "content_sha256": _q_content_sha,
        "search_bm25_batch": _q_bm25_batch,
        "search_tfidf_segments": _q_tfidf_segments,
        "search_phrase_segments": _q_phrase_segments,
        "search_bm25_dist_segments": _q_bm25_dist_segments,
        "search_more_like_this": _q_more_like_this,
        "search_mlt_pruned": _q_mlt_pruned,
        "index_forward": _q_forward_index,
        "pagerank_3iter": _q_pagerank,
        "pagerank_resume_3iter": _q_pagerank_resume,
        "pagerank_extracted_links": _q_pagerank_extracted,
        "index_postings_stemmed": _q_postings_stemmed,
        "index_weighted_postings": _q_weighted_postings,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_signatures": _q_minhash,
        "dedup_lsh_candidates": _q_lsh_pairs,
        "dedup_ngram_jaccard": _q_jaccard,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "neardup_embedding_cosine": _q_neardup_emb,
        "ann_bruteforce_top10": _q_ann_brute,
        "ann_lsh_top10": _q_ann_lsh,
        "ann_ivf_top10": _q_ann_ivf,
        "ann_knn_join": _q_knn_join,
        "ann_knn_join_probed": _q_knn_join_probed,
        "text_distinct_sketch": _q_distinct_sketch,
        "text_lang_id": _q_lang_id,
        "text_lang_id_ngram": _q_lang_id_ngram,
        "dedup_decontaminate": _q_decontaminate,
        "pipeline_stratified_sample": _q_stratified_sample,
        "text_pii_redact": _q_pii,
        "text_repetition_stats": _q_repetition,
        "text_quality_score": _q_quality,
        "text_token_counts": _q_token_counts,
        "pipeline_pack_sequences": _q_pack_sequences,
        "text_length_stats": _q_length_stats,
        "pipeline_chunk_documents": _q_chunk_documents,
        "pipeline_temperature_sample": _q_temperature_sample,
        "text_ngram_counts": _q_ngram_counts,
        "text_quality_linear": _q_quality_linear,
        "ann_batch_top5": _q_ann_batch,
        "text_top_docs_per_source": _q_top_docs_per_source,
        "text_length_histogram": _q_length_histogram,
        "layout_zorder": _q_zorder,
        # --- driver-gated on round-4 code ---
        "text_fingerprint": _q_fingerprint,
        "pipeline_corpus_clean": _q_corpus_clean,
        "pipeline_corpus_clean_v2": _q_corpus_clean_v2,
        "pipeline_corpus_clean_v3": _q_corpus_clean_v3,
        "text_gopher_rules": _q_gopher_rules,
        "pipeline_dsir_importance": _q_dsir_importance,
        "text_bpe_pairs": _q_bpe_pairs,
        "text_tfidf_keywords": _q_tfidf_keywords,
        "text_ngram_novelty": _q_ngram_novelty,
        "text_heavy_hitters_cms": _q_cms_heavy_hitters,
        "pipeline_priority_sample": _q_priority_sample,
        "text_pmi_collocations": _q_pmi_collocations,
        "graph_components_prop4": _q_cc_prop4,
        "graph_components_chain": _q_cc_chain,
        "dedup_cc_keepers": _q_cc_keepers,
        "cluster_kmeans_assign": _q_kmeans_assign,
        "cluster_kmeans_update": _q_kmeans_update,
        "dedup_semantic": _q_semantic_dedup,
        "suggest_autocomplete": _q_autocomplete,
        "suggest_spellcheck": _q_spellcheck,
        "search_snippets": _q_snippets,
        "flame_distinct": _q_flame_distinct,
        "flame_sample": _q_flame_sample,
        "flame_intersection": _q_flame_intersection,
        "flame_fold": _q_flame_fold,
        "flame_join": _q_flame_join,
        "flame_cogroup": _q_flame_cogroup,
        "flame_groupby_concat": _q_flame_groupby_concat,
        "events_windowed_agg": _q_events_windowed,
        "events_sessionize": _q_events_sessionize,
        "events_asof_join": _q_events_asof,
        "events_rollup_day": _q_events_rollup,
        "events_range_join": _q_events_range_join,
        "analytics_pricing_summary": _q_tpch_q1,
        "analytics_top_orders": _q_tpch_q3,
        "analytics_regional_revenue": _q_tpch_q5,
        "analytics_forecast_revenue": _q_tpch_q6,
        "pipeline_salted_join": _q_salted_join,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "source_csv_roundtrip": _q_source_roundtrip("csv"),
        "source_json_roundtrip": _q_source_roundtrip("json"),
        "source_orc_roundtrip": _q_source_roundtrip("orc"),
        "dedup_substring_spans": _q_substring_spans,
        "dedup_substring_stats": _q_substring_stats,
        "dedup_span_removal": _q_span_removal,
        "text_bigram_lm_ppl": _q_bigram_lm,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # round-5 second-wave additions: anchor-text field + blend,
        # paragraph keep-one dedup, PQ/ADC ANN (codebooks computed by the
        # DuckDB-side fixed-Lloyd twin), bloom-probe decontamination
        "index_anchor_postings": oracle.anchor_postings_sql(),
        "search_anchor_blend": oracle.anchor_blend_sql(_ANCHOR_TERMS),
        "dedup_paragraph_stats": oracle.paragraph_stats_sql(),
        "dedup_paragraph_removal": oracle.paragraph_removal_sql(),
        "ann_pq_adc": oracle.ann_pq_adc_sql(_pq_books_for_oracle()),
        "ann_pq_rerank": oracle.ann_pq_rerank_sql(_pq_books_for_oracle()),
        "ann_ivfadc": oracle.ann_ivfadc_sql(
            _kmeans_cents_for_oracle(2),
            _ivfadc_books_for_oracle(),
            query_id=0,
            k=10,
            n_probe=2,
        ),
        "dedup_decontaminate_bloom": oracle.bloom_decontaminate_sql(),
        # round-5 additions: the BPE encode expected table (Python-
        # materialized VALUES — retires the repo's only rows-only
        # exemption), the one-job spellcheck batch, the batched reference
        # chain, and the trained-quantizer IVF
        "text_bpe_encode": _bpe_expected_sql(50),
        "search_bm25f": oracle.bm25f_sql(["spark", "join"]),
        "dedup_containment": oracle.containment_pairs_lsh_sql(0.5, 16, 4),
        "events_scd2_compress": _EVENTS_SCD2_ORACLE,
        "suggest_spellcheck_query": oracle.spellcheck_query_sql(
            SPELLCHECK_QUERY_WORDS
        ),
        "search_reference_batch": oracle.reference_batch_sql(
            REFERENCE_BATCH_QUERIES
        ),
        "ann_ivf_trained": oracle.ann_ivf_trained_sql(
            _kmeans_cents_for_oracle(2), 0, 10, 4
        ),
        "dedup_span_removal_keepone": oracle.remove_dup_spans_sql(
            8, keep_one=True
        ),
        "index_doc_stats": oracle.DOC_STATS_SQL,
        "index_postings": oracle.POSTINGS_SQL,
        "index_term_stats": oracle.TERM_STATS_SQL,
        "content_sha256": oracle.CONTENT_SHA_SQL,
        "search_tfidf_single": oracle.tfidf_single_sql("data"),
        "search_and_phrase": oracle.and_phrase_sql("data", "stream"),
        "search_bm25": oracle.bm25_sql(["spark", "join"]),
        "search_bm25_batch": oracle.bm25_batch_sql(BATCH_QUERIES, 10),
        "search_tfidf_segments": oracle.tfidf_single_sql("data"),
        "search_phrase_segments": oracle.and_phrase_sql("data", "stream"),
        "search_bm25_dist_segments": oracle.bm25_topk_sql(["data", "stream"], 10),
        "search_bm25_maxscore": oracle.bm25_topk_sql(
            ["table", "window", "scan"], 10
        ),
        "search_bm25_champion": oracle.bm25_champion_sql(
            BATCH_QUERIES, _CHAMPION_M, 10
        ),
        "search_bm25_explain": oracle.bm25_explain_sql(["data", "stream"]),
        "search_more_like_this": oracle.more_like_this_sql("7", 10),
        "search_mlt_pruned": oracle.more_like_this_sql("7", 10),
        "index_forward": oracle.FORWARD_INDEX_SQL,
        "pagerank_3iter": oracle.pagerank_sql(3),
        "pagerank_personalized_3iter": oracle.personalized_pagerank_sql(
            _PPR_SEEDS, 3
        ),
        "graph_hits_2iter": oracle.hits_sql(2),
        "search_proximity": oracle.proximity_sql("data", "stream", 4, 20),
        "search_facets": oracle.facets_sql(["data", "stream"]),
        "ann_mmr_rerank": oracle.mmr_sql(0, 5, 20, 0.7),
        "text_kneser_ney_ppl": oracle.kneser_ney_sql(0.75),
        "index_postings_code": oracle.code_postings_sql(),
        "search_rm3": oracle.rm3_sql(
            ["spark", "join"], k=10, fb_docs=10, fb_terms=5, beta=0.6
        ),
        "index_trigrams": oracle.trigram_postings_sql(),
        "eval_rank_metrics": oracle.rank_metrics_sql(BATCH_QUERIES, 10),
        "search_substring": oracle.substring_search_sql("data stream"),
        "search_regex": oracle.regex_search_sql(_REGEX_PAT),
        "search_regex_opt": oracle.regex_search_sql(_REGEX_PAT_OPT),
        "search_substring_batch": oracle.substring_search_batch_sql(
            _SUBSTRING_BATCH
        ),
        "search_regex_batch": oracle.regex_search_batch_sql(_REGEX_BATCH),
        "code_symbols": oracle.code_symbols_sql(),
        "suggest_code_autocomplete": oracle.code_autocomplete_sql("s", 10),
        "search_code_ranked": oracle.code_search_ranked_sql(CODE_RANKED_TERMS),
        "dedup_cross_repo": oracle.cross_repo_dupes_sql(),
        "search_page_after": oracle.search_after_sql(["spark", "join"]),
        "index_metrics": oracle.index_metrics_sql(),
        "search_code_collapsed": oracle.code_search_collapsed_sql(
            CODE_RANKED_TERMS
        ),
        "search_grep_lines": oracle.grep_lines_sql("return", 1),
        "code_symbol_stats": oracle.code_symbol_stats_sql(),
        "pagerank_resume_3iter": oracle.pagerank_sql(3),
        "pagerank_extracted_links": oracle.pagerank_sql(3),
        "index_postings_stemmed": oracle.stemmed_postings_sql(_stem_map_for_oracle()),
        "index_weighted_postings": oracle.weighted_postings_sql(_html_sql()),
        "dedup_exact": oracle.EXACT_DEDUP_SQL,
        "dedup_minhash_signatures": oracle.minhash_sql(16),
        "dedup_lsh_candidates": oracle.lsh_pairs_sql(16, 4),
        "dedup_ngram_jaccard": oracle.jaccard_pairs_lsh_sql(0.5, 16, 4),
        "dedup_simhash": oracle.SIMHASH_SQL,
        "dedup_simhash_pairs": oracle.simhash_pairs_sql(3),
        "dedup_substring_spans": oracle.substring_spans_sql(8),
        "dedup_substring_stats": oracle.substring_stats_sql(8),
        "dedup_span_removal": oracle.remove_dup_spans_sql(8),
        "text_bigram_lm_ppl": oracle.bigram_lm_sql(TA.LM_ALPHA),
        "neardup_embedding_cosine": oracle.embedding_neardup_lsh_sql(
            _lsh_plane_weights(D.NEARDUP_BANDS * D.NEARDUP_PLANES),
            D.NEARDUP_BANDS,
            D.NEARDUP_PLANES,
            0.4,
        ),
        "ann_bruteforce_top10": oracle.ann_bruteforce_sql(0, 10),
        "ann_lsh_top10": oracle.ann_lsh_sql(_lsh_plane_weights(), 0, 10),
        "ann_ivf_top10": oracle.ann_ivf_sql(0, 10, 16, 4),
        "ann_knn_join_probed": oracle.knn_join_sql(
            _lsh_plane_weights(D.NEARDUP_BANDS * D.NEARDUP_PLANES),
            D.NEARDUP_BANDS,
            D.NEARDUP_PLANES,
            5,
            multi_probe=1,
        ),
        "ann_knn_join": oracle.knn_join_sql(
            _lsh_plane_weights(D.NEARDUP_BANDS * D.NEARDUP_PLANES),
            D.NEARDUP_BANDS,
            D.NEARDUP_PLANES,
            5,
        ),
        "text_distinct_sketch": oracle.distinct_sketch_sql(1024),
        "text_lang_id": oracle.lang_id_sql(TA.LANG_WORDLISTS),
        "dedup_decontaminate": oracle.decontaminate_sql(25, 3),
        "pipeline_corpus_clean_v2": oracle.corpus_clean_v2_sql(),
        "pipeline_corpus_clean_v3": oracle.corpus_clean_v3_sql(),
        "text_gopher_rules": oracle.gopher_rules_sql(
            stop_words=("a", "the"), min_stop=2
        ),
        "pipeline_dsir_importance": oracle.dsir_importance_sql("src0"),
        "text_bpe_pairs": oracle.bpe_pair_counts_sql(20),
        "text_tfidf_keywords": oracle.tfidf_keywords_sql(5),
        "text_ngram_novelty": oracle.ngram_novelty_sql(3),
        "text_heavy_hitters_cms": oracle.cms_heavy_hitters_sql(20),
        "search_hybrid_rrf": oracle.hybrid_rrf_sql(["spark", "join"], 0, 10),
        "text_distinct_hll": oracle.hll_distinct_sql(8),
        "pipeline_priority_sample": oracle.priority_sample_sql(50, "n_chars"),
        "text_pmi_collocations": oracle.pmi_collocations_sql(20, 5),
        "graph_components_prop4": oracle.cc_propagate_sql(4),
        "graph_components_chain": oracle.cc_chain_sql(50),
        "dedup_cc_keepers": oracle.cc_keepers_sql(4),
        "cluster_kmeans_assign": oracle.kmeans_assign_sql(_KM_CENTS),
        "cluster_kmeans_update": oracle.kmeans_update_sql(_KM_CENTS),
        "dedup_semantic": oracle.semantic_dedup_sql(_KM_CENTS, 0.4),
        "pipeline_stratified_sample": oracle.stratified_sample_sql(
            {"src0": 0.8, "src1": 0.5, "src2": 0.1, "src3": 0.0}, 0.25
        ),
        "text_pii_redact": oracle.pii_sql(),
        "text_repetition_stats": oracle.repetition_sql(),
        "text_lang_id_ngram": oracle.lang_id_ngram_sql(
            *TA.trigram_model(), TA.LANG_NGRAM_MIN_MATCH
        ),
        "text_quality_score": oracle.quality_sql(),
        "text_token_counts": oracle.TOKEN_COUNTS_SQL,
        "pipeline_pack_sequences": oracle.pack_sequences_sql(512),
        "text_length_stats": oracle.corpus_length_stats_sql(),
        "pipeline_chunk_documents": oracle.chunk_documents_sql(200, 40),
        "pipeline_temperature_sample": oracle.temperature_sample_sql(0.7, 0.5),
        "text_ngram_counts": oracle.ngram_counts_sql(3, 20),
        "text_quality_linear": oracle.quality_linear_sql(TA.linear_weights(256)),
        "ann_batch_top5": oracle.ann_batch_sql([0, 3, 7, 11], 5),
        "text_top_docs_per_source": oracle.top_docs_per_group_sql(3),
        "text_length_histogram": oracle.length_histogram_sql(),
        "layout_zorder": oracle.zorder_sql(16),
        "text_fingerprint": oracle.FINGERPRINT_SQL,
        "pipeline_corpus_clean": oracle.corpus_clean_sql(TA.LANG_WORDLISTS, 0.5),
        "suggest_autocomplete": oracle.autocomplete_sql("s", 10),
        "suggest_spellcheck": oracle.spellcheck_sql("strem"),
        "search_snippets": oracle.snippets_sql(["data", "stream"], 50),
        "flame_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "flame_sample": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE substr(md5(o_orderkey::varchar), 1, 4) < '1999'"
        ),
        "flame_intersection": (
            "SELECT c_custkey AS key FROM customer "
            "INTERSECT SELECT o_custkey FROM orders"
        ),
        "flame_fold": (
            "SELECT round(max(l_extendedprice), 6) AS max_price, "
            "round(sum(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0.0 END), 6) AS qty_discounted, "
            "count(*)::bigint AS n_rows FROM lineitem"
        ),
        "flame_join": (
            "SELECT n_name, count(*)::bigint AS n_orders, "
            "round(sum(o_totalprice), 4) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "flame_cogroup": (
            "SELECT coalesce(c.key, o.key) AS key, "
            "coalesce(c.present, 0) AS has_customer, "
            "coalesce(o.n_orders, 0) AS n_orders FROM "
            "(SELECT c_custkey AS key, 1 AS present FROM customer) c "
            "FULL OUTER JOIN "
            "(SELECT o_custkey AS key, count(*)::bigint AS n_orders FROM orders GROUP BY 1) o "
            "ON c.key = o.key"
        ),
        "flame_groupby_concat": (
            "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations "
            "FROM nation GROUP BY n_regionkey"
        ),
        "events_windowed_agg": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, "
            "count(*)::bigint AS n, round(sum(value), 6) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "events_asof_join": _EVENTS_ASOF_ORACLE,
        "events_rollup_day": _EVENTS_ROLLUP_ORACLE,
        "events_range_join": _EVENTS_RANGE_JOIN_ORACLE,
        "analytics_pricing_summary": oracle.pricing_summary_sql(),
        "analytics_top_orders": oracle.top_revenue_orders_sql(),
        "analytics_regional_revenue": oracle.regional_revenue_sql(),
        "analytics_forecast_revenue": oracle.forecast_revenue_sql(),
        "pipeline_bloom_prune": _BLOOM_PRUNE_ORACLE,
        "pipeline_salted_join": _SALTED_JOIN_ORACLE,
        "events_funnel": _EVENTS_FUNNEL_ORACLE,
        "events_retention": _EVENTS_RETENTION_ORACLE,
        "source_csv_roundtrip": _SOURCE_ROUNDTRIP_ORACLE,
        "source_json_roundtrip": _SOURCE_ROUNDTRIP_ORACLE,
        "source_orc_roundtrip": _SOURCE_ROUNDTRIP_ORACLE,
        "events_sessionize": (
            "WITH g AS (SELECT user_id, event_id, "
            "epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap "
            "FROM events) "
            "SELECT user_id, "
            "sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)::bigint AS n_sessions, "
            "count(*)::bigint AS n_events FROM g GROUP BY user_id"
        ),
    }
