"""Inverted-index postings construction (logical ops I7-I12, SURVEY §2.2).

Reference semantics (jobs/Indexer.java:403-822):
  - 1-based position counter over the token stream, advancing even for
    rejected tokens (:453-460) — handled by posexplode over ALL tokens,
    then filtering worthy ones.
  - every worthy token emits (term, doc, pos, weight); non-stop tokens whose
    Porter stem differs ALSO emit (stem, doc, pos, weight) (:463-475).
  - per (term, doc): positions sorted ascending, tf = count,
    weighted_tf = sum(weights) (:485, 656, 692-696).
  - normalized_tf = 0.4 + 0.6 * weighted_tf / max_tf when both > 0 (:546,739).
  - per-term doc caps: 20,000 docs (5,000 for stop words), kept in
    weighted_tf-descending order; df and idf recomputed AFTER truncation
    (:17-20, 659-683, 785-810).
  - idf = ln(total_docs / df), 0 if either is 0 (:781-782).

Spark-first physical strategy (100 TB design):
  - Tokenize/explode entirely JVM-side (split/posexplode/filter): stays in
    whole-stage codegen, no Python per token.
  - Stemming: Python Porter stemmer applied ONCE to the distinct-term
    dictionary (a pandas UDF over ~1e6-1e8 distinct terms), then joined back.
    The dictionary join is salted-safe: the build-side (dictionary) is
    broadcast when small, else a shuffle join on `term` whose skew AQE splits.
    This avoids running Python over every posting occurrence.
  - Hot-term skew (O3 in SURVEY §4): the per-term cap window is two-phase —
    top-cap per (term, salt-bucket) first, then top-cap per term over the
    bounded survivors — so a stop word's postings never pile into a single
    task. Salt = pmod(xxhash64(doc_id), n_salts).
  - groupBy aggregations rely on Spark's map-side partial aggregation; no
    explicit combiner code needed (the reference hand-rolled this,
    jobs/Indexer.java:427-513).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions import text as T
from ..functions.stemmer import stem_series
from ..functions.stopwords import STOP_WORDS
from .docstats import build_doc_stats, filter_indexable

# Per-term document caps (reference jobs/Indexer.java:17-20). The 500 MB /
# 50 MB byte caps were physical properties of the reference's string format
# and do not apply to columnar storage (SURVEY §7.3 item 7).
MAX_DOCS_PER_TERM = 20_000
MAX_DOCS_PER_STOP_TERM = 5_000
DEFAULT_SALTS = 32

stem_udf = F.pandas_udf(stem_series, StringType())


def occurrences(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """(doc_id, term, pos, weight) for every worthy token occurrence.

    Weight is 1.0 for all tokens in a plain-text/source-code corpus; the
    reference's 0.001 metadata weight (jobs/Indexer.java:1348,1365) applied
    only to HTML script/style content, which this corpus does not carry.
    The weight column is kept so weighted scoring machinery stays exact.
    """
    docs = filter_indexable(docs, content_col)
    toks = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.posexplode(T.tokens_col(F.col(content_col))).alias("pos0", "term"),
    )
    return toks.where(T.is_worth_col(F.col("term"))).select(
        "doc_id",
        "term",
        (F.col("pos0") + 1).alias("pos"),
        F.lit(1.0).alias("weight"),
    )


def weighted_occurrences(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """I4 weighted tokenize (jobs/Indexer.java:423-478, 1301-1371):
    (doc_id, term, pos, weight) over the weighted stream — visible tokens
    weight 1.0, <script>/<style> body tokens weight 0.001 (len >= 2 only).
    The 1-based position counter advances for every stream entry, including
    tokens the worth check later rejects (:455-460). JVM Column path:
    regexes + posexplode stay in codegen."""
    docs = filter_indexable(docs, content_col)
    stream = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.posexplode(T.weighted_stream_col(F.col(content_col))).alias("pos0", "tw"),
    )
    return stream.where(T.is_worth_col(F.col("tw.tok"))).select(
        "doc_id",
        F.col("tw.tok").alias("term"),
        (F.col("pos0") + 1).alias("pos"),
        F.col("tw.weight").alias("weight"),
    )


def aggregate_weighted(occ: DataFrame) -> DataFrame:
    """ONE shuffle on (term, doc_id): positions sorted, parallel weights in
    position order, tf = count, weighted_tf = sum of weights computed as
    n_visible * 1.0 + n_metadata * 0.001 — a count-based form that is
    order-deterministic (a naive float sum's order varies per engine and
    can drift an ulp across the 6dp rounding boundary)."""
    g = occ.groupBy("term", "doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "weight"))).alias("pw"),
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.count(F.when(F.col("weight") == T.VISIBLE_WEIGHT, 1)).alias("n_vis"),
        F.count(F.when(F.col("weight") != T.VISIBLE_WEIGHT, 1)).alias("n_meta"),
    )
    return g.select(
        "term",
        "doc_id",
        "tf",
        (
            F.col("n_vis") * F.lit(T.VISIBLE_WEIGHT)
            + F.col("n_meta") * F.lit(T.METADATA_WEIGHT)
        ).alias("weighted_tf"),
        F.transform("pw", lambda x: x["pos"]).alias("positions"),
        F.transform("pw", lambda x: x["weight"].cast("float")).alias("weights"),
    )


def build_weighted_index(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    n_salts: int = DEFAULT_SALTS,
) -> dict[str, DataFrame]:
    """I4 weighted index build over an HTML corpus (unstemmed — the gated
    comparison runs like index_postings). Doc stats come from the PLAIN
    tokenize of the page (jobs/Indexer.java:214-228 runs tokenize(), not
    tokenizeWithWeights — script/style text counts toward doc_len/max_tf
    with tags stripped), while postings carry the weighted stream."""
    occ_plain = occurrences(docs, doc_id_col, content_col)
    per_td_raw = aggregate_raw(occ_plain).persist()
    doc_stats = doc_stats_from_raw(docs, per_td_raw, doc_id_col, content_col).persist()
    per_td = aggregate_weighted(weighted_occurrences(docs, doc_id_col, content_col))
    term_dict = build_term_dict(per_td.select("term"))
    capped = apply_caps(per_td, term_dict, n_salts=n_salts)
    postings = finalize_postings(capped, doc_stats)
    total_docs = doc_stats.count()
    term_stats = build_term_stats(postings, total_docs)
    per_td_raw.unpersist()
    return {
        "doc_stats": doc_stats,
        "postings": postings.drop("is_stop"),
        "term_stats": term_stats,
        "term_dict": term_dict,
        "total_docs": total_docs,
    }


def build_term_dict(occ: DataFrame) -> DataFrame:
    """term_dict(term, stem, is_stop) — the broadcastable term dictionary.

    Mirrors the reference's stemToWords map built by a full index scan
    (frontend/SearchEngine.java:893-923), but built once at index time.
    Stop words are never stemmed (jobs/Indexer.java:469).
    """
    stop_lit = F.array(*[F.lit(w) for w in sorted(STOP_WORDS)])
    return (
        occ.select("term")
        .distinct()
        .withColumn("is_stop", F.array_contains(stop_lit, F.col("term")))
        .withColumn(
            "stem",
            F.when(F.col("is_stop"), F.col("term")).otherwise(stem_udf(F.col("term"))),
        )
    )


_ARROW_OUT_SCHEMA = (
    "term string, doc_id string, positions array<int>, tf int, "
    "weighted_tf double, raw_tf int"
)


def emit_postings_arrow(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    with_stems: bool = True,
) -> DataFrame:
    """North-star hot path: ONE vectorized Arrow kernel tokenizes content,
    adds the Porter-stem emissions, and emits finished (term, doc_id,
    positions, tf, weighted_tf, raw_tf) posting rows: each (term, doc)
    once, stem rows merged into it (jobs/Indexer.java:463-475).

    Because every Arrow batch carries whole documents, the per-(term, doc)
    grouping AND the stem merge are complete inside the batch: the
    10x-larger occurrence stream never shuffles. Kernels are PyArrow/numpy
    C code — RE2 regex clean+split, dictionary-encode, stable lexsort,
    reduceat; the Porter stemmer runs once per DISTINCT term per batch
    (lru-cached), not per occurrence — no per-row Python (input_hint).

    raw_tf = occurrences of the term as a RAW token (excluding stem-emitted
    copies): doc_stats' doc_len/max_tf derive from it
    (jobs/Indexer.java:220-225). Positions are 1-based stream offsets that
    advance on rejected tokens too (:453-460), ascending per group (stable
    sorts keep stream order; raw + stem position lists interleave sorted).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions import text as T
    from ..functions.stemmer import porter_stem

    docs = filter_indexable(docs, content_col)
    sel = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(content_col).alias("content"),
    )

    empty = pa.RecordBatch.from_arrays(
        [
            pa.array([], type=pa.string()), pa.array([], type=pa.string()),
            pa.array([], type=pa.list_(pa.int32())), pa.array([], type=pa.int32()),
            pa.array([], type=pa.float64()), pa.array([], type=pa.int32()),
        ],
        names=["term", "doc_id", "positions", "tf", "weighted_tf", "raw_tf"],
    )

    # Sub-batch size: the kernel's working set (flat token array +
    # dictionary hash + lexsort permutation, ~130 tokens/doc) must stay
    # cache-resident PER WORKER. At the session's 10k-row Arrow batches
    # the ~1.3M-token intermediates thrash the shared LLC — measured 4.2x
    # slower at 8 concurrent workers and 2.5x slower even at 2 (r5
    # batch-size sweep, BENCH/BASELINE.md); zero-copy slicing each
    # incoming batch to ~2k docs restores cache residency without
    # touching the global Arrow batch config other operators want large.
    CHUNK_DOCS = 2048

    def _kernel(batch_iter):
        for full_batch in batch_iter:
            for off in range(0, full_batch.num_rows, CHUNK_DOCS):
                batch = full_batch.slice(off, CHUNK_DOCS)
                doc_ids = batch.column("doc_id")
                content = batch.column("content")
                s = pc.replace_substring_regex(content, pattern=T.RE_HTML_TAGS, replacement=" ")
                s = pc.replace_substring_regex(s, pattern=T.RE_NON_ALNUM, replacement=" ")
                s = pc.utf8_lower(s)
                s = pc.utf8_trim_whitespace(s)
                lists = pc.split_pattern_regex(s, pattern=T.RE_WS)
                lens = pc.list_value_length(lists).to_numpy(zero_copy_only=False).astype(np.int64)
                flat = pc.list_flatten(lists)
                n_tok = len(flat)
                if n_tok == 0:
                    yield empty
                    continue
                starts = np.cumsum(lens) - lens
                pos = (np.arange(n_tok, dtype=np.int64) - np.repeat(starts, lens) + 1).astype(np.int32)
                doc_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
                # isWorthIndexing, vectorized (tokens are pure ascii [a-z0-9]
                # after the cleanup, so is_alpha == ^[a-z]+$ here)
                L = pc.utf8_length(flat)
                worth = pc.and_(
                    pc.greater_equal(L, T.MIN_TOKEN_LEN),
                    pc.or_(
                        pc.and_(pc.utf8_is_alpha(flat), pc.less_equal(L, T.MAX_TOKEN_LEN)),
                        pc.and_(pc.utf8_is_numeric(flat), pc.less_equal(L, 4)),
                    ),
                ).to_numpy(zero_copy_only=False)
                keep = np.nonzero(worth)[0]
                if len(keep) == 0:
                    yield empty
                    continue
                terms = flat.take(pa.array(keep))
                pos_k = pos[keep]
                doc_k = doc_idx[keep]
                dict_terms = pc.dictionary_encode(terms)
                codes = dict_terms.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                vocab = dict_terms.dictionary.to_pylist()

                if with_stems:
                    # stem per DISTINCT term; stop words never stem (I12)
                    stem_target = np.full(len(vocab), -1, dtype=np.int64)
                    extra_vocab: list[str] = []
                    vocab_index = {t: i for i, t in enumerate(vocab)}
                    for i, t in enumerate(vocab):
                        if t in STOP_WORDS:
                            continue
                        st = porter_stem(t)
                        if st and st != t:
                            j = vocab_index.get(st)
                            if j is None:
                                j = len(vocab) + len(extra_vocab)
                                vocab_index[st] = j
                                extra_vocab.append(st)
                            stem_target[i] = j
                    tgt = stem_target[codes]
                    mask = tgt >= 0
                    all_codes = np.concatenate([codes, tgt[mask]])
                    all_doc = np.concatenate([doc_k, doc_k[mask]])
                    all_pos = np.concatenate([pos_k, pos_k[mask]])
                    raw_flag = np.concatenate(
                        [np.ones(len(codes), dtype=np.int32), np.zeros(int(mask.sum()), dtype=np.int32)]
                    )
                    full_vocab = vocab + extra_vocab
                else:
                    all_codes, all_doc, all_pos = codes, doc_k, pos_k
                    raw_flag = np.ones(len(codes), dtype=np.int32)
                    full_vocab = vocab

                order = np.lexsort((all_pos, all_codes, all_doc))
                codes_s, doc_s, pos_s = all_codes[order], all_doc[order], all_pos[order]
                raw_s = raw_flag[order]
                n = len(order)
                boundary = np.empty(n, dtype=bool)
                boundary[0] = True
                boundary[1:] = (codes_s[1:] != codes_s[:-1]) | (doc_s[1:] != doc_s[:-1])
                gstart = np.nonzero(boundary)[0]
                gsize = np.diff(np.append(gstart, n))
                raw_tf = np.add.reduceat(raw_s, gstart)
                offsets = np.append(gstart, n).astype(np.int32)
                positions_arr = pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(pos_s, type=pa.int32())
                )
                vocab_arr = pa.array(full_vocab, type=pa.string())
                term_arr = vocab_arr.take(pa.array(codes_s[gstart]))
                docid_arr = doc_ids.take(pa.array(doc_s[gstart]))
                yield pa.RecordBatch.from_arrays(
                    [
                        term_arr,
                        docid_arr,
                        positions_arr,
                        pa.array(gsize.astype(np.int32)),
                        pa.array(gsize.astype(np.float64)),
                        pa.array(raw_tf.astype(np.int32)),
                    ],
                    names=["term", "doc_id", "positions", "tf", "weighted_tf", "raw_tf"],
                )

    return sel.mapInArrow(_kernel, schema=_ARROW_OUT_SCHEMA)


def aggregate_raw(occ: DataFrame) -> DataFrame:
    """ONE shuffle on (term, doc_id) over the occurrence stream: sorted
    positions, tf, weighted_tf per raw (term, doc). doc_id spreads hot
    terms across partitions, so this aggregation is skew-safe by
    construction; only the later per-term window needs salting.

    Uniform-weight fast path: weights are 1.0 for plain-text/source
    corpora (see occurrences()), so only positions shuffle as data and the
    weights array is reconstituted as array_repeat — halves shuffle bytes
    vs collecting (pos, weight) structs."""
    return occ.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.sum("weight").alias("weighted_tf"),
    )


def doc_stats_from_raw(
    docs: DataFrame,
    per_td_raw: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    tf_col: str = "tf",
) -> DataFrame:
    """I5 doc stats derived from the already-aggregated (term, doc) rows
    (stems excluded — maxTf is over raw counts, jobs/Indexer.java:220-225),
    avoiding a second tokenize pass over the corpus. For the Arrow kernel's
    output pass tf_col='raw_tf' (stem-emitted copies carry raw_tf=0 and so
    never affect doc_len/max_tf)."""
    base = filter_indexable(docs, content_col).select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.sha2(F.col(content_col), 256).alias("content_sha"),
        T.title_col(F.col(content_col)).alias("title"),
    )
    stats = per_td_raw.groupBy("doc_id").agg(
        F.sum(tf_col).cast("int").alias("doc_len"),
        F.max(tf_col).cast("int").alias("max_tf"),
    )
    return base.join(stats, "doc_id", "left").select(
        "doc_id",
        "content_sha",
        F.coalesce(F.col("doc_len"), F.lit(0)).alias("doc_len"),
        F.greatest(F.coalesce(F.col("max_tf"), F.lit(0)), F.lit(1)).alias("max_tf"),
        "title",
    )


def finalize_postings(per_td: DataFrame, doc_stats: DataFrame) -> DataFrame:
    """Attach doc_len + normalized_tf (I9). The stats side is broadcast
    when it fits (session autoBroadcastJoinThreshold), else AQE picks the
    join; at 1e12-doc scale this is the one unavoidable doc-keyed shuffle."""
    stats = doc_stats.select("doc_id", "doc_len", "max_tf")
    out = per_td.join(stats, "doc_id")
    cols = [
        F.col("term"),
        F.col("doc_id"),
        F.col("tf"),
        F.col("weighted_tf"),
        F.when(
            (F.col("weighted_tf") > 0) & (F.col("max_tf") > 0),
            0.4 + 0.6 * F.col("weighted_tf") / F.col("max_tf"),
        ).otherwise(0.0).alias("normalized_tf"),
        F.col("doc_len"),
        F.col("positions"),
        # weighted corpora carry true per-position weights; uniform-weight
        # corpora reconstitute the constant-1.0 array (halves shuffle bytes)
        (
            F.col("weights")
            if "weights" in per_td.columns
            else F.transform("positions", lambda _: F.lit(1.0).cast("float")).alias("weights")
        ),
    ]
    if "is_stop" in per_td.columns:
        cols.append(F.col("is_stop"))
    return out.select(*cols)


def apply_caps(
    postings: DataFrame,
    term_dict: DataFrame,
    n_salts: int = DEFAULT_SALTS,
    max_docs: int = MAX_DOCS_PER_TERM,
    max_docs_stop: int = MAX_DOCS_PER_STOP_TERM,
    broadcast_winners: bool = False,
    order_col: str = "weighted_tf",
) -> DataFrame:
    """I10: keep top-N docs per term by ``order_col`` desc (ties: doc_id asc,
    a deterministic refinement of the reference's unspecified tie order).
    The initial build caps by weighted_tf (jobs/Indexer.java:659-672); the
    incremental merge re-caps by normalized_tf (:1087-1101) — callers pass
    the matching order_col.

    broadcast_winners=True broadcasts the (term, doc_id) winner set into
    the semi-join so the full posting rows never shuffle — right whenever
    sum(min(df, cap)) fits an executor (it does for vocabulary sizes into
    the tens of millions). Set False for extreme vocabularies; the join
    then falls back to a shuffle that AQE sizes.

    Two-phase to defuse hot-term skew: rank within (term, salt) first —
    bounding any single task to ~cap rows per term — then rank the
    survivors per term. Equivalent to a single global window because the
    global top-N per term is contained in the union of per-salt top-Ns.

    is_stop is evaluated directly against the stop-word set (not via
    term_dict, which holds only raw terms — stem-emitted terms like
    'comput' must survive this stage too).

    The two window sorts run over a SLIM projection (term, doc_id,
    weighted_tf) — posting rows with their position arrays shuffle only
    once, in the final semi-join — cutting cap-stage shuffle bytes ~5-10x.
    """
    stop_lit = F.array(*[F.lit(w) for w in sorted(STOP_WORDS)])
    is_stop = F.array_contains(stop_lit, F.col("term"))
    cap = F.when(is_stop, F.lit(max_docs_stop)).otherwise(F.lit(max_docs))

    # hot/cold split: only terms whose df exceeds their cap need ranking —
    # a tiny Zipf head. Everything else passes through untouched, so the
    # expensive window sorts see only the hot postings. The hot-term list
    # is small by construction (N/cap terms at most) -> broadcast joins.
    hot_terms = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > F.least(F.lit(max_docs_stop), F.lit(max_docs)))
        .select("term")
    )
    cold = postings.join(F.broadcast(hot_terms), "term", "left_anti")
    # cold stop-word terms may still exceed the stop cap if caps differ;
    # guard by using the SMALLER cap in the hot predicate above, so any
    # term over either cap is routed hot.
    hot = postings.join(F.broadcast(hot_terms), "term", "left_semi")

    slim = hot.select("term", "doc_id", order_col).withColumn("cap", cap)
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(n_salts))
    w_salt = Window.partitionBy("term", salt).orderBy(
        F.desc(order_col), F.asc("doc_id")
    )
    slim = slim.withColumn("rn1", F.row_number().over(w_salt)).where(
        F.col("rn1") <= F.col("cap")
    )
    w_term = Window.partitionBy("term").orderBy(F.desc(order_col), F.asc("doc_id"))
    winners = (
        slim.withColumn("rn", F.row_number().over(w_term))
        .where(F.col("rn") <= F.col("cap"))
        .select("term", "doc_id")
    )
    if broadcast_winners:
        winners = F.broadcast(winners)
    capped_hot = hot.join(winners, ["term", "doc_id"], "left_semi")
    return cold.unionByName(capped_hot).withColumn("is_stop", is_stop)


def build_term_stats(postings: DataFrame, total_docs: int) -> DataFrame:
    """I11: df + idf per term, computed AFTER caps (jobs/Indexer.java:807-810).

    idf = ln(total_docs / df); 0 when either side is 0. Also carries the
    BM25 idf ln((N - df + 0.5)/(df + 0.5) + 1) for the BM25 scorer (north
    star: k1=1.2, b=0.75 — Robertson-Sparck Jones idf).
    """
    n = F.lit(float(total_docs))
    return postings.groupBy("term", "is_stop").agg(
        F.count(F.lit(1)).cast("int").alias("df")
    ).select(
        "term",
        "df",
        "is_stop",
        F.when((n > 0) & (F.col("df") > 0), F.log(n / F.col("df")))
        .otherwise(0.0)
        .alias("idf"),
        F.log((n - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0).alias("idf_bm25"),
    )


def merge_postings(
    old_postings: DataFrame,
    new_postings: DataFrame,
    term_dict: DataFrame,
    n_salts: int = DEFAULT_SALTS,
    max_docs: int = MAX_DOCS_PER_TERM,
    max_docs_stop: int = MAX_DOCS_PER_STOP_TERM,
) -> DataFrame:
    """I14 incremental merge (jobs/Indexer.java:947-1174): union old + new,
    keep the EXISTING entry when a (term, doc) appears in both (:1044-1080),
    re-apply caps (re-sort + truncate, :1087-1112). IDF must then be
    recomputed from the merged df via build_term_stats (:1114-1116).

    The merge-time re-cap sorts by normalizedTf desc (:1087-1101) — NOT the
    initial build's weighted_tf order; the two differ whenever max_tf varies
    across docs, so apply_caps gets order_col='normalized_tf' here.

    One shuffle on (term, doc_id); dedup-prefer-old is a window over that
    key ordered by source tag — doc_id spreads hot terms, no skew."""
    cols = [
        "term", "doc_id", "tf", "weighted_tf", "normalized_tf", "doc_len",
        "positions", "weights",
    ]
    tagged = (
        old_postings.select(*cols).withColumn("_src", F.lit(0))
        .unionByName(new_postings.select(*cols).withColumn("_src", F.lit(1)))
    )
    w = Window.partitionBy("term", "doc_id").orderBy("_src")
    merged = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_src", "_rn")
    )
    return apply_caps(
        merged, term_dict, n_salts, max_docs, max_docs_stop,
        order_col="normalized_tf",
    )


def build_index(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    with_stems: bool = True,
    n_salts: int = DEFAULT_SALTS,
) -> dict[str, DataFrame]:
    """Full logical index build: returns doc_stats, postings, term_stats,
    term_dict DataFrames (FIXTURES.md §4 schemas).

    Physical shape (one pass over the corpus): the vectorized Arrow kernel
    emit_postings_arrow emits finished stem-merged (term, doc) postings
    with NO occurrence-level shuffle; per_td is persisted (reused by
    doc_stats and term_dict) -> doc stats derived from its raw_tf ->
    salted caps -> broadcast-joined normalized_tf. The kernel is the one
    path; tests/naive_reference.py (test_rank_identity.py) pins it."""
    per_td = emit_postings_arrow(
        docs, doc_id_col, content_col, with_stems=with_stems
    ).persist()
    doc_stats = doc_stats_from_raw(
        docs, per_td.where(F.col("raw_tf") > 0), doc_id_col, content_col,
        tf_col="raw_tf",
    ).persist()
    term_dict = build_term_dict(
        per_td.where(F.col("raw_tf") > 0).select("term")
    )
    per_td = per_td.drop("raw_tf")
    # caps BEFORE the doc_stats join: the cap order is weighted_tf desc
    # (jobs/Indexer.java:668-672), independent of normalized_tf, so ranking
    # the pre-join rows is equivalent and the join then touches only the
    # capped survivors (20x fewer rows at web scale).
    capped = apply_caps(per_td, term_dict, n_salts=n_salts)
    postings = finalize_postings(capped, doc_stats)
    total_docs = doc_stats.count()
    term_stats = build_term_stats(postings, total_docs)
    return {
        "doc_stats": doc_stats,
        "postings": postings.drop("is_stop"),
        "term_stats": term_stats,
        "term_dict": term_dict,
        "total_docs": total_docs,
    }
