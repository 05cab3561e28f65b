"""Query pipeline (logical ops Q1-Q12, reference frontend/SearchEngine.java).

Two scorer modes (SURVEY §7.1):
  - "reference": exact reproduction of the reference chain —
    per-original-term dedup (first VALID expanded posting in expansion order
    wins; stop/zero-tf entries skipped for scoring but their positions still
    merged, SearchEngine.java:256-358), AND filter (:365-389), phrase x1.5
    (:391-431), PageRank blend score*(1+pr) (:576-584), all-terms-matched
    x4.0 / partial (0.3+0.7*ratio) / none x0.1 (:589-603), title boost
    (:679-799).
  - "bm25": BM25 (k1=1.2, b=0.75, Robertson idf) blended with PageRank as
    score*(1+pr) — the north-star benchmark scorer.

Spark-first: one query is a batch of one. Each mode has one scorer keyed
by (query, doc_id) that serves both ``search`` and its batch form
(``search_reference_batch``, ``search_bm25_batch``). The expansion (a few
dozen strings per query) is an inlined map literal from each term to its
(query, original-term slot, priority) entries, so no driver-built
relation, and no job for one, enters the plan. The postings scan is
filtered to the expanded terms, so only matching index partitions are read
when postings are stored term-hash-partitioned (index/segments.py provides
the pruned reader). One groupBy does the per-term dedup, the position
merge and the matched-boost count; everything after it touches only
candidate docs. With one query the key is a constant and that groupBy is
the plan's one shuffle, keyed by doc_id.

Titles, ranks and the Q11 title-boost inputs come from one per-index
doc-meta frame, ``SearchIndex.doc_meta`` (doc_id, title, rank, title_toks,
title_stems): one row per doc, built on first use and pinned by an eager
local checkpoint, so no query plans the corpus or PageRank lineage. The
title boost is SQL over its token arrays, so no query path runs a Python
worker. The checkpoint's blocks live on the executors: after an executor
is lost, the next query fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``
until the ``SearchIndex`` is rebuilt.

Deterministic tie-break: (score desc, doc_id asc); the reference leaves ties
unspecified (SearchEngine.java:616, HashMap order) — SURVEY §4 item 5.
"""

from __future__ import annotations

import contextlib
import threading
import uuid
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stemmer import porter_stem
from ..functions.stopwords import STOP_WORDS
from ..functions.text import tokenize_py
from ..literals import _sql_double, _sql_str, local_frame

BM25_K1 = 1.2
BM25_B = 0.75

PRIORITY_ORIG = 0
PRIORITY_STEM = 1
PRIORITY_RELATED = 2


@dataclass
class SearchIndex:
    """Handles to the index DataFrames (FIXTURES.md §4 schemas).

    ``postings_for_terms`` (optional) is the pruned provider: given the
    query's lookup terms it returns only their posting rows (the
    segment-backed path, index/segments.read_postings_for_terms). When set,
    every query path scans ONLY the index partitions that can hold the
    terms instead of the whole postings table — the 100x-scale requirement
    for reference-mode queries. Rows it returns may carry idf/idf_bm25/
    is_stop already (segments store them); the term_stats join is then
    skipped.

    ``doc_meta`` is built from ``doc_stats`` and ``ranks`` on the first
    query and held for the index's life: one row per doc (doc_id, title,
    rank, title_toks, title_stems), in executor memory as a local
    checkpoint. Executor loss drops it, and every later query fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` until the ``SearchIndex`` is
    rebuilt."""

    postings: DataFrame | None
    term_stats: DataFrame
    doc_stats: DataFrame
    term_dict: DataFrame
    total_docs: int
    ranks: DataFrame | None = None  # (doc_id, rank)
    postings_for_terms: object | None = None  # Callable[[list[str]], DataFrame]
    _avgdl: float | None = field(default=None, repr=False)
    _doc_meta: DataFrame | None = field(default=None, repr=False)
    # opt-in driver-side vocabulary, filled by cache_term_dict(): stem ->
    # [terms] for the related-words expansion, term -> (idf, is_stop,
    # idf_bm25) for reference- and BM25-mode scoring, and (registered in
    # query/suggest.py for the term_stats frame) the sorted looksReasonable
    # term list. With them a query plans with no Spark job (no
    # related-words collect), its idf values are inlined into the scoring
    # statement (no term_stats join), a query of unknown terms returns an
    # empty local relation, and autocomplete / spellcheck_query on
    # ``term_stats`` answer on the driver with no job. Only cache when the vocabulary fits the driver (the
    # reference holds its whole term dictionary in frontend memory,
    # SearchEngine.java:893-923 — same tradeoff); leave it uncached at web
    # scale and every lookup stays distributed.
    _stem_map: dict | None = field(default=None, repr=False)
    _term_stats: dict | None = field(default=None, repr=False)

    def cache_term_dict(self) -> "SearchIndex":
        """Collect the vocabulary once for repeated-query workloads (bench /
        interactive frontends): the (stem -> terms) and (term -> idf,
        is_stop, idf_bm25) maps, and, from the same term_stats rows, the
        driver dictionary that autocomplete and spellcheck_query use for
        this ``term_stats`` frame for as long as it lives."""
        from .suggest import register_vocabulary

        out: dict[str, list[str]] = {}
        for r in self.term_dict.select("stem", "term").collect():
            out.setdefault(r["stem"], []).append(r["term"])
        self._stem_map = out
        rows = self.term_stats.select("term", "idf", "is_stop", "idf_bm25").collect()
        self._term_stats = {
            r["term"]: (r["idf"], r["is_stop"], r["idf_bm25"]) for r in rows
        }
        register_vocabulary(self.term_stats, [r["term"] for r in rows])
        return self

    def lookup_postings(self, terms: list[str]) -> DataFrame:
        if self.postings_for_terms is not None:
            return self.postings_for_terms(terms)
        if self.postings is None:
            raise ValueError(
                "SearchIndex needs either a postings DataFrame or a "
                "postings_for_terms provider"
            )
        return self.postings.where(F.col("term").isin(terms))

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            row = self.doc_stats.agg(F.avg("doc_len").alias("a")).collect()[0]
            self._avgdl = float(row["a"] or 0.0)
        return self._avgdl

    @property
    def doc_meta(self) -> DataFrame:
        """(doc_id, title, rank, title_toks, title_stems): doc_stats UNION
        ALL ranks folded to one row per doc_id (max title, max rank), so a
        ranked doc missing from doc_stats keeps its rank; the title arrays
        are arrow_kernels.title_arrays_arrow's."""
        if self._doc_meta is None:
            from ..operators.arrow_kernels import title_arrays_arrow

            meta = self.doc_stats.select(
                "doc_id", "title", F.lit(None).cast("double").alias("rank")
            )
            if self.ranks is not None:
                meta = meta.union(
                    self.ranks.select("doc_id", F.lit(None).cast("string"), "rank")
                )
            folded = meta.groupBy("doc_id").agg(
                F.max("title").alias("title"), F.max("rank").alias("rank")
            )
            self._doc_meta = title_arrays_arrow(folded).localCheckpoint(eager=True)
        return self._doc_meta


def tokenize_query(query: str) -> list[str]:
    """Q1 (SearchEngine.java:652-673): same strip/lower/split as indexing,
    but NO worth-indexing filter — 1-char query tokens survive."""
    return tokenize_py(query)


def expand_terms(
    search_terms: list[str], related_words_by_stem: dict[str, list[str]]
) -> list[tuple[str, str, int]]:
    """Q3 expansion: [(expanded_term, original_term, priority)].

    Faithful to SearchEngine.java:129-181:
    - the expanded list is [orig, stem?, related...] per original term, in
      query order; the scorer processes it in order and the FIRST occurrence
      of an expanded term is the one that counts -> priority = index of
      first occurrence in that list.
    - expandedToOriginal is a put()-built map: a LATER original term's
      expansion overwrites an earlier mapping (last writer wins).
    - related words come from a HashSet in the reference (unordered); we
      order them lexicographically — the only deterministic refinement.
    """
    expanded_list: list[str] = []
    exp_to_orig: dict[str, str] = {}
    for term in search_terms:
        group = [term]
        stem = porter_stem(term)
        if stem and stem != term and term not in STOP_WORDS:
            group.append(stem)
            group += [
                rel
                for rel in sorted(related_words_by_stem.get(stem, []))
                if rel != term and rel != stem
            ]
        expanded_list += group
        for t in group:
            exp_to_orig[t] = term
    first_idx: dict[str, int] = {}
    for i, t in enumerate(expanded_list):
        first_idx.setdefault(t, i)
    return [(t, exp_to_orig[t], i) for t, i in first_idx.items()]


def matched_boost_pairs(search_terms: list[str]) -> list[tuple[str, str]]:
    """Q10 term sets: for each original term, {term, stem(term)} — stem
    fetched even for stop words (SearchEngine.java:500-504), independent of
    the Q3 expansion. [(lookup_term, original_term)]."""
    pairs: list[tuple[str, str]] = []
    seen: set[str] = set()
    for term in search_terms:
        if term in seen:
            continue
        seen.add(term)
        pairs.append((term, term))
        stem = porter_stem(term)
        if stem and stem != term:
            pairs.append((stem, term))
    return pairs


def _related_words(index: SearchIndex, stems: set[str]) -> dict[str, list[str]]:
    """stemToWords lookup (SearchEngine.java:893-923) — a pruned scan of the
    broadcastable term dictionary, collected (bounded by vocabulary size per
    stem, tiny)."""
    if not stems:
        return {}
    if index._stem_map is not None:
        return {s: index._stem_map.get(s, []) for s in stems}
    rows = (
        index.term_dict.where(F.col("stem").isin(list(stems)))
        .select("stem", "term")
        .collect()
    )
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r["stem"], []).append(r["term"])
    return out


REFERENCE_SCHEMA = "doc_id string, score double, tfidf double, pagerank double, title string"
# index frame -> the temp-view name it is registered under (see _index_view)
_INDEX_VIEWS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_REGISTRY_LOCK = threading.Lock()


def _sql_map(entries: list[tuple[str, str]]) -> str:
    return "map(" + ", ".join(f"{_sql_str(k)}, {v}" for k, v in entries) + ")"


def _drop_view(spark: SparkSession, name: str) -> None:
    # through the session catalog: spark.catalog.dropTempView would also
    # uncache the view's plan, i.e. the caller's persisted index frame
    spark._jsparkSession.sessionState().catalog().dropTempView(name)


def _index_view(df: DataFrame) -> str:
    """Temp-view name of a long-lived index frame, registered on first use
    and dropped when the frame is garbage-collected: registering re-checks
    the frame's whole plan, ~20 ms per frame per query otherwise."""
    with _REGISTRY_LOCK:
        name = _INDEX_VIEWS.get(df)
        if name is None:
            name = _INDEX_VIEWS[df] = f"_dse_index_{uuid.uuid4().hex}"
            df.createOrReplaceTempView(name)
            weakref.finalize(df, _drop_view, df.sparkSession, name).atexit = False
    return name


@contextlib.contextmanager
def _query_view(spark: SparkSession, df: DataFrame):
    """Temp-view name of a per-query frame, dropped on exit."""
    name = f"_dse_query_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    try:
        yield name
    finally:
        _drop_view(spark, name)


def search(
    spark: SparkSession,
    index: SearchIndex,
    query: str,
    k: int | None = 200,
    mode: str = "reference",
    all_matched_boost: bool = True,
    use_title_boost: bool = True,
) -> DataFrame:
    """Returns (doc_id, score, tfidf, pagerank, title) top-k, deterministic.

    ``k=None`` returns the FULL scored frame with no ordering/limit node —
    for consumers that re-rank or hash order-insensitively (the oracle
    gate, the hybrid-RRF pool): no million-row TakeOrdered ever enters
    the plan.

    ``all_matched_boost=False`` reproduces the README-era formula (golden
    scores 1.8/1.2 instead of 7.2/4.8 — SURVEY §5 discrepancy note).

    One query is a batch of one: the scorers are the ones
    ``search_reference_batch`` and ``search_bm25_batch`` use, with the
    query key a constant, so the plan's one shuffle is keyed by doc_id.
    """
    parsed = _parse_queries(index, [query])
    if mode == "bm25":
        out = _blend(
            spark, index, _bm25_scores(spark, index, parsed, batch=False),
            "tfidf * (1.0D + pagerank)", k=k,
        ) if parsed else None
    else:
        out = _reference_frame(
            spark, index, parsed, all_matched_boost, use_title_boost, k=k
        )
    return local_frame(spark, REFERENCE_SCHEMA) if out is None else out


def _parse_queries(
    index: SearchIndex, queries: list[str]
) -> list[tuple[str, list[str], list[tuple[str, str, int]]]]:
    """Q1-Q3 for a query set: (query, search terms, expansion) per
    distinct query. A query that tokenizes to nothing or to a lone stop
    word is dropped (Q2 short-circuit, SearchEngine.java:117-127); one
    related-words lookup serves the whole set."""
    parsed = []
    for q in dict.fromkeys(queries):
        terms = tokenize_query(q)
        if terms and not (len(terms) == 1 and terms[0] in STOP_WORDS):
            parsed.append((q, terms))
    stems = {
        porter_stem(t)
        for _, terms in parsed
        for t in terms
        if t not in STOP_WORDS and porter_stem(t) != t
    }
    related = _related_words(index, stems)
    return [(q, terms, expand_terms(terms, related)) for q, terms in parsed]


def _per_query(values: dict[str, str], batch: bool) -> str:
    """SQL for a per-query value: the one query's literal, or the row's
    ``query`` key looked up in a map literal (NULL for an absent query)."""
    if not batch:
        (value,) = values.values()
        return value
    return f"element_at({_sql_map(list(values.items()))}, query)"


def _reference_frame(
    spark: SparkSession,
    index: SearchIndex,
    parsed: list[tuple[str, list[str], list[tuple[str, str, int]]]],
    all_matched_boost: bool,
    use_title_boost: bool,
    batch: bool = False,
    k: int | None = None,
) -> DataFrame | None:
    """Reference mode (Q5-Q12) for parsed queries, keyed by query:
    ([query,] doc_id, score, tfidf, pagerank, title), or None when no query
    can score. With ``k`` it is the top-k of each query: ``search``'s
    ordered limit (see ``_blend``), or with ``batch`` the per-query window
    of ``_top_k_per_query`` plus a rank column. A ranked batch distributes
    the exploded postings by query, so the scoring group, the blend and
    the window share that one exchange.

    The postings of every query's expanded and matched-boost terms are
    scanned once. An inlined map literal sends each term to its
    (query, original-term slot, priority[, idf, is_stop]) entries, which
    are exploded and grouped by (query, doc_id). Per slot, filtered
    aggregates take the first VALID expanded posting in expansion order
    (Q5) and merge the positions of all its expanded postings (Q6); the
    matched-boost count (Q10) is the number of distinct slots whose raw or
    stem posting hit the doc. The AND filter, phrase pairs, boost sizes
    and title-boost terms are per-query map literals; with one query
    (``batch=False``) the key is a constant, every lookup folds to a
    literal and the one shuffle is keyed by doc_id. The plan is written
    as two statements, the scoring core and the blend (``_blend``, which
    BM25 mode shares)."""
    known = index._term_stats
    queries = []
    for text, terms, expansion in parsed:
        origs = list(dict.fromkeys(terms))
        if known is not None:
            # docs enter only through a valid (non-stop) contribution, and
            # the AND filter needs postings for every original term
            scorable = any(t in known and not known[t][1] for t, _, _ in expansion)
            covered = {o for t, o, _ in expansion if t in known}
            if not scorable or (len(terms) > 1 and len(covered) < len(origs)):
                continue
        boost = matched_boost_pairs(terms) if len(terms) > 1 and all_matched_boost else []
        queries.append((text, terms, expansion, origs, boost))
    if not queries:
        return None

    lookup = list(dict.fromkeys(
        t for _, _, expansion, _, boost in queries
        for t in [e[0] for e in expansion] + [b[0] for b in boost]
    ))
    if known is not None:
        lookup = [t for t in lookup if t in known]
    n_slots = max(len(origs) for _, _, _, origs, _ in queries)
    multi = [(text, terms, origs) for text, terms, _, origs, _ in queries if len(terms) > 1]
    # query -> number of search terms, for the queries Q10 boosts
    boosted = {text: str(len(terms)) for text, terms, _, _, boost in queries if boost}

    # the plain postings frame is filtered inside the statement: a where()
    # here would be one more eager analysis of its whole lineage
    plain = index.postings_for_terms is None and index.postings is not None
    postings = index.postings if plain else index.lookup_postings(lookup)
    # idf/is_stop: from the segment rows, else from the cached driver map
    # (inlined into the expansion map), else from a term_stats join
    stats_on_rows = "idf" in postings.columns
    inline_stats = not stats_on_rows and known is not None
    if stats_on_rows:
        idf, is_stop = "p.idf", "p.is_stop"
    elif inline_stats:
        idf, is_stop = "p.x.i", "p.x.s"
    else:
        idf, is_stop = "s.idf", "s.is_stop"

    wanted = set(lookup)
    entries: dict[str, list[str]] = {}
    for text, _, expansion, origs, boost in queries:
        slot = {o: i for i, o in enumerate(origs)}
        exp = {t: (slot[o], p) for t, o, p in expansion}
        hits: dict[str, list[int]] = {}
        for t, o in boost:
            hits.setdefault(t, []).append(slot[o])
        for t in dict.fromkeys([*exp, *hits]):
            if t not in wanted:
                continue
            o, p = exp.get(t, ("CAST(NULL AS INT)",) * 2)
            fields = (f"'q', {_sql_str(text)}, " if batch else "") + f"'o', {o}, 'p', {p}"
            if boosted:
                b = ", ".join(map(str, hits.get(t, [])))
                fields += f", 'b', {f'array({b})' if b else 'CAST(NULL AS ARRAY<INT>)'}"
            if inline_stats:
                i, s, _ = known[t]
                fields += f", 'i', {_sql_double(i)}, 's', {str(bool(s)).lower()}"
            entries.setdefault(t, []).append(f"named_struct({fields})")
    exp_map = _sql_map([(t, f"array({', '.join(e)})") for t, e in entries.items()])

    valid = f"NOT {is_stop} AND p.normalized_tf > 0"
    aggs = []
    for i in range(n_slots):
        mine = f"FILTER (WHERE p.x.o = {i})"
        aggs.append(
            f"(min(IF({valid}, named_struct('p', p.x.p, 't', p.term, "
            f"'c', p.normalized_tf * {idf}), NULL)) {mine}).c AS c{i}"
        )
        if multi:
            aggs.append(
                "array_sort(array_distinct(flatten("
                f"collect_list(p.positions) {mine}))) AS pos{i}"
            )
    if boosted:
        aggs.append("size(array_distinct(flatten(collect_list(p.x.b)))) AS matched")

    cs = [f"c{i}" for i in range(n_slots)]
    # a doc enters tfidfSums only through a valid contribution; missing
    # terms add nothing, as in Spark's sum over per-term rows
    where = [f"coalesce({', '.join(cs)}) IS NOT NULL"]
    tfidf = " + ".join(f"coalesce({c}, 0D)" for c in cs) if n_slots > 1 else cs[0]
    if multi:
        # Q7 AND filter: every original term of a multi-term query has
        # positions in the doc (slots past a query's own are empty)
        need = {
            text: str(len(origs) if len(terms) > 1 else 0)
            for text, terms, _, origs, _ in queries
        }
        have = " + ".join(f"IF(size(pos{i}) > 0, 1, 0)" for i in range(n_slots))
        where.append(f"{have} >= {_per_query(need, batch)}")
        # Q8 phrase x1.5: every adjacent pair adjacent somewhere in the doc
        pairs = {}
        for text, terms, origs in multi:
            slot = {o: i + 1 for i, o in enumerate(origs)}
            pairs[text] = "array(" + ", ".join(
                f"named_struct('a', {slot[w1]}, 'b', {slot[w2]})"
                for w1, w2 in zip(terms, terms[1:])
            ) + ")"
        pos = f"array({', '.join(f'pos{i}' for i in range(n_slots))})"
        phrase = (
            f"forall({_per_query(pairs, batch)}, r -> arrays_overlap("
            f"transform(element_at({pos}, r.a), v -> v + 1), element_at({pos}, r.b)))"
        )
        tfidf = f"IF(coalesce({phrase}, false), ({tfidf}) * 1.5D, {tfidf})"

    # Q9 PageRank blend
    score = "tfidf * (1.0D + pagerank)"
    # Q10 matched-terms boost (raw or stem postings only, not related words)
    if boosted:
        n = _per_query(boosted, batch)
        ratio = f"CAST(matched AS DOUBLE) / CAST({n} AS DOUBLE)"
        tiers = (
            f"CASE WHEN matched = {n} THEN {score} * 4.0D "
            f"WHEN matched > 0 THEN {score} * (0.3D + 0.7D * ({ratio})) "
            f"ELSE {score} * 0.1D END"
        )
        score = tiers if len(boosted) == len(queries) else f"IF({n} IS NULL, {score}, {tiers})"
    # Q11 title boost
    title_terms = _per_query(
        {text: _title_terms(terms) for text, terms, *_ in queries}, batch
    ) if use_title_boost else None

    key = "p.x.q AS query, " if batch else ""
    by_query = " DISTRIBUTE BY x.q" if batch and k is not None else ""
    with contextlib.ExitStack() as views:
        if plain:
            p = _index_view(postings)
            term_filter = f" WHERE term IN ({', '.join(map(_sql_str, lookup))})"
        else:
            p, term_filter = views.enter_context(_query_view(spark, postings)), ""
        stats_join = (
            f"JOIN {_index_view(index.term_stats)} s ON s.term = p.term"
            if not (stats_on_rows or inline_stats) else ""
        )
        core = spark.sql(f"""
SELECT {"query, " if batch else ""}doc_id, {tfidf} AS tfidf{", matched" if boosted else ""}
FROM (
  SELECT {key}p.doc_id, {", ".join(aggs)}
  FROM (
    SELECT *, explode(element_at({exp_map}, term)) AS x FROM {p}{term_filter}{by_query}
  ) p {stats_join}
  GROUP BY {"p.x.q, " if batch else ""}p.doc_id
)
WHERE {" AND ".join(where)}""")
    if not batch:
        return _blend(spark, index, core, score, title_terms, k)
    out = _blend(spark, index, core, score, title_terms)
    return out if k is None else _top_k_per_query(out, k)


def _title_terms(terms: list[str]) -> str:
    """SQL struct of one query's Q11 inputs: its distinct search terms
    ``t`` in query order, their Porter stems ``s`` (NULL for an empty
    stem) and ``n``, the number of search terms with repeats."""
    distinct = list(dict.fromkeys(terms))
    stems = [_sql_str(st) if (st := porter_stem(t)) else "CAST(NULL AS STRING)" for t in distinct]
    return (
        f"named_struct('t', array({', '.join(map(_sql_str, distinct))}), "
        f"'s', array({', '.join(stems)}), 'n', {len(terms)})"
    )


# Q11 (SearchEngine.java:679-799) over the blend's row: tmin[i] is the
# first title position where distinct term i or its stem occurs (NULL if
# none), tmatch the number of terms that occur. One term: first word
# 3.5, early (< 3) 2.5, else 2.0; every term of a repeat-free query:
# first positions strictly in query order and all early (< 4) 4.0,
# ordered 3.0, early 2.5, else 2.0; otherwise 1 + 0.2 per matching term
# (the reference's in-order x1.85 / x1.30 branch needs every term
# matched, which the tiers above already took). No match, a NULL title
# or one with no tokens: 1.0.
_TITLE_MIN = (
    "zip_with(tq.t, tq.s, (qt, qs) -> array_min(transform(title_toks, "
    "(w, j) -> IF(w = qt OR title_stems[j] = qs, j, NULL))))"
)
_TITLE_BOOST = """CASE WHEN tmatch = 0 THEN 1.0D
  WHEN tq.n = 1 THEN CASE WHEN tmin[0] = 0 THEN 3.5D WHEN tmin[0] < 3 THEN 2.5D ELSE 2.0D END
  WHEN tmatch = tq.n THEN CASE
    WHEN array_sort(array_distinct(tmin)) = tmin AND forall(tmin, x -> x < 4) THEN 4.0D
    WHEN array_sort(array_distinct(tmin)) = tmin THEN 3.0D
    WHEN forall(tmin, x -> x < 4) THEN 2.5D ELSE 2.0D END
  ELSE 1.0D + 0.2D * tmatch END"""


def _blend(
    spark: SparkSession,
    index: SearchIndex,
    scores: DataFrame,
    score: str,
    title_terms: str | None = None,
    k: int | None = None,
) -> DataFrame:
    """Q9/Q11 over a scored frame ([query,] doc_id, tfidf[, matched]):
    ([query,] doc_id, score, tfidf, pagerank, title). Titles, ranks and
    title arrays come from ONE left join with the index's doc-meta frame
    (``SearchIndex.doc_meta``), a checkpointed scan with one row per doc,
    broadcast whenever it fits. ``score`` is SQL over tfidf, pagerank,
    matched and query; ``title_terms``, when given, is the per-query SQL
    struct of ``_title_terms``, and the Q11 title boost multiplies a
    score it raises above 1.0 (``_TITLE_BOOST``, an expression over the
    title arrays). With ``k``, the frame is the Q12 deterministic top-k
    of one query, (score desc, doc_id asc); without, it has no sort
    node."""
    head = "query, " if "query" in scores.columns else ""
    cols = "".join(f"g.{c}, " for c in scores.columns)
    out = f"SELECT {head}doc_id, {score} AS score, tfidf, pagerank, title"
    with _query_view(spark, scores) as g:
        sql = (
            f"SELECT {cols}coalesce(m.rank, 0D) AS pagerank, m.title, "
            f"m.title_toks, m.title_stems FROM {g} g "
            f"LEFT JOIN {_index_view(index.doc_meta)} m ON m.doc_id = g.doc_id"
        )
        if title_terms is None:
            sql = f"{out} FROM ({sql})"
        else:
            sql = f"""
SELECT {head}doc_id, IF(tb > 1.0D, score * tb, score) AS score, tfidf, pagerank, title FROM (
  {out}, {_TITLE_BOOST} AS tb FROM (
    SELECT *, size(filter(tmin, x -> x IS NOT NULL)) AS tmatch FROM (
      SELECT *, {_TITLE_MIN} AS tmin FROM (SELECT *, {title_terms} AS tq FROM ({sql}))
    )
  )
)"""
        if k is not None:
            sql += f" ORDER BY score DESC, doc_id ASC LIMIT {int(k)}"
        return spark.sql(sql)


def _bm25_postings(index: SearchIndex, terms: list[str]) -> DataFrame:
    """The posting rows of ``terms`` with their idf_bm25: carried by the
    rows (segments), else inlined from the cache_term_dict() driver map
    as a literal (no Spark job, as reference mode inlines idf), else from
    a broadcast term_stats join. Rows of a term without stats drop out
    on every path, as they do in the join."""
    rows = index.lookup_postings(terms)
    if "idf_bm25" in rows.columns:
        return rows
    known = index._term_stats
    if known is None:
        return rows.join(
            F.broadcast(index.term_stats.select("term", "idf_bm25")), "term"
        )
    idf = [(t, _sql_double(known[t][2])) for t in dict.fromkeys(terms) if t in known]
    idf_map = F.expr(f"CAST({_sql_map(idf)} AS MAP<STRING, DOUBLE>)")  # typed if empty
    return rows.where(F.col("term").isin([t for t, _ in idf])).withColumn(
        "idf_bm25", F.element_at(idf_map, F.col("term"))
    )


def _bm25_scores(
    spark: SparkSession,
    index: SearchIndex,
    parsed: list[tuple[str, list[str], list[tuple[str, str, int]]]],
    batch: bool,
) -> DataFrame:
    """([query,] doc_id, tfidf): BM25 (k1=1.2, b=0.75) summed over each
    query's original terms, each scored by its first expanded posting in
    expansion order (raw posting preferred over stem, like reference).

    The expansion is an inlined map literal from term to its (query,
    original-term slot, priority) entries, exploded next to the pruned
    postings; one groupBy keyed by (query, doc_id) takes the per-slot
    minimum. With one query (``batch=False``) the key is dropped and the
    shuffle is keyed by doc_id."""
    avgdl = index.avgdl or 1.0
    n_slots = max(len(set(terms)) for _, terms, _ in parsed)
    entries: dict[str, list[str]] = {}
    for text, terms, expansion in parsed:
        slot = {o: i for i, o in enumerate(dict.fromkeys(terms))}
        key = f"'q', {_sql_str(text)}, " if batch else ""
        for t, o, p in expansion:
            entries.setdefault(t, []).append(f"named_struct({key}'o', {slot[o]}, 'p', {p})")
    exp_map = F.expr(_sql_map([(t, f"array({', '.join(e)})") for t, e in entries.items()]))
    base = _bm25_postings(index, list(entries))
    cand = base.select("*", F.explode(F.element_at(exp_map, F.col("term"))).alias("x"))
    best = [
        F.min(
            F.when(
                F.col("x.o") == i,
                F.struct(F.col("x.p").alias("p"), "term", "tf", "doc_len", "idf_bm25"),
            )
        ).alias(f"b{i}")
        for i in range(n_slots)
    ]
    keys = [F.col("x.q").alias("query")] if batch else []
    per_doc = cand.groupBy(*keys, "doc_id").agg(*best)

    def contrib(i: int):
        tf = F.col(f"b{i}.tf")
        dl = F.col(f"b{i}.doc_len")
        denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(avgdl))
        return F.col(f"b{i}.idf_bm25") * tf * (BM25_K1 + 1.0) / denom

    tfidf = contrib(0)
    if n_slots > 1:
        tfidf = F.coalesce(tfidf, F.lit(0.0))
        for i in range(1, n_slots):
            tfidf = tfidf + F.coalesce(contrib(i), F.lit(0.0))
    return per_doc.select(*(["query"] if batch else []), "doc_id", tfidf.alias("tfidf"))


def _top_k_per_query(df: DataFrame, k: int) -> DataFrame:
    """Q12 per query: rank by the 6dp-ROUNDED score (ties -> doc_id asc)
    and keep ranks <= k. Sums of doubles are order-sensitive in the last
    ulp, so an unrounded sort could rank near-ties differently run to
    run."""
    w = Window.partitionBy("query").orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
    return df.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= k
    )


def search_bm25_batch(
    spark: SparkSession,
    index: SearchIndex,
    queries: list[str],
    k: int = 10,
) -> DataFrame:
    """(query, doc_id, score, rank): BM25 top-k for a whole query SET — the
    batch-throughput form the reference cannot express (its frontend
    scores one query per HTTP request, SearchEngine.java:66).

    The scorer is ``search(mode="bm25")``'s, keyed by query: the postings
    are scanned once for every query's expanded terms, per-(query, doc)
    scoring is one partial-aggregated groupBy, and top-k is a window
    PARTITIONED by query (bounded per query — never global) over the
    6dp-rounded score. Scores carry no PageRank blend. On a cached index
    the set costs 3 Spark jobs whatever its size (scoring shuffle, window
    shuffle, result: idf_bm25 is inlined from the cached term dict, see
    _bm25_postings); ``search(mode="bm25")`` costs the same 3 for one
    query.

    Queries that tokenize to nothing or to a lone stop word contribute no
    rows (Q2 short-circuit)."""
    parsed = _parse_queries(index, queries)
    if not parsed:
        return local_frame(spark, "query string, doc_id string, score double, rank int")
    scores = _bm25_scores(spark, index, parsed, batch=True).select(
        "query", "doc_id", F.round("tfidf", 6).alias("score")
    )
    return _top_k_per_query(scores, k)


def search_reference_batch(
    spark: SparkSession,
    index: SearchIndex,
    queries: list[str],
    k: int | None = None,
    all_matched_boost: bool = True,
    use_title_boost: bool = True,
) -> DataFrame:
    """(query, doc_id, score, tfidf, pagerank, title[, rank]): the FULL
    reference chain Q1-Q12 (expansion, per-orig dedup, position merge, AND
    filter, phrase x1.5, PageRank blend, matched-terms boost, title boost)
    for a whole query SET — per-query hash-equal to
    ``search(mode="reference")`` (pytest-asserted), whose scoring
    statement it is, keyed by query.

    With k, the scoring shuffle is keyed by query alone, so the per-query
    window needs no exchange of its own: on a cached index with ranks a
    batch of five costs 3 Spark jobs (scoring shuffle, the doc-meta
    broadcast, result), the same as one ``search()``.

    ``k=None`` returns full scored frames (the gate/bench form); with k,
    rank is assigned per query over the 6dp-ROUNDED score (ties ->
    doc_id asc), the deterministic refinement batch BM25 already uses.

    Queries that tokenize to nothing or to a lone stop word contribute no
    rows (Q2 short-circuit, SearchEngine.java:117-127)."""
    parsed = _parse_queries(index, queries)
    out = _reference_frame(
        spark, index, parsed, all_matched_boost, use_title_boost, batch=True, k=k
    )
    if out is None:
        return local_frame(
            spark,
            "query string, doc_id string, score double, tfidf double, "
            "pagerank double, title string" + (", rank int" if k is not None else ""),
        )
    return out


def more_like_this(
    index: SearchIndex, doc_id: str, k: int = 10, materialize: bool = True
) -> DataFrame:
    """Doc-to-doc "more like this": cosine similarity in tf-idf term
    space, computed THROUGH the inverted index (no doc-vector
    materialization).

    weight(term, doc) = normalized_tf * idf (the reference's tf-idf
    weighting, jobs/Indexer.java normalized_tf + ln(N/df) idf); score =
    cos(w_q, w_d) over the shared-term dot product.

    Plan shape (scale path):
      - the query doc's weights are a broadcast (bounded by one doc's
        term count), so the candidate scan is postings ⋈ broadcast —
        only rows whose term appears in the query doc survive the scan;
      - per-doc dot + norm are groupBy sums (map-side partials);
      - top-k is an ordered limit (TakeOrderedAndProject, no global
        sort), rank assigned over the k survivors only.
    Scores are rounded to 6dp BEFORE ranking so the ordering is
    reproducible across engines (ties then break on doc_id asc).
    """
    # w feeds three subtrees (norms, qw, dots) — persist it for the
    # query's duration or the postings x term_stats join executes three
    # times (the oracle twin MATERIALIZEs the same CTEs). The k-row
    # result is materialized eagerly so the cache can be released
    # before returning.
    w = (
        index.postings.join(index.term_stats.select("term", "idf"), "term")
        .select(
            "term",
            "doc_id",
            (F.col("normalized_tf") * F.col("idf")).alias("wt"),
        )
        .persist()
    )
    try:
        norms = w.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
        )
        qw = w.where(F.col("doc_id") == doc_id).select(
            "term", F.col("wt").alias("qwt")
        )
        qn = norms.where(F.col("doc_id") == doc_id).select(
            F.col("nrm").alias("qnrm")
        )
        dots = (
            w.join(F.broadcast(qw), "term")
            .where(F.col("doc_id") != doc_id)
            .groupBy("doc_id")
            .agg(F.sum(F.col("wt") * F.col("qwt")).alias("dot"))
        )
        scored = (
            dots.join(norms, "doc_id")
            .crossJoin(F.broadcast(qn))
            .select(
                "doc_id",
                F.round(
                    F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6
                ).alias("score"),
            )
        )
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        rank_w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        out = top.withColumn("rank", F.row_number().over(rank_w).cast("int"))
        if not materialize:
            # lazy form for plan inspection/composition — caller owns the
            # persisted w lifetime implications (tests only)
            return out
        return out.localCheckpoint(eager=True)
    finally:
        if materialize:
            w.unpersist()


def build_forward_index(postings: DataFrame) -> DataFrame:
    """(doc_id, terms) forward index — the doc -> term-list mirror of the
    postings. One groupBy; persist partitioned by doc_id so per-doc
    lookups (more_like_this_pruned's first step) are pruned point reads,
    exactly as the term segments serve per-term lookups."""
    return postings.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("term")).alias("terms")
    )


def tfidf_doc_norms(postings: DataFrame, term_stats: DataFrame) -> DataFrame:
    """(doc_id, nrm): L2 norm of each doc's tf-idf weight vector —
    precomputed ONCE per index build (like doc_stats) so per-query paths
    never re-scan the whole postings for normalization."""
    w = postings.join(term_stats.select("term", "idf"), "term").select(
        "doc_id", (F.col("normalized_tf") * F.col("idf")).alias("wt")
    )
    return w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )


def more_like_this_pruned(
    index: SearchIndex,
    doc_id: str,
    forward: DataFrame,
    doc_norms: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Scale-path more_like_this: identical output to more_like_this
    (pytest-gated equality), but no full-postings scan at query time —

      1. the query doc's term list comes from the FORWARD index (a
         pruned per-doc lookup, collected: one doc's vocabulary);
      2. candidate postings come through index.lookup_postings(terms) —
         the same partition-pruned segment provider every other scorer
         mode uses;
      3. doc norms come from the precomputed tfidf_doc_norms
         materialization (amortized across queries, like doc_stats).

    Per-query work is proportional to the query doc's posting lists,
    not the corpus.
    """
    terms = [
        r["term"]
        for r in forward.where(F.col("doc_id") == doc_id)
        .select(F.explode("terms").alias("term"))
        .collect()
    ]
    if not terms:
        return doc_norms.select(
            F.col("doc_id"), F.lit(0.0).alias("score"), F.lit(0).alias("rank")
        ).limit(0)
    p = index.lookup_postings(terms)
    if "idf" not in p.columns:
        p = p.join(index.term_stats.select("term", "idf"), "term")
    w = p.select(
        "term", "doc_id", (F.col("normalized_tf") * F.col("idf")).alias("wt")
    )
    qw = w.where(F.col("doc_id") == doc_id).select(
        "term", F.col("wt").alias("qwt")
    )
    qn = doc_norms.where(F.col("doc_id") == doc_id).select(
        F.col("nrm").alias("qnrm")
    )
    dots = (
        w.join(F.broadcast(qw), "term")
        .where(F.col("doc_id") != doc_id)
        .groupBy("doc_id")
        .agg(F.sum(F.col("wt") * F.col("qwt")).alias("dot"))
    )
    scored = (
        dots.join(doc_norms, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "doc_id",
            F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6).alias(
                "score"
            ),
        )
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    rank_w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(rank_w).cast("int"))


def hybrid_rrf_topk(
    spark: SparkSession,
    sidx: "SearchIndex",
    query_text: str,
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    pool: int = 100,
    rrf_k: int = 60,
) -> DataFrame:
    """(doc_id, lex_rank, ann_rank, rrf, rank): hybrid lexical+vector
    retrieval via reciprocal-rank fusion (Cormack, Clarke & Buettcher
    SIGIR'09): rrf = sum over lists of 1/(rrf_k + rank), over the UNION
    of the BM25 top-``pool`` and the embedding-cosine top-``pool``
    (absent-from-a-list contributes 0; absent rank reported as 0).

    The modern search stack in one plan: both retrievers are the
    existing gated operators (BM25 through the inverted index, cosine
    through the broadcast-query ANN scan), the fusion is one
    ``pool``-bounded full-outer join + ordered-limit top-k — nothing in
    the fusion stage scales with corpus size, so the hybrid costs
    max(retriever costs) at 100 TB. Ranks on BOTH engines are assigned
    over 6dp-rounded scores (deterministic cross-engine order)."""
    from ..operators.similarity import ann_bruteforce_topk

    # Lexical arm, pool-bounded: k=None keeps the scorer's plan free of
    # any global sort; the 6dp-rounded (score, doc_id) order is TOTAL
    # (doc_id distinct), so TakeOrdered(limit=pool) selects exactly the
    # rows a global rank <= pool would, and row_number over those <= pool
    # survivors (the safe k-bounded-window-after-limit pattern) assigns
    # the same ranks — no million-row TakeOrdered, no unpartitioned
    # window over an unbounded input.
    lex = search(spark, sidx, query_text, k=None, mode="bm25").select(
        "doc_id", F.round("score", 6).alias("_s")
    )
    wl = Window.orderBy(F.desc("_s"), F.asc("doc_id"))
    lexr = (
        lex.orderBy(F.desc("_s"), F.asc("doc_id"))
        .limit(pool)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )
    annr = ann_bruteforce_topk(emb, query_id=query_vec_id, k=pool).select(
        F.col("id").cast("string").alias("doc_id"),
        F.col("rank").alias("ann_rank"),
    )
    fused = lexr.join(annr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).cast("int").alias("lex_rank"),
        F.coalesce("ann_rank", F.lit(0)).cast("int").alias("ann_rank"),
    )
    rrf = F.round(
        F.when(
            F.col("lex_rank") > 0, 1.0 / (F.lit(rrf_k) + F.col("lex_rank"))
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("ann_rank") > 0, 1.0 / (F.lit(rrf_k) + F.col("ann_rank"))
        ).otherwise(F.lit(0.0)),
        6,
    )
    scored = fused.withColumn("rrf", rrf)
    top = scored.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(k)
    wr = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(wr).cast("int"))


# ---------------------------------------------------------------------------
# BM25F — fielded BM25 (Zaragoza, Craswell, Taylor, Saria & Robertson,
# CIKM'04 "Microsoft Cambridge at TREC-13", the "simple BM25F"): per-field
# term frequencies are length-normalized and weight-combined into ONE
# pseudo-frequency BEFORE the k1 saturation, so a term hit in a short
# weighted field (title) is worth more than the same hit diluted in the
# body — structurally different from scoring fields separately and adding
# (which double-saturates). Fields here: title (the engine's extractTitle
# contract — <title> inner text, else first line) and body (the full
# worthy-token stream, same tokenizer as the postings pipeline).
# ---------------------------------------------------------------------------

BM25F_W_TITLE = 2.0
BM25F_W_BODY = 1.0
BM25F_B_TITLE = 0.75
BM25F_B_BODY = 0.75


def search_bm25f(
    docs: DataFrame,
    terms: list[str],
    doc_id_col: str = "doc_id",
    content_col: str = "text",
    k1: float = BM25_K1,
    w_title: float = BM25F_W_TITLE,
    w_body: float = BM25F_W_BODY,
    b_title: float = BM25F_B_TITLE,
    b_body: float = BM25F_B_BODY,
) -> DataFrame:
    """(doc_id, score): simple BM25F over {title, body} for a bag of query
    terms.

      tf~(t,d)  = w_title*tf_title/B_title + w_body*tf_body/B_body
      B_f       = (1 - b_f) + b_f * len_f(d)/avgl_f
      score(d)  = sum_t idf_bm25(t) * tf~ / (k1 + tf~)

    idf_bm25 is the same ln((N-df+0.5)/(df+0.5)+1) the BM25 path uses, with
    df = docs containing t in ANY field. Plan shape (scale audit): both
    field token arrays are ONE map-side projection per doc (tokenize +
    worthy list-filter — zero shuffle); the query-term IN filter runs
    fused right after each explode, so only query-term tokens ever reach
    the per-field tf groupBy (shuffle keyed by (doc, term), cardinality
    <= |terms| x docs-hit); field tfs meet in a co-partitioned full-outer
    join; per-doc field lengths join doc-keyed; the corpus aggregates
    (N, avgl_title, avgl_body) are one 1-row broadcast. At index-serving
    scale the per-field tf frame is precomputed exactly like the postings
    table — this function IS that build restricted to the query terms.
    DuckDB twin: oracle.bm25f_sql (identical literals, field exprs and
    fold shapes; 6dp-rounded at the comparison boundary)."""
    from ..functions import text as T

    tlist = [t for t in terms if t]
    d = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.filter(
            T.tokens_col(F.col(content_col)),
            lambda x: (x != "") & T.is_worth_col(x),
        ).alias("_body"),
        F.filter(
            T.tokens_col(T.title_col(F.col(content_col))),
            lambda x: (x != "") & T.is_worth_col(x),
        ).alias("_title"),
    )
    lens = d.select(
        "doc_id",
        F.size("_body").cast("double").alias("len_b"),
        F.size("_title").cast("double").alias("len_t"),
    )
    corpus = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("len_b").alias("avgl_b"),
        F.avg("len_t").alias("avgl_t"),
    )

    # ONE field-tagged token stream -> ONE (doc, term) shuffle with
    # conditional partial sums: both field tfs come out of a single
    # tokenize pass and a single exchange (two separate explodes would
    # tokenize the corpus twice and meet in a full-outer join).
    tagged = d.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    "_body",
                    lambda x: F.struct(
                        F.lit("b").alias("f"), x.alias("term")
                    ),
                ),
                F.transform(
                    "_title",
                    lambda x: F.struct(
                        F.lit("t").alias("f"), x.alias("term")
                    ),
                ),
            )
        ).alias("ft"),
    ).select("doc_id", F.col("ft.f").alias("f"), F.col("ft.term").alias("term"))
    tf = (
        tagged.where(F.col("term").isin(tlist))
        .groupBy("doc_id", "term")
        .agg(
            F.sum(F.when(F.col("f") == "b", 1.0).otherwise(0.0)).alias("tf_b"),
            F.sum(F.when(F.col("f") == "t", 1.0).otherwise(0.0)).alias("tf_t"),
        )
    )
    df_per_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tf.join(lens, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .join(F.broadcast(df_per_term), "term")
    )
    b_t = F.lit(1.0 - b_title) + F.lit(b_title) * F.when(
        F.col("avgl_t") > 0.0, F.col("len_t") / F.col("avgl_t")
    ).otherwise(F.lit(1.0))
    b_b = F.lit(1.0 - b_body) + F.lit(b_body) * F.when(
        F.col("avgl_b") > 0.0, F.col("len_b") / F.col("avgl_b")
    ).otherwise(F.lit(1.0))
    pseudo = F.lit(w_title) * F.col("tf_t") / b_t + F.lit(w_body) * F.col(
        "tf_b"
    ) / b_b
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * pseudo / (F.lit(k1) + pseudo)
    return (
        scored.select("doc_id", contrib.alias("_c"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("_c"), 6).alias("score"))
        .where(F.col("score") > 0.0)
    )


def search_proximity(
    postings: DataFrame,
    term_stats: DataFrame,
    w1: str,
    w2: str,
    slop: int = 4,
    k: int = 20,
) -> DataFrame:
    """(doc_id, min_gap, score): sloppy-phrase retrieval — docs where
    both terms occur within ``slop`` token positions (unordered window),
    scored tf-idf with a closeness boost 1 + 1/(1+min_gap) — the
    Lucene PhraseQuery~slop shape with the reciprocal-distance weight
    of its SloppyPhraseScorer. Extends the exact-adjacency phrase boost
    (Q8, engine.search) to bounded-distance matching.

    Plan: two single-term postings lookups (partition-prunable against
    the term segments, like Q4) joined on doc_id; the min position gap
    is a pure HOF — flatten(transform x transform) + array_min, O(tf1 x
    tf2) per doc with NO explode, so the only exchange is the doc_id
    equi-join of two term-sized posting lists. 6dp-rounded score before
    the (score desc, doc_id asc) rank; DuckDB twin =
    oracle.proximity_sql (identical gap/boost arithmetic)."""
    hits = (
        postings.where(
            F.col("term").isin([w1, w2]) & (F.col("normalized_tf") > 0)
        )
        .join(term_stats.select("term", "idf"), "term")
        .select(
            "doc_id",
            "term",
            (F.col("normalized_tf") * F.col("idf")).alias("contrib"),
            "positions",
        )
    )
    h1 = hits.where(F.col("term") == w1).select(
        "doc_id", F.col("contrib").alias("c1"), F.col("positions").alias("p1")
    )
    h2 = hits.where(F.col("term") == w2).select(
        "doc_id", F.col("contrib").alias("c2"), F.col("positions").alias("p2")
    )
    gaps = F.flatten(
        F.transform(
            F.col("p1"),
            lambda p: F.transform(F.col("p2"), lambda q: F.abs(q - p)),
        )
    )
    j = h1.join(h2, "doc_id").select(
        "doc_id",
        (F.col("c1") + F.col("c2")).alias("csum"),
        F.array_min(gaps).alias("min_gap"),
    )
    scored = j.where(F.col("min_gap") <= slop).select(
        "doc_id",
        F.col("min_gap").cast("int").alias("min_gap"),
        F.round(
            F.col("csum")
            * (F.lit(1.0) + F.lit(1.0) / (F.lit(1.0) + F.col("min_gap").cast("double"))),
            6,
        ).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def search_facets(
    postings: DataFrame,
    term_stats: DataFrame,
    docs: DataFrame,
    terms: list[str],
    facet_cols: tuple[str, ...] = ("lang", "source"),
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """(facet, value, n_docs, best_score): facet aggregations over the
    match set — the Elasticsearch aggregations-alongside-hits shape.
    Docs matching ANY query term are tf-idf scored (per-doc sum of
    normalized_tf x idf over matched terms), joined to their metadata,
    and counted per (facet column, value) with the best score per
    bucket.

    Plan: the postings lookup and per-doc sum are the Q4/Q5 shape; ONE
    broadcast-sized join against the doc metadata (project only the
    facet columns — column pruning keeps the scan narrow), then one
    explode(array(struct...)) over the |facet_cols| labels and ONE
    groupBy — facet keys are low-cardinality so the aggregate is
    map-side-partial dominated. Keep ``terms`` to <= 2 for the
    cross-engine gate: IEEE addition is commutative but not
    associative, so 3+ contributions per doc would make the per-doc sum
    order-sensitive between engines."""
    hits = (
        postings.where(
            F.col("term").isin(list(terms)) & (F.col("normalized_tf") > 0)
        )
        .join(term_stats.select("term", "idf"), "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("normalized_tf") * F.col("idf")).alias("score"))
    )
    meta = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        *[F.col(c).cast("string").alias(c) for c in facet_cols],
    )
    m = hits.join(meta, "doc_id")
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("facet"), F.col(c).alias("value")
                )
                for c in facet_cols
            ]
        )
    ).alias("fv")
    return (
        m.select("doc_id", "score", pairs)
        .select("doc_id", "score", "fv.facet", "fv.value")
        .groupBy("facet", "value")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.round(F.max("score"), 6).alias("best_score"),
        )
    )


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback (Lavrenko & Croft SIGIR'01 relevance
# models; the RM3 interpolation from Abdul-Jaleel et al., TREC'04 UMass
# report) — the standard "free" recall boost for bag-of-words retrieval:
# run the query, mine expansion terms from the top feedback documents'
# term distributions weighted by their retrieval scores, re-score with
# the expanded query. The reference's Q3 related-terms expansion is a
# dictionary lookup; this is the principled corpus-statistics version.
# ---------------------------------------------------------------------------


def search_rm3(
    spark: SparkSession,
    index: SearchIndex,
    terms: list[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    beta: float = 0.6,
) -> DataFrame:
    """(doc_id, score, rank): BM25 over ``terms`` expanded with RM3-style
    pseudo-relevance feedback.

    Chain (two bounded jobs):
      1. first-pass BM25; feedback set = top ``fb_docs`` by
         (6dp-rounded score desc, doc_id asc). Expansion-term weight
         w(t) = sum over feedback docs d of (tf(t,d)/doc_len(d)) *
         (s6(d)/sum_fb s6) — the doc's term distribution weighted by its
         normalized ROUNDED retrieval score (rounding first makes the
         feedback arithmetic cross-engine deterministic). Stop words and
         original query terms are excluded; top ``fb_terms`` by
         (6dp-rounded w desc, term asc) survive.
      2. second pass: score'(d) = BM25(d; terms) + beta * sum_t wn(t) *
         BM25_t(d), wn = w/sum(w) over the selected terms; 6dp-rounded,
         rank ties doc_id asc.

    Scale shape: the feedback-doc term mining joins postings against the
    ``fb_docs``-row broadcast (at 100 TB route it through the forward
    index / pruned provider instead — build_forward_index exists); the
    expansion terms come back as a bounded ``fb_terms``-row collect
    (same k-row discipline as every top-k), so the second pass runs
    through lookup_postings partition-pruned on ~|terms|+fb_terms
    terms. DuckDB twin: oracle.rm3_sql, identical arithmetic and
    rounding points."""
    avgdl = index.avgdl or 1.0

    def bm25_contrib(lookup: list[str]) -> DataFrame:
        denom = F.col("tf") + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("doc_len") / F.lit(avgdl)
        )
        return _bm25_postings(index, lookup).select(
            "term",
            "doc_id",
            (
                F.col("idf_bm25") * F.col("tf") * (BM25_K1 + 1.0) / denom
            ).alias("contrib"),
        )

    first = (
        bm25_contrib(sorted(set(terms)))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("s6"))
    )
    fb = first.orderBy(F.desc("s6"), F.asc("doc_id")).limit(fb_docs)
    tot = fb.agg(F.sum("s6").alias("tot"))
    cand = (
        index.postings.join(F.broadcast(fb), "doc_id")
        .where(
            ~F.col("term").isin(list(terms))
            & ~F.col("term").isin(sorted(STOP_WORDS))
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("term")
        .agg(
            F.sum(
                F.col("tf").cast("double")
                / F.col("doc_len")
                * F.col("s6")
                / F.col("tot")
            ).alias("w")
        )
    )
    exp_rows = (
        cand.orderBy(F.desc(F.round("w", 6)), F.asc("term"))
        .limit(fb_terms)
        .collect()
    )  # bounded: fb_terms rows
    wsum = sum(r["w"] for r in exp_rows) or 1.0
    exp_df = local_frame(
        spark, "term string, wn double", [(r["term"], r["w"] / wsum) for r in exp_rows]
    )
    orig = bm25_contrib(sorted(set(terms))).select("doc_id", "contrib")
    expn = (
        bm25_contrib(sorted(r["term"] for r in exp_rows))
        .join(F.broadcast(exp_df), "term")
        .select(
            "doc_id",
            (F.lit(beta) * F.col("wn") * F.col("contrib")).alias("contrib"),
        )
    )
    agg = (
        orig.unionByName(expn)
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    top = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    wr = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(wr).cast("int"))


def explain_bm25(
    spark: SparkSession, index: SearchIndex, query_text: str
) -> DataFrame:
    """Lucene-``explain()``-style score breakdown: one row per
    (doc_id, term) with every input to the BM25 contribution — tf,
    doc_len, idf_bm25 — the contribution itself, and the doc's total
    score. The debugging surface the reference exposes only as opaque
    ranked output (SearchEngine.java returns scores, never why).

    Terms are used stem-fixpoint as given (no expansion — explain shows
    the scorer, not the query rewriter; run expand_terms separately to
    audit the rewrite). Plan: one pruned postings lookup with its
    idf_bm25 (_bm25_postings) + a per-doc window sum (bounded by query
    length per doc). All numeric outputs 6dp-rounded in-engine so the
    breakdown is hash-stable across engines.
    """
    terms = tokenize_query(query_text)
    if not terms:
        return local_frame(
            spark,
            "doc_id string, term string, tf double, doc_len double, "
            "idf_bm25 double, contrib double, score double",
        )
    avgdl = index.avgdl or 1.0
    base = _bm25_postings(index, sorted(set(terms)))
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / F.lit(avgdl))
    per_term = base.select(
        "doc_id",
        "term",
        tf.alias("tf"),
        dl.alias("doc_len"),
        F.round("idf_bm25", 6).alias("idf_bm25"),
        F.round(
            F.col("idf_bm25") * tf * (BM25_K1 + 1.0) / denom, 6
        ).alias("contrib"),
    )
    wd = Window.partitionBy("doc_id")
    return per_term.withColumn(
        "score", F.round(F.sum("contrib").over(wd), 6)
    )
