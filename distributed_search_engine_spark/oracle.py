"""DuckDB oracle SQL for the driver's correctness gate.

Each SQL string replicates — in ANSI-ish DuckDB SQL over the pre-registered
`documents` view — exactly what the corresponding Spark pipeline computes,
using the SAME tokenization templates from functions/text.py so the two
dialects cannot drift apart. Floating-point outputs are rounded to 6dp on
BOTH sides (sums of doubles may differ in the last ulp between engines).

Stemming is not expressible in SQL, so oracle-gated scoring queries run the
engine in with_stems=False mode over query terms that are Porter fixpoints
('data', 'spark', 'join', ...); the stemmed paths are covered by pytest
goldens and rows-only queries() entries.
"""

from __future__ import annotations

from .functions.stopwords import STOP_WORDS
from .functions.text import (
    MAX_DOC_CHARS,
    _duckdb_tokens_of,
    duckdb_title_expr,
    duckdb_tokens_expr,
    duckdb_worth,
)
from .query.engine import BM25_B, BM25_K1

STOPS_SQL = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))

# sequential left-fold sum — bit-identical to Spark's F.aggregate fold order
def _fold_sum(list_expr: str) -> str:
    return f"list_reduce(list_prepend(0.0, {list_expr}), (acc, x) -> acc + x)"


def base_ctes() -> str:
    """Shared CTE chain: docs -> token stream (with stream positions) ->
    worthy postings -> doc stats -> term stats. Mirrors operators/docstats.py
    and operators/postings.py (unstemmed)."""
    toks = duckdb_tokens_expr("text")
    return f"""
WITH docs AS (
  SELECT doc_id::varchar AS doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
tokarr AS (
  SELECT doc_id, {toks} AS toks FROM docs
),
tokstream AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM tokarr
),
worthy AS (
  SELECT doc_id, tok AS term, pos FROM tokstream
  WHERE tok <> '' AND {duckdb_worth('tok')}
),
tf AS (
  SELECT term, doc_id, count(*)::int AS tf, list_sort(list(pos)) AS positions
  FROM worthy GROUP BY 1, 2
),
docstats AS (
  SELECT d.doc_id,
         coalesce(s.doc_len, 0) AS doc_len,
         coalesce(s.max_tf, 1) AS max_tf
  FROM docs d LEFT JOIN (
    SELECT doc_id, sum(tf)::int AS doc_len, greatest(max(tf), 1)::int AS max_tf
    FROM tf GROUP BY 1
  ) s USING (doc_id)
),
nstats AS (
  SELECT count(*)::double AS n, avg(doc_len) AS avgdl FROM docstats
),
postings AS (
  SELECT t.term, t.doc_id, t.tf,
         t.tf::double AS weighted_tf,
         CASE WHEN t.tf > 0 AND d.max_tf > 0
              THEN 0.4 + 0.6 * t.tf / d.max_tf ELSE 0.0 END AS normalized_tf,
         d.doc_len, t.positions
  FROM tf t JOIN docstats d USING (doc_id)
  -- I10 per-term doc caps (apply_caps): 20,000 docs / 5,000 for stop words,
  -- kept by weighted_tf desc, doc_id asc — inert below cap-sized corpora,
  -- keeps the oracle honest if the gate SF ever exceeds a cap
  QUALIFY row_number() OVER (
            PARTITION BY t.term ORDER BY t.tf::double DESC, t.doc_id ASC)
          <= CASE WHEN list_contains([{STOPS_SQL}], t.term)
                  THEN 5000 ELSE 20000 END
),
termstats AS (
  SELECT term, count(*)::int AS df,
         ln((SELECT n FROM nstats) / count(*)) AS idf,
         ln(((SELECT n FROM nstats) - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf_bm25
  FROM postings GROUP BY term
)
"""


DOC_STATS_SQL = base_ctes() + f"""
SELECT ds.doc_id, ds.doc_len, ds.max_tf,
       {duckdb_title_expr('d.text')} AS title
FROM docstats ds JOIN docs d USING (doc_id)
"""

POSTINGS_SQL = base_ctes() + """
SELECT term, doc_id, tf, round(normalized_tf, 6) AS normalized_tf, doc_len,
       array_to_string(positions, ' ') AS positions
FROM postings
"""

def stemmed_postings_sql(stem_map: list[tuple[str, str]]) -> str:
    """Stem-expanded postings (I8 semantics, jobs/Indexer.java:463-475).

    Porter stemming itself is not SQL-expressible, but the (term -> stem)
    MAP for a finite vocabulary is: the caller materializes it in Python
    (functions/stemmer.porter_stem over the corpus vocabulary, enumerated
    with the SAME duckdb tokenizer the oracle uses) and it lands here as an
    inline VALUES table. The oracle then reproduces the stem merge of
    emit_postings_arrow (operators/postings.py): non-stop terms whose stem
    differs emit a second posting row under the stem; (term, doc)
    collisions merge with sorted-position concat + tf sum; the I10 caps
    QUALIFY mirrors apply_caps on the merged rows (inert below cap-sized
    corpora)."""
    if stem_map:
        pairs = ", ".join(
            f"('{t}', '{s}')" for t, s in stem_map
        )
        stems_cte = f"stems(term, stem) AS (FROM (VALUES {pairs}) v(term, stem))"
    else:
        stems_cte = "stems(term, stem) AS (SELECT '', '' WHERE false)"
    return base_ctes() + f""",
{stems_cte},
emission AS (
  SELECT term, doc_id, tf, positions FROM tf
  UNION ALL
  SELECT s.stem AS term, t.doc_id, t.tf, t.positions
  FROM tf t JOIN stems s USING (term)
  WHERE NOT list_contains([{STOPS_SQL}], t.term)
),
merged AS (
  SELECT term, doc_id, sum(tf)::int AS tf,
         list_sort(flatten(list(positions))) AS positions
  FROM emission GROUP BY 1, 2
  QUALIFY row_number() OVER (
            PARTITION BY term ORDER BY sum(tf)::double DESC, doc_id ASC)
          <= CASE WHEN list_contains([{STOPS_SQL}], term)
                  THEN 5000 ELSE 20000 END
)
SELECT term, doc_id, tf, array_to_string(positions, ' ') AS positions
FROM merged
"""


TERM_STATS_SQL = base_ctes() + """
SELECT term, df, round(idf, 6) AS idf, round(idf_bm25, 6) AS idf_bm25
FROM termstats
"""

CONTENT_SHA_SQL = f"""
SELECT doc_id::varchar AS doc_id, sha256(text) AS content_sha
FROM documents WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
"""


def tfidf_single_sql(term: str) -> str:
    """Reference-mode single-term score: normalized_tf * idf (pagerank 0,
    no title boost) — SearchEngine.java:256-333 with Q9 blend at pr=0."""
    return base_ctes() + f"""
SELECT p.doc_id, round(p.normalized_tf * ts.idf, 6) AS score
FROM postings p JOIN termstats ts USING (term)
WHERE p.term = '{term}' AND p.normalized_tf > 0
"""


def bm25_sql(terms: list[str]) -> str:
    inlist = ", ".join(f"'{t}'" for t in terms)
    return base_ctes() + f"""
SELECT p.doc_id,
       round(sum(ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
                 / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
                    / (SELECT avgdl FROM nstats)))), 6) AS score
FROM postings p JOIN termstats ts USING (term)
WHERE p.term IN ({inlist})
GROUP BY p.doc_id
"""


def bm25_topk_sql(terms: list[str], k: int = 10) -> str:
    """Ranked BM25 top-k twin of index/wand.distributed_topk over the
    compressed segments (the executor-side scale path): same scores as
    bm25_sql, row_number ties broken (score desc, doc_id asc) — docnum
    order equals doc_id order by construction (segments.assign_docnums)."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return base_ctes() + f""",
scores AS (
  SELECT p.doc_id,
         sum(ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
             / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
                / (SELECT avgdl FROM nstats)))) AS score
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})
  GROUP BY p.doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scores
)
SELECT doc_id, round(score, 6) AS score, rank::int AS rank
FROM ranked WHERE rank <= {k}
"""


def bm25_explain_sql(terms: list[str]) -> str:
    """Twin of query/engine.explain_bm25: per-(doc, term) BM25 inputs +
    contribution + per-doc total, every numeric 6dp-rounded in-engine."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return base_ctes() + f""",
expl AS (
  SELECT p.doc_id, p.term,
         p.tf::double AS tf, p.doc_len::double AS doc_len,
         round(ts.idf_bm25, 6) AS idf_bm25,
         round(ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
               / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
                  / (SELECT avgdl FROM nstats))), 6) AS contrib
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})
)
SELECT doc_id, term, tf, doc_len, idf_bm25, contrib,
       round(sum(contrib) OVER (PARTITION BY doc_id), 6) AS score
FROM expl
"""


def bm25_champion_sql(
    queries: list[list[str]], m: int, k: int = 10
) -> str:
    """Twin of index/champions: per-term top-m postings by 6dp-rounded
    BM25 contribution (ties doc_id asc), then the batch top-k over
    champions only — the approximate tier is deterministic, so it
    hash-gates like an exact query."""
    branches = []
    for terms in queries:
        label = " ".join(terms).replace("'", "''")
        inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
        branches.append(
            f"""
  SELECT '{label}' AS query, doc_id, contrib
  FROM champ WHERE r <= {m} AND term IN ({inlist})"""
        )
    union = "\n  UNION ALL\n".join(branches)
    return base_ctes() + f""",
champscored AS (
  SELECT p.term, p.doc_id,
         round(ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
               / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
                  / (SELECT avgdl FROM nstats))), 6) AS contrib
  FROM postings p JOIN termstats ts USING (term)
),
champ AS (
  SELECT term, doc_id, contrib,
         row_number() OVER (PARTITION BY term
                            ORDER BY contrib DESC, doc_id ASC) AS r
  FROM champscored
),
champhits AS ({union}),
champagg AS (
  SELECT query, doc_id, round(sum(contrib), 6) AS score
  FROM champhits GROUP BY 1, 2
),
champranked AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM champagg
)
SELECT query, doc_id, score, rank::int AS rank
FROM champranked WHERE rank <= {k}
"""


def bm25_batch_sql(queries: list[list[str]], k: int = 10) -> str:
    """Batch BM25 twin of engine.search_bm25_batch for stem-fixpoint query
    terms: per-query contrib UNION ALL, per-(query, doc) sum, per-query
    rank over the 6dp-ROUNDED score (order-deterministic across engines)."""
    branches = []
    for terms in queries:
        label = " ".join(terms).replace("'", "''")
        inlist = ", ".join(f"'{t}'" for t in terms)
        branches.append(f"""
  SELECT '{label}' AS query, p.doc_id,
         ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
         / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
            / (SELECT avgdl FROM nstats))) AS contrib
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})""")
    union = "\n  UNION ALL\n".join(branches)
    return base_ctes() + f""",
hits AS ({union}),
agg AS (
  SELECT query, doc_id, round(sum(contrib), 6) AS score
  FROM hits GROUP BY 1, 2
),
ranked AS (
  SELECT query, doc_id, score,
         row_number() OVER (PARTITION BY query ORDER BY score DESC, doc_id ASC) AS rank
  FROM agg
)
SELECT query, doc_id, score, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def pagerank_sql(iterations: int = 3) -> str:
    """Unrolled PageRank over the deterministic synthetic link graph
    (operators/pagerank.py synthetic_links): each doc -> (id+1)%N and
    (id*3+7)%N. Exact reference math: per-share 0.85*rank/L transfer,
    additive 0.15 base, dangling mass dropped (jobs/PageRank.java:271,319)."""
    parts = [
        """
WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
links AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id AS src, (doc_id * 3 + 7) % (SELECT n FROM nn) AS dst FROM documents
  )
),
deg AS (SELECT src, count(*)::bigint AS l FROM links GROUP BY 1),
r0 AS (SELECT doc_id, 1.0::double AS rank FROM documents)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(f""",
r{k} AS (
  SELECT d.doc_id, 0.15 + coalesce(c.s, 0) AS rank
  FROM documents d LEFT JOIN (
    SELECT lk.dst AS doc_id, sum(0.85 * r.rank / g.l) AS s
    FROM links lk JOIN r{k - 1} r ON r.doc_id = lk.src JOIN deg g ON g.src = lk.src
    GROUP BY lk.dst
  ) c USING (doc_id)
)""")
    parts.append(
        f"\nSELECT doc_id::varchar AS doc_id, round(rank, 6) AS rank FROM r{iterations}"
    )
    return "".join(parts)


def weighted_postings_sql(html_sql: str) -> str:
    """I4 weighted-tokenize oracle: ``html_sql`` is an expression deriving a
    deterministic HTML page from documents.text (the Spark query builds the
    SAME page with the same string ops). Doc stats (max_tf) come from the
    PLAIN tokenize of the page; postings from the weighted stream —
    functions/text.duckdb_weighted_stream_expr keeps the two dialects in
    lockstep (jobs/Indexer.java:214-228, 423-478, 1301-1371)."""
    from .functions.text import duckdb_weighted_stream_expr

    toks_plain = duckdb_tokens_expr("html")
    stream = duckdb_weighted_stream_expr("html")
    worth_tok = duckdb_worth("tok")
    worth_term = duckdb_worth("term")
    return f"""
WITH docs AS (
  SELECT doc_id::varchar AS doc_id, {html_sql} AS html
  FROM documents WHERE text IS NOT NULL
),
docs2 AS (SELECT doc_id, html FROM docs WHERE length(html) <= {MAX_DOC_CHARS}),
tokarr AS (SELECT doc_id, {toks_plain} AS toks FROM docs2),
tokstream AS (
  SELECT doc_id, unnest(toks) AS tok FROM tokarr
),
plain_tf AS (
  SELECT doc_id, tok AS term, count(*)::int AS tf FROM tokstream
  WHERE tok <> '' AND {worth_tok} GROUP BY 1, 2
),
docstats AS (
  SELECT d.doc_id, coalesce(s.max_tf, 1) AS max_tf
  FROM docs2 d LEFT JOIN (
    SELECT doc_id, greatest(max(tf), 1)::int AS max_tf FROM plain_tf GROUP BY 1
  ) s USING (doc_id)
),
warr AS (SELECT doc_id, {stream} AS ws FROM docs2),
wstream AS (
  SELECT doc_id, unnest(ws) AS tw, generate_subscripts(ws, 1) AS pos FROM warr
),
wflat AS (
  SELECT doc_id, tw.tok AS term, pos, tw.weight AS weight FROM wstream
),
wworthy AS (SELECT * FROM wflat WHERE {worth_term}),
wtf AS (
  SELECT term, doc_id, count(*)::int AS tf,
         (count(CASE WHEN weight = 1.0 THEN 1 END) * 1.0
          + count(CASE WHEN weight <> 1.0 THEN 1 END) * 0.001) AS weighted_tf,
         list(pos ORDER BY pos) AS positions,
         list(CASE WHEN weight = 1.0 THEN 1000 ELSE 1 END ORDER BY pos) AS wmilli
  FROM wworthy GROUP BY 1, 2
  QUALIFY row_number() OVER (
            PARTITION BY term
            ORDER BY (count(CASE WHEN weight = 1.0 THEN 1 END) * 1.0
                      + count(CASE WHEN weight <> 1.0 THEN 1 END) * 0.001) DESC,
                     doc_id ASC)
          <= CASE WHEN list_contains([{STOPS_SQL}], term) THEN 5000 ELSE 20000 END
)
SELECT t.term, t.doc_id,
       {duckdb_title_expr('d2.html')} AS title,
       t.tf,
       round(t.weighted_tf, 6) AS weighted_tf,
       round(CASE WHEN t.weighted_tf > 0 AND d.max_tf > 0
                  THEN 0.4 + 0.6 * t.weighted_tf / d.max_tf ELSE 0.0 END, 6)
         AS normalized_tf,
       array_to_string(t.positions, ' ') AS positions,
       array_to_string(t.wmilli, ' ') AS weights_milli
FROM wtf t JOIN docstats d USING (doc_id) JOIN docs2 d2 USING (doc_id)
"""


def and_phrase_sql(w1: str, w2: str) -> str:
    """Two-term reference-mode: AND filter + phrase x1.5 + all-matched x4.0
    (pagerank 0, no title boost) — Q5/Q7/Q8/Q10 chain."""
    return base_ctes() + f"""
, hits AS (
  SELECT p.doc_id, p.term, p.normalized_tf * ts.idf AS contrib, p.positions
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ('{w1}', '{w2}') AND p.normalized_tf > 0
)
SELECT h1.doc_id,
       round((h1.contrib + h2.contrib)
             * (CASE WHEN len(list_intersect(list_transform(h1.positions, p -> p + 1),
                                             h2.positions)) > 0
                     THEN 1.5 ELSE 1.0 END)
             * 4.0, 6) AS score
FROM hits h1
JOIN hits h2 ON h1.doc_id = h2.doc_id
WHERE h1.term = '{w1}' AND h2.term = '{w2}'
"""


def reference_batch_sql(queries: list[list[str]]) -> str:
    """Twin of engine.search_reference_batch for stem-fixpoint query terms
    (pr=0, no title boost): per-query UNION ALL of the existing single-
    query reference oracles, each branch carrying its query label — the
    bm25_batch_sql composition pattern."""
    branches = []
    for terms in queries:
        label = " ".join(terms).replace("'", "''")
        if len(terms) == 1:
            sub = tfidf_single_sql(terms[0])
        elif len(terms) == 2:
            sub = and_phrase_sql(terms[0], terms[1])
        else:
            raise ValueError("oracle supports 1- or 2-term reference queries")
        branches.append(
            f"SELECT '{label}' AS query, doc_id, score FROM ({sub})"
        )
    return "\nUNION ALL\n".join(branches)


# ---------------------------------------------------------------------------
# training-data pipeline oracles (operators/dedup.py, similarity.py,
# text_analysis.py twins)
# ---------------------------------------------------------------------------

def _shingle_ctes(n: int = 3) -> str:
    """docs -> token array -> distinct word n-gram shingles, value-identical
    twin of operators/dedup.shingles (map-side list_transform +
    list_distinct + unnest — no window, no DISTINCT)."""
    return base_ctes() + f""",
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, len(toks) - {n - 1}),
    i -> array_to_string(toks[i:i + {n - 1}], ' ')))) AS shingle
  FROM tokarr
)
"""


def _minhash_select(n_hashes: int) -> str:
    """min-hash aggregate expressions: H affine maps over one 60-bit md5
    base, coefficients from operators/dedup.minhash_coeffs (the SAME Python
    literals the Spark plan inlines)."""
    from .operators.dedup import MINHASH_PRIME, minhash_coeffs

    p = MINHASH_PRIME
    xm = f"(('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p})"
    return ", ".join(
        f"min(({xm} * {a} + {b}) % {p}) AS mh_{h}"
        for h, (a, b) in enumerate(minhash_coeffs(n_hashes))
    )


def stratified_sample_sql(
    fractions: dict[str, float], default_fraction: float = 0.0, seed: str = "mix1"
) -> str:
    """Twin of text_analysis.stratified_sample over the documents table:
    identical md5-derived uniform and per-source fractions."""
    case = "CASE"
    for g, f in sorted(fractions.items()):
        case += f" WHEN source = '{g}' THEN {float(f)!r}"
    case += f" ELSE {float(default_fraction)!r} END"
    u = (
        f"(('0x' || substr(md5('{seed}:' || doc_id::varchar), 1, 8))::bigint"
        f" / {float(16 ** 8)!r})"
    )
    return f"""
SELECT doc_id::varchar AS doc_id, source,
       count(*) OVER (PARTITION BY source)::int AS n_kept_in_source
FROM documents
WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
  AND {u} < {case}
"""


def decontaminate_sql(bench_max_doc_id: int = 25, n: int = 3) -> str:
    """Twin of dedup.decontaminate with the benchmark set = docs whose
    doc_id < bench_max_doc_id (a deterministic subset of the same table,
    like the snippets gate's semantic filter)."""
    return _shingle_ctes(n) + f""",
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id::int < {bench_max_doc_id}),
totals AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit FROM sh s JOIN bsh USING (shingle)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(h.n_hit, 0)::int AS n_hit_shingles,
       round(CASE WHEN coalesce(t.n_sh, 0) > 0
                  THEN coalesce(h.n_hit, 0) / t.n_sh ELSE 0.0 END, 6) AS hit_ratio,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM docs d LEFT JOIN totals t USING (doc_id) LEFT JOIN hits h USING (doc_id)
"""


EXACT_DEDUP_SQL = f"""
SELECT sha256(text) AS content_sha,
       min(doc_id::varchar) AS keep_doc_id,
       count(*)::int AS n_dupes
FROM documents
WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
GROUP BY 1
"""


def minhash_sql(n_hashes: int = 16) -> str:
    return _shingle_ctes() + f"""
SELECT doc_id, {_minhash_select(n_hashes)}
FROM sh GROUP BY doc_id
"""


def lsh_pairs_sql(n_hashes: int = 16, bands: int = 4) -> str:
    rpb = n_hashes // bands
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(f"mh_{b * rpb + i}::varchar" for i in range(rpb))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return _shingle_ctes() + f""",
sig AS (SELECT doc_id, {_minhash_select(n_hashes)} FROM sh GROUP BY doc_id),
banded AS ({bands_sql})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _lsh_band_ctes(n_hashes: int, bands: int) -> str:
    """sig + banded + cand CTE fragment (appended after the shingle CTEs):
    MinHash signatures -> band keys -> distinct candidate pairs. Twin of
    operators/dedup.lsh_candidate_pairs."""
    rpb = n_hashes // bands
    band_selects = []
    for b in range(bands):
        key = " || '|' || ".join(f"mh_{b * rpb + i}::varchar" for i in range(rpb))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f""",
sig AS (SELECT doc_id, {_minhash_select(n_hashes)} FROM sh GROUP BY doc_id),
banded AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def jaccard_pairs_lsh_sql(
    threshold: float = 0.5, n_hashes: int = 16, bands: int = 4
) -> str:
    """Exact jaccard restricted to MinHash-LSH candidate pairs — twin of
    jaccard_pairs(shingles, threshold, candidates=lsh_candidate_pairs(...)),
    the scale path (no shingle self-join)."""
    return _shingle_ctes() + _lsh_band_ctes(n_hashes, bands) + f""",
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
common AS (
  SELECT cd.doc_a, cd.doc_b, count(*) AS c
  FROM cand cd
  JOIN sh sha ON sha.doc_id = cd.doc_a
  JOIN sh shb ON shb.doc_id = cd.doc_b AND shb.shingle = sha.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common.c / (sa.c + sb.c - common.c), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = common.doc_a
JOIN sz sb ON sb.doc_id = common.doc_b
WHERE common.c / (sa.c + sb.c - common.c) >= {threshold}
"""


def containment_pairs_lsh_sql(
    threshold: float = 0.0, n_hashes: int = 16, bands: int = 4
) -> str:
    """Exact n-gram containment on MinHash-LSH candidates — twin of
    dedup.containment_pairs(candidates=lsh_candidate_pairs(...)): both
    directional containments plus the max (doc-inside-doc detector).
    Same candidate CTEs as the jaccard twin; only the final formula
    differs (|common|/|A|, |common|/|B|, |common|/min)."""
    return _shingle_ctes() + _lsh_band_ctes(n_hashes, bands) + f""",
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
common AS (
  SELECT cd.doc_a, cd.doc_b, count(*) AS c
  FROM cand cd
  JOIN sh sha ON sha.doc_id = cd.doc_a
  JOIN sh shb ON shb.doc_id = cd.doc_b AND shb.shingle = sha.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common.c / sa.c, 6) AS cont_a_in_b,
       round(common.c / sb.c, 6) AS cont_b_in_a,
       round(common.c / least(sa.c, sb.c), 6) AS containment
FROM common
JOIN sz sa ON sa.doc_id = common.doc_a
JOIN sz sb ON sb.doc_id = common.doc_b
WHERE common.c / least(sa.c, sb.c) >= {threshold}
"""


SIMHASH_CTE = """,
toks AS (SELECT doc_id, pos, tok FROM tokstream WHERE tok <> ''),
th AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (SELECT doc_id, h, b.range AS b FROM th, range(64) b),
per_bit AS (
  SELECT doc_id, b,
         sum(CASE WHEN ((instr('0123456789abcdef', substr(h, (b // 4)::int + 1, 1)) - 1)
                        >> (b % 4)::int) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, b
),
-- 64-bit fingerprint in a signed bigint; DuckDB raises on 1::bigint << 63
-- (unlike Spark's wrapping shiftleft), so bit 63 is the literal min-int64
simh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN
               (CASE WHEN b = 63 THEN (-9223372036854775807 - 1)::bigint
                     ELSE (1::bigint << b::int) END)
             ELSE 0 END)::bigint AS simhash
  FROM per_bit GROUP BY doc_id
)"""

SIMHASH_SQL = base_ctes() + SIMHASH_CTE + """
SELECT doc_id, simhash FROM simh
"""

def simhash_pairs_sql(max_hamming: int = 3) -> str:
    return base_ctes() + SIMHASH_CTE + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::int AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


_VEC_CTE = """
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
)"""


def _nrm(side: str) -> str:
    return f"sqrt({_fold_sum(f'list_transform({side}.v, x -> x * x)')})"


def _bucket_sql(plane_ws: list[list[float]], vexpr: str = "v") -> str:
    """Sign-projection bucket id for one band: literal +-1 weight arrays,
    sequential fold — bit-identical to similarity._bucket_expr."""
    terms = []
    for p, ws in enumerate(plane_ws):
        arr = "[" + ", ".join(f"{w:.1f}" for w in ws) + "]"
        proj = _fold_sum(
            f"list_transform(generate_series(1, len({vexpr})), i -> {vexpr}[i] * ({arr})[i])"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _emb_lsh_ctes(
    plane_weights: list[list[float]], n_bands: int, n_planes: int,
    multi_probe: int = 0,
) -> str:
    """Shared banded/cand/scored CTE chain for the multi-band sign-LSH
    candidate generation — single source of truth for BOTH gated twins
    (embedding_neardup_lsh_sql and knn_join_sql); a banding or fold change
    here changes both, matching the Spark side where knn_join reuses
    embedding_neardup. ``multi_probe=1`` mirrors the one-sided hamming-1
    probe: side b of the self-join also emits every bucket with one sign
    bit flipped (xor with 1<<p)."""
    band_selects = "\nUNION ALL\n".join(
        f"SELECT id, {b} AS band_id, "
        f"{_bucket_sql(plane_weights[b * n_planes:(b + 1) * n_planes])} AS bucket FROM v"
        for b in range(n_bands)
    )
    if multi_probe >= 1:
        flips = "\nUNION ALL\n".join(
            f"SELECT id, band_id, xor(bucket, {1 << p}) AS bucket FROM banded"
            for p in range(n_planes)
        )
        probe_cte = f",\nbanded_probe AS (\nSELECT id, band_id, bucket FROM banded\nUNION ALL\n{flips}\n)"
        b_side = "banded_probe"
    else:
        probe_cte = ""
        b_side = "banded"
    dot = _fold_sum("list_transform(generate_series(1, len(av)), i -> av[i] * bv[i])")
    na = f"sqrt({_fold_sum('list_transform(av, x -> x * x)')})"
    nb = f"sqrt({_fold_sum('list_transform(bv, x -> x * x)')})"
    return f""",
banded AS ({band_selects}){probe_cte},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN {b_side} b
    ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.id < b.id
),
pe AS (
  SELECT c.id_a, c.id_b, va.v AS av, vb.v AS bv
  FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
),
scored AS (SELECT id_a, id_b, {dot} / ({na} * {nb}) AS cosine FROM pe)"""


def embedding_neardup_lsh_sql(
    plane_weights: list[list[float]],
    n_bands: int,
    n_planes: int,
    threshold: float = 0.4,
) -> str:
    """Multi-band sign-LSH near-dup twin of operators/dedup.embedding_neardup
    (default path): plane_weights holds n_bands * n_planes literal weight
    rows; band b buckets with rows [b*n_planes, (b+1)*n_planes)."""
    return _VEC_CTE + _emb_lsh_ctes(plane_weights, n_bands, n_planes) + f"""
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM scored
WHERE cosine >= {threshold}
"""


def ann_bruteforce_sql(query_id: int = 0, k: int = 10) -> str:
    return _VEC_CTE + f""",
q AS (SELECT v FROM v WHERE id = {query_id}),
scored AS (
  SELECT a.id,
         {_fold_sum("list_transform(generate_series(1, len(a.v)), i -> a.v[i] * q.v[i])")}
         / ({_nrm('a')} * sqrt({_fold_sum('list_transform(q.v, x -> x * x)')})) AS cosine
  FROM v a, q WHERE a.id <> {query_id}
),
ranked AS (
  SELECT id, cosine, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rank
  FROM scored
)
SELECT id, round(cosine, 6) AS cosine, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def ann_lsh_sql(plane_weights: list[list[float]], query_id: int = 0, k: int = 10) -> str:
    """plane_weights: n_planes x n_dims literal +-1 weights (from
    similarity.plane_weight) inlined so the bucketing matches Spark."""
    bucket = _bucket_sql(plane_weights)
    return _VEC_CTE + f""",
vb AS (SELECT id, v, {bucket} AS bucket FROM v),
q AS (SELECT v, bucket FROM vb WHERE id = {query_id}),
cands AS (
  SELECT a.id, a.v, q.v AS qv FROM vb a, q
  WHERE a.bucket = q.bucket AND a.id <> {query_id}
),
scored AS (
  SELECT id,
         {_fold_sum("list_transform(generate_series(1, len(v)), i -> v[i] * qv[i])")}
         / (sqrt({_fold_sum('list_transform(v, x -> x * x)')}) * sqrt({_fold_sum('list_transform(qv, x -> x * x)')})) AS cosine
  FROM cands
),
ranked AS (
  SELECT id, cosine, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rank
  FROM scored
)
SELECT id, round(cosine, 6) AS cosine, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def knn_join_sql(
    plane_weights: list[list[float]], n_bands: int, n_planes: int, k: int = 5,
    multi_probe: int = 0,
) -> str:
    """k-NN self-join twin of similarity.knn_join: same multi-band sign-LSH
    candidates as embedding_neardup_lsh_sql (shared _emb_lsh_ctes chain),
    mirrored to both directions, per-id rank window."""
    return _VEC_CTE + _emb_lsh_ctes(plane_weights, n_bands, n_planes, multi_probe) + f""",
both_dirs AS (
  SELECT id_a AS id, id_b AS nb, cosine FROM scored
  UNION ALL
  SELECT id_b AS id, id_a AS nb, cosine FROM scored
),
ranked AS (
  SELECT id, nb, cosine,
         row_number() OVER (PARTITION BY id ORDER BY cosine DESC, nb ASC) AS rank
  FROM both_dirs
)
SELECT id, nb AS neighbor_id, round(cosine, 6) AS cosine, rank::int AS rank
FROM ranked WHERE rank <= {k}
"""


def distinct_sketch_sql(m: int = 1024) -> str:
    """Linear-counting twin of text_analysis.distinct_token_sketch."""
    return base_ctes() + f""",
b AS (
  SELECT DISTINCT ('0x' || substr(md5(term), 1, 8))::bigint % {m} AS bucket
  FROM worthy
)
SELECT {m}::bigint AS n_buckets, count(*)::bigint AS occupied,
       round({m}.0 * ln({m}.0 / ({m} - count(*))), 6) AS estimate
FROM b
"""


def ann_ivf_sql(
    query_id: int = 0, k: int = 10, n_centroids: int = 16, n_probe: int = 4
) -> str:
    """IVF ANN twin of similarity.ann_ivf_topk: centroids = vectors with
    id < n_centroids; assignment by cosine (ties -> smaller centroid id);
    query probes its n_probe best centroids; exact rerank inside."""
    dot_vc = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * cent.cv[i])"
    )
    nv = f"sqrt({_fold_sum('list_transform(a.v, x -> x * x)')})"
    nc = f"sqrt({_fold_sum('list_transform(cent.cv, x -> x * x)')})"
    dot_q = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * q.qv[i])"
    )
    nq = f"sqrt({_fold_sum('list_transform(q.qv, x -> x * x)')})"
    return _VEC_CTE + f""",
cent AS (SELECT id AS c, v AS cv FROM v WHERE id < {n_centroids}),
aff AS (
  SELECT a.id, cent.c, {dot_vc} / ({nv} * {nc}) AS cos
  FROM v a, cent
),
assigned AS (
  SELECT id, c AS cluster FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY cos DESC, c ASC) AS rn
    FROM aff
  ) WHERE rn = 1
),
probes AS (
  SELECT c FROM (
    SELECT c, row_number() OVER (ORDER BY cos DESC, c ASC) AS rn
    FROM aff WHERE id = {query_id}
  ) WHERE rn <= {n_probe}
),
q AS (SELECT v AS qv FROM v WHERE id = {query_id}),
scored AS (
  SELECT a.id, {dot_q} / ({nv} * {nq}) AS cosine
  FROM v a JOIN assigned s ON s.id = a.id
  JOIN probes p ON s.cluster = p.c, q
  WHERE a.id <> {query_id}
),
ranked AS (
  SELECT id, cosine, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rank
  FROM scored
)
SELECT id, round(cosine, 6) AS cosine, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def ann_ivf_trained_sql(
    centroids: list[list[float]],
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 4,
) -> str:
    """Trained-quantizer IVF twin of similarity.ann_ivf_topk(centroids=…):
    identical to ann_ivf_sql except the coarse centroids are INLINED
    literals (the 6dp-rounded kmeans_fit_fixed output, which the caller
    re-derives in DuckDB via unrolled kmeans_update_sql rounds so neither
    engine's floats drift)."""
    cent_vals = ", ".join(
        f"({j}, {_centroid_arr(c)}::double[])" for j, c in enumerate(centroids)
    )
    dot_vc = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * cent.cv[i])"
    )
    nv = f"sqrt({_fold_sum('list_transform(a.v, x -> x * x)')})"
    nc = f"sqrt({_fold_sum('list_transform(cent.cv, x -> x * x)')})"
    dot_q = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * q.qv[i])"
    )
    nq = f"sqrt({_fold_sum('list_transform(q.qv, x -> x * x)')})"
    return _VEC_CTE + f""",
cent AS (SELECT * FROM (VALUES {cent_vals}) t(c, cv)),
aff AS (
  SELECT a.id, cent.c, {dot_vc} / ({nv} * {nc}) AS cos
  FROM v a, cent
),
assigned AS (
  SELECT id, c AS cluster FROM (
    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY cos DESC, c ASC) AS rn
    FROM aff
  ) WHERE rn = 1
),
probes AS (
  SELECT c FROM (
    SELECT c, row_number() OVER (ORDER BY cos DESC, c ASC) AS rn
    FROM aff WHERE id = {query_id}
  ) WHERE rn <= {n_probe}
),
q AS (SELECT v AS qv FROM v WHERE id = {query_id}),
scored AS (
  SELECT a.id, {dot_q} / ({nv} * {nq}) AS cosine
  FROM v a JOIN assigned s ON s.id = a.id
  JOIN probes p ON s.cluster = p.c, q
  WHERE a.id <> {query_id}
),
ranked AS (
  SELECT id, cosine, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rank
  FROM scored
)
SELECT id, round(cosine, 6) AS cosine, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def lang_id_sql(wordlists: dict[str, list[str]]) -> str:
    values = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in sorted(wordlists.items()) for w in ws
    )
    return base_ctes() + f""",
toks AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
wl(lang, word) AS (VALUES {values}),
totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY 1),
hits AS (
  SELECT t.doc_id, wl.lang, count(*) AS hits
  FROM toks t JOIN wl ON t.tok = wl.word GROUP BY 1, 2
),
scored AS (
  SELECT h.doc_id, h.lang, h.hits / tt.n_tokens AS score
  FROM hits h JOIN totals tt USING (doc_id)
),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scored
)
SELECT d.doc_id,
       coalesce(b.lang, 'unknown') AS predicted_lang,
       round(coalesce(b.score, 0.0), 6) AS lang_score
FROM docs d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
"""


def lang_id_ngram_sql(
    table: list[tuple[str, str, float]],
    default: dict[str, float],
    min_match: float,
) -> str:
    """Char-trigram Naive-Bayes twin of text_analysis.lang_id_ngram: the
    identical add-1-smoothed log-prob literals (full-precision repr) are
    inlined, so both engines sum the same doubles; trigrams come from the
    same tokenize-and-space-join normalization as the Spark side."""
    toks = duckdb_tokens_expr("text")
    tbl_vals = ", ".join(
        f"('{lang}', '{tri}', {logp!r})" for lang, tri, logp in table
    )
    dflt_vals = ", ".join(
        f"('{lang}', {d!r})" for lang, d in sorted(default.items())
    )
    return f"""
WITH docs AS (
  SELECT doc_id::varchar AS doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
s AS (SELECT doc_id, array_to_string({toks}, ' ') AS s FROM docs),
pos AS (
  SELECT doc_id, s, unnest(generate_series(1, length(s) - 2)) AS i
  FROM s WHERE length(s) >= 3
),
tri AS (SELECT doc_id, substr(s, i::int, 3) AS tri FROM pos),
tbl(lang, tri, logp) AS (VALUES {tbl_vals}),
dflt(lang, d) AS (VALUES {dflt_vals}),
n AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY 1),
matched AS (
  SELECT t.doc_id, b.lang, sum(b.logp) AS m, count(*) AS mc
  FROM tri t JOIN tbl b USING (tri) GROUP BY 1, 2
),
scored AS (
  SELECT n.doc_id, d.lang,
         (coalesce(ma.m, 0.0) + (n.n - coalesce(ma.mc, 0)) * d.d) / n.n AS score,
         coalesce(ma.mc, 0) / n.n AS mr
  FROM n CROSS JOIN dflt d
  LEFT JOIN matched ma ON ma.doc_id = n.doc_id AND ma.lang = d.lang
),
best AS (
  SELECT doc_id, lang, score, mr,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scored
),
sel AS (SELECT * FROM best WHERE rn = 1 AND mr >= {min_match})
SELECT d.doc_id,
       coalesce(sel.lang, 'unknown') AS predicted_lang,
       round(coalesce(sel.score, 0.0), 6) AS lang_score
FROM docs d LEFT JOIN sel USING (doc_id)
"""


def pii_sql() -> str:
    """Twin of text_analysis.redact_pii over deterministically PII-augmented
    docs (the synthetic corpus carries no real PII, so both engines append
    the same doc-derived email/ip/phone before scrubbing). Counts are on
    the ORIGINAL (augmented) text; redaction order email -> phone -> ip.
    DuckDB regexp_replace needs the explicit 'g' flag (Spark's is global
    by default)."""
    from .operators.text_analysis import PII_EMAIL_RE, PII_IP_RE, PII_PHONE_RE

    aug = (
        "(text || ' contact user' || doc_id || '@example.com or 10.0.' || "
        "(doc_id::int % 256)::varchar || '.7 call +1 555 123 4567')"
    )
    clean = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', "
        f"'<EMAIL>', 'g'), '{PII_PHONE_RE}', '<PHONE>', 'g'), '{PII_IP_RE}', "
        f"'<IP>', 'g')"
    )
    return f"""
WITH docs AS (
  SELECT doc_id::varchar AS doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
a AS (SELECT doc_id, {aug} AS t FROM docs)
SELECT doc_id,
       {clean} AS clean_text,
       len(regexp_extract_all(t, '{PII_EMAIL_RE}'))::int AS n_emails,
       len(regexp_extract_all(t, '{PII_PHONE_RE}'))::int AS n_phones,
       len(regexp_extract_all(t, '{PII_IP_RE}'))::int AS n_ips
FROM a
"""


def repetition_sql() -> str:
    """Twin of text_analysis.repetition_stats over line-doubled docs
    (text || newline || text — deterministic duplicate lines so the
    dup-line signal is non-trivial on the synthetic corpus)."""
    toks = duckdb_tokens_expr("t")
    return f"""
WITH docs AS (
  SELECT doc_id::varchar AS doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
a AS (SELECT doc_id, (text || chr(10) || text) AS t FROM docs),
lines AS (
  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM a
),
nl AS (SELECT doc_id, line FROM lines WHERE trim(line) <> ''),
line_stats AS (
  SELECT doc_id, sum(c)::bigint AS n_lines, (sum(c) - count(*))::bigint AS dup_lines
  FROM (SELECT doc_id, line, count(*) AS c FROM nl GROUP BY 1, 2) GROUP BY 1
),
tokarr AS (SELECT doc_id, {toks} AS toks FROM a),
tokstream AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM tokarr
),
tk AS (SELECT doc_id, tok, pos FROM tokstream WHERE tok <> ''),
tok_top AS (
  SELECT doc_id, sum(c)::bigint AS n_toks, max(c)::bigint AS top_tok
  FROM (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2) GROUP BY 1
),
bi AS (
  SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tk
),
bi_top AS (
  SELECT doc_id, sum(c)::bigint AS n_bi, max(c)::bigint AS top_bi
  FROM (SELECT doc_id, bigram, count(*) AS c FROM bi WHERE nxt IS NOT NULL GROUP BY 1, 2)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(ls.n_lines, 0)::int AS n_lines,
       round(CASE WHEN coalesce(ls.n_lines, 0) > 0 THEN ls.dup_lines / ls.n_lines ELSE 0.0 END, 6) AS dup_line_ratio,
       round(CASE WHEN coalesce(tt.n_toks, 0) > 0 THEN tt.top_tok / tt.n_toks ELSE 0.0 END, 6) AS top_token_ratio,
       round(CASE WHEN coalesce(bt.n_bi, 0) > 0 THEN bt.top_bi / bt.n_bi ELSE 0.0 END, 6) AS top_bigram_ratio
FROM docs d
LEFT JOIN line_stats ls USING (doc_id)
LEFT JOIN tok_top tt USING (doc_id)
LEFT JOIN bi_top bt USING (doc_id)
"""


QUALITY_SQL = base_ctes() + """,
tk AS (
  SELECT doc_id,
         length(d.text) AS n_chars,
         length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         list_filter(ta.toks, t -> t <> '') AS toks
  FROM docs d JOIN tokarr ta USING (doc_id)
),
agg AS (
  SELECT doc_id, n_chars, n_punct,
         len(toks) AS n_tokens,
         len(list_filter(toks, t -> list_contains([{stops}], t))) AS n_stop,
         list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS tok_chars
  FROM tk
)
SELECT doc_id, n_chars::int AS n_chars, n_tokens::int AS n_tokens,
       round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END, 6) AS stop_ratio,
       round(CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END, 6) AS mean_tok_len,
       round(0.4 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END * 5.0, 1.0))
             + 0.3 * least(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END * 3.0, 1.0), 6) AS quality
FROM agg
"""


def quality_sql() -> str:
    from .functions.stopwords import STOP_WORDS

    stops = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))
    return QUALITY_SQL.replace("{stops}", stops)


TOKEN_COUNTS_SQL = f"""
SELECT doc_id::varchar AS doc_id,
       len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''))::int AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::int AS bpe_ish_tokens,
       length(text)::int AS n_chars
FROM documents WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
"""


FINGERPRINT_SQL = base_ctes() + """,
th AS (
  SELECT doc_id, pos, ('0x' || substr(md5(term), 1, 8))::bigint AS th
  FROM worthy
),
fp AS (
  SELECT doc_id,
         list_reduce(list_prepend(0::bigint, list(th ORDER BY pos)),
                     (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
  FROM th GROUP BY doc_id
)
SELECT d.doc_id, coalesce(f.fingerprint, 0) AS fingerprint
FROM docs d LEFT JOIN fp f USING (doc_id)
"""


# ---------------------------------------------------------------------------
# auxiliary query features (query/suggest.py twins)
# ---------------------------------------------------------------------------

def corpus_clean_sql(
    wordlists: dict[str, list[str]], min_quality: float = 0.5
) -> str:
    """Composite cleaning-pipeline twin of _q_corpus_clean: exact-dedup
    keeper ∘ quality floor ∘ language allowlist, each stage the same SQL as
    its stand-alone gated oracle (EXACT_DEDUP_SQL / quality_sql /
    lang_id_sql), composed into one statement."""
    stops = ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))
    values = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in sorted(wordlists.items()) for w in ws
    )
    return base_ctes() + f""",
keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY sha256(text)),
tk AS (
  SELECT doc_id,
         length(d.text) AS n_chars,
         length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         list_filter(ta.toks, t -> t <> '') AS toks
  FROM docs d JOIN tokarr ta USING (doc_id)
),
qual AS (
  SELECT doc_id,
         round(0.4 * least(len(toks) / 100.0, 1.0)
               + 0.3 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END * 5.0, 1.0))
               + 0.3 * least(CASE WHEN len(toks) > 0
                                  THEN len(list_filter(toks, t -> list_contains([{stops}], t))) / len(toks)
                                  ELSE 0.0 END * 3.0, 1.0), 6) AS quality
  FROM tk
),
ltoks AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
wl(lang, word) AS (VALUES {values}),
ltotals AS (SELECT doc_id, count(*) AS n_tokens FROM ltoks GROUP BY 1),
lhits AS (
  SELECT t.doc_id, wl.lang, count(*) AS hits
  FROM ltoks t JOIN wl ON t.tok = wl.word GROUP BY 1, 2
),
lscored AS (
  SELECT h.doc_id, h.lang, h.hits / tt.n_tokens AS score
  FROM lhits h JOIN ltotals tt USING (doc_id)
),
lbest AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
    FROM lscored
  ) WHERE rn = 1
)
SELECT d.doc_id, q.quality, b.lang AS predicted_lang
FROM docs d
JOIN keep k ON k.doc_id = d.doc_id
JOIN qual q ON q.doc_id = d.doc_id
JOIN lbest b ON b.doc_id = d.doc_id
WHERE q.quality >= {min_quality}
"""


def corpus_clean_v2_sql(
    bench_max_doc_id: int = 25,
    max_hit_ratio: float = 0.5,
    max_top_token_ratio: float = 0.12,
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.75,
    seed: str = "mix1",
) -> str:
    """Round-3 composite twin of _q_corpus_clean_v2: dedup keeper ∘
    decontamination ceiling ∘ top-token repetition ceiling ∘ per-source
    stratified sampling — each stage the same SQL as its stand-alone
    gated oracle, composed into one statement."""
    if fractions is None:
        fractions = {"src0": 1.0, "src1": 1.0, "src2": 0.5}
    case = "CASE"
    for g, f in sorted(fractions.items()):
        case += f" WHEN src.source = '{g}' THEN {float(f)!r}"
    case += f" ELSE {float(default_fraction)!r} END"
    u = (
        f"(('0x' || substr(md5('{seed}:' || d.doc_id), 1, 8))::bigint"
        f" / {float(16 ** 8)!r})"
    )
    return _shingle_ctes(3) + f""",
keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY sha256(text)),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id::int < {bench_max_doc_id}),
totals AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit FROM sh s JOIN bsh USING (shingle)
  GROUP BY 1
),
deco AS (
  SELECT t.doc_id,
         round(CASE WHEN t.n_sh > 0 THEN coalesce(h.n_hit, 0) / t.n_sh
                    ELSE 0.0 END, 6) AS hit_ratio
  FROM totals t LEFT JOIN hits h USING (doc_id)
),
tk AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
rep AS (
  SELECT doc_id,
         round(max(c) * 1.0 / sum(c), 6) AS top_token_ratio
  FROM (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2)
  GROUP BY doc_id
),
src AS (
  SELECT doc_id::varchar AS doc_id, source FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
)
SELECT d.doc_id, src.source, deco.hit_ratio, rep.top_token_ratio
FROM docs d
JOIN src ON src.doc_id = d.doc_id
JOIN keep k ON k.doc_id = d.doc_id
JOIN deco ON deco.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
WHERE {u} < {case}
  AND deco.hit_ratio <= {max_hit_ratio}
  AND rep.top_token_ratio <= {max_top_token_ratio}
"""


def autocomplete_sql(prefix: str, limit: int = 10) -> str:
    """Q14: prefix completion over looksReasonable terms, sorted, limit 10
    (SearchEngine.java:885-971)."""
    return base_ctes() + f"""
SELECT term AS suggestion FROM termstats
WHERE regexp_matches(term, '^[a-z]+$') AND length(term) <= 20
  AND term LIKE '{prefix}%'
ORDER BY term LIMIT {limit}
"""


def snippets_sql(terms: list[str], max_doc_id: int = 50) -> str:
    """Q16 snippet window + Q17 highlight twin of query/suggest.snippet_py/
    highlight_py: script/style/comment/tag strip, whitespace collapse, ''
    under 50 chars, hit = FIRST query term (query order, len >= 2) found —
    the reference's loop breaks on the first found term
    (SearchEngine.java:1072-1080) — 350-char window 80 chars before it,
    ellipses at cut edges, then wrap every \\b-term in <mark>."""
    from .query.suggest import SNIPPET_LOOKBACK, SNIPPET_MIN_TEXT, SNIPPET_WINDOW

    # first-found-term (query order), not earliest position: ordered COALESCE
    hit1 = "coalesce(" + ", ".join(
        f"nullif(strpos(lower(cleaned), '{t.lower()}'), 0)"
        for t in terms
        if len(t) >= 2
    ) + ", 0)"
    snippet = "snip"
    for t in terms:
        snippet = (
            f"regexp_replace({snippet}, '\\b({t})\\b',"
            f" '<mark>\\1</mark>', 'gi')"
        )
    return f"""
WITH docs AS (
  SELECT doc_id::varchar AS doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
    AND doc_id < {max_doc_id}
),
c AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(text, '(?is)<script[^>]*?>[\\s\\S]*?</script>', ' ', 'g'),
           '(?is)<style[^>]*?>[\\s\\S]*?</style>', ' ', 'g'),
           '(?is)<!--.*?-->', ' ', 'g'),
           '<[^>]+>', ' ', 'g'),
           '\\s+', ' ', 'g')) AS cleaned
  FROM docs
),
h AS (SELECT doc_id, cleaned, {hit1} AS hit1 FROM c),
w AS (
  SELECT doc_id, cleaned,
         CASE WHEN hit1 > 0 THEN greatest(hit1 - 1 - {SNIPPET_LOOKBACK}, 0)
              ELSE 0 END AS s
  FROM h
),
snips AS (
  SELECT doc_id,
         CASE WHEN length(cleaned) < {SNIPPET_MIN_TEXT} THEN ''
              ELSE (CASE WHEN s > 0 THEN '...' ELSE '' END)
                   || substr(cleaned, s + 1,
                             least(length(cleaned), s + {SNIPPET_WINDOW}) - s)
                   || (CASE WHEN least(length(cleaned), s + {SNIPPET_WINDOW})
                            < length(cleaned) THEN '...' ELSE '' END)
         END AS snip
  FROM w
)
SELECT doc_id, {snippet} AS snippet FROM snips
"""


def spellcheck_sql(word: str, max_distance: int = 2) -> str:
    """Q15: best Levenshtein match within distance 2, deterministic
    (distance asc, term asc) — SearchEngine.java:977-1019."""
    return base_ctes() + f""",
scored AS (
  SELECT term, levenshtein('{word}', term)::int AS distance FROM termstats
  WHERE regexp_matches(term, '^[a-z]+$') AND length(term) <= 20
),
ranked AS (
  SELECT term, distance, row_number() OVER (ORDER BY distance ASC, term ASC) AS rn
  FROM scored WHERE distance <= {max_distance}
)
SELECT term, distance FROM ranked WHERE rn = 1
"""


def spellcheck_query_sql(words: list[str], max_distance: int = 2) -> str:
    """Twin of query/suggest.spellcheck_words: best match per word of a
    whole query in one statement (per-word rank over (distance, term))."""
    values = ", ".join(
        f"({i}, '{w}')" for i, w in enumerate(words)
    )
    return base_ctes() + f""",
srt AS (
  SELECT term FROM termstats
  WHERE regexp_matches(term, '^[a-z]+$') AND length(term) <= 20
),
sqw AS (SELECT * FROM (VALUES {values}) AS t(pos, word)),
swscored AS (
  SELECT pos, word, term, levenshtein(word, term)::int AS distance
  FROM srt CROSS JOIN sqw
),
swranked AS (
  SELECT pos, word, term, distance,
         row_number() OVER (PARTITION BY pos
                            ORDER BY distance ASC, term ASC) AS rn
  FROM swscored WHERE distance <= {max_distance}
)
SELECT pos::int AS pos, word, term, distance FROM swranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# connected components (operators/graph.py) — transitive closure of the
# near-dup pair graph. The propagation oracle unrolls min-label rounds
# exactly like operators/graph.cc_propagate; the chain oracle is the
# closed form of a deterministic deep-diameter graph, gating the
# convergence-checked large-star/small-star kernel.
# ---------------------------------------------------------------------------

def _cc_prop_ctes(iterations: int) -> str:
    """edges/nodes/l0..lK CTE fragment over a ``cand (doc_a, doc_b)`` CTE:
    round-for-round twin of graph.cc_propagate."""
    # MATERIALIZED: each l{k} references l{k-1} twice — without it DuckDB
    # inlines the CTE chain and re-evaluates the shingle/LSH pipeline
    # exponentially in the unroll depth.
    parts = [""",
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM cand WHERE doc_a <> doc_b
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand WHERE doc_a <> doc_b
),
cnodes AS (SELECT DISTINCT u AS node FROM edges),
l0 AS MATERIALIZED (SELECT node, node AS label FROM cnodes)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (
  SELECT node, min(label) AS label FROM (
    SELECT node, label FROM l{k - 1}
    UNION ALL
    SELECT e.v AS node, l.label FROM edges e JOIN l{k - 1} l ON l.node = e.u
  ) GROUP BY node
)""")
    return "".join(parts)


def cc_propagate_sql(iterations: int = 4, n_hashes: int = 16, bands: int = 4) -> str:
    """(doc_id, component) after ``iterations`` min-label rounds over the
    MinHash-LSH candidate pair graph."""
    return (
        _shingle_ctes()
        + _lsh_band_ctes(n_hashes, bands)
        + _cc_prop_ctes(iterations)
        + f"""
SELECT node AS doc_id, label AS component FROM l{iterations}
"""
    )


def cc_chain_sql(chain: int = 50) -> str:
    """Closed-form components of the deterministic chain graph
    (doc_id -> doc_id - 1 unless doc_id %% chain == 0): component = the
    chain's first doc. Gates the convergence-checked star kernel on a
    diameter-(chain-1) graph no fixed unroll could cover cheaply."""
    return f"""
SELECT doc_id AS node, (doc_id - doc_id % {chain})::bigint AS component
FROM documents
"""


def cc_keepers_sql(iterations: int = 4, n_hashes: int = 16, bands: int = 4) -> str:
    """Docs surviving transitive near-dup dedup: anti-join the
    non-canonical members (label <> self) of the converged pair graph
    (converged at these scales: measured component diameter is 1,
    tests/test_graph.py asserts prop-4 == star kernel on this corpus)."""
    return (
        _shingle_ctes()
        + _lsh_band_ctes(n_hashes, bands)
        + _cc_prop_ctes(iterations)
        + f"""
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
LEFT JOIN (SELECT node FROM l{iterations} WHERE node <> label) x
  ON x.node = d.doc_id::varchar
WHERE x.node IS NULL
"""
    )


# ---------------------------------------------------------------------------
# k-means + SemDeDup (operators/clustering.py): both Lloyd steps gated
# with the SAME seeded centroid literals the Spark plan inlines —
# argmin-identical by construction (sequential-fold distances, ties to
# the lowest cluster id on both engines).
# ---------------------------------------------------------------------------

def _centroid_arr(c: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in c) + "]"


def _kmeans_assign_ctes(centroids: list[list[float]]) -> str:
    dists = []
    for c in centroids:
        arr = _centroid_arr(c)
        dists.append(
            _fold_sum(
                f"list_transform(generate_series(1, len(v)), "
                f"i -> (v[i] - ({arr})[i]) * (v[i] - ({arr})[i]))"
            )
        )
    ds = "[" + ",\n      ".join(dists) + "]"
    return f"""
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
d AS MATERIALIZED (SELECT id, v, {ds} AS ds FROM v),
asg AS (
  SELECT id, v,
         (list_position(ds, list_min(ds)) - 1)::int AS cluster,
         list_min(ds) AS sqdist
  FROM d
)"""


def kmeans_assign_sql(centroids: list[list[float]]) -> str:
    return _kmeans_assign_ctes(centroids) + """
SELECT id AS vec_id, cluster, round(sqdist, 6) AS sqdist FROM asg
"""


def kmeans_update_sql(centroids: list[list[float]]) -> str:
    dim = len(centroids[0])
    means = ", ".join(
        f"round(avg(v[{d + 1}]), 6) AS c{d}" for d in range(dim)
    )
    return _kmeans_assign_ctes(centroids) + f"""
SELECT cluster, count(*)::int AS n, {means}
FROM asg GROUP BY cluster
"""


def semantic_dedup_sql(
    centroids: list[list[float]], threshold: float = 0.4
) -> str:
    dot = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])"
    )
    return _kmeans_assign_ctes(centroids) + f""",
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         {dot} / ({_nrm('a')} * {_nrm('b')}) AS cosine
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
),
losers AS (SELECT DISTINCT id_b FROM pairs WHERE cosine >= {threshold})
SELECT e.vec_id, e.label
FROM embeddings e LEFT JOIN losers x ON x.id_b = e.vec_id
WHERE x.id_b IS NULL
"""


def more_like_this_sql(doc_id: str, k: int = 10) -> str:
    """Twin of engine.more_like_this: tf-idf-space cosine through the
    postings, 6dp-rounded score BEFORE ranking (ties: doc_id asc)."""
    return base_ctes() + f""",
w AS MATERIALIZED (
  SELECT p.term, p.doc_id, p.normalized_tf * ts.idf AS wt
  FROM postings p JOIN termstats ts USING (term)
),
norms AS MATERIALIZED (
  SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY 1
),
qw AS (SELECT term, wt FROM w WHERE doc_id = '{doc_id}'),
dots AS (
  SELECT w.doc_id, sum(w.wt * qw.wt) AS dot
  FROM w JOIN qw USING (term)
  WHERE w.doc_id <> '{doc_id}'
  GROUP BY 1
),
scored AS (
  SELECT d.doc_id,
         round(d.dot / (n.nrm * (SELECT nrm FROM norms WHERE doc_id = '{doc_id}')), 6) AS score
  FROM dots d JOIN norms n USING (doc_id)
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, score, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def pack_sequences_sql(seq_len: int = 2048) -> str:
    """Twin of text_analysis.pack_sequences: DuckDB computes the same
    global running sum with ONE window (the oracle may be serial; the
    Spark side is the distributed two-level prefix sum)."""
    return f"""
WITH tc AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''))::bigint AS n_tokens
  FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
nz AS (SELECT doc_id, n_tokens FROM tc WHERE n_tokens > 0),
cum AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::bigint AS start_offset
  FROM nz
)
SELECT doc_id, n_tokens, start_offset,
       (start_offset // {seq_len})::bigint AS first_chunk,
       ((start_offset + n_tokens - 1) // {seq_len})::bigint AS last_chunk
FROM cum
"""


def corpus_length_stats_sql(
    group_col: str = "source", len_col: str = "n_chars"
) -> str:
    """Twin of text_analysis.corpus_length_stats — quantile_cont matches
    Spark's exact percentile ((n-1)*p linear interpolation)."""
    return f"""
SELECT {group_col} AS grp,
       count(*)::bigint AS n_docs,
       round(avg({len_col}::double), 6) AS mean_len,
       round(quantile_cont({len_col}::double, 0.5), 6) AS p50,
       round(quantile_cont({len_col}::double, 0.9), 6) AS p90,
       round(quantile_cont({len_col}::double, 0.99), 6) AS p99
FROM documents GROUP BY 1
"""


FORWARD_INDEX_SQL = base_ctes() + """
SELECT doc_id,
       array_to_string(list_sort(list(DISTINCT term)), ' ') AS terms,
       count(DISTINCT term)::int AS n_terms
FROM postings GROUP BY doc_id
"""


def temperature_sample_sql(
    tau: float = 0.7, target_frac: float = 0.5, seed: str = "temp1"
) -> str:
    """Twin of text_analysis.temperature_sample: identical count ->
    pow-weight -> capped-rate arithmetic and md5 uniform."""
    u = (
        f"(('0x' || substr(md5('{seed}:' || d.doc_id::varchar), 1, 8))::bigint"
        f" / {float(16 ** 8)!r})"
    )
    return f"""
WITH d AS (
  SELECT doc_id, source FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
c AS (SELECT source, count(*)::double AS n_g FROM d GROUP BY 1),
t AS (SELECT sum(pow(n_g, {tau!r})) AS wsum, sum(n_g) AS n_tot FROM c),
r AS (
  SELECT c.source,
         least(1.0, {target_frac!r} * t.n_tot * pow(c.n_g, {tau!r})
                    / t.wsum / c.n_g) AS keep_p
  FROM c, t
)
SELECT d.doc_id::varchar AS doc_id, d.source, round(r.keep_p, 6) AS keep_p
FROM d JOIN r USING (source)
WHERE {u} < r.keep_p
"""


def ngram_counts_sql(n: int = 3, k: int = 20) -> str:
    """Twin of text_analysis.ngram_counts: ALL-occurrence n-gram counts
    over the same window-lead stream, ranked (count desc, ngram asc)."""
    leads = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {i}) OVER w" for i in range(1, n)]
    )
    return base_ctes() + f""",
toks2 AS (SELECT doc_id, pos, tok FROM tokstream WHERE tok <> ''),
g0 AS (
  SELECT {leads} AS ngram, lead(tok, {n - 1}) OVER w AS lastlead
  FROM toks2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
counted AS (
  SELECT ngram, count(*)::bigint AS n_occurrences
  FROM g0 WHERE lastlead IS NOT NULL GROUP BY 1
),
ranked AS (
  SELECT ngram, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, ngram ASC) AS rank
  FROM counted
)
SELECT ngram, n_occurrences, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def quality_linear_sql(
    weights: list[tuple[int, float]], vocab_hashes: int = 256, bias: float = 0.0
) -> str:
    """Twin of text_analysis.quality_linear: identical md5 bucket hash,
    the same (bucket, weight) literals as a VALUES table, mean-pool +
    sigmoid."""
    vals = ", ".join(f"({b}, {w!r})" for b, w in weights)
    return base_ctes() + f""",
toksq AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
feat AS (
  SELECT doc_id,
         ((('0x' || substr(md5(tok), 1, 8))::bigint) % {vocab_hashes})::int AS bucket
  FROM toksq
),
model (bucket, w) AS (VALUES {vals}),
z AS (
  SELECT f.doc_id, avg(m.w) + {bias!r} AS z
  FROM feat f JOIN model m USING (bucket)
  GROUP BY 1
)
SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob FROM z
"""


def ann_batch_sql(query_ids: list[int], k: int = 10) -> str:
    """Twin of similarity.ann_bruteforce_batch: per-query cosine scan +
    6dp-rounded rank (cosine desc, id asc)."""
    ids = ", ".join(str(int(x)) for x in query_ids)
    dot = _fold_sum(
        "list_transform(generate_series(1, len(v.v)), i -> v.v[i] * q.qv[i])"
    )
    nv = _fold_sum("list_transform(v.v, x -> x * x)")
    nq = _fold_sum("list_transform(q.qv, x -> x * x)")
    return _VEC_CTE + f""",
q AS (SELECT id AS qid, v AS qv FROM v WHERE id IN ({ids})),
scored AS (
  SELECT q.qid, v.id,
         round({dot} / (sqrt({nv}) * sqrt({nq})), 6) AS cosine
  FROM v JOIN q ON v.id <> q.qid
),
ranked AS (
  SELECT qid, id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
  FROM scored
)
SELECT qid, id, cosine, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# warehouse analytics (analytics.py) — TPC-H Q1/Q3/Q5 shapes. Money math
# in DECIMAL on both engines: exact, order-independent sums, so the hash
# gate needs no float tolerance; doubles only at the rounded output.
# ---------------------------------------------------------------------------

_LI_DEC = """
  l_extendedprice::DECIMAL(12,2) AS ep,
  l_quantity::DECIMAL(12,2) AS qty,
  l_discount::DECIMAL(5,2) AS disc,
  l_tax::DECIMAL(5,2) AS tax,
  l_extendedprice::DECIMAL(12,2) * (1.00::DECIMAL(5,2) - l_discount::DECIMAL(5,2)) AS disc_price,
  l_extendedprice::DECIMAL(12,2) * (1.00::DECIMAL(5,2) - l_discount::DECIMAL(5,2))
    * (1.00::DECIMAL(5,2) + l_tax::DECIMAL(5,2)) AS charge
"""


def pricing_summary_sql(cutoff: str = "1998-09-02") -> str:
    return f"""
WITH x AS (
  SELECT l_returnflag, l_linestatus, {_LI_DEC}
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cutoff} 00:00:00'
),
a AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty) AS sq, sum(ep) AS sb, sum(disc_price) AS sd,
         sum(charge) AS sc, sum(disc) AS sdisc, count(*)::bigint AS count_order
  FROM x GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       round(sq::double, 2) AS sum_qty,
       round(sb::double, 2) AS sum_base_price,
       round(sd::double, 4) AS sum_disc_price,
       round(sc::double, 6) AS sum_charge,
       round(sq::double / count_order, 6) AS avg_qty,
       round(sb::double / count_order, 6) AS avg_price,
       round(sdisc::double / count_order, 6) AS avg_disc,
       count_order
FROM a
"""


def top_revenue_orders_sql(
    segment: str = "BUILDING", date: str = "1997-03-15", k: int = 10
) -> str:
    return f"""
WITH x AS (
  SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         l.l_extendedprice::DECIMAL(12,2)
           * (1.00::DECIMAL(5,2) - l.l_discount::DECIMAL(5,2)) AS disc_price
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = '{segment}'
    AND o.o_orderdate < TIMESTAMP '{date} 00:00:00'
    AND l.l_shipdate > TIMESTAMP '{date} 00:00:00'
),
rev AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(disc_price)::double, 4) AS revenue
  FROM x GROUP BY 1, 2, 3
),
ranked AS (
  SELECT l_orderkey, revenue,
         round(epoch(o_orderdate), 6) AS o_orderdate_epoch, o_orderpriority,
         row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rank
  FROM rev
)
SELECT l_orderkey, revenue, o_orderdate_epoch, o_orderpriority, rank::int AS rank
FROM ranked WHERE rank <= {k}
"""


def regional_revenue_sql(
    region_name: str = "ASIA",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> str:
    return f"""
SELECT n.n_name,
       round(sum(l.l_extendedprice::DECIMAL(12,2)
                 * (1.00::DECIMAL(5,2) - l.l_discount::DECIMAL(5,2)))::double,
             4) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region_name}'
  AND o.o_orderdate >= TIMESTAMP '{date_lo} 00:00:00'
  AND o.o_orderdate < TIMESTAMP '{date_hi} 00:00:00'
GROUP BY 1
"""


def top_docs_per_group_sql(
    k: int = 3, group_col: str = "source", len_col: str = "n_chars"
) -> str:
    """Twin of text_analysis.top_docs_per_group."""
    return f"""
WITH ranked AS (
  SELECT {group_col} AS grp, doc_id, {len_col} AS n_chars,
         row_number() OVER (
           PARTITION BY {group_col} ORDER BY {len_col} DESC, doc_id ASC
         ) AS rank
  FROM documents
)
SELECT grp, doc_id, n_chars, rank::int AS rank FROM ranked WHERE rank <= {k}
"""


def length_histogram_sql(len_col: str = "n_chars", max_bucket: int = 40) -> str:
    """Twin of text_analysis.length_histogram — the identical exact
    integer CASE bucketing (no float log2)."""
    case = "-1"
    for b in range(max_bucket + 1):
        case = f"CASE WHEN {len_col} >= {1 << b} THEN {b} ELSE {case} END"
    return f"""
WITH b AS (SELECT ({case})::int AS bucket FROM documents)
SELECT bucket,
       (CASE WHEN bucket < 0 THEN 0 ELSE (1::bigint << bucket) END)::bigint AS lo,
       (CASE WHEN bucket < 0 THEN 1 ELSE (1::bigint << (bucket + 1)) END)::bigint AS hi,
       count(*)::bigint AS n_docs
FROM b GROUP BY 1
"""


def zorder_sql(bits: int = 16) -> str:
    """Twin of layout.zvalue over events: z(user_id, epoch-hour mod
    2^bits) — identical bit interleave, term for term."""
    terms = []
    for i in range(bits):
        terms.append(f"((((user_id >> {i}) & 1)::bigint) << {2 * i + 1})")
        terms.append(f"((((hr >> {i}) & 1)::bigint) << {2 * i})")
    z = " + ".join(terms)
    return f"""
WITH e AS (
  -- floor() before the bigint cast: DuckDB's double->bigint ROUNDS
  -- while Spark's cast truncates; a fractional second near an hour
  -- boundary would otherwise land in different hours
  SELECT event_id, user_id,
         (floor(epoch(ts))::bigint // 3600) AS hr
  FROM events
)
SELECT event_id, user_id, ({z})::bigint AS zvalue FROM e
"""


def forecast_revenue_sql(
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> str:
    """Twin of analytics.forecast_revenue_change (TPC-H Q6 shape)."""
    return f"""
SELECT round(sum(l_extendedprice::DECIMAL(12,2)
                 * l_discount::DECIMAL(5,2))::double, 4) AS revenue,
       count(*)::bigint AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{date_lo} 00:00:00'
  AND l_shipdate < TIMESTAMP '{date_hi} 00:00:00'
  AND l_discount::DECIMAL(5,2) BETWEEN {disc_lo} AND {disc_hi}
  AND l_quantity < {max_qty}
"""


def chunk_documents_sql(chunk_chars: int = 500, overlap: int = 100) -> str:
    """Twin of text_analysis.chunk_documents — identical integer window
    arithmetic and md5 over the same substring."""
    step = chunk_chars - overlap
    return f"""
WITH d AS (
  SELECT doc_id::varchar AS doc_id, text, length(text) AS ln FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
),
n AS (
  SELECT doc_id, text,
         CASE WHEN ln <= {chunk_chars} THEN 1
              ELSE 1 + ((ln - {chunk_chars} + {step} - 1) // {step}) END AS n_chunks
  FROM d
),
c AS (
  SELECT doc_id, text,
         unnest(generate_series(0, n_chunks - 1))::int AS chunk_id
  FROM n
)
SELECT doc_id, chunk_id,
       (chunk_id * {step})::bigint AS chunk_start,
       length(substr(text, chunk_id * {step} + 1, {chunk_chars}))::int AS chunk_len,
       md5(substr(text, chunk_id * {step} + 1, {chunk_chars})) AS chunk_sha
FROM c
"""


# ---------------------------------------------------------------------------
# Exact duplicate-substring detection (twins of operators/dedup
# duplicate_windows / substring_spans / substring_dup_stats)
# ---------------------------------------------------------------------------

def _substring_window_ctes(w: int = 8, keep_one: bool = False) -> str:
    """docs -> filtered token array -> w-token window hashes (1-based start
    pos) -> corpus-wide counts -> duplicated window starts. Value-identical
    twin of dedup.duplicate_windows (min_count=2); keep_one=True
    spares the corpus-first occurrence per hash (argmin over
    (doc_id, pos), string order — dedup.drop_keeper_occurrences)."""
    if keep_one:
        dup = f"""
dup AS (
  SELECT doc_id, pos FROM (
    SELECT wi.doc_id, wi.pos,
           row_number() OVER (PARTITION BY whash
                              ORDER BY wi.doc_id ASC, wi.pos ASC) AS rn
    FROM wins wi JOIN wcnt USING (whash) WHERE c >= 2
  ) WHERE rn > 1)"""
    else:
        dup = """
dup AS (SELECT wi.doc_id, wi.pos FROM wins wi JOIN wcnt USING (whash) WHERE c >= 2)"""
    return base_ctes() + f""",
wtok AS (SELECT doc_id, list_filter(toks, t -> t <> '') AS toks FROM tokarr),
wins AS (
  SELECT doc_id, unnest(ws) AS whash, generate_subscripts(ws, 1) AS pos
  FROM (SELECT doc_id, list_transform(generate_series(1, len(toks) - {w - 1}),
          i -> md5(array_to_string(toks[i:i + {w - 1}], ' '))) AS ws FROM wtok)
),
wcnt AS (SELECT whash, count(*) AS c FROM wins GROUP BY 1),{dup}"""


def _substring_span_ctes(w: int = 8, keep_one: bool = False) -> str:
    return _substring_window_ctes(w, keep_one) + f""",
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {w}
              THEN 1 ELSE 0 END AS brk
  FROM dup),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl),
spans AS (
  SELECT doc_id, min(pos)::int AS span_start, (max(pos) + {w - 1})::int AS span_end,
         count(*)::int AS n_windows
  FROM grp GROUP BY doc_id, g)"""


def substring_spans_sql(w: int = 8) -> str:
    return _substring_span_ctes(w) + """
SELECT doc_id, span_start, span_end, n_windows FROM spans
"""


def remove_dup_spans_sql(w: int = 8, keep_one: bool = False) -> str:
    """Twin of dedup.remove_dup_spans: excise every duplicated span from
    the token stream, re-join with single spaces (token-level text);
    keep_one=True is the Lee-et-al keep-one-occurrence variant."""
    return _substring_span_ctes(w, keep_one) + """,
rtok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM wtok),
rkept AS (
  SELECT t.doc_id, t.pos, t.tok FROM rtok t
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = t.doc_id
      AND t.pos BETWEEN s.span_start AND s.span_end)
),
ragg AS (
  SELECT doc_id, count(*) AS nk,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM rkept GROUP BY 1),
rtot AS (SELECT doc_id, len(toks)::int AS n_tokens FROM wtok)
SELECT r.doc_id, r.n_tokens,
       (r.n_tokens - coalesce(a.nk, 0))::int AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM rtot r LEFT JOIN ragg a USING (doc_id)
"""


def substring_stats_sql(w: int = 8) -> str:
    return _substring_span_ctes(w) + """,
agg AS (
  SELECT doc_id, sum(n_windows) AS ndw, sum(span_end - span_start + 1) AS dtok
  FROM spans GROUP BY 1),
ntok AS (SELECT doc_id, len(toks)::int AS n_tokens FROM wtok)
SELECT n.doc_id, n.n_tokens,
       coalesce(a.ndw, 0)::int AS n_dup_windows,
       coalesce(a.dtok, 0)::int AS dup_tokens,
       round(CASE WHEN n.n_tokens > 0
                  THEN coalesce(a.dtok, 0) / n.n_tokens ELSE 0.0 END, 6) AS dup_fraction
FROM ntok n LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring (twin of text_analysis.bigram_lm_stats,
# self-trained form: train corpus == scored corpus)
# ---------------------------------------------------------------------------

def _bigram_lm_ctes(alpha: float = 0.1) -> str:
    """CTE suffix (appended to any chain containing tokarr) ending in
    lmstats(doc_id, n_bigrams, avg_logprob, ppl) — composable into the
    cleaning-pipeline oracles. lm-prefixed names avoid collisions."""
    a = repr(float(alpha))
    return f""",
lmtok AS MATERIALIZED (
  SELECT doc_id, list_filter(toks, t -> t <> '') AS toks FROM tokarr),
lmbg AS MATERIALIZED (
  SELECT doc_id, unnest(bs) AS bigram
  FROM (SELECT doc_id, list_transform(generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i + 1]) AS bs FROM lmtok)),
lmbcnt AS MATERIALIZED (SELECT bigram, count(*) AS c12 FROM lmbg GROUP BY 1),
lmucnt AS MATERIALIZED (
  SELECT tok, count(*) AS c1
  FROM (SELECT unnest(toks) AS tok FROM lmtok) GROUP BY 1),
lmvoc AS (SELECT count(*) AS v FROM lmucnt),
lmsc AS (
  SELECT g.doc_id,
         ln((coalesce(c.c12, 0) + {a}) / (coalesce(u.c1, 0) + {a} * lmvoc.v)) AS lp
  FROM lmbg g
  LEFT JOIN lmbcnt c USING (bigram)
  LEFT JOIN lmucnt u ON split_part(g.bigram, ' ', 1) = u.tok
  CROSS JOIN lmvoc),
lmagg AS (SELECT doc_id, count(*) AS nb, sum(lp) AS slp FROM lmsc GROUP BY 1),
lmstats AS (
  SELECT w.doc_id,
         coalesce(a2.nb, 0)::int AS n_bigrams,
         round(CASE WHEN a2.nb > 0 THEN a2.slp / a2.nb ELSE 0.0 END, 6) AS avg_logprob,
         round(CASE WHEN a2.nb > 0 THEN exp(-(a2.slp / a2.nb)) ELSE 1.0 END, 6) AS ppl
  FROM lmtok w LEFT JOIN lmagg a2 USING (doc_id))"""


def bigram_lm_sql(alpha: float = 0.1) -> str:
    return base_ctes() + _bigram_lm_ctes(alpha) + """
SELECT doc_id, n_bigrams, avg_logprob, ppl FROM lmstats
"""


def corpus_clean_v3_sql(
    bench_max_doc_id: int = 25,
    max_hit_ratio: float = 0.5,
    max_top_token_ratio: float = 0.12,
    max_ppl: float = 31.5,
    alpha: float = 0.1,
    fractions: dict[str, float] | None = None,
    default_fraction: float = 0.75,
    seed: str = "mix1",
) -> str:
    """Round-4 composite: the v2 recipe (dedup keeper ∘ decontamination
    ceiling ∘ repetition ceiling ∘ stratified sample) with the bigram-LM
    perplexity ceiling composed in — every stage still the same SQL as
    its stand-alone gated oracle, one statement."""
    if fractions is None:
        fractions = {"src0": 1.0, "src1": 1.0, "src2": 0.5}
    case = "CASE"
    for g, f in sorted(fractions.items()):
        case += f" WHEN src.source = '{g}' THEN {float(f)!r}"
    case += f" ELSE {float(default_fraction)!r} END"
    u = (
        f"(('0x' || substr(md5('{seed}:' || d.doc_id), 1, 8))::bigint"
        f" / {float(16 ** 8)!r})"
    )
    return _shingle_ctes(3) + _bigram_lm_ctes(alpha) + f""",
keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY sha256(text)),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id::int < {bench_max_doc_id}),
totals AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
hits AS (
  SELECT s.doc_id, count(*) AS n_hit FROM sh s JOIN bsh USING (shingle)
  GROUP BY 1
),
deco AS (
  SELECT t.doc_id,
         round(CASE WHEN t.n_sh > 0 THEN coalesce(h.n_hit, 0) / t.n_sh
                    ELSE 0.0 END, 6) AS hit_ratio
  FROM totals t LEFT JOIN hits h USING (doc_id)
),
tk AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
rep AS (
  SELECT doc_id,
         round(max(c) * 1.0 / sum(c), 6) AS top_token_ratio
  FROM (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2)
  GROUP BY doc_id
),
src AS (
  SELECT doc_id::varchar AS doc_id, source FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
)
SELECT d.doc_id, src.source, deco.hit_ratio, rep.top_token_ratio, lm.ppl
FROM docs d
JOIN src ON src.doc_id = d.doc_id
JOIN keep k ON k.doc_id = d.doc_id
JOIN deco ON deco.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
JOIN lmstats lm ON lm.doc_id = d.doc_id
WHERE {u} < {case}
  AND deco.hit_ratio <= {max_hit_ratio}
  AND rep.top_token_ratio <= {max_top_token_ratio}
  AND lm.ppl <= {max_ppl}
"""


# ---------------------------------------------------------------------------
# Gopher quality rule-set (twin of text_analysis.gopher_rules)
# ---------------------------------------------------------------------------

def gopher_rules_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    stop_words: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with"),
    min_stop: int = 2,
) -> str:
    """Twin of text_analysis.gopher_rules: identical thresholds inlined,
    token aggregates from the shared tokstream, symbol counts via the
    same replace-length arithmetic on raw text."""
    stops = ", ".join(f"'{w}'" for w in sorted(stop_words))
    return base_ctes() + f""",
gt AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
ga AS (
  SELECT doc_id,
         count(*) AS n_words,
         sum(length(tok)) AS tok_chars,
         count(*) FILTER (WHERE regexp_matches(tok, '[a-z]')) AS n_alpha,
         count(DISTINCT tok) FILTER (WHERE tok IN ({stops})) AS n_stop
  FROM gt GROUP BY 1
),
gsym AS (
  SELECT doc_id,
         (length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3 AS n_symbols
  FROM docs
),
gm AS (
  SELECT d.doc_id,
         coalesce(a.n_words, 0) AS n_words,
         CASE WHEN coalesce(a.n_words, 0) > 0
              THEN a.tok_chars * 1.0 / a.n_words ELSE 0.0 END AS mean_len,
         CASE WHEN coalesce(a.n_words, 0) > 0
              THEN a.n_alpha * 1.0 / a.n_words ELSE 0.0 END AS frac_alpha,
         CASE WHEN coalesce(a.n_words, 0) > 0
              THEN s.n_symbols * 1.0 / a.n_words ELSE 0.0 END AS sym_ratio,
         coalesce(a.n_stop, 0) AS n_stop
  FROM docs d
  LEFT JOIN ga a USING (doc_id)
  JOIN gsym s ON s.doc_id = d.doc_id
)
SELECT doc_id,
       n_words::int AS n_words,
       round(mean_len, 6) AS mean_word_len,
       round(frac_alpha, 6) AS frac_alpha_words,
       round(sym_ratio, 6) AS symbol_ratio,
       n_stop::int AS n_stop_distinct,
       (n_words >= {min_words} AND n_words <= {max_words})::int AS pass_word_count,
       (mean_len >= {min_mean_len!r} AND mean_len <= {max_mean_len!r})::int AS pass_mean_len,
       (sym_ratio <= {max_symbol_ratio!r})::int AS pass_symbol,
       (frac_alpha >= {min_alpha_frac!r})::int AS pass_alpha,
       (n_stop >= {min_stop})::int AS pass_stop,
       ((n_words >= {min_words} AND n_words <= {max_words})
        AND (mean_len >= {min_mean_len!r} AND mean_len <= {max_mean_len!r})
        AND (sym_ratio <= {max_symbol_ratio!r})
        AND (frac_alpha >= {min_alpha_frac!r})
        AND (n_stop >= {min_stop}))::int AS pass_gopher
FROM gm
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (twin of text_analysis.dsir_importance with the
# target = documents of one source value, the gated query's form)
# ---------------------------------------------------------------------------

def dsir_importance_sql(target_source: str = "src0", alpha: float = 0.1) -> str:
    a = repr(float(alpha))
    return base_ctes() + f""",
dk AS (SELECT doc_id, tok FROM tokstream WHERE tok <> ''),
dtgt AS (
  SELECT k.doc_id, k.tok FROM dk k
  JOIN documents dd ON dd.doc_id::varchar = k.doc_id
  WHERE dd.source = '{target_source}'
),
dcb AS MATERIALIZED (SELECT tok, count(*) AS c_b FROM dk GROUP BY 1),
dct AS MATERIALIZED (SELECT tok, count(*) AS c_t FROM dtgt GROUP BY 1),
dscal AS (
  SELECT (SELECT count(*) FROM dcb) AS V,
         (SELECT sum(c_b) FROM dcb) AS n_b,
         (SELECT coalesce(sum(c_t), 0) FROM dct) AS n_t
),
dsc AS (
  SELECT k.doc_id,
         ln((coalesce(t.c_t, 0) + {a}) / (s.n_t + {a} * s.V))
         - ln((b.c_b + {a}) / (s.n_b + {a} * s.V)) AS llr
  FROM dk k
  JOIN dcb b USING (tok)
  LEFT JOIN dct t USING (tok)
  CROSS JOIN dscal s
),
dagg AS (SELECT doc_id, count(*) AS n, sum(llr) AS s FROM dsc GROUP BY 1)
SELECT d.doc_id,
       coalesce(a2.n, 0)::int AS n_tokens,
       round(CASE WHEN a2.n > 0 THEN a2.s / a2.n ELSE 0.0 END, 6) AS avg_llr
FROM docs d LEFT JOIN dagg a2 USING (doc_id)
"""


# ---------------------------------------------------------------------------
# BPE pair counts (twin of text_analysis.bpe_pair_counts)
# ---------------------------------------------------------------------------

def bpe_pair_counts_sql(k: int = 20) -> str:
    return base_ctes() + f""",
bw AS (
  SELECT tok, count(*) AS wc
  FROM tokstream WHERE tok <> '' GROUP BY 1
),
bp AS (
  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
           i -> substr(tok, i, 1) || ' ' || substr(tok, i + 1, 1))) AS pair,
         wc
  FROM bw WHERE length(tok) >= 2
),
bc AS (SELECT pair, sum(wc)::bigint AS pair_count FROM bp GROUP BY 1),
br AS (
  SELECT pair, pair_count,
         row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS rank
  FROM bc
)
SELECT pair, pair_count, rank::int AS rank FROM br WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# tf-idf keywords (twin of text_analysis.tfidf_keywords)
# ---------------------------------------------------------------------------

def tfidf_keywords_sql(k: int = 5) -> str:
    """Same worthy-token tf table as base_ctes, df by term, idf=ln(N/df),
    round BEFORE rank, ties term-ascending."""
    return base_ctes() + f""",
kdf AS (SELECT term, count(*)::int AS df FROM tf GROUP BY 1),
kn AS (SELECT count(*) AS N FROM docs),
ksc AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf * ln(kn.N * 1.0 / d.df), 6) AS tfidf
  FROM tf t JOIN kdf d USING (term) CROSS JOIN kn
),
krk AS (
  SELECT doc_id, term, tf, df, tfidf,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM ksc
)
SELECT doc_id, term, tf::int AS tf, df, tfidf, rank::int AS rank
FROM krk WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# n-gram novelty (twin of text_analysis.ngram_novelty)
# ---------------------------------------------------------------------------

def ngram_novelty_sql(n: int = 3) -> str:
    return _shingle_ctes(n) + """,
nfs AS MATERIALIZED (
  SELECT shingle, min(doc_id::bigint) AS first_seen FROM sh GROUP BY 1),
npd AS (
  SELECT s.doc_id,
         count(*) AS n_sh,
         count(*) FILTER (WHERE f.first_seen = s.doc_id::bigint) AS novel
  FROM sh s JOIN nfs f USING (shingle) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_sh, 0)::int AS n_shingles,
       round(CASE WHEN p.n_sh > 0 THEN p.novel * 1.0 / p.n_sh
                  ELSE 0.0 END, 6) AS novelty
FROM docs d LEFT JOIN npd p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters (twin of text_analysis.cms_heavy_hitters)
# ---------------------------------------------------------------------------

def cms_heavy_hitters_sql(k: int = 20, d: int = 4, width: int = 1024) -> str:
    """Identical md5-prefix bucket arithmetic (functions/hashing.py
    contract), same d x width counter table, min-over-rows estimate,
    ties token-ascending."""
    rows = f"(SELECT unnest(generate_series(0, {d - 1})) AS row) r"
    bucket = (
        f"(('0x' || substr(md5('cms' || r.row || ':' || tok), 1, 8))::bigint"
        f" % {width})"
    )
    return base_ctes() + f""",
ctk AS (SELECT tok FROM tokstream WHERE tok <> ''),
ccnt AS (
  SELECT row, bucket, count(*)::bigint AS c
  FROM (SELECT r.row, {bucket} AS bucket FROM ctk, {rows})
  GROUP BY 1, 2),
cdist AS (SELECT DISTINCT tok FROM ctk),
cprobe AS (
  SELECT tok, r.row, {bucket} AS bucket FROM cdist, {rows}),
cest AS (
  SELECT p.tok, min(c.c) AS est_count
  FROM cprobe p JOIN ccnt c USING (row, bucket) GROUP BY 1),
crk AS (
  SELECT tok AS token, est_count,
         row_number() OVER (ORDER BY est_count DESC, tok ASC) AS rank
  FROM cest)
SELECT token, est_count, rank::int AS rank FROM crk WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Hybrid BM25 + vector retrieval via reciprocal-rank fusion (twin of
# query/engine.hybrid_rrf_topk)
# ---------------------------------------------------------------------------

def hybrid_rrf_sql(
    terms: list[str],
    query_id: int = 0,
    k: int = 10,
    pool: int = 100,
    rrf_k: int = 60,
) -> str:
    """Composes the two gated retriever oracles as subqueries (each
    carries its own WITH scope) and fuses with the identical rounded-
    rank arithmetic."""
    lex = bm25_sql(terms)
    ann = ann_bruteforce_sql(query_id, pool)
    return f"""
WITH hlex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
  FROM ({lex})
  QUALIFY lex_rank <= {pool}
),
hann AS (SELECT id::varchar AS doc_id, rank AS ann_rank FROM ({ann})),
hfused AS (
  SELECT coalesce(l.doc_id, a.doc_id) AS doc_id,
         coalesce(l.lex_rank, 0)::int AS lex_rank,
         coalesce(a.ann_rank, 0)::int AS ann_rank
  FROM hlex l FULL JOIN hann a ON l.doc_id = a.doc_id
),
hscored AS (
  SELECT doc_id, lex_rank, ann_rank,
         round(CASE WHEN lex_rank > 0 THEN 1.0 / ({rrf_k} + lex_rank) ELSE 0.0 END
             + CASE WHEN ann_rank > 0 THEN 1.0 / ({rrf_k} + ann_rank) ELSE 0.0 END,
               6) AS rrf
  FROM hfused
),
hranked AS (
  SELECT doc_id, lex_rank, ann_rank, rrf,
         row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM hscored
)
SELECT doc_id, lex_rank, ann_rank, rrf, rank::int AS rank
FROM hranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# HyperLogLog distinct estimate (twin of text_analysis.hll_distinct)
# ---------------------------------------------------------------------------

def hll_distinct_sql(b: int = 8) -> str:
    m = 1 << b
    rem = 32 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    mask = (1 << rem) - 1
    return base_ctes() + f""",
htok AS (SELECT tok FROM tokstream WHERE tok <> ''),
hh AS (
  SELECT ('0x' || substr(md5(tok), 1, 8))::bigint AS h FROM htok),
hr AS (
  SELECT h // {1 << rem} AS bucket,
         CASE WHEN (h & {mask}) = 0 THEN {rem + 1}
              ELSE {rem + 1} - length(bin(h & {mask})) END AS rho
  FROM hh),
hregs AS (SELECT bucket, max(rho) AS reg FROM hr GROUP BY 1),
hagg AS (
  SELECT count(*) AS nb, sum(power(2.0, -reg)) AS s FROM hregs)
SELECT {m}::int AS m,
       ({m} - nb)::int AS n_zero_registers,
       round(CASE WHEN nb = 0 THEN 0.0
                  WHEN {alpha!r}::double * {m * m} / (s + ({m} - nb))
                       <= {2.5 * m!r}::double
                  AND ({m} - nb) > 0
                  THEN {float(m)!r}::double * ln({float(m)!r}::double / ({m} - nb))
                  ELSE {alpha!r}::double * {m * m} / (s + ({m} - nb)) END,
             4) AS est_distinct
FROM hagg
"""


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (twin of
# text_analysis.priority_sample; Efraimidis & Spirakis A-Res keys)
# ---------------------------------------------------------------------------

def priority_sample_sql(
    k: int = 50, weight_col: str = "n_chars", seed: str = "wsample1"
) -> str:
    u = (
        f"(('0x' || substr(md5('{seed}:' || doc_id), 1, 8))::bigint"
        f" / {float(16 ** 8)!r})"
    )
    return f"""
WITH wdocs AS (
  SELECT doc_id::varchar AS doc_id, {weight_col}::double AS weight
  FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
    AND {weight_col} > 0
),
wsc AS (
  SELECT doc_id, weight,
         round(power({u}, 1.0 / weight), 6) AS priority
  FROM wdocs),
wrk AS (
  SELECT doc_id, weight, priority,
         row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rank
  FROM wsc)
SELECT doc_id, weight, priority, rank::int AS rank FROM wrk WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# PMI collocations (twin of text_analysis.pmi_collocations)
# ---------------------------------------------------------------------------

def pmi_collocations_sql(k: int = 20, min_count: int = 5) -> str:
    return base_ctes() + f""",
pmtok AS (SELECT doc_id, list_filter(toks, t -> t <> '') AS toks FROM tokarr),
pmbg AS MATERIALIZED (
  SELECT unnest(bs) AS bigram
  FROM (SELECT list_transform(generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i + 1]) AS bs FROM pmtok)),
pmbc AS MATERIALIZED (SELECT bigram, count(*) AS c12 FROM pmbg GROUP BY 1),
pmuc AS MATERIALIZED (
  SELECT tok, count(*) AS c1
  FROM (SELECT unnest(toks) AS tok FROM pmtok) GROUP BY 1),
pmtot AS (
  SELECT (SELECT sum(c12) FROM pmbc) AS Nb,
         (SELECT sum(c1) FROM pmuc) AS Nu),
pmsc AS (
  SELECT split_part(b.bigram, ' ', 1) AS w1,
         split_part(b.bigram, ' ', 2) AS w2,
         b.c12::int AS c12,
         round(ln((b.c12 / Nb) / ((u1.c1 / Nu) * (u2.c1 / Nu))), 6) AS pmi
  FROM pmbc b
  JOIN pmuc u1 ON split_part(b.bigram, ' ', 1) = u1.tok
  JOIN pmuc u2 ON split_part(b.bigram, ' ', 2) = u2.tok
  CROSS JOIN pmtot
  WHERE b.c12 >= {min_count}),
pmrk AS (
  SELECT w1, w2, c12, pmi,
         row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM pmsc)
SELECT w1, w2, c12, pmi, rank::int AS rank FROM pmrk WHERE rank <= {k}
"""


def bm25f_sql(
    terms: list[str],
    k1: float = BM25_K1,
    w_title: float = 2.0,
    w_body: float = 1.0,
    b_title: float = 0.75,
    b_body: float = 0.75,
) -> str:
    """Twin of query.engine.search_bm25f: simple BM25F over {title, body}
    — identical field extraction (duckdb_title_expr = the engine's
    extractTitle contract), identical worthy-token filter, identical
    pseudo-frequency and idf formulas with the same literal order."""
    inlist = ", ".join(f"'{t}'" for t in terms if t)
    body = duckdb_tokens_expr("text")
    title_toks = _duckdb_tokens_of(duckdb_title_expr("text"))
    worth = duckdb_worth("t")
    return f"""
WITH d AS (
  SELECT doc_id::varchar AS doc_id,
         list_filter({body}, t -> t <> '' AND {worth}) AS body,
         list_filter({title_toks}, t -> t <> '' AND {worth}) AS title
  FROM documents
  WHERE text IS NOT NULL AND length(text) <= {MAX_DOC_CHARS}
),
lens AS (
  SELECT doc_id, len(body)::double AS len_b, len(title)::double AS len_t
  FROM d
),
corpus AS (
  SELECT count(*)::double AS n_docs, avg(len_b) AS avgl_b,
         avg(len_t) AS avgl_t
  FROM lens
),
tfb AS (
  SELECT doc_id, term, count(*)::double AS tf_b
  FROM (SELECT doc_id, unnest(body) AS term FROM d)
  WHERE term IN ({inlist}) GROUP BY 1, 2
),
tft AS (
  SELECT doc_id, term, count(*)::double AS tf_t
  FROM (SELECT doc_id, unnest(title) AS term FROM d)
  WHERE term IN ({inlist}) GROUP BY 1, 2
),
tf AS (
  SELECT doc_id, term,
         coalesce(tf_b, 0.0::double) AS tf_b,
         coalesce(tf_t, 0.0::double) AS tf_t
  FROM tfb FULL JOIN tft USING (doc_id, term)
),
dfs AS (SELECT term, count(*)::double AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         ln((c.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
         * ({w_title}::double * tf.tf_t /
              ((1.0 - {b_title}::double) + {b_title}::double *
               (CASE WHEN c.avgl_t > 0.0 THEN l.len_t / c.avgl_t
                     ELSE 1.0 END))
            + {w_body}::double * tf.tf_b /
              ((1.0 - {b_body}::double) + {b_body}::double *
               (CASE WHEN c.avgl_b > 0.0 THEN l.len_b / c.avgl_b
                     ELSE 1.0 END)))
         / ({k1}::double
            + ({w_title}::double * tf.tf_t /
                 ((1.0 - {b_title}::double) + {b_title}::double *
                  (CASE WHEN c.avgl_t > 0.0 THEN l.len_t / c.avgl_t
                        ELSE 1.0 END))
               + {w_body}::double * tf.tf_b /
                 ((1.0 - {b_body}::double) + {b_body}::double *
                  (CASE WHEN c.avgl_b > 0.0 THEN l.len_b / c.avgl_b
                        ELSE 1.0 END)))) AS contrib
  FROM tf
  JOIN lens l USING (doc_id)
  CROSS JOIN corpus c
  JOIN dfs USING (term)
)
SELECT doc_id, round(sum(contrib), 6) AS score
FROM scored GROUP BY doc_id
HAVING round(sum(contrib), 6) > 0.0
"""


# ---------------------------------------------------------------------------
# Anchor-text field (operators/anchors.py): markdown-link extraction ->
# module-map resolution -> aggregated per-target anchor postings, and the
# body-BM25 + anchor-field blended ranking. The synthetic link layout
# (dst1 = (id*7+3) % n, dst2 = (id+13) % n, anchor word keyed by dst % 7)
# is built identically in both engines.
# ---------------------------------------------------------------------------

ANCHOR_LEX = ["alpha", "data", "vector", "query", "merge", "spark", "filter"]
ANCHOR_MD_RE = r"\[([^\]]*)\]\(([^()\s]+)\)"


def _anchor_ctes(lead: str = "WITH") -> str:
    lex = "[" + ", ".join(f"'{w}'" for w in ANCHOR_LEX) + "]"
    worth = duckdb_worth("t")
    atoks = (
        "list_filter(string_split_regex(trim(lower(regexp_replace(regexp_replace("
        "anchor_text, '<[^>]*>', ' ', 'g'), '[^A-Za-z0-9\\s]', ' ', 'g'))), '\\s+'),"
        f" t -> t <> '' AND {worth})"
    )
    return f"""{lead}
nn AS (SELECT count(*)::bigint AS n FROM documents),
linked AS (
  SELECT d.doc_id::varchar AS src,
         d.text || ' see [' || {lex}[(((d.doc_id * 7 + 3) % nn.n) % 7 + 1)::int]
           || ' guide](mod_' || ((d.doc_id * 7 + 3) % nn.n)::varchar || ') and ['
           || {lex}[(((d.doc_id + 13) % nn.n) % 7 + 1)::int]
           || ' notes](mod_' || ((d.doc_id + 13) % nn.n)::varchar || ')' AS content
  FROM documents d, nn
),
rawpairs AS (
  SELECT src,
         unnest(regexp_extract_all(content, '{ANCHOR_MD_RE}', 2)) AS ref,
         unnest(regexp_extract_all(content, '{ANCHOR_MD_RE}', 1)) AS rawtext
  FROM linked
),
apairs AS (
  SELECT src, ref,
         trim(regexp_replace(regexp_replace(rawtext, '<[^>]*>', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS anchor_text
  FROM rawpairs
),
aresolved AS (
  SELECT p.src, m.dst::varchar AS doc_id, p.anchor_text
  FROM apairs p
  JOIN (SELECT 'mod_' || doc_id::varchar AS module, doc_id AS dst
        FROM documents) m ON p.ref = m.module
),
aterms AS (
  SELECT src, doc_id, unnest({atoks}) AS term FROM aresolved
),
aidx AS (
  SELECT doc_id, term, count(*)::int AS anchor_tf,
         count(DISTINCT src)::int AS n_srcs
  FROM aterms GROUP BY 1, 2
)"""


def anchor_postings_sql() -> str:
    """Twin of anchors.anchor_postings over the synthetic markdown-link
    corpus (extraction via the same regex, group 1 = text / group 2 =
    ref; cleanAnchorText twin; shared worthy-token filter)."""
    return _anchor_ctes() + """
SELECT doc_id, term, anchor_tf, n_srcs FROM aidx
"""


def anchor_blend_sql(terms: list[str], w_anchor: float = 2.0, k: int = 20) -> str:
    """Twin of the blended body-BM25 + anchor-field ranking: body score =
    bm25_sql's exact formula; anchor score = sum_t ln(N/df_a) * tf_a /
    (1.2 + tf_a); blend = body + w_anchor * anchor, 6dp-rounded BEFORE
    the rank window (ties: doc_id asc)."""
    inlist = ", ".join(f"'{t}'" for t in terms if t)
    return base_ctes() + _anchor_ctes(",") + f""",
adf AS (
  SELECT term, count(*)::double AS df_a FROM aidx
  WHERE term IN ({inlist}) GROUP BY 1
),
ascore AS (
  SELECT a.doc_id,
         sum(ln((SELECT n FROM nn)::double / f.df_a)
             * a.anchor_tf / (1.2 + a.anchor_tf)) AS anchor_score
  FROM aidx a JOIN adf f USING (term)
  WHERE a.term IN ({inlist})
  GROUP BY 1
),
bscore AS (
  SELECT p.doc_id,
         sum(ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
             / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
                / (SELECT avgdl FROM nstats)))) AS body_score
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})
  GROUP BY 1
),
blend AS (
  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
         round(coalesce(b.body_score, 0) + {w_anchor} * coalesce(a.anchor_score, 0), 6) AS score,
         round(coalesce(b.body_score, 0), 6) AS body_score,
         round(coalesce(a.anchor_score, 0), 6) AS anchor_score
  FROM bscore b FULL OUTER JOIN ascore a ON b.doc_id = a.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM blend
)
SELECT doc_id, score, body_score, anchor_score, rn::int AS rank
FROM ranked WHERE rn <= {k}
"""


# ---------------------------------------------------------------------------
# Paragraph-level keep-one dedup (operators/dedup.paragraph_stats /
# remove_dup_paragraphs). The synthetic paragraph layout (unique body +
# shared boilerplate + conditional intra-doc repeat) is built identically
# in both engines.
# ---------------------------------------------------------------------------

_PARA_SEP_SQL = "chr(10) || chr(10)"


def _paragraph_ctes() -> str:
    return f"""
WITH pdocs AS (
  SELECT doc_id::bigint AS doc_id,
         text || {_PARA_SEP_SQL} || 'boilerplate notice ' || (doc_id % 17)::varchar
              || {_PARA_SEP_SQL} ||
         CASE WHEN doc_id % 5 = 0
              THEN 'boilerplate notice ' || (doc_id % 17)::varchar
              ELSE 'tail ' || doc_id::varchar END AS content
  FROM documents
),
rawparas AS (
  SELECT doc_id,
         generate_subscripts(parts, 1) - 1 AS idx,
         trim(unnest(parts)) AS para
  FROM (SELECT doc_id, string_split(content, {_PARA_SEP_SQL}) AS parts
        FROM pdocs)
),
paras AS (
  SELECT doc_id, idx, para, md5(para) AS para_hash
  FROM rawparas WHERE para <> ''
)"""


def paragraph_stats_sql(min_occurrences: int = 2) -> str:
    """Twin of dedup.paragraph_stats over the synthetic paragraphs."""
    return _paragraph_ctes() + f"""
SELECT para_hash, count(*)::int AS n_occurrences,
       count(DISTINCT doc_id)::int AS n_docs
FROM paras GROUP BY 1 HAVING count(*) >= {min_occurrences}
"""


def paragraph_removal_sql() -> str:
    """Twin of dedup.remove_dup_paragraphs: keep-one (lowest doc_id,
    earliest idx) per paragraph hash, rebuild per-doc clean text in
    original paragraph order."""
    return _paragraph_ctes() + f""",
keepers AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY para_hash
                            ORDER BY doc_id ASC, idx ASC) AS rn
  FROM paras
),
agg AS (
  SELECT doc_id,
         count(*)::int AS n_paras,
         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::int AS n_kept,
         string_agg(CASE WHEN rn = 1 THEN para END, {_PARA_SEP_SQL}
                    ORDER BY idx ASC) AS clean_text
  FROM keepers GROUP BY 1
)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, 0)::int AS n_kept,
       (coalesce(a.n_paras, 0) - coalesce(a.n_kept, 0))::int AS n_removed
FROM (SELECT doc_id::bigint AS doc_id FROM documents) d
LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Product quantization ADC (operators/similarity.ann_pq_adc_topk): literal
# codebooks (computed by the same fixed-Lloyd fit both engines mirror),
# per-subspace argmin over 6dp-rounded distance arrays, ADC = sum of the
# query's per-subspace lookup entries.
# ---------------------------------------------------------------------------

def _pq_lit(vals: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]"


def _pq_sq_l2(vexpr: str, lo: int, code: list[float]) -> str:
    """round(sum_i (v[lo+i] - code[i])^2, 6) with the sequential fold
    order of the Spark side's zip_with/aggregate."""
    dsub = len(code)
    arr = _pq_lit(code)
    diffs = (
        f"list_transform(generate_series(1, {dsub}),"
        f" i -> ({vexpr}[{lo} + i] - ({arr})[i]) * ({vexpr}[{lo} + i] - ({arr})[i]))"
    )
    return f"round({_fold_sum(diffs)}, 6)"


def _pq_ctes(codebooks: list[list[list[float]]], query_id: int) -> str:
    """Shared v/q/scored/ranked chain: ADC distance of every non-query
    vector, ranked (adc asc, id asc)."""
    dsub = len(codebooks[0][0])
    code_exprs = []
    lut_exprs = []
    for m, book in enumerate(codebooks):
        lo = m * dsub
        darr = "[" + ", ".join(_pq_sq_l2("c.v", lo, cj) for cj in book) + "]"
        code_exprs.append(f"list_position({darr}, list_min({darr}))")
        qarr = "[" + ", ".join(_pq_sq_l2("q.qv", lo, cj) for cj in book) + "]"
        lut_exprs.append(qarr)
    adc = " + ".join(
        f"({lut})[{code}]" for lut, code in zip(lut_exprs, code_exprs)
    )
    return f"""
WITH v AS (
  SELECT vec_id AS id, list_transform(embedding, x -> x::double) AS v
  FROM embeddings
),
q AS (SELECT v AS qv FROM v WHERE id = {query_id}),
scored AS (
  SELECT c.id, round({adc}, 6) AS adc_dist
  FROM v c, q
  WHERE c.id <> {query_id}
),
ranked AS (
  SELECT id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, id ASC) AS rn
  FROM scored
)"""


def ann_pq_adc_sql(
    codebooks: list[list[list[float]]], query_id: int = 0, k: int = 10
) -> str:
    """Twin of similarity.ann_pq_adc_topk with the trained codebooks
    inlined as literals."""
    return _pq_ctes(codebooks, query_id) + f"""
SELECT id, adc_dist, rn::int AS rank FROM ranked WHERE rn <= {k}
"""


def ann_pq_rerank_sql(
    codebooks: list[list[list[float]]],
    query_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
) -> str:
    """Twin of similarity.ann_pq_rerank_topk: ADC top-`shortlist`
    candidates re-scored with exact squared L2 against the raw vectors."""
    exact = _fold_sum(
        "list_transform(generate_series(1, len(v.v)),"
        " i -> (v.v[i] - q.qv[i]) * (v.v[i] - q.qv[i]))"
    )
    return _pq_ctes(codebooks, query_id) + f""",
exact AS (
  SELECT v.id, round({exact}, 6) AS l2_dist
  FROM ranked r JOIN v ON v.id = r.id, q
  WHERE r.rn <= {shortlist}
),
rr AS (
  SELECT id, l2_dist,
         row_number() OVER (ORDER BY l2_dist ASC, id ASC) AS rn2
  FROM exact
)
SELECT id, l2_dist, rn2::int AS rank FROM rr WHERE rn2 <= {k}
"""


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (operators/bloom over benchmark shingles):
# membership semantics hash-gated, false positives and all — the same
# one-digest slice arithmetic as operators/bloom._slice_pos (all k
# positions are 8-hex-char slices of ONE md5 per key).
# ---------------------------------------------------------------------------

def bloom_decontaminate_sql(
    bench_max_doc_id: int = 25,
    n: int = 3,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> str:
    """Twin of the bloom-probe decontamination pass: benchmark = docs with
    doc_id < bench_max_doc_id; a train shingle "hits" iff ALL k_hashes
    bit positions are set by some benchmark shingle. The universe is
    train docs that produce >= 1 shingle (docs shorter than the shingle
    width have nothing to probe)."""
    return _shingle_ctes(n) + f""",
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id::int < {bench_max_doc_id}),
bpos AS (
  SELECT DISTINCT
    (('0x' || substr(md5(shingle), 1 + 8 * h.range, 8))::bigint
     % {m_bits}) AS pos
  FROM bsh, range({k_hashes}) h
),
probe AS (SELECT doc_id, shingle FROM sh WHERE doc_id::int >= {bench_max_doc_id}),
ppos AS (
  SELECT doc_id, shingle,
    (('0x' || substr(md5(shingle), 1 + 8 * h.range, 8))::bigint
     % {m_bits}) AS pos
  FROM probe, range({k_hashes}) h
),
hits AS (
  SELECT doc_id, shingle FROM ppos LEFT JOIN bpos USING (pos)
  GROUP BY 1, 2 HAVING count(bpos.pos) = {k_hashes}
),
agg AS (SELECT doc_id, count(*)::int AS n_bloom_hits FROM hits GROUP BY 1)
SELECT d.doc_id,
       coalesce(a.n_bloom_hits, 0) AS n_bloom_hits,
       coalesce(a.n_bloom_hits, 0) > 0 AS contaminated
FROM (SELECT DISTINCT doc_id FROM probe) d
LEFT JOIN agg a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# IVFADC (operators/similarity.ann_ivfadc_topk): coarse cells via the
# same literal-centroid argmin as the k-means gates, residual r = v - c,
# per-subspace PQ codes over residuals, the query's n_probe best cells
# derived IN SQL from the assignment distance array, ADC = per-cell
# lookup-table sum joined on the candidate's cell.
# ---------------------------------------------------------------------------

def ann_ivfadc_sql(
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    query_id: int = 0,
    k: int = 10,
    n_probe: int = 2,
) -> str:
    """Twin of similarity.ann_ivfadc_topk with the trained coarse
    centroids and residual codebooks inlined as literals (both
    re-derived IN DUCKDB by the caller — _kmeans_cents_for_oracle and
    _ivfadc_books_for_oracle — so neither engine's float dust leaks).

    Arithmetic contract with the Spark side: residual v[i]-C[i] and
    query residual q[i]-C[i] are left-assoc float subtractions; every
    distance is the sequential _fold_sum; codes and LUT entries are
    6dp-rounded before argmin/lookup; final adc 6dp-rounded before the
    (adc asc, id asc) rank."""
    dim = len(coarse[0])
    dsub = len(codebooks[0][0])
    cents_all = "[" + ", ".join(_centroid_arr(c) for c in coarse) + "]"
    cell_vals = ", ".join(
        f"({j}, {_centroid_arr(c)}::double[])" for j, c in enumerate(coarse)
    )
    code_cols = []
    for m, book in enumerate(codebooks):
        lo = m * dsub
        darr = "[" + ", ".join(_pq_sq_l2("r", lo, cj) for cj in book) + "]"
        code_cols.append(
            f"list_position({darr}, list_min({darr})) AS code_{m}"
        )
    lut_terms = []
    for m, book in enumerate(codebooks):
        lo = m * dsub
        entries = []
        for cj in book:
            arr = _pq_lit(cj)
            diffs = (
                f"list_transform(generate_series(1, {dsub}),"
                f" i -> (qr.qr[{lo} + i] - ({arr})[i])"
                f" * (qr.qr[{lo} + i] - ({arr})[i]))"
            )
            entries.append(f"round({_fold_sum(diffs)}, 6)")
        lut_terms.append(f"([{', '.join(entries)}])[t.code_{m}]")
    adc = " + ".join(lut_terms)
    return _kmeans_assign_ctes(coarse) + f""",
probes AS (
  SELECT c FROM (
    SELECT c, row_number() OVER (ORDER BY dist ASC, c ASC) AS rn
    FROM (
      SELECT generate_subscripts(ds, 1) - 1 AS c, unnest(ds) AS dist
      FROM (SELECT ds FROM d WHERE id = {query_id})
    )
  ) WHERE rn <= {n_probe}
),
q AS (SELECT v AS qv FROM v WHERE id = {query_id}),
qres AS (
  SELECT cc.cell,
         list_transform(generate_series(1, {dim}), i -> q.qv[i] - cc.cv[i]) AS qr
  FROM (VALUES {cell_vals}) cc(cell, cv), q
),
resid AS (
  SELECT id, cluster,
         list_transform(generate_series(1, {dim}),
                        i -> v[i] - ({cents_all})[cluster + 1][i]) AS r
  FROM asg
),
codes AS (
  SELECT id, cluster, {", ".join(code_cols)} FROM resid
),
scored AS (
  SELECT t.id, round({adc}, 6) AS adc_dist
  FROM codes t
  JOIN probes p ON t.cluster = p.c
  JOIN qres qr ON qr.cell = t.cluster
  WHERE t.id <> {query_id}
),
ranked AS (
  SELECT id, adc_dist,
         row_number() OVER (ORDER BY adc_dist ASC, id ASC) AS rn
  FROM scored
)
SELECT id, adc_dist, rn::int AS rank FROM ranked WHERE rn <= {k}
"""


def personalized_pagerank_sql(
    seeds: list[int], iterations: int = 3
) -> str:
    """Unrolled personalized PageRank (Haveliwala WWW'02) over the
    synthetic link graph: teleport vector p = 1/|S| on the seed set,
    r0 = p, r_{k+1} = 0.15*p + 0.85*transfer — the same per-share
    transfer and dangling-drop as pagerank_sql, base term personalized.
    The 1/|S| literal is the Python float repr so both engines multiply
    the identical double."""
    p_val = 1.0 / len(seeds)
    seed_list = ", ".join(str(int(s)) for s in seeds)
    p_case = f"(CASE WHEN d.doc_id IN ({seed_list}) THEN {p_val!r} ELSE 0.0 END)"
    parts = [
        f"""
WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
links AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id AS src, (doc_id * 3 + 7) % (SELECT n FROM nn) AS dst FROM documents
  )
),
deg AS (SELECT src, count(*)::bigint AS l FROM links GROUP BY 1),
r0 AS (SELECT d.doc_id, {p_case}::double AS rank FROM documents d)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(f""",
r{k} AS (
  SELECT d.doc_id, 0.15 * {p_case} + coalesce(c.s, 0) AS rank
  FROM documents d LEFT JOIN (
    SELECT lk.dst AS doc_id, sum(0.85 * r.rank / g.l) AS s
    FROM links lk JOIN r{k - 1} r ON r.doc_id = lk.src JOIN deg g ON g.src = lk.src
    GROUP BY lk.dst
  ) c USING (doc_id)
)""")
    parts.append(
        f"\nSELECT doc_id::varchar AS doc_id, round(rank, 6) AS rank FROM r{iterations}"
    )
    return "".join(parts)


def hits_sql(iterations: int = 2) -> str:
    """Unrolled HITS (Kleinberg JACM'99) over the synthetic link graph —
    twin of pagerank.run_hits: per round authority = Σ inbound hub then
    L2-normalize, hub = Σ outbound authority then L2-normalize; every
    normalizer rounded to 6dp BEFORE dividing (the shared cross-engine
    boundary-rounding contract), zero-coalesce for sink/source nodes."""
    parts = [
        """
WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
links AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
    UNION ALL
    SELECT doc_id AS src, (doc_id * 3 + 7) % (SELECT n FROM nn) AS dst FROM documents
  )
),
h0 AS (SELECT doc_id, 1.0::double AS hub FROM documents)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(f""",
a{k}raw AS (
  SELECT d.doc_id, coalesce(c.s, 0) AS authority
  FROM documents d LEFT JOIN (
    SELECT lk.dst AS doc_id, sum(h.hub) AS s
    FROM links lk JOIN h{k - 1} h ON h.doc_id = lk.src
    GROUP BY lk.dst
  ) c USING (doc_id)
),
a{k} AS (
  SELECT doc_id,
         CASE WHEN (SELECT round(sqrt(sum(authority * authority)), 6) FROM a{k}raw) > 0
              THEN authority / (SELECT round(sqrt(sum(authority * authority)), 6) FROM a{k}raw)
              ELSE 0.0 END AS authority
  FROM a{k}raw
),
h{k}raw AS (
  SELECT d.doc_id, coalesce(c.s, 0) AS hub
  FROM documents d LEFT JOIN (
    SELECT lk.src AS doc_id, sum(a.authority) AS s
    FROM links lk JOIN a{k} a ON a.doc_id = lk.dst
    GROUP BY lk.src
  ) c USING (doc_id)
),
h{k} AS (
  SELECT doc_id,
         CASE WHEN (SELECT round(sqrt(sum(hub * hub)), 6) FROM h{k}raw) > 0
              THEN hub / (SELECT round(sqrt(sum(hub * hub)), 6) FROM h{k}raw)
              ELSE 0.0 END AS hub
  FROM h{k}raw
)""")
    parts.append(f"""
SELECT a.doc_id::varchar AS doc_id,
       round(a.authority, 6) AS authority,
       round(h.hub, 6) AS hub
FROM a{iterations} a JOIN h{iterations} h USING (doc_id)
""")
    return "".join(parts)


def proximity_sql(w1: str, w2: str, slop: int = 4, k: int = 20) -> str:
    """Twin of engine.search_proximity: both terms within ``slop``
    positions (unordered min |q-p| over the position cross), tf-idf sum
    boosted by 1 + 1/(1+min_gap), 6dp-rounded before the
    (score desc, doc_id asc) rank."""
    return base_ctes() + f""",
hits AS (
  SELECT p.doc_id, p.term, p.normalized_tf * ts.idf AS contrib, p.positions
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ('{w1}', '{w2}') AND p.normalized_tf > 0
),
j AS (
  SELECT h1.doc_id, h1.contrib + h2.contrib AS csum,
         list_min(flatten(list_transform(h1.positions,
                  p -> list_transform(h2.positions, q -> abs(q - p))))) AS min_gap
  FROM hits h1 JOIN hits h2 ON h1.doc_id = h2.doc_id
  WHERE h1.term = '{w1}' AND h2.term = '{w2}'
),
scored AS (
  SELECT doc_id, min_gap::int AS min_gap,
         round(csum * (1.0 + 1.0 / (1.0 + min_gap::double)), 6) AS score
  FROM j WHERE min_gap <= {slop}
),
ranked AS (
  SELECT doc_id, min_gap, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT doc_id, min_gap, score, rn::int AS rank FROM ranked WHERE rn <= {k}
"""


def facets_sql(
    terms: list[str], facet_cols: tuple[str, ...] = ("lang", "source")
) -> str:
    """Twin of engine.search_facets: per-doc tf-idf sum over matched
    terms (<= 2 terms — IEEE addition commutes, so the 2-addend per-doc
    sum is order-insensitive cross-engine), one facet-count branch per
    column UNION ALLed."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    branches = []
    for c in facet_cols:
        branches.append(f"""
SELECT '{c}' AS facet, m.{c} AS value, count(*)::int AS n_docs,
       round(max(m.score), 6) AS best_score
FROM m GROUP BY 2""")
    return base_ctes() + f""",
hits AS (
  SELECT p.doc_id, sum(p.normalized_tf * ts.idf) AS score
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({tlist}) AND p.normalized_tf > 0
  GROUP BY 1
),
m AS (
  SELECT h.doc_id, h.score,
         {", ".join(f"d.{c}::varchar AS {c}" for c in facet_cols)}
  FROM hits h JOIN documents d ON d.doc_id::varchar = h.doc_id
)
{" UNION ALL ".join(branches)}
"""


def mmr_sql(
    query_id: int = 0, k: int = 5, pool: int = 20, lam: float = 0.7
) -> str:
    """Twin of similarity.mmr_rerank: relevance pool = the
    ann_bruteforce ranking (pool selected on UNROUNDED cosine, rel
    6dp-rounded), pairwise pool sims 6dp-rounded, then k greedy rounds
    unrolled as CTEs — round j picks argmax(lam*rel − (1−lam)*max sim
    to the already-selected set), ties id asc. The (1−lam) literal is
    Python's 1.0-lam repr so both engines multiply the identical
    double; round 1's score is the bare rel, as in the operator."""
    one_minus = 1.0 - lam
    cos_ab = (
        _fold_sum(
            "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])"
        )
        + f" / ({_nrm('a')} * {_nrm('b')})"
    )
    parts = [
        _VEC_CTE
        + f""",
q AS (SELECT v FROM v WHERE id = {query_id}),
scored AS (
  SELECT a.id,
         {_fold_sum("list_transform(generate_series(1, len(a.v)), i -> a.v[i] * q.v[i])")}
         / ({_nrm('a')} * sqrt({_fold_sum('list_transform(q.v, x -> x * x)')})) AS cosine
  FROM v a, q WHERE a.id <> {query_id}
),
pool AS (
  SELECT id, round(cosine, 6) AS rel FROM (
    SELECT id, cosine, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rn
    FROM scored
  ) WHERE rn <= {pool}
),
pv AS (SELECT v.id, v.v FROM v JOIN pool USING (id)),
sims AS (
  SELECT a.id AS id_a, b.id AS id_b, round({cos_ab}, 6) AS sim
  FROM pv a JOIN pv b ON a.id <> b.id
),
sel1 AS (
  SELECT id, rel AS score, 1 AS rank FROM pool
  ORDER BY rel DESC, id ASC LIMIT 1
),
selu1 AS (SELECT id, score, rank FROM sel1)"""
    ]
    for j in range(2, k + 1):
        parts.append(f""",
sel{j} AS (
  SELECT c.id,
         {lam!r} * c.rel - {one_minus!r} * (
           SELECT max(s.sim) FROM sims s
           WHERE s.id_a = c.id AND s.id_b IN (SELECT id FROM selu{j - 1})
         ) AS score,
         {j} AS rank
  FROM pool c
  WHERE c.id NOT IN (SELECT id FROM selu{j - 1})
  ORDER BY score DESC, c.id ASC LIMIT 1
),
selu{j} AS (SELECT * FROM selu{j - 1} UNION ALL SELECT * FROM sel{j})""")
    parts.append(f"""
SELECT id, round(score, 6) AS mmr_score, rank::int AS rank
FROM selu{k}
""")
    return "".join(parts)


def kneser_ney_sql(discount: float = 0.75) -> str:
    """Twin of text_analysis.kneser_ney_lm_stats: interpolated KN bigram
    perplexity with the add-half continuation floor — identical model
    tables (bigram counts, per-context totals+followers, per-word
    context fans, distinct-bigram T, vocab V) and identical arithmetic
    order."""
    d = repr(float(discount))
    pc = "((coalesce(f.n1pre, 0) + 0.5) / (knscal.t + 0.5 * knvoc.v))"
    return base_ctes() + f""",
lmtok AS MATERIALIZED (
  SELECT doc_id, list_filter(toks, t -> t <> '') AS toks FROM tokarr),
knbg AS MATERIALIZED (
  SELECT doc_id, bigram,
         split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM (SELECT doc_id, unnest(bs) AS bigram
        FROM (SELECT doc_id, list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1]) AS bs FROM lmtok))),
knbcnt AS MATERIALIZED (SELECT bigram, count(*) AS c12 FROM knbg GROUP BY 1),
knctx AS MATERIALIZED (
  SELECT w1, count(*) AS cdot, count(DISTINCT w2) AS n1fol
  FROM knbg GROUP BY 1),
knfan AS MATERIALIZED (
  SELECT w2, count(DISTINCT w1) AS n1pre FROM knbg GROUP BY 1),
knscal AS (SELECT count(DISTINCT bigram)::double AS t FROM knbg),
knvoc AS (
  SELECT count(DISTINCT tok)::double AS v
  FROM (SELECT unnest(toks) AS tok FROM lmtok)),
knsc AS (
  SELECT g.doc_id,
         ln(CASE WHEN coalesce(x.cdot, 0) > 0
              THEN greatest(coalesce(c.c12, 0) - {d}, 0.0) / x.cdot
                   + {d} * x.n1fol / x.cdot * {pc}
              ELSE {pc} END) AS lp
  FROM knbg g
  LEFT JOIN knbcnt c USING (bigram)
  LEFT JOIN knctx x USING (w1)
  LEFT JOIN knfan f USING (w2)
  CROSS JOIN knscal CROSS JOIN knvoc),
knagg AS (SELECT doc_id, count(*) AS nb, sum(lp) AS slp FROM knsc GROUP BY 1),
knstats AS (
  SELECT w.doc_id,
         coalesce(a2.nb, 0)::int AS n_bigrams,
         round(CASE WHEN a2.nb > 0 THEN a2.slp / a2.nb ELSE 0.0 END, 6) AS avg_logprob,
         round(CASE WHEN a2.nb > 0 THEN exp(-(a2.slp / a2.nb)) ELSE 1.0 END, 6) AS ppl
  FROM lmtok w LEFT JOIN knagg a2 USING (doc_id))
SELECT doc_id, n_bigrams, avg_logprob, ppl FROM knstats
"""


def code_postings_sql() -> str:
    """Twin of functions/code.code_postings: dual-index code-identifier
    postings through RE2 — same acronym/camel boundary regexes (RE2
    replacement backrefs are \\1 where Java uses $1; 'g' flag makes
    regexp_replace global like Spark's), same trivial-split rule, same
    2..30 worth gate."""
    return base_ctes() + r""",
code_idents AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '[A-Za-z_][A-Za-z0-9_]*')) AS ident
  FROM docs),
code_split AS (
  SELECT doc_id, lower(ident) AS whole,
         list_filter(
           string_split_regex(
             lower(regexp_replace(
               regexp_replace(ident, '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'),
               '([a-z0-9])([A-Z])', '\1 \2', 'g')),
             '[_ ]+'),
           t -> t <> '') AS parts
  FROM code_idents),
code_stream AS (
  SELECT doc_id,
         unnest(CASE WHEN parts = [whole] THEN [whole]
                     ELSE list_prepend(whole, parts) END) AS term
  FROM code_split)
SELECT term, doc_id, count(*)::int AS tf
FROM code_stream
WHERE length(term) BETWEEN 2 AND 30
GROUP BY 1, 2
"""


def code_autocomplete_sql(prefix: str, limit: int = 10) -> str:
    """Twin of functions/code.code_autocomplete: ranked (df desc, term
    asc) identifier completion over the dual code index — the postings
    twin wrapped as a subquery (its (term, doc_id) rows are distinct,
    so count(*) is the df)."""
    p = prefix.lower().replace("'", "''")
    return f"""
SELECT term, count(*)::int AS df
FROM ({code_postings_sql()})
WHERE starts_with(term, '{p}')
GROUP BY term
ORDER BY df DESC, term ASC
LIMIT {limit}
"""


def rm3_sql(
    terms: list[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 5,
    beta: float = 0.6,
) -> str:
    """Twin of query/engine.search_rm3: RM3 pseudo-relevance feedback —
    identical feedback-doc selection (6dp-rounded first-pass score),
    identical expansion weights (tf/doc_len * s6/tot over the feedback
    set, stop words + original terms excluded, top fb_terms by rounded
    weight), identical second-pass interpolation and rounding points."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms))) or "''"
    b = repr(float(beta))
    bm25 = (
        f"ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0) / (p.tf + {BM25_K1} * "
        f"(1.0 - {BM25_B} + {BM25_B} * p.doc_len / (SELECT avgdl FROM nstats)))"
    )
    return base_ctes() + f""",
rm3_first AS (
  SELECT p.doc_id, round(sum({bm25}), 6) AS s6
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})
  GROUP BY 1),
rm3_fb AS (
  SELECT doc_id, s6 FROM rm3_first
  ORDER BY s6 DESC, doc_id ASC LIMIT {fb_docs}),
rm3_tot AS (SELECT sum(s6) AS tot FROM rm3_fb),
rm3_cand AS (
  SELECT p.term,
         sum(p.tf::double / p.doc_len * f.s6 / (SELECT tot FROM rm3_tot)) AS w
  FROM postings p JOIN rm3_fb f USING (doc_id)
  WHERE p.term NOT IN ({inlist})
    AND NOT list_contains([{STOPS_SQL}], p.term)
  GROUP BY 1),
rm3_exp AS (
  SELECT term, w FROM rm3_cand
  ORDER BY round(w, 6) DESC, term ASC LIMIT {fb_terms}),
rm3_expn AS (
  SELECT term, w / (SELECT sum(w) FROM rm3_exp) AS wn FROM rm3_exp),
rm3_contrib AS (
  SELECT p.doc_id, {bm25} AS c
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})
  UNION ALL
  SELECT p.doc_id, {b} * e.wn * {bm25} AS c
  FROM postings p JOIN rm3_expn e USING (term)
  JOIN termstats ts USING (term)),
rm3_agg AS (
  SELECT doc_id, round(sum(c), 6) AS score FROM rm3_contrib GROUP BY 1),
rm3_ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM rm3_agg)
SELECT doc_id, score, rank::int AS rank
FROM rm3_ranked WHERE rank <= {k}
"""


def trigram_postings_sql() -> str:
    """Twin of index/trigram.trigram_postings: distinct lowercased 3-char
    windows per doc (DuckDB generate_series is empty when stop < start,
    matching the Spark short-doc guard)."""
    return base_ctes() + """,
tri AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(length(lower(text)) - 2, 0)),
           i -> substr(lower(text), i, 3)))) AS trigram
  FROM docs)
SELECT DISTINCT trigram, doc_id FROM tri WHERE length(trigram) = 3
"""


def substring_search_sql(needle: str) -> str:
    """INDEPENDENT oracle for index/trigram.substring_search: a direct
    full-scan contains() + occurrence count, no trigram machinery —
    equality proves the rarest-trigram candidate pruning is lossless."""
    nl = needle.lower().replace("'", "''")
    return base_ctes() + f"""
SELECT doc_id,
       ((length(lower(text)) - length(replace(lower(text), '{nl}', '')))
        / {len(needle)})::int AS n_occurrences
FROM docs
WHERE contains(lower(text), '{nl}')
"""


def substring_search_batch_sql(needles: list[str]) -> str:
    """INDEPENDENT oracle for index/trigram.substring_search_batch: a
    UNION ALL of per-needle full-scan contains() counts — no trigram
    machinery, so equality proves batch pruning is lossless per needle."""
    branches = []
    for n in dict.fromkeys(needles):
        nl = n.lower().replace("'", "''")
        esc = n.replace("'", "''")
        branches.append(f"""
  SELECT '{esc}' AS needle, doc_id,
         ((length(lower(text)) - length(replace(lower(text), '{nl}', '')))
          / {len(n)})::int AS n_occurrences
  FROM docs WHERE contains(lower(text), '{nl}')""")
    union = "\n  UNION ALL\n".join(branches)
    return base_ctes() + f"""
{union}
"""


def regex_search_sql(pattern: str) -> str:
    """INDEPENDENT oracle for index/regex_search.regex_search: a direct
    full-scan RE2 ``regexp_matches`` + match count, no trigram-requirement
    machinery — equality proves the compiled CNF requirement is lossless.
    The pattern must stay inside the Java-regex/RE2 common dialect (the
    gated patterns do: literals, groups, alternation, ``\\s``, ``?``)."""
    p = f"(?i){pattern}".replace("'", "''")
    return base_ctes() + f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{p}'))::int AS n_matches
FROM docs
WHERE regexp_matches(text, '{p}')
"""


_CODE_SYMBOLS_CTES = """,
codetok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM docs
),
codedocs AS (
  SELECT doc_id,
         'src/' || t[1] || '/' || t[2] || '.py' AS path,
         'repo_' || substr(md5(doc_id), 1, 1) AS repo,
         'def ' || t[1] || '_' || t[2] || '(arg):' || chr(10) ||
         '    return ' || t[3] || chr(10) ||
         'class ' || upper(t[4][1]) || t[4][2:] || 'Handler:' || chr(10) ||
         '    pass' AS content
  FROM codetok WHERE len(t) >= 4
),
codelines AS (
  SELECT doc_id,
         unnest(string_split(content, chr(10))) AS line,
         generate_subscripts(string_split(content, chr(10)), 1) AS line_no
  FROM codedocs
),
codesyms AS (
  SELECT doc_id, kind, symbol, line_no FROM (
    SELECT doc_id, 'function' AS kind, line_no,
           regexp_extract(line,
             '^[ \t]*def[ \t]+([A-Za-z_][A-Za-z0-9_]*)[ \t]*\\(', 1) AS symbol
    FROM codelines
    UNION ALL
    SELECT doc_id, 'class' AS kind, line_no,
           regexp_extract(line,
             '^[ \t]*class[ \t]+([A-Za-z_][A-Za-z0-9_]*)', 1) AS symbol
    FROM codelines
  ) WHERE symbol <> ''
)
"""


def grep_lines_sql(needle: str, context: int = 0) -> str:
    """INDEPENDENT oracle for index/grep.grep_lines over the derived
    code corpus: full-scan line split + contains, context via a bounded
    per-doc window — no trigram machinery."""
    nl = needle.lower().replace("'", "''")
    base = base_ctes() + _CODE_SYMBOLS_CTES + f""",
grepflag AS (
  SELECT doc_id, line_no, line,
         contains(lower(line), '{nl}')::int AS m
  FROM codelines
)"""
    if context <= 0:
        return base + """
SELECT doc_id, line_no::int AS line_no, line, true AS is_match
FROM grepflag WHERE m = 1
"""
    return base + f"""
SELECT doc_id, line_no::int AS line_no, line, m = 1 AS is_match
FROM (
  SELECT doc_id, line_no, line, m,
         max(m) OVER (PARTITION BY doc_id ORDER BY line_no
                      ROWS BETWEEN {context} PRECEDING
                      AND {context} FOLLOWING) AS near
  FROM grepflag
) WHERE near = 1
"""


def code_symbols_sql() -> str:
    """Twin of operators/code_symbols.extract_symbols over the derived
    deterministic python corpus (4 fixed lines built from each doc's
    first 4 tokens): same line split, same RE2-compatible definition
    regexes, 1-based line numbers."""
    return base_ctes() + _CODE_SYMBOLS_CTES + """
SELECT doc_id, kind, symbol, line_no::int AS line_no FROM codesyms
"""


def code_symbol_stats_sql() -> str:
    """Twin of operators/code_symbols.symbol_stats over the same derived
    corpus: defs and distinct docs per (symbol, kind)."""
    return base_ctes() + _CODE_SYMBOLS_CTES + """
SELECT symbol, kind,
       count(*)::int AS n_defs,
       count(DISTINCT doc_id)::int AS n_docs
FROM codesyms GROUP BY symbol, kind
"""


def code_search_ranked_sql(
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    sym_weight: float = 1.0,
    path_weight: float = 0.5,
) -> str:
    """Twin of query/code_search.code_search_ranked over the derived
    code corpus: dual-index identifier postings (same regex chain as
    code_postings_sql, over codedocs.content), BM25 with inline
    (N-df+0.5)/(df+0.5)+1 idf, each term contribution scaled by the
    definition-match and path-match multipliers. Association order
    mirrors the Spark expression token-for-token so doubles are
    bit-identical before the 6dp round."""
    inlist = ", ".join(f"'{t.lower()}'" for t in terms)
    return base_ctes() + _CODE_SYMBOLS_CTES + rf""",
cr_idents AS (
  SELECT doc_id,
         unnest(regexp_extract_all(content, '[A-Za-z_][A-Za-z0-9_]*')) AS ident
  FROM codedocs),
cr_split AS (
  SELECT doc_id, lower(ident) AS whole,
         list_filter(
           string_split_regex(
             lower(regexp_replace(
               regexp_replace(ident, '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'),
               '([a-z0-9])([A-Z])', '\1 \2', 'g')),
             '[_ ]+'),
           t -> t <> '') AS parts
  FROM cr_idents),
cr_stream AS (
  SELECT doc_id,
         unnest(CASE WHEN parts = [whole] THEN [whole]
                     ELSE list_prepend(whole, parts) END) AS term
  FROM cr_split),
cr_post AS (
  SELECT term, doc_id, count(*)::int AS tf
  FROM cr_stream WHERE length(term) BETWEEN 2 AND 30
  GROUP BY 1, 2),
cr_dlen AS (SELECT doc_id, sum(tf)::int AS doc_len FROM cr_post GROUP BY 1),
cr_dstats AS (
  SELECT d.doc_id, d.path, coalesce(l.doc_len, 0) AS doc_len
  FROM codedocs d LEFT JOIN cr_dlen l USING (doc_id)),
cr_nstats AS (
  SELECT count(*)::double AS n, avg(doc_len) AS avgdl FROM cr_dstats),
cr_q AS (SELECT * FROM cr_post WHERE term IN ({inlist})),
cr_df AS (SELECT term, count(*)::int AS df FROM cr_q GROUP BY 1),
cr_symsplit AS (
  SELECT doc_id, lower(symbol) AS whole,
         list_filter(
           string_split_regex(
             lower(regexp_replace(
               regexp_replace(symbol, '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'),
               '([a-z0-9])([A-Z])', '\1 \2', 'g')),
             '[_ ]+'),
           t -> t <> '') AS parts
  FROM codesyms),
cr_defs AS (
  SELECT DISTINCT doc_id, term, 1 AS is_def FROM (
    SELECT doc_id, unnest(list_prepend(whole, parts)) AS term
    FROM cr_symsplit)),
cr_ranked AS (
  SELECT doc_id, round(sum(contrib), 6) AS score,
         count(DISTINCT term)::int AS n_matched
  FROM (
    SELECT q.doc_id, q.term,
           ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * q.tf * ({k1} + 1.0)
           / (q.tf + {k1} * (1.0 - {b} + {b} * s.doc_len / n.avgdl))
           * (1.0 + {sym_weight} * coalesce(d.is_def, 0))
           * CASE WHEN contains(s.path, q.term)
                  THEN 1.0 + {path_weight} ELSE 1.0 END AS contrib
    FROM cr_q q
    JOIN cr_df f USING (term)
    JOIN cr_dstats s USING (doc_id)
    LEFT JOIN cr_defs d ON d.doc_id = q.doc_id AND d.term = q.term
    CROSS JOIN cr_nstats n
  ) GROUP BY doc_id
)
SELECT doc_id, score, n_matched FROM cr_ranked
"""


def code_search_collapsed_sql(
    terms: list[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    sym_weight: float = 1.0,
    path_weight: float = 0.5,
) -> str:
    """Twin of query/code_search.code_search_collapsed: the ranked frame
    collapsed to one row per exact content group (sha256), keeping the
    best (score desc, doc_id asc) representative and counting the
    matched copies."""
    ranked = code_search_ranked_sql(terms, k1, b, sym_weight, path_weight)
    # reuse the full CTE chain; swap the final projection for the
    # collapse window over the ranked CTE joined back to content shas
    body = ranked.rsplit("SELECT doc_id, score, n_matched FROM cr_ranked", 1)[0]
    return body + """,
cr_sha AS (
  SELECT doc_id, sha256(content) AS content_sha FROM codedocs
)
SELECT doc_id, score, n_matched, n_copies FROM (
  SELECT r.doc_id, r.score, r.n_matched,
         row_number() OVER (PARTITION BY s.content_sha
                            ORDER BY r.score DESC, r.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY s.content_sha)::int AS n_copies
  FROM cr_ranked r JOIN cr_sha s USING (doc_id)
) WHERE rn = 1
"""


def cross_repo_dupes_sql() -> str:
    """Twin of query/code_search.cross_repo_dupes: exact-content sha256
    groups spanning >= 2 of the derived deterministic repos."""
    return base_ctes() + _CODE_SYMBOLS_CTES + """
SELECT sha256(content) AS content_sha,
       count(*)::int AS n_copies,
       count(DISTINCT repo)::int AS n_repos,
       array_to_string(list_sort(list(DISTINCT repo)), ',') AS repos,
       min(doc_id) AS keeper
FROM codedocs
GROUP BY 1
HAVING count(DISTINCT repo) >= 2
"""


def index_metrics_sql() -> str:
    """Twin of __spark_entry__._q_index_metrics: one-row health/metrics
    summary of the built index (the north rule's 'metrics' surface) —
    corpus, vocabulary, postings and length aggregates, all derived from
    the same capped CTE chain the per-table gates verify."""
    return base_ctes() + """
SELECT (SELECT count(*) FROM docstats)::bigint AS n_docs,
       (SELECT count(*) FROM termstats)::bigint AS n_terms,
       (SELECT count(*) FROM postings)::bigint AS n_postings,
       (SELECT sum(doc_len) FROM docstats)::bigint AS total_tokens,
       (SELECT round(avg(doc_len), 6) FROM docstats) AS avg_doc_len,
       (SELECT max(df) FROM termstats)::bigint AS max_df
"""


def search_after_sql(
    terms: list[str], page_size: int = 10, page: int = 2
) -> str:
    """Twin of query/code_search.search_after_page over the BM25 scored
    frame: rank by the 6dp-ROUNDED score (the engine's cursor compares
    rounded scores) desc, doc_id asc, and slice page rows — keyset
    pagination and rank-window pagination agree because the rounded
    (score, doc_id) order is total."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    lo = (page - 1) * page_size
    hi = page * page_size
    return base_ctes() + f""",
sa_scores AS (
  SELECT p.doc_id,
         round(sum(ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
                   / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
                      / (SELECT avgdl FROM nstats)))), 6) AS score
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})
  GROUP BY p.doc_id
),
sa_ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rn
  FROM sa_scores
)
SELECT doc_id, score FROM sa_ranked WHERE rn > {lo} AND rn <= {hi}
"""


def regex_search_batch_sql(patterns: list[str]) -> str:
    """INDEPENDENT oracle for index/regex_search.regex_search_batch: a
    UNION ALL of per-pattern full-scan RE2 matches — no trigram or
    clause machinery."""
    branches = []
    for pat in dict.fromkeys(patterns):
        p = f"(?i){pat}".replace("'", "''")
        esc = pat.replace("'", "''")
        branches.append(f"""
  SELECT '{esc}' AS pattern, doc_id,
         len(regexp_extract_all(text, '{p}'))::int AS n_matches
  FROM docs WHERE regexp_matches(text, '{p}')""")
    union = "\n  UNION ALL\n".join(branches)
    return base_ctes() + f"""
{union}
"""


def rank_metrics_sql(queries: list[list[str]], k: int = 10) -> str:
    """Twin of operators/rank_eval.rank_metrics over batch-BM25 runs and
    term-overlap pseudo-qrels: same run generation as bm25_batch_sql,
    same graded gains (2^grade - 1), same (grade desc, doc_id asc)
    ideal-DCG ordering, same 6dp rounding points."""
    branches = []
    pairs = []
    for terms in queries:
        label = " ".join(terms).replace("'", "''")
        inlist = ", ".join(f"'{t}'" for t in terms)
        pairs += [(label, t) for t in terms]
        branches.append(f"""
  SELECT '{label}' AS query, p.doc_id,
         ts.idf_bm25 * p.tf * ({BM25_K1} + 1.0)
         / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * p.doc_len
            / (SELECT avgdl FROM nstats))) AS contrib
  FROM postings p JOIN termstats ts USING (term)
  WHERE p.term IN ({inlist})""")
    union = "\n  UNION ALL\n".join(branches)
    vals = ", ".join(f"('{q}', '{t}')" for q, t in pairs)
    return base_ctes() + f""",
ev_hits AS ({union}),
ev_agg AS (
  SELECT query, doc_id, round(sum(contrib), 6) AS score
  FROM ev_hits GROUP BY 1, 2),
ev_runs AS (
  SELECT query, doc_id, rank FROM (
    SELECT query, doc_id,
           row_number() OVER (PARTITION BY query
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM ev_agg)
  WHERE rank <= {k}),
ev_qt(query, term) AS (FROM (VALUES {vals}) v(query, term)),
ev_qrels AS (
  SELECT q.query, p.doc_id, count(DISTINCT p.term)::int AS grade
  FROM postings p JOIN ev_qt q USING (term) GROUP BY 1, 2),
ev_perq AS (
  SELECT r.query,
         sum(CASE WHEN g.grade IS NOT NULL THEN 1 ELSE 0 END) AS n_hit,
         min(CASE WHEN g.grade IS NOT NULL THEN r.rank END) AS first_hit,
         sum(CASE WHEN g.grade IS NOT NULL
               THEN (pow(2.0, g.grade) - 1.0) / log2(r.rank + 1.0)
               ELSE 0.0 END) AS dcg
  FROM ev_runs r LEFT JOIN ev_qrels g USING (query, doc_id)
  GROUP BY 1),
ev_nrel AS (SELECT query, count(*) AS n_rel FROM ev_qrels GROUP BY 1),
ev_ideal AS (
  SELECT query, sum((pow(2.0, grade) - 1.0) / log2(rn + 1.0)) AS idcg
  FROM (SELECT query, grade, doc_id,
               row_number() OVER (PARTITION BY query
                                  ORDER BY grade DESC, doc_id ASC) AS rn
        FROM ev_qrels)
  WHERE rn <= {k} GROUP BY 1)
SELECT p.query,
       coalesce(n.n_rel, 0)::int AS n_rel,
       round(p.n_hit / {float(k)}, 6) AS p_at_k,
       round(CASE WHEN coalesce(n.n_rel, 0) > 0
               THEN p.n_hit / n.n_rel ELSE 0.0 END, 6) AS recall_at_k,
       round(CASE WHEN p.first_hit IS NOT NULL
               THEN 1.0 / p.first_hit ELSE 0.0 END, 6) AS mrr,
       round(CASE WHEN coalesce(i.idcg, 0.0) > 0
               THEN p.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg_at_k
FROM ev_perq p
LEFT JOIN ev_nrel n USING (query)
LEFT JOIN ev_ideal i USING (query)
"""
