"""Tokenization — shared by index-time and query-time code.

Reference semantics (jobs/Indexer.java:1275-1291, 1432-1447, 403-519 and
frontend/SearchEngine.java:652-673):

1. strip HTML tags  ``<[^>]*>`` -> space   (no-op for plain-text corpora)
2. strip non-alphanumerics ``[^A-Za-z0-9\\s]`` -> space
3. lowercase, split on whitespace, drop empty tokens
4. a token is *worth indexing* iff 2 <= len <= 20 AND
   (``^[a-z]+$`` OR ``^\\d{2,4}$``)
5. the 1-based position counter advances for EVERY non-empty token, including
   tokens that fail the worth check (jobs/Indexer.java:453-460) — positions
   are stream offsets, not post-filter offsets. Phrase adjacency depends on
   this.

All three implementations below (Spark Column, pure Python, SQL templates for
Spark SQL + the DuckDB oracle) MUST agree; tests/test_text.py checks them
against each other.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Regexes (Java/RE2/Python compatible subsets only).
RE_HTML_TAGS = "<[^>]*>"
RE_NON_ALNUM = "[^A-Za-z0-9\\s]"
RE_WS = "\\s+"
RE_WORD = "^[a-z]+$"
RE_NUM24 = "^[0-9]{2,4}$"

MAX_DOC_CHARS = 1_000_000  # index skip rule, jobs/Indexer.java:208
MIN_TOKEN_LEN = 2
MAX_TOKEN_LEN = 20
TITLE_MAX_CHARS = 200  # jobs/Indexer.java:1418-1430


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side, whole-stage codegen; the hot path)
# ---------------------------------------------------------------------------

def tokens_col(content: Column) -> Column:
    """array<string> of all non-empty tokens, in stream order.

    Positions are 1-based indices into THIS array (use posexplode + 1).
    """
    cleaned = F.lower(F.regexp_replace(F.regexp_replace(content, RE_HTML_TAGS, " "), RE_NON_ALNUM, " "))
    return F.filter(F.split(F.trim(cleaned), RE_WS), lambda t: t != F.lit(""))


def is_worth_col(tok: Column) -> Column:
    return (
        (F.length(tok) >= MIN_TOKEN_LEN)
        & (F.length(tok) <= MAX_TOKEN_LEN)
        & (tok.rlike(RE_WORD) | tok.rlike(RE_NUM24))
    )


RE_TITLE_TAG = "(?is)<title[^>]*>(.*?)</title>"


def title_col(content: Column) -> Column:
    """Reference extractTitle (jobs/Indexer.java:1404-1430): when the
    content carries an HTML <title> element, its inner text (tags
    stripped) is the title; otherwise fall back to the first line (the
    code-corpus rule — a source file's opening line). Either way:
    whitespace-collapsed, trimmed, first 200 chars. The plain-text
    fallback is byte-identical to the round-2 rule, so the unstemmed
    doc-stats oracle over the tag-free synthetic corpus is unaffected."""
    # Cheap literal prefilter: the (?i) dotall regex is O(n·backtrack) even on
    # documents that cannot match; `instr(lower(...))` is a plain vectorized
    # scan and the regex requires the literal "<title" case-insensitively, so
    # the guard is semantics-preserving (r3 perf finding: 1.7x index-build).
    has_tag = F.instr(F.lower(content), "<title") > 0
    html_title = F.when(
        has_tag, F.regexp_extract(content, RE_TITLE_TAG, 1)
    ).otherwise(F.lit(""))
    first_line = F.element_at(F.split(content, "\\n"), 1)
    chosen = F.when(
        html_title != "", F.regexp_replace(html_title, RE_HTML_TAGS, " ")
    ).otherwise(first_line)
    return F.substring(F.trim(F.regexp_replace(chosen, RE_WS, " ")), 1, TITLE_MAX_CHARS)


# ---------------------------------------------------------------------------
# I4 weighted tokenize (jobs/Indexer.java:1301-1371): the weighted token
# stream is [visible tokens | weight 1.0] ++ [script contents' tokens |
# 0.001] ++ [style contents' tokens | 0.001].
#  - visible text = page with SCRIPT/STYLE tags+content, HTML comments and
#    <meta> tags removed, THEN all tags stripped; every non-empty visible
#    token enters the stream (and consumes a position) even if later
#    rejected by the worth check.
#  - metadata tokens shorter than 2 chars never enter the stream at all
#    (:1348,1365) — they consume NO position, unlike short visible tokens.
#  - the reference also strips <script type="application/json"> and ld+json
#    variants separately (:1317-1319), but those run AFTER the blanket
#    SCRIPT_TAG removal and can never match — omitted here.
# All three implementations (Spark Column, Python, DuckDB SQL) agree;
# tests/test_text.py has the 3-way differential.
# ---------------------------------------------------------------------------

RE_SCRIPT_TAG = "(?is)<script[^>]*>.*?</script>"
RE_STYLE_TAG = "(?is)<style[^>]*>.*?</style>"
RE_HTML_COMMENT = "(?s)<!--.*?-->"
RE_META_TAG = "(?is)<meta[^>]*>"
RE_SCRIPT_CONTENT = "(?is)<script[^>]*>(.*?)</script>"
RE_STYLE_CONTENT = "(?is)<style[^>]*>(.*?)</style>"

VISIBLE_WEIGHT = 1.0
METADATA_WEIGHT = 0.001  # jobs/Indexer.java:1348 (comment says 0.005; code says 0.001)


def visible_text_col(content: Column) -> Column:
    out = content
    for pat in (RE_SCRIPT_TAG, RE_STYLE_TAG, RE_HTML_COMMENT, RE_META_TAG):
        out = F.regexp_replace(out, pat, " ")
    return out


def _meta_tokens_col(content: Column, pat: str) -> Column:
    """array<string>: length>=2 tokens of every <script>/<style> body, in
    document order (regexp_extract_all keeps match order)."""
    parts = F.regexp_extract_all(content, F.lit(pat), F.lit(1))
    return F.flatten(
        F.transform(parts, lambda s: F.filter(tokens_col(s), lambda t: F.length(t) >= 2))
    )


def weighted_stream_col(content: Column) -> Column:
    """array<struct<tok: string, weight: double>> — the I4 weighted token
    stream; 1-based positions are indices into THIS array."""
    tag = lambda toks, w: F.transform(
        toks, lambda t: F.struct(t.alias("tok"), F.lit(w).alias("weight"))
    )
    return F.concat(
        tag(tokens_col(visible_text_col(content)), VISIBLE_WEIGHT),
        tag(_meta_tokens_col(content, RE_SCRIPT_CONTENT), METADATA_WEIGHT),
        tag(_meta_tokens_col(content, RE_STYLE_CONTENT), METADATA_WEIGHT),
    )


# ---------------------------------------------------------------------------
# Pure-Python equivalents (pandas UDF internals, golden tests, query parsing)
# ---------------------------------------------------------------------------

import re as _re

_P_HTML = _re.compile(RE_HTML_TAGS)
_P_NON_ALNUM = _re.compile(RE_NON_ALNUM)
_P_WS = _re.compile(RE_WS)


def tokenize_py(content: str) -> list[str]:
    cleaned = _P_NON_ALNUM.sub(" ", _P_HTML.sub(" ", content)).lower().strip()
    if not cleaned:
        return []
    return [t for t in _P_WS.split(cleaned) if t]


# ---------------------------------------------------------------------------
# SQL templates — the same tokenization for the DuckDB oracle.
# Written once here so __spark_entry__.oracle_sql() stays in lockstep.
# ---------------------------------------------------------------------------

def duckdb_tokens_expr(col: str) -> str:
    """DuckDB expression producing the token array for a text column."""
    return (
        f"string_split_regex(trim(lower(regexp_replace(regexp_replace({col},"
        f" '{RE_HTML_TAGS}', ' ', 'g'), '{RE_NON_ALNUM}', ' ', 'g'))), '{RE_WS}')"
    )


DUCKDB_WORTH_PRED = (
    "(length({t}) between 2 and 20 and "
    "(regexp_matches({t}, '^[a-z]+$') or regexp_matches({t}, '^[0-9]{{2,4}}$')))"
)


def duckdb_worth(tok: str) -> str:
    return DUCKDB_WORTH_PRED.format(t=tok)


def duckdb_title_expr(col: str) -> str:
    """DuckDB twin of title_col: <title> inner text (tags stripped) when
    present, else first line; ws-collapsed, trimmed, 200 chars."""
    tt = f"regexp_extract({col}, '(?is)<title[^>]*>(.*?)</title>', 1)"
    # literal prefilter mirrors title_col/title_py: skip the dotall regex
    # entirely when the content cannot contain a <title> tag
    chosen = (
        f"CASE WHEN strpos(lower({col}), '<title') > 0 AND {tt} <> '' "
        f"THEN regexp_replace({tt}, '<[^>]*>', ' ', 'g') "
        f"ELSE string_split({col}, chr(10))[1] END"
    )
    return (
        f"substr(trim(regexp_replace({chosen}, '\\s+', ' ', 'g')), 1, "
        f"{TITLE_MAX_CHARS})"
    )


def duckdb_visible_expr(col: str) -> str:
    out = col
    for pat in (RE_SCRIPT_TAG, RE_STYLE_TAG, RE_HTML_COMMENT, RE_META_TAG):
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    return out


def _duckdb_tokens_of(expr: str) -> str:
    """Token-array expression applicable to an arbitrary sub-expression
    (e.g. a lambda variable) — same chain as duckdb_tokens_expr, plus the
    non-empty filter that tokens_col applies."""
    return (
        f"list_filter(string_split_regex(trim(lower(regexp_replace(regexp_replace({expr},"
        f" '{RE_HTML_TAGS}', ' ', 'g'), '{RE_NON_ALNUM}', ' ', 'g'))), '{RE_WS}'),"
        " t -> t <> '')"
    )


def duckdb_weighted_stream_expr(col: str) -> str:
    """DuckDB twin of weighted_stream_col: list of {'tok','weight'} structs."""
    vis = (
        f"list_transform({_duckdb_tokens_of(duckdb_visible_expr(col))},"
        f" t -> {{'tok': t, 'weight': {VISIBLE_WEIGHT}::double}})"
    )
    metas = []
    for pat in (RE_SCRIPT_CONTENT, RE_STYLE_CONTENT):
        toks = (
            f"flatten(list_transform(regexp_extract_all({col}, '{pat}', 1),"
            f" s -> list_filter({_duckdb_tokens_of('s')}, t -> length(t) >= 2)))"
        )
        metas.append(
            f"list_transform({toks}, t -> {{'tok': t, 'weight': {METADATA_WEIGHT}::double}})"
        )
    return f"list_concat(list_concat({vis}, {metas[0]}), {metas[1]})"
