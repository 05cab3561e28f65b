"""Tokenizer unit tests (SURVEY §5): Spark Column, pure-Python, and the
position-counter semantics (counter advances on rejected tokens,
reference jobs/Indexer.java:453-460)."""

import re

from pyspark.sql import functions as F

from distributed_search_engine_spark.functions import text as T
from tests import naive_reference as N

SAMPLES = [
    "Hello, World! The quick-brown fox 2024.",
    "  a b  cc   d1 ",
    "",
    "<script>var x=1;</script>Visible Text Here",
    "UPPER lower MiXeD 12345 99 x",
    "tab\tand\nnewline  spaces",
]


def test_tokenize_py_basic():
    assert T.tokenize_py("Hello, World!") == ["hello", "world"]
    assert T.tokenize_py("") == []
    assert T.tokenize_py("   ") == []
    assert T.tokenize_py("a-b") == ["a", "b"]


def test_is_worth():
    assert N.is_worth_py("hello")
    assert N.is_worth_py("ab")
    assert not N.is_worth_py("a")  # too short
    assert not N.is_worth_py("x" * 21)  # too long
    assert N.is_worth_py("2024") and N.is_worth_py("99")
    assert not N.is_worth_py("12345")  # 5 digits
    assert not N.is_worth_py("x1")  # mixed alnum fails both patterns
    assert not N.is_worth_py("1")


def test_positions_advance_on_rejected_tokens(spark):
    # 'a' (rejected, len 1) and 'x1' (rejected, mixed) still consume
    # positions in the posting kernel
    from distributed_search_engine_spark.operators.postings import emit_postings_arrow

    docs = spark.createDataFrame([("d", "a hello x1 world")], "doc_id string, content string")
    out = sorted(
        (r["term"], list(r["positions"]))
        for r in emit_postings_arrow(docs, with_stems=False).collect()
    )
    assert out == [("hello", [2]), ("world", [4])]


def test_spark_column_parity(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "id int, content string")
    got = {
        r["id"]: r["toks"]
        for r in df.select("id", T.tokens_col(F.col("content")).alias("toks")).collect()
    }
    for i, s in enumerate(SAMPLES):
        assert got[i] == T.tokenize_py(s), f"sample {i}: {got[i]}"


def test_spark_worth_parity(spark):
    toks = sorted({t for s in SAMPLES for t in T.tokenize_py(s)} | {"2024", "12345", "x1", "a"})
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {
        r["tok"]: r["w"]
        for r in df.select("tok", T.is_worth_col(F.col("tok")).alias("w")).collect()
    }
    for t in toks:
        assert got[t] == N.is_worth_py(t), t


def test_duckdb_tokenizer_parity():
    import duckdb

    expr = T.duckdb_tokens_expr("s")
    for s in SAMPLES:
        got = duckdb.sql(
            f"select {expr} t from (select ? s)", params=[s]
        ).fetchone()[0]
        got = [t for t in got if t]
        assert got == T.tokenize_py(s), s


def test_title():
    assert N.title_py("first  line here\nsecond line") == "first line here"
    assert len(N.title_py("x" * 500)) == 200


# ---------------------------------------------------------------------------
# I4 weighted tokenize (jobs/Indexer.java:1301-1371)
# ---------------------------------------------------------------------------

HTML = (
    '<html><head><title>My Doc Title</title><meta charset="utf-8">'
    "<style>body { color: red; } .cls x</style></head><body><p>visible words "
    'here a 1 ok</p><script type="text/javascript">var x = 12; '
    'console.log("hi there");</script><!-- secret comment words -->'
    "<p>tail</p></body></html>"
)


def _weighted_stream_py(content):
    """tokenizeWithWeights (jobs/Indexer.java:1301-1371) in plain Python:
    visible tokens weigh 1.0; script and style bodies add their tokens of
    two or more characters at the metadata weight."""
    visible = content
    for pat in (T.RE_SCRIPT_TAG, T.RE_STYLE_TAG, T.RE_HTML_COMMENT, T.RE_META_TAG):
        visible = re.sub(pat, " ", visible)
    out = [(t, T.VISIBLE_WEIGHT) for t in T.tokenize_py(visible)]
    for pat in (T.RE_SCRIPT_CONTENT, T.RE_STYLE_CONTENT):
        for body in re.findall(pat, content):
            out += [(t, T.METADATA_WEIGHT) for t in T.tokenize_py(body) if len(t) >= 2]
    return out


def test_weighted_stream_three_way_parity(spark):
    import duckdb

    from pyspark.sql import functions as F

    py = _weighted_stream_py(HTML)
    df = spark.createDataFrame([("d", HTML)], "doc_id string, content string")
    sp = [
        (r["tok"], r["weight"])
        for r in df.select(T.weighted_stream_col(F.col("content")).alias("s"))
        .collect()[0]["s"]
    ]
    dd = [
        (d["tok"], float(d["weight"]))
        for d in duckdb.sql(
            f"SELECT {T.duckdb_weighted_stream_expr('content')} AS s "
            f"FROM (SELECT '{HTML.replace(chr(39), chr(39)*2)}' AS content)"
        ).fetchone()[0]
    ]
    assert sp == py == dd
    # comment text never enters the stream; metadata 1-char tokens dropped
    toks = [t for t, _ in py]
    assert "secret" not in toks and "x" not in toks
    # visible before script before style? no — script bodies come before
    # style bodies per the reference's extraction order
    assert py[-1] == ("cls", T.METADATA_WEIGHT)  # style body is last


def test_weighted_positions_and_scores(spark):
    """Positions: rejected VISIBLE tokens consume a slot; short metadata
    tokens never enter the stream. weighted_tf sums 1.0/0.001; max_tf comes
    from the plain tokenize (script text included, tags stripped)."""
    import pytest
    from pyspark.sql import functions as F

    from distributed_search_engine_spark.operators.postings import (
        build_weighted_index,
    )

    html = "<p>a go dup</p><script>x ok dup dup</script>"
    docs = spark.createDataFrame([("d", html)], "doc_id string, html string")
    idx = build_weighted_index(docs, content_col="html")
    rows = {
        r["term"]: r.asDict()
        for r in idx["postings"].collect()
    }
    # stream: a(1, rejected) go(2) dup(3) | ok(4) dup(5) dup(6)  ('x' skipped)
    assert list(rows["go"]["positions"]) == [2]
    assert list(rows["ok"]["positions"]) == [4]
    assert rows["ok"]["weights"] == [pytest.approx(0.001)]
    assert list(rows["dup"]["positions"]) == [3, 5, 6]
    assert rows["dup"]["tf"] == 3
    assert rows["dup"]["weighted_tf"] == pytest.approx(1.0 + 0.002)
    # plain tokenize sees: go dup ok dup dup -> max_tf = 3 ('a','x' rejected)
    ds = idx["doc_stats"].collect()[0]
    assert ds["max_tf"] == 3
    assert rows["dup"]["normalized_tf"] == pytest.approx(0.4 + 0.6 * 1.002 / 3)


def test_weighted_index_flows_into_reference_scoring(spark):
    """The 0.001 script weight must reach reference-mode scores: a term that
    appears only inside <script> scores ~0.4-floor normalized_tf, far below
    the same term visible in another doc."""
    import math

    import pytest
    from distributed_search_engine_spark.operators.postings import (
        build_weighted_index,
    )
    from distributed_search_engine_spark.query.engine import SearchIndex, search

    docs = spark.createDataFrame(
        [
            ("a", "<p>filler words here</p><script>zeta zeta</script>"),
            ("b", "<p>zeta filler words</p>"),
        ],
        "doc_id string, html string",
    )
    idx = build_weighted_index(docs, content_col="html")
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    res = {r["doc_id"]: r["score"] for r in
           search(spark, sidx, "zeta", mode="reference", use_title_boost=False).collect()}
    p = {(r["term"], r["doc_id"]): r for r in idx["postings"].collect()}
    # doc a: zeta twice in script -> weighted_tf 0.002; plain max_tf counts
    # script text too: filler/words/here/zeta*2 -> max_tf = 2
    assert p[("zeta", "a")]["weighted_tf"] == pytest.approx(0.002)
    assert p[("zeta", "a")]["normalized_tf"] == pytest.approx(0.4 + 0.6 * 0.002 / 2)
    # doc b: visible once, max_tf 1
    assert p[("zeta", "b")]["weighted_tf"] == pytest.approx(1.0)
    assert p[("zeta", "b")]["normalized_tf"] == pytest.approx(1.0)
    # zeta is in both docs so idf = ln(2/2) = 0 and both reference-mode
    # scores are exactly 0 — the searchable surface still returns both docs
    # with the deterministic (score desc, doc_id asc) order
    assert list(res) == ["a", "b"] and all(v == 0.0 for v in res.values())
    assert math.isclose(
        p[("zeta", "a")]["normalized_tf"] * math.log(2 / 2), 0.0
    )


def test_html_title_three_way_parity(spark):
    """<title> extraction (jobs/Indexer.java:1404-1430): Spark Column,
    Python twin and DuckDB expr agree on HTML, tag-noise titles, empty
    titles (fallback) and plain text (first-line rule unchanged)."""
    import duckdb

    from pyspark.sql import functions as F

    cases = [
        HTML,                                     # normal <title>
        "<html><title> spaced \n title </title><body>x</body></html>",
        "<html><TITLE>upper case tag</TITLE></html>",      # (?i)
        "<html><title><b>inner</b> tags</title></html>",   # tags stripped
        "<html><title></title><body>y</body></html>",      # empty -> fallback
        "plain first line\nsecond line",                   # no html
        "t" * 500,                                         # 200-char cap
    ]
    df = spark.createDataFrame(
        [(str(i), c) for i, c in enumerate(cases)], "doc_id string, content string"
    )
    got_spark = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", T.title_col(F.col("content")).alias("t")).collect()
    }
    con = duckdb.connect()
    con.register("docs", __import__("pandas").DataFrame(
        {"doc_id": [str(i) for i in range(len(cases))], "content": cases}
    ))
    got_duck = dict(
        con.execute(
            f"SELECT doc_id, {T.duckdb_title_expr('content')} FROM docs"
        ).fetchall()
    )
    for i, c in enumerate(cases):
        want = N.title_py(c)
        assert got_spark[str(i)] == want, (i, got_spark[str(i)], want)
        assert got_duck[str(i)] == want, (i, got_duck[str(i)], want)
    assert N.title_py(HTML) == "My Doc Title"


def test_title_boost_over_html_corpus(spark):
    """End-to-end: an HTML corpus's <title> drives the Q11 title boost —
    the doc whose title holds the query word first outranks an equal-tf
    doc whose title lacks it."""
    from distributed_search_engine_spark.operators.postings import (
        build_weighted_index,
    )
    from distributed_search_engine_spark.query.engine import SearchIndex, search

    mk = lambda title, body: (
        f"<html><head><title>{title}</title></head><body><p>{body}</p></body></html>"
    )
    docs = spark.createDataFrame(
        [
            ("d1", mk("zeppelin guide", "zeppelin words words")),
            ("d2", mk("other things", "zeppelin words words")),
            ("d3", mk("unrelated", "nothing matching here")),  # keeps idf > 0
        ],
        "doc_id string, content string",
    )
    idx = build_weighted_index(docs, doc_id_col="doc_id", content_col="content")
    assert {
        r["doc_id"]: r["title"] for r in idx["doc_stats"].collect()
    } == {"d1": "zeppelin guide", "d2": "other things", "d3": "unrelated"}
    sidx = SearchIndex(
        postings=idx["postings"], term_stats=idx["term_stats"],
        doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
        total_docs=idx["total_docs"],
    )
    res = search(spark, sidx, "zeppelin", k=10, mode="reference").collect()
    scores = {r["doc_id"]: r["score"] for r in res}
    assert scores["d1"] > scores["d2"]  # 3.5x first-word title tier
