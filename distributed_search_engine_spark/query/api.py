"""Request-level search frontend — the library equivalent of the
reference's HTTP endpoint (frontend/SearchEngine.java:66-199: one GET
carries query + page + flags, the handler runs cache -> spellcheck ->
search -> snippets and renders a page). A user switching from the
reference calls ``search_request`` with the same request surface and
gets the same composed behavior, minus the HTML.

Request dict (all optional but ``q``):

  q            query string
  mode         "reference" (default) | "bm25"
  page         1-based page number (default 1)
  page_size    default 10 (PAGE_SIZE, SearchEngine.java pagination)
  snippets     bool — attach preview snippets to the page's rows
  highlight    bool — wrap matched terms in the snippet
  spellcheck   bool — on ZERO results, return "did you mean" per word
  engine       a CachedSearchEngine to serve/populate (Q13 semantics);
               omitted -> uncached one-shot search

Response dict:

  results      list of row dicts for the requested page
  total        total cached/computed results for the query
  page, pages  pagination echo
  suggestion   corrected query string or None (only when spellcheck
               fired on zero results — the reference's same trigger)

Composition only — every stage is an already-gated operator (search /
CachedSearchEngine / snippet_text / spellcheck_query), so this file adds
no new math; tests pin the wiring (zero-result spellcheck trigger, cached
second page costing zero Spark jobs, snippet attachment on the page
slice only). Page snippets are the reference's per-result point gets:
one JVM-only job collects the page docs' content, and snippet_text runs
on the driver, with no Python worker."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize_py
from .cache import PAGE_SIZE, CachedSearchEngine
from .engine import SearchIndex, search
from .suggest import snippet_text, spellcheck_query
from .suggest import snippets as _snippets  # noqa: F401  (perfbench/serve.py wraps it)


def search_request(
    spark: SparkSession,
    index: SearchIndex,
    request: dict,
    docs=None,
) -> dict:
    q = request.get("q", "") or ""
    mode = request.get("mode", "reference")
    page = max(1, int(request.get("page", 1)))
    page_size = int(request.get("page_size", PAGE_SIZE))
    engine: CachedSearchEngine | None = request.get("engine")

    if engine is not None:
        rows = engine.search_page(q, page=1, page_size=1_000_000_000)
    else:
        rows = search(spark, index, q, mode=mode).collect()
    total = len(rows)
    start = (page - 1) * page_size
    page_rows = [
        r if isinstance(r, dict) else r.asDict()
        for r in rows[start : start + page_size]
    ]

    suggestion = None
    if total == 0 and request.get("spellcheck") and q.strip():
        corrected = spellcheck_query(spark, index.term_stats, q)
        joined = " ".join(corrected)
        if joined and joined != q.lower().strip():
            suggestion = joined

    if page_rows and request.get("snippets") and docs is not None:
        ids = [r["doc_id"] for r in page_rows]
        doc_id = F.col("doc_id").cast("string")
        terms, highlight = tokenize_py(q), bool(request.get("highlight"))
        snips = {
            r["doc_id"]: snippet_text(r["content"], terms, highlight)
            for r in docs.where(doc_id.isin(ids))
            .select(doc_id.alias("doc_id"), "content")
            .collect()
        }
        for r in page_rows:
            r["snippet"] = snips.get(str(r["doc_id"]), "")

    return {
        "results": page_rows,
        "total": total,
        "page": page,
        "pages": (total + page_size - 1) // page_size if total else 0,
        "suggestion": suggestion,
    }
