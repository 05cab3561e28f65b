"""``serve``: one closed-loop client sends a seeded, interleaved stream of
four request types over an index built during set-up.

Set-up builds a fresh seeded corpus into everything a searcher needs:
``build_index``, docnums and compressed segments, PageRank over a
numeric-keyed view, the cached term dictionary and the code-shaped view.
One warm-up cycle of requests follows, on a separate result cache. The
timed window then repeats a fixed cycle of request types, so host drift
hits every type alike; only the query text is drawn from the seed.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from distributed_search_engine_spark.corpus import ingest, make_corpus_distributed
from distributed_search_engine_spark.functions.stopwords import STOP_WORDS
from distributed_search_engine_spark.index.segments import (
    assign_docnums,
    build_segments,
    read_manifest,
    read_segments_for_terms,
)
from distributed_search_engine_spark.index.wand import bruteforce_topk, wand_topk
from distributed_search_engine_spark.operators.pagerank import run_pagerank, synthetic_links
from distributed_search_engine_spark.operators.postings import build_index
from distributed_search_engine_spark.query import api as api_mod
from distributed_search_engine_spark.query import cache as cache_mod
from distributed_search_engine_spark.query.api import search_request
from distributed_search_engine_spark.query.cache import CachedSearchEngine
from distributed_search_engine_spark.query.code_search import code_search_ranked
from distributed_search_engine_spark.query.engine import SearchIndex
from distributed_search_engine_spark.query.suggest import autocomplete

from spans import median

N_DOCS = 1000
N_PARTITIONS = 4
N_SEG_PARTS = 8
PAGERANK_ITERATIONS = 3
# Per cycle: three reference-mode requests (by REF_SCHEDULE, a single
# cycle already holds a cache miss, a cache hit and a misspelled query),
# one code search and eight one-or-two-job requests (bm25, suggest),
# interleaved. The median request is a cheap one; ops_per_s is set by the
# costly ones.
CYCLE = (
    ("ref",) + ("bm25", "suggest") * 2 + ("code",)
    + ("ref",) + ("bm25", "suggest") * 2 + ("ref",)
)
HEAD_SHARE = 0.6  # query terms from the frequent head of the vocabulary
# Reference-mode queries by position in the stream: new queries of 1-3
# terms, a quarter repeats (the next page of the previous query, served
# from the result cache) and one misspelled word in eight, on which
# spellcheck fires.
REF_SCHEDULE = ("new1", "repeat", "typo", "new2", "new3", "repeat", "new2", "new1")


class _Collected:
    """A DataFrame whose ``collect`` runs inside a span: lets the benchmark
    time the execution of a frame that engine code builds and collects."""

    def __init__(self, df, tracer, name):
        self._df, self._tracer, self._name = df, tracer, name

    def collect(self):
        with self._tracer.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


def _code_view(docs):
    """Code-shaped rows derived from the corpus, as ``bench.py`` builds
    its ``code_ranked_60k`` input."""
    bt = F.split(F.col("content"), " ")
    return docs.where(F.size(bt) >= 4).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("python").alias("lang"),
        F.concat(F.lit("src/"), bt[0], F.lit("/"), bt[1], F.lit(".py")).alias("path"),
        F.concat(
            F.lit("def "), bt[0], F.lit("_"), bt[1],
            F.lit("(arg):\n    return "), bt[2], F.lit("\nclass "),
            F.upper(F.substring(bt[3], 1, 1)), F.substring(bt[3], 2, 1000),
            F.lit("Handler:\n    pass"),
        ).alias("content"),
    )


def _typo(rng: random.Random, word: str, known: set[str]) -> str | None:
    for _ in range(20):
        i = rng.randrange(len(word))
        cand = word[:i] + rng.choice("zxqjvk") + word[i + 1 :]
        if cand not in known and cand != word:
            return cand
    return None


class Serve:
    name = "serve"
    round_s = 13.0  # nominal time of one request cycle, seconds

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seg_dir = os.path.join(work_dir, "segments")
        self.answers = hashlib.sha256()
        self.layer: dict[str, float] = {}
        self.failed_checks: list[str] = []
        self.checks = 0
        self._fetch_bytes: list[int] = []

    # ------------------------------------------------------------ set-up
    def _step(self, kind, span, fn):
        with self.tracer.op(kind, span) as rec:
            out = fn()
        if not rec["ok"]:
            raise RuntimeError(f"set-up step {kind} failed: {rec['error']}")
        self.layer[kind] = rec["ms"] / 1e3
        return out

    def setup(self) -> None:
        spark, t = self.spark, self.tracer
        if t.enabled:
            self._install_spans()

        def generate():
            docs = ingest(
                make_corpus_distributed(spark, N_DOCS, seed=self.seed, n_partitions=N_PARTITIONS)
            ).persist()
            docs.count()
            return docs

        self.docs = self._step("setup.generate", "corpus.generate", generate)

        def index():
            idx = build_index(self.docs)
            idx["postings"] = idx["postings"].persist()
            idx["term_stats"] = idx["term_stats"].persist()
            self.postings_rows = idx["postings"].count()
            idx["term_stats"].count()
            return idx

        idx = self._step("setup.build_index", "operators.postings.build_index", index)

        def segments():
            with t.span("index.segments.assign_docnums"):
                ds = assign_docnums(idx["doc_stats"], n_partitions=N_PARTITIONS).persist()
                avgdl = float(ds.agg(F.avg("doc_len")).collect()[0][0])
            with t.span("index.segments.build_segments"):
                build_segments(
                    idx["postings"], idx["term_stats"], ds, self.seg_dir, avgdl,
                    n_partitions=N_SEG_PARTS, batch_partitions=N_SEG_PARTS,
                )
            return avgdl

        self.avgdl = self._step("setup.segments", "index.segments.build", segments)

        def pagerank():
            view = self.docs.select(
                F.regexp_extract("path", r"file_(\d+)", 1).cast("long").alias("num"),
                F.col("doc_id").alias("sha"),
            )
            nodes = view.select(F.col("num").alias("doc_id"))
            ranks, _ = run_pagerank(
                nodes, synthetic_links(nodes), fixed_iterations=PAGERANK_ITERATIONS
            )
            ranks = (
                ranks.join(view.select(F.col("num").cast("string").alias("doc_id"), "sha"), "doc_id")
                .select(F.col("sha").alias("doc_id"), "rank")
                .persist()
            )
            ranks.count()
            return ranks

        ranks = self._step("setup.pagerank", "operators.pagerank.run", pagerank)

        def serving_state():
            self.index = SearchIndex(
                postings=idx["postings"], term_stats=idx["term_stats"],
                doc_stats=idx["doc_stats"], term_dict=idx["term_dict"],
                total_docs=idx["total_docs"], ranks=ranks,
            ).cache_term_dict()
            self.code_docs = _code_view(self.docs).persist()
            self.code_docs.count()
            terms = self.index.term_stats.select("term", "df").collect()
            return [r["term"] for r in sorted(terms, key=lambda r: (-r["df"], r["term"]))]

        ranked_terms = self._step("setup.serving_state", "query.engine.serving_state", serving_state)
        self._record_build_stats(len(ranked_terms))
        self._vocab(ranked_terms)

        # warm-up: every request type, on its own cache and query stream,
        # kept out of the per-layer numbers
        t.active = False
        warm = self._stream(random.Random(self.seed * 7919 + 1))
        self.engine = self._engine()
        for kind in ("ref", "bm25", "suggest", "code"):
            self.request(kind, next(warm[kind]), check=False)
        self.engine = self._engine()
        self.stream = self._stream(random.Random(self.seed))
        self.answers = hashlib.sha256()

    def _engine(self) -> CachedSearchEngine:
        engine = CachedSearchEngine(self.spark, self.index)
        if self.tracer.enabled:
            engine.search_page = self.tracer.wrap("query.cache.search_page", engine.search_page)
        return engine

    def _install_spans(self) -> None:
        """Spans inside ``search_request``: its module-level references to
        the cache's search, spellcheck and snippets are wrapped."""
        t = self.tracer
        cache_mod.search = t.wrap("query.engine.search", cache_mod.search)
        api_mod.spellcheck_query = t.wrap("query.suggest.spellcheck", api_mod.spellcheck_query)
        snippets = api_mod._snippets
        api_mod._snippets = lambda *a, **k: _Collected(snippets(*a, **k), t, "query.suggest.snippets")

    def _record_build_stats(self, n_terms: int) -> None:
        """Segment file counts and sizes; every file must read back, with one
        row per indexed term, and the manifest must account for every
        posting."""
        data = os.path.join(self.seg_dir, "data")
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")
        ]
        seg_rows = sum(pq.read_table(f).num_rows for f in files)
        manifest_rows = sum(r["input_rows"] for r in read_manifest(self.seg_dir).values())
        print(f"  segments: {len(files)} files, {seg_rows} term rows, {n_terms} terms, "
              f"{manifest_rows} manifest input rows, {self.postings_rows} postings")
        self._check(seg_rows == n_terms, f"segments hold {seg_rows} term rows, index has {n_terms}")
        self._check(manifest_rows == self.postings_rows,
                    f"manifest counts {manifest_rows} postings, index has {self.postings_rows}")
        seg_bytes = sum(os.path.getsize(f) for f in files)
        content_bytes = self.docs.agg(F.sum(F.octet_length("content"))).collect()[0][0]
        self.layer.update({
            "files_written": len(files),
            "bytes_written": seg_bytes,
            "bytes_per_input_byte": seg_bytes / content_bytes,
        })

    def _vocab(self, ranked_terms: list[str]) -> None:
        words = [w for w in ranked_terms if w.isalpha() and w not in STOP_WORDS and len(w) > 2]
        self.known = set(ranked_terms)
        self.head = words[:40]
        self.tail = words[200:2000] or words[40:]

    # ------------------------------------------------------ query stream
    def _words(self, rng, n):
        return [rng.choice(self.head if rng.random() < HEAD_SHARE else self.tail) for _ in range(n)]

    def _stream(self, rng):
        """Per request type, an endless seeded stream of arguments. Term
        counts, pages, repeats and typos follow a fixed schedule, so every
        seed gives a window the same mix of work; the seed picks the words."""

        def ref():
            last = None
            for i in itertools.count():
                slot = REF_SCHEDULE[i % len(REF_SCHEDULE)]
                if slot == "repeat":  # next page of the last query: a cache hit
                    yield {"q": last, "page": 2}
                    continue
                if slot == "typo" and (q := _typo(rng, rng.choice(self.head), self.known)):
                    yield {"q": q, "page": 1}
                    continue
                last = " ".join(self._words(rng, int(slot[-1]) if slot != "typo" else 1))
                yield {"q": last, "page": 1}

        def bm25():
            for i in itertools.count():
                yield self._words(rng, 1 + i % 3)

        def suggest():
            for i in itertools.count():
                word = self._words(rng, 1)[0]
                head = self._words(rng, 1)[0] + " " if i % 3 == 2 else ""
                yield head + word[: 2 + i % 3]

        def code():
            # identifiers come from the first words of a doc, which are
            # mostly head words: tail words would rarely match at all
            for i in itertools.count():
                words = [rng.choice(self.head) for _ in range(1 + i % 2)]
                yield words + (["handler"] if i % 4 >= 2 else [])

        return {"ref": ref(), "bm25": bm25(), "suggest": suggest(), "code": code()}

    # ---------------------------------------------------------- requests
    def round(self) -> None:
        for kind in CYCLE:
            self.request(kind, next(self.stream[kind]))

    def request(self, kind, arg, check=True) -> None:
        getattr(self, "_" + kind)(arg, check)

    def _ref(self, req, check):
        t = self.tracer
        with t.op("ref") as rec:
            with t.span("query.api.search_request"):
                resp = search_request(
                    self.spark, self.index,
                    {"q": req["q"], "page": req["page"], "engine": self.engine,
                     "snippets": True, "spellcheck": True},
                    docs=self.docs,
                )
        if rec["ok"] and check:
            rows = resp["results"]
            scores = [r["score"] for r in rows]
            self._check(len(rows) <= 10 and scores == sorted(scores, reverse=True),
                        f"ref page unordered or too long for {req}")
            if resp["total"] == 0 and req["q"] not in self.known and len(req["q"].split()) == 1:
                self._check(resp["suggestion"] is not None, f"no spellcheck suggestion for {req}")
            self._digest("ref", req, [(r["doc_id"], r["score"], r.get("snippet")) for r in rows],
                         resp["suggestion"])

    def _bm25(self, terms, check):
        t = self.tracer
        with t.op("bm25") as rec:
            with t.span("index.segments.fetch"):
                rows = (
                    read_segments_for_terms(self.spark, self.seg_dir, terms, N_SEG_PARTS)
                    .select("idf_bm25", "blocks")
                    .collect()
                )
                seg_rows = [
                    {"idf_bm25": r["idf_bm25"], "blocks": [b.asDict() for b in r["blocks"]]}
                    for r in rows
                ]
            with t.span("index.wand.topk"):
                top = wand_topk(seg_rows, self.avgdl, 10)
        if rec["ok"] and check:
            self._fetch_bytes.append(sum(
                len(b["docs"]) + len(b["tfs"]) + len(b["dls"]) for r in seg_rows for b in r["blocks"]
            ))
            ref = bruteforce_topk(seg_rows, self.avgdl, 10)
            same = [d for d, _ in top] == [d for d, _ in ref] and all(
                abs(a - b) <= 1e-9 * max(1.0, abs(b)) for (_, a), (_, b) in zip(top, ref)
            )
            self._check(same, f"wand top-10 differs from brute force for {terms}")

    def _suggest(self, prefix, check):
        with self.tracer.op("suggest") as rec:
            with self.tracer.span("query.suggest.autocomplete"):
                out = [r["suggestion"] for r in autocomplete(self.index.term_stats, prefix).collect()]
        if rec["ok"] and check:
            self._check(
                0 < len(out) <= 10 and out == sorted(out) and all(s.startswith(prefix) for s in out),
                f"bad completions for {prefix!r}: {out}",
            )
            self._digest("suggest", prefix, out)

    def _code(self, terms, check):
        with self.tracer.op("code") as rec:
            with self.tracer.span("query.code_search.ranked"):
                rows = (
                    code_search_ranked(self.code_docs, terms)
                    .orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(10)
                    .collect()
                )
        if rec["ok"] and check:
            scores = [r["score"] for r in rows]
            self._check(len(rows) <= 10 and scores == sorted(scores, reverse=True),
                        f"code results unordered for {terms}")
            self._digest("code", terms, [(r["doc_id"], r["score"]) for r in rows])

    def _check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks.append(what)

    def _digest(self, *parts) -> None:
        self.answers.update(json.dumps(parts, default=str).encode())

    def between_rounds(self) -> None:
        pass

    # ------------------------------------------------------------ report
    def summary(self) -> dict:
        return {
            "answers_sha256": self.answers.hexdigest()[:16],
            "cache_hits": self.engine.hits,
            "cache_misses": self.engine.misses,
        }

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers from the traced rounds and set-up."""
        t = self.tracer
        traced = [o for o in t.ops if o.get("group") and o["ok"]]
        per = lambda kind, key: median(o[key] for o in traced if o["kind"] == kind)
        requests = [o for o in traced if o["kind"] in CYCLE]
        build = [o for o in traced if o["kind"] in ("setup.build_index", "setup.segments", "setup.pagerank")]
        hits, misses = self.engine.hits, self.engine.misses
        timed = [o for o in t.ops if "round" in o and o["ok"]]
        return {
            **{
                f"request.{kind}_p50_ms": median(o["ms"] for o in timed if o["kind"] == kind)
                for kind in ("ref", "bm25", "suggest", "code")
            },
            "session.jobs_per_ref": per("ref", "jobs"),
            "session.jobs_per_bm25": per("bm25", "jobs"),
            "session.jobs_per_suggest": per("suggest", "jobs"),
            "session.jobs_per_code": per("code", "jobs"),
            "session.tasks_per_request": median(o["tasks"] for o in requests),
            "session.jobs_per_build": sum(o["jobs"] for o in build),
            "session.tasks_per_build": sum(o["tasks"] for o in build),
            "query.engine.search_ms": median(t.spans_named("query.engine.search")),
            "query.cache.search_page_ms": median(t.spans_named("query.cache.search_page", self_time=True)),
            "query.suggest.snippets_ms": median(t.spans_named("query.suggest.snippets")),
            "query.suggest.spellcheck_ms": median(t.spans_named("query.suggest.spellcheck")),
            "query.cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "index.segments.fetch_ms": median(t.spans_named("index.segments.fetch")),
            "index.segments.fetch_bytes": median(self._fetch_bytes),
            "index.wand.topk_ms": median(t.spans_named("index.wand.topk")),
            "query.suggest.autocomplete_ms": median(t.spans_named("query.suggest.autocomplete")),
            "query.code_search.ranked_ms": median(t.spans_named("query.code_search.ranked")),
            "corpus.generate_s": self.layer["setup.generate"],
            "operators.postings.build_index_s": self.layer["setup.build_index"],
            "operators.postings.postings_rows": self.postings_rows,
            "index.segments.build_segments_s": median(t.spans_named("index.segments.build_segments")) / 1e3,
            "index.segments.files_written": self.layer["files_written"],
            "index.segments.bytes_written": self.layer["bytes_written"],
            "index.segments.bytes_per_input_byte": self.layer["bytes_per_input_byte"],
            "operators.pagerank.run_s": self.layer["setup.pagerank"],
        }

    def close(self) -> None:
        shutil.rmtree(self.seg_dir, ignore_errors=True)
