"""``clean``: each round cleans a fresh seeded corpus with the pipeline a
training-data builder runs before indexing.

The corpus has the shape of ``bench.py``'s ``ded`` frame: about 5% of the
docs carry a shared boilerplate prefix and two are boilerplate-only
duplicates. One round runs, in order:
shingles -> MinHash/LSH candidates -> Jaccard on candidates ->
keep-canonical over the pair graph -> bigram LM scoring. Simhash pairs,
decontamination and paragraph dedup are left out: with them a run no
longer fits the time the benchmark has per run (perfbench/DESIGN.md).
Generating the next corpus and clearing the cache happen between rounds,
outside the timer.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from distributed_search_engine_spark.corpus import make_corpus_distributed
from distributed_search_engine_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)
from distributed_search_engine_spark.operators.graph import dedup_keep_canonical
from distributed_search_engine_spark.operators.text_analysis import bigram_lm_stats

from spans import median

N_DOCS = 1000
N_PARTITIONS = 4
JACCARD_THRESHOLD = 0.5
# bench.py plants a 0.3% clique of boilerplate-only near-duplicates in 60k
# docs. Here the clique is the first two docs of every corpus, both the
# bare boilerplate: the pair graph has the same shape, one two-doc
# component, in every round. (A 2% clique of near-duplicates made the
# connected-components step swing between 5 and 11 s by seed.)
CLIQUE_DOCS = 2
BOILERPLATE = (
    "terms of service apply to this document revision "
    "please read carefully before proceeding further"
)
# layer span of each step, in pipeline order
STEPS = (
    "operators.dedup.shingles",
    "operators.dedup.lsh",
    "operators.dedup.jaccard",
    "operators.graph.keep_canonical",
    "operators.text_analysis.bigram_lm",
)


class Clean:
    name = "clean"
    round_s = 9.0  # nominal time of one warm round, seconds

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.rounds = 0
        self.answers = hashlib.sha256()
        self.failed_checks: list[str] = []
        self.checks = 0
        self.generate_s: list[float] = []
        self.candidates: list[int] = []
        self.precision: list[float] = []

    def _generate(self) -> None:
        """Persist the next round's corpus; its seed depends only on the
        run seed and the round number."""
        self.spark.catalog.clearCache()
        with self.tracer.op("generate", "corpus.generate") as rec:
            big = make_corpus_distributed(
                self.spark, N_DOCS, seed=self.seed * 1000 + self.rounds, n_partitions=N_PARTITIONS
            )
            key = F.regexp_extract("path", r"file_(\d+)", 1).cast("long")
            hsel = F.pmod(F.xxhash64(key), F.lit(1000))
            text = (
                F.when(key < CLIQUE_DOCS, F.lit(" ".join([BOILERPLATE] * 6)))
                .when(hsel < 50, F.concat(F.lit(BOILERPLATE + " "), F.col("content")))
                .otherwise(F.col("content"))
            )
            self.docs = big.select(key.alias("doc_id"), text.alias("text")).persist()
            self.n_docs = self.docs.count()
        if not rec["ok"]:
            raise RuntimeError(f"corpus generation failed: {rec['error']}")
        self.generate_s.append(rec["ms"] / 1e3)

    def setup(self) -> None:
        self._generate()
        self.tracer.active = False  # the warm-up round stays out of the per-layer numbers
        self.round(check=False)
        self.between_rounds()
        self.answers = hashlib.sha256()

    def round(self, check: bool = True) -> None:
        docs, op, out = self.docs, self.tracer.op, {}

        def step(name, fn):
            with op(name.rsplit(".", 1)[1], name) as rec:
                out[name] = fn()
            return rec["ok"]

        def persisted(df):
            df = df.persist()
            return df, df.count()

        ok = step(STEPS[0], lambda: persisted(shingles(docs)))
        ok = ok and step(STEPS[1], lambda: persisted(lsh_candidate_pairs(minhash_signatures(out[STEPS[0]][0]))))
        ok = ok and step(STEPS[2], lambda: persisted(
            jaccard_pairs(out[STEPS[0]][0], threshold=JACCARD_THRESHOLD, candidates=out[STEPS[1]][0])
        ))
        ok = ok and step(STEPS[3], lambda: dedup_keep_canonical(docs, out[STEPS[2]][0]).count())
        step(STEPS[4], lambda: bigram_lm_stats(docs).agg(F.sum("n_bigrams")).collect()[0][0])
        if check:
            self._check_round(out, ok)

    def _check_round(self, out: dict, ok: bool) -> None:
        """Outside the timer: the LSH candidates hold every Jaccard pair,
        and the kept count is the docs minus the non-canonical members of
        the pair graph's components (union-find on the driver)."""
        if ok:
            cand_df, n_cand = out[STEPS[1]]
            pairs_df, n_pairs = out[STEPS[2]]
            cand = {(r["doc_a"], r["doc_b"]) for r in cand_df.collect()}
            pairs = [(r["doc_a"], r["doc_b"]) for r in pairs_df.select("doc_a", "doc_b").collect()]
            missing = [p for p in pairs if p not in cand]
            self._check(not missing, f"jaccard pairs that are not LSH candidates: {missing[:5]}")
            parent: dict = {}

            def find(x):
                while parent.setdefault(x, x) != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in pairs:
                parent[find(a)] = find(b)
            losers = len(parent) - len({find(x) for x in parent})
            kept = out[STEPS[3]]
            self._check(kept == self.n_docs - losers,
                        f"kept {kept} docs, expected {self.n_docs} - {losers}")
            self.candidates.append(n_cand)
            self.precision.append(n_pairs / n_cand if n_cand else 0.0)
        self.answers.update(json.dumps(
            [self.rounds] + [v[1] if isinstance(v, tuple) else v for v in out.values()], default=str
        ).encode())

    def _check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks.append(what)

    def between_rounds(self) -> None:
        self.rounds += 1
        self._generate()

    def summary(self) -> dict:
        return {"answers_sha256": self.answers.hexdigest()[:16], "docs_per_round": self.n_docs}

    def layer_metrics(self) -> dict[str, float]:
        t = self.tracer
        traced = [o for o in t.ops if o.get("group") and o["ok"] and o["kind"] != "generate"]
        per_round = len(traced) / len(STEPS) if traced else 1.0
        step_s = lambda name: median(t.spans_named(name)) / 1e3
        return {
            "corpus.generate_s": median(self.generate_s),
            "operators.dedup.shingles_s": step_s(STEPS[0]),
            "operators.dedup.lsh_s": step_s(STEPS[1]),
            "operators.dedup.jaccard_s": step_s(STEPS[2]),
            "operators.graph.keep_canonical_s": step_s(STEPS[3]),
            "operators.text_analysis.bigram_lm_s": step_s(STEPS[4]),
            "operators.dedup.lsh_candidates": median(self.candidates),
            "operators.dedup.lsh_precision": median(self.precision),
            "session.jobs_per_keep_canonical": median(
                o["jobs"] for o in traced if o["kind"] == "keep_canonical"
            ),
            "session.jobs_per_round": sum(o["jobs"] for o in traced) / per_round,
            "session.tasks_per_round": sum(o["tasks"] for o in traced) / per_round,
        }

    def close(self) -> None:
        self.spark.catalog.clearCache()
