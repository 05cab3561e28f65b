"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All JVM-side Column expressions (no Python in the hot path); each has an
exact DuckDB-SQL twin in oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import md5_bucket, md5_uniform
from ..functions.stopwords import STOP_WORDS

# Small seed wordlists for the n-gram/stopword language heuristic. Listed
# langs match the testdata documents table; zh has no latin-token list so
# it never wins on romanized corpora (deterministic by design).
LANG_WORDLISTS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "un", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"],
    "zh": [],
}

FINGERPRINT_MOD = 1_000_000_007
BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Training snippets for the char-trigram Naive-Bayes language scorer
# (lang_id_ngram) — a real (if small) generative model, replacing the
# wordlist heuristic's hard dependency on function-word hits. Both engines
# tokenize the training text with the SAME tokenizer as the documents, so
# the derived table is engine-neutral by construction.
LANG_TRAIN: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and runs through the "
        "green fields while the morning sun rises over the quiet hills "
        "people often say that reading books is the best way to learn new "
        "things about the world and its many wonderful places everyone "
        "should try to write a little every day because practice makes "
        "perfect and there is nothing better than doing the work yourself"
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y corre por "
        "los campos verdes mientras el sol de la manana sube sobre las "
        "colinas tranquilas la gente dice que leer libros es la mejor "
        "manera de aprender cosas nuevas sobre el mundo y sus muchos "
        "lugares maravillosos todos deberian intentar escribir un poco "
        "cada dia porque la practica hace al maestro y no hay nada mejor"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et "
        "court dans les champs verts pendant que le soleil du matin se "
        "leve sur les collines tranquilles les gens disent que lire des "
        "livres est la meilleure facon de apprendre de nouvelles choses "
        "sur le monde et ses nombreux endroits merveilleux tout le monde "
        "devrait essayer de ecrire un peu chaque jour car la pratique"
    ),
    "de": (
        "der schnelle braune fuchs springt uber den faulen hund und lauft "
        "durch die grunen felder wahrend die morgensonne uber den stillen "
        "hugeln aufgeht die leute sagen dass das lesen von buchern der "
        "beste weg ist um neue dinge uber die welt und ihre vielen "
        "wunderbaren orte zu lernen jeder sollte versuchen jeden tag ein "
        "wenig zu schreiben denn ubung macht den meister und nichts ist"
    ),
}

# below this matched-trigram ratio the doc is "unknown" (gibberish /
# non-latin text shares almost no trigrams with any training snippet)
LANG_NGRAM_MIN_MATCH = 0.2


def trigram_model() -> tuple[list[tuple[str, str, float]], dict[str, float]]:
    """Add-1-smoothed char-trigram log-probability table over the union
    vocabulary of all training snippets, plus the per-language default
    log-prob for unseen trigrams. Plain floats with full repr precision —
    the SQL oracle inlines the identical literals, so both engines sum
    the same doubles (6dp rounding absorbs sum-order ulps)."""
    import math

    from ..functions.text import tokenize_py

    counts: dict[str, tuple[dict[str, int], int]] = {}
    vocab: set[str] = set()
    for lang, txt in LANG_TRAIN.items():
        s = " ".join(tokenize_py(txt))
        tris = [s[i : i + 3] for i in range(len(s) - 2)]
        c: dict[str, int] = {}
        for t in tris:
            c[t] = c.get(t, 0) + 1
        counts[lang] = (c, len(tris))
        vocab |= set(c)
    V = len(vocab)
    table: list[tuple[str, str, float]] = []
    default: dict[str, float] = {}
    for lang in sorted(counts):
        c, n = counts[lang]
        default[lang] = math.log(1.0 / (n + V))
        for t in sorted(vocab):
            table.append((lang, t, math.log((c.get(t, 0) + 1.0) / (n + V))))
    return table, default


def lang_id_ngram(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, predicted_lang, lang_score): argmax average char-trigram
    log-likelihood under the add-1-smoothed per-language models
    (trigram_model). Docs with no trigrams, or whose matched-trigram ratio
    is below LANG_NGRAM_MIN_MATCH, are 'unknown'.

    Physical shape: normalize (tokenize + single-space join) map-side,
    explode trigrams, ONE broadcast join against the ~4xV-row model table,
    groupBy (doc, lang) partial-agg sums, tiny per-doc argmax window."""
    table, default = trigram_model()
    spark = docs.sparkSession
    tbl = spark.createDataFrame(table, "lang string, tri string, logp double")
    dflt = spark.createDataFrame(
        sorted(default.items()), "lang string, dflt double"
    )
    c = F.col(content_col)
    s_df = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.concat_ws(" ", T.tokens_col(c)).alias("s"),
    )
    tri = (
        s_df.where(F.length("s") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("s") - 2),
                    lambda i: F.col("s").substr(i, F.lit(3)),
                )
            ).alias("tri"),
        )
    )
    n_tri = tri.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    matched = (
        tri.join(F.broadcast(tbl), "tri")
        .groupBy("doc_id", "lang")
        .agg(F.sum("logp").alias("m"), F.count(F.lit(1)).alias("mc"))
    )
    scored = (
        n_tri.crossJoin(F.broadcast(dflt))
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            (
                (F.coalesce(F.col("m"), F.lit(0.0))
                 + (F.col("n") - F.coalesce(F.col("mc"), F.lit(0))) * F.col("dflt"))
                / F.col("n")
            ).alias("score"),
            (F.coalesce(F.col("mc"), F.lit(0)) / F.col("n")).alias("match_ratio"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .where(F.col("match_ratio") >= LANG_NGRAM_MIN_MATCH)
    )
    all_docs = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    return all_docs.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("unknown")).alias("predicted_lang"),
        F.round(F.coalesce(F.col("score"), F.lit(0.0)), 6).alias("lang_score"),
    )


def _tok_df(docs: DataFrame, doc_id_col: str, content_col: str) -> DataFrame:
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.posexplode(T.tokens_col(F.col(content_col))).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")


def lang_id(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, predicted_lang, lang_score): argmax over wordlist hit
    ratios; ties broken lang-name ascending; no hits -> 'unknown'."""
    spark = docs.sparkSession
    wl = spark.createDataFrame(
        [(lang, w) for lang, words in LANG_WORDLISTS.items() for w in words],
        "lang string, word string",
    )
    toks = _tok_df(docs, doc_id_col, content_col)
    totals = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    hits = (
        toks.join(F.broadcast(wl), toks["tok"] == wl["word"])
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    scored = hits.join(totals, "doc_id").select(
        "doc_id", "lang", (F.col("hits") / F.col("n_tokens")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    all_docs = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    return all_docs.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("lang"), F.lit("unknown")).alias("predicted_lang"),
        F.round(F.coalesce(F.col("score"), F.lit(0.0)), 6).alias("lang_score"),
    )


def quality_score(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, n_tokens, punct_ratio, stop_ratio, mean_tok_len,
    quality): cheap heuristics in one pass + one token aggregation."""
    c = F.col(content_col)
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOP_WORDS)])
    toks = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.length(c).alias("n_chars"),
        (F.length(c) - F.length(F.regexp_replace(c, T.RE_NON_ALNUM, ""))).alias("n_punct"),
        T.tokens_col(c).alias("toks"),
    )
    agg = toks.select(
        "doc_id",
        "n_chars",
        "n_punct",
        F.size("toks").alias("n_tokens"),
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t))).alias("n_stop"),
        F.aggregate("toks", F.lit(0), lambda a, t: a + F.length(t)).alias("tok_chars"),
    )
    punct_ratio = F.when(F.col("n_chars") > 0, F.col("n_punct") / F.col("n_chars")).otherwise(0.0)
    stop_ratio = F.when(F.col("n_tokens") > 0, F.col("n_stop") / F.col("n_tokens")).otherwise(0.0)
    mean_len = F.when(F.col("n_tokens") > 0, F.col("tok_chars") / F.col("n_tokens")).otherwise(0.0)
    quality = (
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0)))
        + 0.3 * F.least(stop_ratio * 3.0, F.lit(1.0))
    )
    return agg.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_len, 6).alias("mean_tok_len"),
        F.round(quality, 6).alias("quality"),
    )


def token_counts(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens, n_chars): whitespace tokens vs a
    BPE-ish regex segmentation (letters / digits / single punctuation)."""
    c = F.col(content_col)
    ws = F.size(F.filter(F.split(F.trim(c), T.RE_WS), lambda t: t != F.lit("")))
    bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RE), F.lit(0)))
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        F.length(c).alias("n_chars"),
    )


# PII patterns (RE2/Java/DuckDB-compatible: no backrefs, no lookaround).
# Deliberately conservative — a production pipeline would tune these; the
# operator shape (count + redact in one JVM-side pass) is the point.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
PII_IP_RE = (
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
)


def redact_pii(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_phones, n_ips): count and redact
    emails / phone numbers / IPv4 addresses — the standard pre-training
    scrub pass. One map stage, all JVM-side regexes (no Python, no
    shuffle); order of redaction is email -> phone -> ip so the counts
    refer to the ORIGINAL text (counted before any rewriting)."""
    c = F.col(content_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(c, F.lit(PII_IP_RE), F.lit(0)))
    clean = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, PII_PHONE_RE, "<PHONE>")
    clean = F.regexp_replace(clean, PII_IP_RE, "<IP>")
    return docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        clean.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
    )


def repetition_stats(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, n_lines, dup_line_ratio, top_token_ratio, top_bigram_ratio):
    Gopher/C4-style repetition signals for corpus filtering (Rae et al.
    2021 §A1.1): fraction of non-empty lines that are duplicates of an
    earlier line, and the fraction of tokens covered by the most frequent
    token / adjacent bigram. All computed with groupBy partial aggregation
    on (doc, line|token|bigram) keys — no windows over whole documents."""
    ids = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"), F.col(content_col).alias("_c"))
    lines = ids.select(
        "doc_id", F.explode(F.split("_c", "\\n")).alias("line")
    ).where(F.trim("line") != "")
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_lines"),
            (F.sum("c") - F.count(F.lit(1))).alias("dup_lines"),
        )
    )
    toks = _tok_df(docs, doc_id_col, content_col)
    tok_top = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_toks"), F.max("c").alias("top_tok"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        "doc_id", "pos", F.concat_ws(" ", "tok", F.lead("tok").over(w)).alias("bigram"),
        F.lead("tok").over(w).alias("_nxt"),
    ).where(F.col("_nxt").isNotNull())
    bi_top = (
        bi.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bi"), F.max("c").alias("top_bi"))
    )
    all_docs = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    out = (
        all_docs.join(line_stats, "doc_id", "left")
        .join(tok_top, "doc_id", "left")
        .join(bi_top, "doc_id", "left")
    )
    ratio = lambda num, den: F.when(
        F.coalesce(F.col(den), F.lit(0)) > 0, F.col(num) / F.col(den)
    ).otherwise(0.0)
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("int").alias("n_lines"),
        F.round(ratio("dup_lines", "n_lines"), 6).alias("dup_line_ratio"),
        F.round(ratio("top_tok", "n_toks"), 6).alias("top_token_ratio"),
        F.round(ratio("top_bi", "n_bi"), 6).alias("top_bigram_ratio"),
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
    seed: str = "mix1",
) -> DataFrame:
    """Deterministic per-group sampling — the domain-mixing primitive of a
    training-data pipeline (sample source A at 80%, B at 10%, ...).

    Keep iff u(doc) < fraction[group], where u = first 8 hex chars of
    md5(seed || ':' || doc_id) / 16^8 — a pure map-side filter with NO
    shuffle and NO RNG state: the same doc always lands the same way, so
    mixtures are reproducible across runs/engines (the SQL oracle applies
    the identical arithmetic). Unknown groups get default_fraction."""
    frac = F.lit(default_fraction)
    for g, f in sorted(fractions.items()):
        frac = F.when(F.col(group_col) == g, F.lit(float(f))).otherwise(frac)
    u = md5_uniform(F.col(id_col), salt=f"{seed}:")
    return docs.where(u < frac)


def fingerprint(
    docs: DataFrame, doc_id_col: str = "doc_id", content_col: str = "text"
) -> DataFrame:
    """(doc_id, fingerprint): order-sensitive rolling polynomial hash over
    worthy tokens: h = (h*31 + tok_hash) mod 1e9+7, tok_hash = first 8 hex
    chars of md5(tok). Portable to SQL via list_reduce."""
    t = _tok_df(docs, doc_id_col, content_col).where(T.is_worth_col(F.col("tok")))
    t = t.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("th"),
    )
    ordered = t.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "th"))).alias("pth")
    )
    rolled = ordered.select(
        "doc_id",
        F.aggregate(
            F.transform("pth", lambda s: s["th"]),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + x) % FINGERPRINT_MOD,
        ).alias("fingerprint"),
    )
    all_docs = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    return all_docs.join(rolled, "doc_id", "left").select(
        "doc_id", F.coalesce("fingerprint", F.lit(0)).alias("fingerprint")
    )


def distinct_token_sketch(
    docs: DataFrame,
    m: int = 1024,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """One-row (n_buckets, occupied, estimate): vocabulary-size estimation
    by linear counting (Whang et al., TODS 1990) — hash every worthy token
    into one of m buckets via md5 (engine-portable), count occupied buckets
    V, estimate = m * ln(m / (m - V)).

    Why not HLL: Spark's approx_count_distinct has engine-private
    internals, so no SQL oracle could reproduce it; linear counting with a
    portable hash is bit-deterministic in BOTH engines while exercising the
    same sketch-shaped plan (hash -> tiny fixed-size state).

    Scale shape: the distinct runs over at most m values after map-side
    partial dedup — state is O(m) per partition regardless of corpus size,
    the defining property of a sketch."""
    t = _tok_df(docs, doc_id_col, content_col).where(T.is_worth_col(F.col("tok")))
    buckets = t.select(
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), F.lit(m)
        ).alias("bucket")
    ).distinct()
    return buckets.agg(F.count(F.lit(1)).cast("long").alias("occupied")).select(
        F.lit(m).cast("long").alias("n_buckets"),
        "occupied",
        F.round(
            F.when(
                F.col("occupied") < m,
                F.lit(float(m)) * F.log(F.lit(float(m)) / (m - F.col("occupied"))),
            ).otherwise(F.lit(float("inf"))),
            6,
        ).alias("estimate"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    block: int = 4096,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence-packing plan (GPT-style training-data
    prep): conceptually concatenate all docs' token streams in doc_id
    order and cut fixed ``seq_len`` sequences; emit each doc's global
    token offset and the chunk range it lands in.

    The global running sum is a DISTRIBUTED prefix sum — never a global
    window over the docs:
      1. per-doc whitespace token counts (same tokens as token_counts);
      2. per-block totals, block = doc_id // block — one partial-agg
         shuffle to N/block summary rows;
      3. running block offsets: a window over ONLY the block summaries
         (at 1e12 docs with block=1e6 that is 1e6 tiny rows — KBs in a
         single task, the same trick zipWithIndex uses for partition
         offsets);
      4. within-block running sum: window PARTITIONED by block, so no
         task sorts more than ``block`` rows;
      5. chunk ids by integer division on the offsets.

    Output: (doc_id, n_tokens, start_offset, first_chunk, last_chunk);
    zero-token docs are dropped (they occupy no sequence).
    """
    c = F.col(content_col)
    ws = F.size(F.filter(F.split(F.trim(c), T.RE_WS), lambda t: t != F.lit("")))
    tc = (
        docs.select(
            F.col(doc_id_col).cast("long").alias("doc_id"),
            ws.cast("long").alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn("blk", F.floor(F.col("doc_id") / block))
    )
    btot = tc.groupBy("blk").agg(F.sum("n_tokens").alias("blk_tokens"))
    w_blocks = (
        Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = btot.select(
        "blk",
        F.coalesce(F.sum("blk_tokens").over(w_blocks), F.lit(0)).alias(
            "blk_off"
        ),
    )
    w_in = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("blk_off") + F.coalesce(
        F.sum("n_tokens").over(w_in), F.lit(0)
    )
    out = tc.join(boff, "blk").select(
        "doc_id",
        "n_tokens",
        start.alias("start_offset"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / seq_len).cast("long").alias(
            "first_chunk"
        ),
        F.floor(
            (F.col("start_offset") + F.col("n_tokens") - 1) / seq_len
        ).cast("long").alias("last_chunk"),
    )


def corpus_length_stats(
    docs: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-group doc-length profile: count, mean, exact p50/p90/p99.

    Exact percentiles (F.percentile) buffer each group's values in the
    agg — right for dashboard-sized group counts. At 100 TB swap in
    F.approx_percentile (t-digest sketch, mergeable, bounded memory)
    with the same call shape; the exact form is what the DuckDB oracle
    can hash-match (quantile_cont uses the identical (n-1)*p linear
    interpolation).
    """
    c = F.col(len_col).cast("double")
    return docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg(c), 6).alias("mean_len"),
        F.round(F.percentile(c, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(c, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(c, F.lit(0.99)), 6).alias("p99"),
    )


def temperature_sample(
    docs: DataFrame,
    tau: float = 0.7,
    target_frac: float = 0.5,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "temp1",
) -> DataFrame:
    """Temperature-flattened mixture sampling (the T5/PaLM mixture rule):
    group share of the kept set ∝ n_g^tau, so tau=1 preserves natural
    proportions and tau->0 flattens toward uniform-per-group; the
    expected kept fraction of the corpus is ``target_frac`` (per-group
    keep probability capped at 1).

    Rates derive from ONE partial-agg count per group crossed with a
    1-row broadcast total; the keep decision is the same map-side
    md5-Bernoulli as stratified_sample (no RNG state, reproducible,
    identical arithmetic in the SQL oracle). Output carries the applied
    keep_p so mixtures are auditable.
    """
    counts = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n_g")
    )
    tot = counts.agg(
        F.sum(F.pow(F.col("n_g"), F.lit(tau))).alias("wsum"),
        F.sum("n_g").alias("n_tot"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.least(
            F.lit(1.0),
            F.lit(target_frac)
            * F.col("n_tot")
            * F.pow(F.col("n_g"), F.lit(tau))
            / F.col("wsum")
            / F.col("n_g"),
        ).alias("keep_p"),
    )
    u = md5_uniform(F.col(id_col), salt=f"{seed}:")
    return (
        docs.join(F.broadcast(rates), group_col)
        .where(u < F.col("keep_p"))
        .select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(group_col),
            F.round("keep_p", 6).alias("keep_p"),
        )
    )


def ngram_counts(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Top-k corpus word n-grams by occurrence count (ALL occurrences,
    not per-doc distinct — the LM-counts shape, vs dedup.shingles'
    set semantics). Same window-lead construction as the shingle
    pipeline; one partial-agg count shuffle; top-k is an ordered limit
    (ties: count desc, ngram asc)."""
    from .dedup import _tokens

    t = _tokens(docs, doc_id_col, content_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    grams = t.select(
        F.concat_ws(" ", *cols).alias("ngram"),
        F.lead("tok", n - 1).over(w).alias("_last"),
    ).where(F.col("_last").isNotNull())
    counted = grams.groupBy("ngram").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    top = counted.orderBy(
        F.desc("n_occurrences"), F.asc("ngram")
    ).limit(k)
    rank_w = Window.orderBy(F.desc("n_occurrences"), F.asc("ngram"))
    return top.withColumn("rank", F.row_number().over(rank_w).cast("int"))


def linear_weights(vocab_hashes: int = 256, seed: int = 21) -> list[tuple[int, float]]:
    """Deterministic hashed-feature weights for the linear quality
    model: (feature_bucket, weight in [-1, 1)) for every bucket. The
    same literals reach the SQL oracle, so both engines score
    identically — the shape of shipping a trained fastText-style model
    into the cluster as a broadcast table."""
    out = []
    for b in range(vocab_hashes):
        x = (seed * 0x9E3779B97F4A7C15 + b * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        x ^= x >> 31
        x = (x * 0x94D049BB133111EB) & ((1 << 64) - 1)
        x ^= x >> 29
        out.append((b, (x % (1 << 53)) / float(1 << 52) - 1.0))
    return out


def quality_linear(
    docs: DataFrame,
    weights: list[tuple[int, float]] | None = None,
    vocab_hashes: int = 256,
    bias: float = 0.0,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Linear text classifier inference as a JOIN — the scale pattern
    for fastText-style quality filtering: hash each token into
    ``vocab_hashes`` feature buckets, join the (bucket, weight) model
    table (broadcast — a real model is a few MB), mean-pool the
    weights per doc, sigmoid -> quality probability.

    One token->bucket map stage + one broadcast join + one partial-agg
    groupBy; no UDF, no per-row Python. Swap linear_weights() for a
    trained model's rows and nothing else changes.
    """
    from .dedup import _tokens

    if weights is None:
        weights = linear_weights(vocab_hashes)
    spark = docs.sparkSession
    wdf = spark.createDataFrame(weights, "bucket int, w double")
    t = _tokens(docs, doc_id_col, content_col)
    # portable bucket hash (md5 prefix, same arithmetic in the oracle)
    feat = t.select(
        "doc_id",
        md5_bucket(F.col("tok"), vocab_hashes).cast("int").alias("bucket"),
    )
    z = (
        feat.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id")
        .agg((F.avg("w") + F.lit(bias)).alias("z"))
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
    return z.select(
        "doc_id",
        F.round(prob, 6).alias("quality_prob"),
    )


def top_docs_per_group(
    docs: DataFrame,
    k: int = 3,
    group_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group top-k (largest ``order_col``, ties to lowest id) — the
    partitioned-window pattern: the sort is bounded per group key, never
    global. (grp, doc_id, n_chars, rank)."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc(order_col), F.asc(id_col)
    )
    return (
        docs.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("doc_id"),
            F.col(order_col).alias("n_chars"),
        )
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("grp").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ).cast("int"))
        .where(F.col("rank") <= k)
    )


LEN_HIST_MAX_BUCKET = 40


def length_histogram(docs: DataFrame, len_col: str = "n_chars") -> DataFrame:
    """Power-of-two doc-length histogram: bucket b holds lengths in
    [2^b, 2^(b+1)); lengths < 1 land in bucket -1. Bucketing is EXACT
    integer comparison (a floor(log2) would disagree across engines at
    exact powers of two by one libm ulp). One partial-agg shuffle.
    (bucket, lo, hi, n_docs)."""
    ln = F.col(len_col).cast("long")
    bucket = F.lit(-1)
    for b in range(LEN_HIST_MAX_BUCKET + 1):
        bucket = F.when(ln >= (1 << b), F.lit(b)).otherwise(bucket)
    agg = (
        docs.select(bucket.cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return agg.select(
        "bucket",
        # shiftleft with a column shift needs the SQL form; 2^b is exact
        # in int64 for every bucket <= 40
        F.when(F.col("bucket") < 0, F.lit(0).cast("long"))
        .otherwise(F.expr("shiftleft(cast(1 as bigint), bucket)"))
        .alias("lo"),
        F.when(F.col("bucket") < 0, F.lit(1).cast("long"))
        .otherwise(F.expr("shiftleft(cast(1 as bigint), bucket + 1)"))
        .alias("hi"),
        "n_docs",
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 500,
    overlap: int = 100,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Split docs into fixed-size overlapping character windows — the
    embedding/RAG prep step. Pure integer window arithmetic:
    n_chunks = 1 for len <= chunk_chars, else
    1 + ceil((len - chunk_chars) / step) with step = chunk_chars -
    overlap (the final window is the only short one). One JVM-side
    sequence+explode per doc — no UDF, no shuffle; emits
    (doc_id, chunk_id, chunk_start, chunk_len, chunk_sha) so downstream
    dedup/embedding stages key on the compact sha instead of re-shipping
    text."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    ln = F.length(F.col(content_col))
    n_chunks = F.when(ln <= chunk_chars, F.lit(1)).otherwise(
        F.lit(1)
        + F.floor((ln - chunk_chars + step - 1) / step).cast("int")
    )
    out = (
        docs.where(ln > 0)
        .select(
            F.col(doc_id_col).cast("string").alias("doc_id"),
            F.col(content_col).alias("_t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            (F.col("chunk_id") * step).cast("long").alias("chunk_start"),
            F.substring(
                F.col("_t"), F.col("chunk_id") * step + 1, chunk_chars
            ).alias("_chunk"),
        )
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.length("_chunk").cast("int").alias("chunk_len"),
        F.md5("_chunk").alias("chunk_sha"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

LM_ALPHA = 0.1


def _bigram_stream(
    docs: DataFrame, doc_id_col: str, content_col: str
) -> DataFrame:
    """(doc_id, bigram): every adjacent token pair as a space-joined
    string key, repeats kept. A pure map stage: one Arrow kernel
    (arrow_kernels.bigram_stream_arrow: vectorized tokenize + window
    join); the interpreted HOF transform/slice/concat chain it replaced
    was ~5.5 s/pass at 60k docs, and this stream is generated twice per
    LM scoring call. Tokens cannot contain whitespace, so the string key
    round-trips to (w1, w2). tests/kernel_reference.bigram_stream pins
    its rows."""
    from .arrow_kernels import bigram_stream_arrow

    return bigram_stream_arrow(docs, doc_id_col, content_col)


def bigram_lm_stats(
    docs: DataFrame,
    alpha: float = LM_ALPHA,
    train_docs: DataFrame | None = None,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob, ppl): score every document under
    an add-alpha-smoothed bigram LM trained on ``train_docs`` (default:
    the corpus itself) — the CCNet quality-filter shape (Wenzek et al.
    2020 score web text under a KenLM model and threshold on per-doc
    perplexity; the n-gram-counts-as-model mechanics are identical, CCNet
    just trains 5-grams on Wikipedia).

    p(w2|w1) = (c(w1 w2) + a) / (c(w1) + a*V); avg_logprob is the mean
    ln p over the doc's bigrams; ppl = exp(-avg_logprob). Docs with < 2
    tokens report (0, 0.0, 1.0) but still appear.

    Scale shape: training is two partial-agg groupBys (bigram + unigram
    counts) over one map-side bigram projection; scoring is two
    equi-joins (model tables keyed by bigram / w1 — AQE broadcasts them
    when small, handles hot-bigram skew otherwise) + one per-doc partial
    agg. V rides a 1-row broadcast cross join, never a driver collect.
    No UDF anywhere. At 1e12 docs swap countDistinct for
    approx_count_distinct and cap the model table by min count — both
    are one-line changes flagged here rather than silently applied,
    because the DuckDB twin gates on exact V.
    """
    train = docs if train_docs is None else train_docs
    tbg = _bigram_stream(train, doc_id_col, content_col)
    bcnt = tbg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    ttok = train.select(
        F.explode(T.tokens_col(F.col(content_col))).alias("tok")
    )
    ucnt = ttok.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    # V = |vocab| = row count of the unigram table — no second
    # distinct-expand pass over the token stream
    voc = ucnt.agg(F.count(F.lit(1)).alias("V"))

    sc = (
        _bigram_stream(docs, doc_id_col, content_col)
        .join(bcnt, "bigram", "left")
        .join(
            ucnt.withColumnRenamed("tok", "_w1"),
            F.substring_index(F.col("bigram"), " ", 1) == F.col("_w1"),
            "left",
        )
        .crossJoin(F.broadcast(voc))
    )
    lp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha) * F.col("V"))
    )
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum(lp).alias("_slp"),
    )
    ids = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    out = ids.join(agg, "doc_id", "left")
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0))
    avg = F.when(nb > 0, F.col("_slp") / nb).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        nb.cast("int").alias("n_bigrams"),
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.when(nb > 0, F.exp(-avg)).otherwise(F.lit(1.0)), 6).alias(
            "ppl"
        ),
    )


# ---------------------------------------------------------------------------
# Gopher quality rule-set (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1) —
# the standard pre-training document filter battery, as explicit per-rule
# flags so downstream mixes can audit WHY a document was dropped rather
# than only that it was.
# ---------------------------------------------------------------------------

GOPHER_STOP = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    stop_words: tuple[str, ...] = GOPHER_STOP,
    min_stop: int = 2,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, mean_word_len, frac_alpha_words, symbol_ratio,
    n_stop_distinct, pass_* int flags, pass_gopher): Gopher's document-
    level quality rules, each as its own 0/1 column plus the conjunction.

    Every metric is a map-side projection over the token array — no
    shuffle, no UDF: word count and mean length via size/aggregate,
    alphabetic fraction via a filtered size, the symbol ratio from
    replace-length arithmetic on the raw text ('#' occurrences plus
    '...' runs, the two symbols Gopher counts), and the stop-word rule
    counts DISTINCT required words present (array_intersect against a
    literal array). At 100 TB this is embarrassingly parallel; the flags
    are cheap ints so the pass/fail audit table costs ~40 bytes/doc.
    """
    c = F.col(content_col)
    stop_arr = F.array(*[F.lit(w) for w in sorted(stop_words)])
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / 3
    base = docs.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        T.tokens_col(c).alias("toks"),
        (n_hash + n_ellipsis).alias("n_symbols"),
    )
    agg = base.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.aggregate("toks", F.lit(0), lambda a, t: a + F.length(t)).alias(
            "_tok_chars"
        ),
        F.size(
            F.filter("toks", lambda t: t.rlike("[a-z]"))
        ).alias("_n_alpha"),
        F.size(F.array_intersect(F.array_distinct("toks"), stop_arr)).alias(
            "n_stop_distinct"
        ),
        "n_symbols",
    )
    nw = F.col("n_words")
    mean_len = F.when(nw > 0, F.col("_tok_chars") / nw).otherwise(F.lit(0.0))
    frac_alpha = F.when(nw > 0, F.col("_n_alpha") / nw).otherwise(F.lit(0.0))
    sym_ratio = F.when(nw > 0, F.col("n_symbols") / nw).otherwise(F.lit(0.0))
    p_wc = ((nw >= min_words) & (nw <= max_words)).cast("int")
    p_ml = ((mean_len >= min_mean_len) & (mean_len <= max_mean_len)).cast("int")
    p_sym = (sym_ratio <= max_symbol_ratio).cast("int")
    p_al = (frac_alpha >= min_alpha_frac).cast("int")
    p_st = (F.col("n_stop_distinct") >= min_stop).cast("int")
    return agg.select(
        "doc_id",
        nw.cast("int").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(frac_alpha, 6).alias("frac_alpha_words"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.col("n_stop_distinct").cast("int").alias("n_stop_distinct"),
        p_wc.alias("pass_word_count"),
        p_ml.alias("pass_mean_len"),
        p_sym.alias("pass_symbol"),
        p_al.alias("pass_alpha"),
        p_st.alias("pass_stop"),
        (p_wc * p_ml * p_sym * p_al * p_st).alias("pass_gopher"),
    )


# ---------------------------------------------------------------------------
# DSIR-shaped importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every document by
# how much more likely its tokens are under a TARGET domain's unigram LM
# than under the whole-corpus background LM — the data-selection
# primitive behind "make my 100 TB crawl look like Wikipedia". DSIR uses
# hashed n-gram features; this is the exact unigram form (the hashing is
# a capacity knob, not a semantics change), add-alpha smoothed like the
# bigram LM above.
# ---------------------------------------------------------------------------


def dsir_importance(
    docs: DataFrame,
    target_docs: DataFrame,
    alpha: float = 0.1,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, avg_llr): mean per-token log-likelihood ratio
    ln p_target(w) - ln p_background(w), smoothed over the BACKGROUND
    vocabulary (target probabilities are defined on the same support so
    unseen-in-target tokens get mass alpha/(N_t + alpha*V), never -inf).

    Scale shape: two partial-agg unigram groupBys (background + target),
    one equi-join of the token stream against each count table (AQE
    broadcasts them when small), scalars (V, N_b, N_t) ride 1-row
    broadcast cross joins. Resampling on the weights is then
    stratified/temperature sampling on avg_llr — already separate gated
    operators. Docs with no tokens report (0, 0.0)."""
    t = _tok_df(docs, doc_id_col, content_col)
    tt = _tok_df(target_docs, doc_id_col, content_col)
    cb = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c_b"))
    ct = tt.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t"))
    scal = (
        cb.agg(
            F.count(F.lit(1)).alias("V"), F.sum("c_b").alias("N_b")
        )
        .crossJoin(ct.agg(F.sum("c_t").alias("N_t")))
    )
    a = float(alpha)
    scored = (
        t.join(cb, "tok")
        .join(ct, "tok", "left")
        .crossJoin(F.broadcast(scal))
    )
    llr = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(a))
        / (F.coalesce(F.col("N_t"), F.lit(0)) + F.lit(a) * F.col("V"))
    ) - F.log(
        (F.col("c_b") + F.lit(a)) / (F.col("N_b") + F.lit(a) * F.col("V"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.sum(llr).alias("_sllr"),
    )
    ids = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    out = ids.join(agg, "doc_id", "left")
    nt = F.coalesce(F.col("n_tokens"), F.lit(0))
    return out.select(
        "doc_id",
        nt.cast("int").alias("n_tokens"),
        F.round(
            F.when(nt > 0, F.col("_sllr") / nt).otherwise(F.lit(0.0)), 6
        ).alias("avg_llr"),
    )


# ---------------------------------------------------------------------------
# BPE merge-iteration pair counts (Sennrich et al. 2016, "Neural Machine
# Translation of Rare Words with Subword Units" §3.2): the inner loop of
# tokenizer training — count every adjacent symbol pair across the
# corpus, weighted by word frequency; the argmax pair is the next merge.
# One iteration is exactly SQL-shaped (the full training loop re-runs it
# ~32k times over a shrinking distinct-word table that fits in one
# executor after iteration 1 — the distributed win is THIS first pass
# over the raw corpus).
# ---------------------------------------------------------------------------


def bpe_pair_counts(
    docs: DataFrame,
    k: int = 20,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(pair, pair_count, rank): top-k adjacent character pairs over the
    corpus, each word's internal pairs counted with multiplicity and
    weighted by the word's corpus frequency (the BPE objective). The
    corpus-size pass is ONE groupBy(word); pair expansion then runs over
    the tiny distinct-word table (vocab-sized, not corpus-sized), so the
    explode touches |vocab| * avg_len rows regardless of corpus scale.
    Ties break pair-ascending for determinism."""
    t = _tok_df(docs, doc_id_col, content_col).where(F.col("tok") != "")
    wcnt = t.groupBy("tok").agg(F.count(F.lit(1)).alias("wc"))
    chars = F.split(F.col("tok"), "")
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("tok") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(chars, i), F.element_at(chars, i + 1)
        ),
    )
    pairs = (
        wcnt.where(F.length("tok") >= 2)
        .select(F.explode(pair_arr).alias("pair"), "wc")
    )
    counted = pairs.groupBy("pair").agg(
        F.sum("wc").cast("long").alias("pair_count")
    )
    top = counted.orderBy(F.desc("pair_count"), F.asc("pair")).limit(k)
    rank_w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(rank_w).cast("int"))


# ---------------------------------------------------------------------------
# tf-idf keyword extraction — the classic per-document salient-term view
# (raw tf·idf over the worthy token stream; the INDEX pipeline's
# capped/normalized variant lives in operators/postings.py — this is the
# corpus-analysis form, e.g. topic labeling / faceting at 100 TB).
# ---------------------------------------------------------------------------


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf, rank): top-k terms per document by
    tf·ln(N/df). Two partial-agg groupBys (per-doc tf, per-term df) +
    one equi-join (AQE broadcasts the df table when small) + one per-doc
    window top-k — the same shuffle budget as the posting pipeline's
    first stage. Scores are rounded to 6dp BEFORE ranking so the
    ordering is identical cross-engine; ties break term-ascending."""
    t = _tok_df(docs, doc_id_col, content_col).where(
        T.is_worth_col(F.col("tok"))
    )
    tf = t.groupBy("doc_id", F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).cast("int").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("int").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("N"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("N") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# n-gram novelty — per-document fraction of distinct n-grams appearing
# for the FIRST time in corpus order (min numeric doc id). The
# memorization/repetition lens over a growing corpus: bulk-dedup's
# complement (a doc can be no exact/near dup yet still be mostly
# recombined old phrases).
# ---------------------------------------------------------------------------


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles, novelty): novelty = |{s in shingles(doc):
    first_seen(s) = doc}| / |shingles(doc)|, where first_seen is the
    minimum NUMERIC doc id containing the n-gram (corpus = ingestion
    order; ids must be castable to long, the testdata/ingest shape).

    Scale shape: the zero-shuffle shingle projection + one groupBy
    (shingle) for first-seen + one equi-join back + one per-doc partial
    agg — the same shuffle budget as LSH candidate generation, and the
    first-seen table is reusable across both."""
    from .dedup import shingles as _shingles

    sh = _shingles(docs, n=n, doc_id_col=doc_id_col, content_col=content_col)
    first = sh.groupBy("shingle").agg(
        F.min(F.col("doc_id").cast("long")).alias("first_seen")
    )
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(
                (F.col("first_seen") == F.col("doc_id").cast("long")).cast(
                    "int"
                )
            ).alias("_novel"),
        )
    )
    ids = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    out = ids.join(per_doc, "doc_id", "left")
    ns = F.coalesce(F.col("n_shingles"), F.lit(0))
    return out.select(
        "doc_id",
        ns.alias("n_shingles"),
        F.round(
            F.when(ns > 0, F.col("_novel") / ns).otherwise(F.lit(0.0)), 6
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005, "An
# improved data stream summary: the count-min sketch and its
# applications"): estimate hot-token frequencies in d*width counters
# regardless of vocabulary size — the bounded-memory form of "what are
# the boilerplate tokens" at 100 TB, where an exact token groupBy's
# state is vocab-sized but a sketch is ~KBs and mergeable across
# partitions/streams by plain addition.
# ---------------------------------------------------------------------------


def cms_build(
    docs: DataFrame,
    d: int = 4,
    width: int = 1024,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(row, bucket, c): the d x width counter table; row r counts each
    token occurrence at md5_bucket(tok, width, salt=f"cms{r}:").
    Counters merge across any split of the input by summing, which is
    what makes the sketch the streaming/mergeable swap for exact token
    counts.

    Per-chunk partial counters come from one Arrow kernel
    (arrow_kernels.cms_counts_arrow: the bucket arithmetic once per
    DISTINCT token, numpy bincount), summed by one tiny groupBy — no
    d-fold explode of the token stream. tests/kernel_reference.cms pins
    the counters."""
    from .arrow_kernels import cms_counts_arrow

    return cms_counts_arrow(docs, d, width, doc_id_col, content_col)


def cms_heavy_hitters(
    docs: DataFrame,
    k: int = 20,
    d: int = 4,
    width: int = 1024,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(token, est_count, rank): top-k tokens by count-min ESTIMATE
    (min over the d counters each token maps to). Estimates only
    overestimate (est >= true, property-tested), by at most
    ~2/width * stream_length with probability 1 - 2^-d.

    The candidate set is the distinct-token table (vocab-sized — the
    exact-count comparison this sketch replaces is the same groupBy over
    the full stream; at true stream scale candidates come from a prior
    round's dictionary or the sketch rides a streaming query, where its
    fixed d*width state is the point). Ties break token-ascending."""
    from ..functions.hashing import md5_bucket

    cms = cms_build(docs, d, width, doc_id_col, content_col)
    # candidate vocabulary via the Arrow kernel: per-chunk distinct
    # tokens (a few k rows/chunk) instead of distinct-ing the full
    # exploded token stream (~130x more rows through the exchange)
    from .arrow_kernels import distinct_tokens_arrow

    toks = distinct_tokens_arrow(docs, doc_id_col, content_col)
    probes = toks.select(
        "tok",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    md5_bucket(F.col("tok"), width, salt=f"cms{r}:").alias(
                        "bucket"
                    ),
                )
                for r in range(d)
            ])
        ).alias("rb"),
    ).select("tok", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    est = (
        probes.join(cms, ["row", "bucket"])
        .groupBy("tok")
        .agg(F.min("c").alias("est_count"))
    )
    top = est.orderBy(F.desc("est_count"), F.asc("tok")).limit(k)
    w = Window.orderBy(F.desc("est_count"), F.asc("tok"))
    return top.select(
        F.col("tok").alias("token"),
        "est_count",
        F.row_number().over(w).cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-token estimate (Flajolet, Fusy, Gandouet &
# Meunier 2007, "HyperLogLog: the analysis of a near-optimal cardinality
# estimation algorithm"): m = 2^b max-rank registers instead of
# vocab-sized exact-distinct state — with linear counting
# (distinct_token_sketch) and count-min (cms_heavy_hitters) this
# completes the mergeable-sketch family a streaming/100 TB profile pass
# runs instead of exact groupBys.
# ---------------------------------------------------------------------------


def hll_distinct(
    docs: DataFrame,
    b: int = 8,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """1 row (m, n_zero_registers, est_distinct): HLL over the token
    stream with the md5-prefix 32-bit hash — bucket = top b bits,
    rho = leading-zero rank of the remaining (32-b) bits (via the
    length of bin(), integer-exact on both engines), registers =
    groupBy(bucket).max(rho) — ONE partial-agg exchange over m keys.
    Registers merge across splits/streams by max.

    Standard small-range correction: raw <= 2.5m with V zero registers
    -> m*ln(m/V). The 2^-register sum is a sum of dyadic rationals
    spanning < 53 mantissa bits, so it is EXACT in double on any
    summation order — the estimate is bit-deterministic cross-engine
    (ln parity is the same contract idf already gates). Relative error
    ~= 1.04/sqrt(m) (~6.5% at b=8); raise b for precision, the state is
    m bytes either way."""
    m = 1 << b
    rem = 32 - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # registers via the Arrow kernel: per-chunk (bucket, max-rho)
    # partials (<= m rows/chunk) merged by one tiny groupBy-max — the
    # JVM path ran the md5+conv tree per token OCCURRENCE and shuffled
    # per-occurrence partials; registers are value-identical (same
    # md5-prefix hash, computed once per distinct token)
    from .arrow_kernels import hll_registers_arrow

    regs = hll_registers_arrow(docs, b, doc_id_col, content_col)
    agg = regs.agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("s"),
    )
    v = F.lit(m) - F.col("nb")
    raw = F.lit(alpha * m * m) / (F.col("s") + v.cast("double"))
    # empty stream: nb == 0 makes s NULL and both branches fall through
    # to NULL — pin it to 0.0 (V == m small-range gives m*ln(m/m) = 0)
    est = F.when(F.col("nb") == 0, F.lit(0.0)).when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.lit(m).cast("int").alias("m"),
        v.cast("int").alias("n_zero_registers"),
        F.round(est, 4).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis & Spirakis 2006,
# "Weighted random sampling with a reservoir"): one pass, no global
# shuffle of the data — the way a 100 TB pipeline draws a k-doc sample
# where inclusion probability tracks a weight column (quality score,
# length, importance weight). A-Res keys: priority = u^(1/w); the top-k
# priorities ARE the weighted sample.
# ---------------------------------------------------------------------------


def priority_sample(
    docs: DataFrame,
    k: int = 50,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    seed: str = "wsample1",
) -> DataFrame:
    """(doc_id, weight, priority, rank): top-k by A-Res priority
    u^(1/w), u = the shared deterministic md5 uniform — reproducible
    across runs AND engines, so the \"random\" sample equality-gates.
    Rows with weight <= 0 are excluded (their inclusion probability is
    0 in the scheme). Priorities are 6dp-rounded BEFORE ranking; ties
    break doc_id-ascending. Plan shape: map-side key computation + ONE
    ordered limit (TakeOrdered — per-partition heaps, no global sort)."""
    from ..functions.hashing import md5_uniform

    w = F.col(weight_col).cast("double")
    u = md5_uniform(F.col(id_col), salt=f"{seed}:")
    pri = F.round(F.pow(u, 1.0 / w), 6)
    scored = (
        docs.where(w > 0)
        .select(
            F.col(id_col).cast("string").alias("doc_id"),
            w.alias("weight"),
            pri.alias("priority"),
        )
    )
    top = scored.orderBy(F.desc("priority"), F.asc("doc_id")).limit(k)
    rw = Window.orderBy(F.desc("priority"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(rw).cast("int"))


# ---------------------------------------------------------------------------
# PMI collocations (Church & Hanks 1990, "Word association norms, mutual
# information, and lexicography"): top adjacent word pairs by pointwise
# mutual information — the collocation/phrase-mining pass of a corpus
# profile (and the scoring inside phrase-vocab construction a la
# word2vec's phrase pass).
# ---------------------------------------------------------------------------


def pmi_collocations(
    docs: DataFrame,
    k: int = 20,
    min_count: int = 5,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(w1, w2, c12, pmi, rank): top-k adjacent pairs by
    pmi = ln((c12/Nb) / ((c1/Nu)*(c2/Nu))), Nb/Nu = total bigram/token
    counts; pairs below min_count are dropped (PMI's low-count
    pathology). Reuses the bigram-LM count tables' shape: one map-side
    bigram projection + two partial-agg groupBys + two vocab-sized
    equi-joins; scalars ride a 1-row broadcast. Rounded before ranking;
    ties (w1, w2)-ascending."""
    bg = _bigram_stream(docs, doc_id_col, content_col)
    bcnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    t = docs.select(
        F.explode(T.tokens_col(F.col(content_col))).alias("tok")
    ).where(F.col("tok") != "")
    ucnt = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    tot = bcnt.agg(F.sum("c12").alias("Nb")).crossJoin(
        ucnt.agg(F.sum("c1").alias("Nu"))
    )
    w1 = F.substring_index(F.col("bigram"), " ", 1)
    w2 = F.substring_index(F.col("bigram"), " ", -1)
    sc = (
        bcnt.where(F.col("c12") >= min_count)
        .join(
            ucnt.select(F.col("tok").alias("_t1"), F.col("c1").alias("_c1")),
            w1 == F.col("_t1"),
        )
        .join(
            ucnt.select(F.col("tok").alias("_t2"), F.col("c1").alias("_c2")),
            w2 == F.col("_t2"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            w1.alias("w1"),
            w2.alias("w2"),
            F.col("c12").cast("int").alias("c12"),
            F.round(
                F.log(
                    (F.col("c12") / F.col("Nb"))
                    / ((F.col("_c1") / F.col("Nu")) * (F.col("_c2") / F.col("Nu")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = sc.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(k)
    rw = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(rw).cast("int"))


def kneser_ney_lm_stats(
    docs: DataFrame,
    discount: float = 0.75,
    train_docs: DataFrame | None = None,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob, ppl): per-doc perplexity under an
    interpolated Kneser-Ney bigram LM (Kneser & Ney '95; Chen & Goodman
    '99 eq. 4.25) — the smoothing KenLM implements, i.e. the actual
    CCNet quality-filter model family (bigram_lm_stats is the add-alpha
    strawman; this is the real thing):

        P(w2|w1) = max(c(w1w2) - D, 0)/c(w1.) + D*N1+(w1.)/c(w1.) * Pc(w2)
        Pc(w2)   = (N1+(.w2) + 0.5) / (T + 0.5*V)

    with c(w1.) = bigrams starting w1, N1+(w1.) = distinct followers,
    N1+(.w2) = distinct contexts preceding w2, T = distinct bigram
    types, V = vocab. The continuation distribution carries an add-half
    floor so words seen only document-initially (never as a
    continuation) keep P > 0 — a documented deviation from the paper,
    which assumes every scored word has continuation mass; unseen
    CONTEXTS back off to Pc entirely.

    Scale shape: training = one map-side bigram projection feeding four
    partial-agg groupBys (bigram counts, per-context totals+followers,
    per-word context fans); scoring = three equi-joins against model
    tables (AQE broadcasts small ones) + scalar T/V on a 1-row
    broadcast; one per-doc partial agg. No UDF. DuckDB twin =
    oracle.kneser_ney_sql, identical arithmetic."""
    train = docs if train_docs is None else train_docs
    tbg = _bigram_stream(train, doc_id_col, content_col).select(
        "bigram",
        F.substring_index(F.col("bigram"), " ", 1).alias("w1"),
        F.substring_index(F.col("bigram"), " ", -1).alias("w2"),
    )
    bcnt = tbg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    ctx = tbg.groupBy("w1").agg(
        F.count(F.lit(1)).alias("cdot"),
        F.countDistinct("w2").alias("n1fol"),
    )
    fan = tbg.groupBy("w2").agg(F.countDistinct("w1").alias("n1pre"))
    scal = tbg.agg(
        F.countDistinct("bigram").cast("double").alias("T"),
        F.countDistinct("w2").alias("_vw2"),
    )
    vocab = (
        train.select(F.explode(T.tokens_col(F.col(content_col))).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("V"))
    )

    D = float(discount)
    sc = (
        _bigram_stream(docs, doc_id_col, content_col)
        .select(
            "doc_id",
            "bigram",
            F.substring_index(F.col("bigram"), " ", 1).alias("_w1"),
            F.substring_index(F.col("bigram"), " ", -1).alias("_w2"),
        )
        .join(bcnt, "bigram", "left")
        .join(ctx.withColumnRenamed("w1", "_w1"), "_w1", "left")
        .join(fan.withColumnRenamed("w2", "_w2"), "_w2", "left")
        .crossJoin(F.broadcast(scal.select("T")))
        .crossJoin(F.broadcast(vocab))
    )
    pc = (F.coalesce(F.col("n1pre"), F.lit(0)) + F.lit(0.5)) / (
        F.col("T") + F.lit(0.5) * F.col("V")
    )
    seen_ctx = F.coalesce(F.col("cdot"), F.lit(0)) > 0
    pkn = F.when(
        seen_ctx,
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)) - F.lit(D), F.lit(0.0)
        )
        / F.col("cdot")
        + F.lit(D) * F.col("n1fol") / F.col("cdot") * pc,
    ).otherwise(pc)
    agg = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.sum(F.log(pkn)).alias("_slp"),
    )
    ids = docs.select(F.col(doc_id_col).cast("string").alias("doc_id"))
    out = ids.join(agg, "doc_id", "left")
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0))
    avg = F.when(nb > 0, F.col("_slp") / nb).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        nb.cast("int").alias("n_bigrams"),
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.when(nb > 0, F.exp(-avg)).otherwise(F.lit(1.0)), 6).alias(
            "ppl"
        ),
    )
