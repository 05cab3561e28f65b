"""Independent pure-Python implementation of the reference ranking chain —
a slow oracle for rank-identity testing (SURVEY §2.2/§2.4), written directly
from the reference formulas (frontend/SearchEngine.java, jobs/Indexer.java),
NOT from the DataFrame engine. Deliberately naive dict-and-loop code: any
disagreement with query/engine.py is a translation bug in one of them.

Shared building blocks (tokenizer, stemmer, stop words) are imported — the
reference itself shares them between Indexer and SearchEngine.
"""

from __future__ import annotations

import math
import re

from distributed_search_engine_spark.functions import text as T
from distributed_search_engine_spark.functions.stemmer import porter_stem
from distributed_search_engine_spark.functions.stopwords import STOP_WORDS
from distributed_search_engine_spark.functions.text import MAX_DOC_CHARS, tokenize_py


def is_worth_py(tok: str) -> bool:
    """isWorthIndexing (jobs/Indexer.java): 2-20 chars, all letters or a
    2-4 digit number."""
    return T.MIN_TOKEN_LEN <= len(tok) <= T.MAX_TOKEN_LEN and bool(
        re.match(T.RE_WORD, tok) or re.match(T.RE_NUM24, tok)
    )


def title_py(content: str) -> str:
    """extractTitle (jobs/Indexer.java:1418-1430): the <title> inner text
    with tags stripped when present and non-empty, else the first line;
    whitespace collapsed, trimmed, cut to 200 chars."""
    m = re.search(T.RE_TITLE_TAG, content)
    if m and m.group(1) != "":
        chosen = re.sub(T.RE_HTML_TAGS, " ", m.group(1))
    else:
        chosen = content.split("\n", 1)[0]
    return re.sub(T.RE_WS, " ", chosen).strip()[: T.TITLE_MAX_CHARS]


def build_naive_index(corpus: dict[str, str]):
    """corpus: doc_id -> content. Returns (postings, doc_stats, idf, N).

    postings[term][doc] = {tf, weighted_tf, normalized_tf, positions}
    """
    corpus = {d: c for d, c in corpus.items() if len(c) <= MAX_DOC_CHARS}
    postings: dict[str, dict[str, dict]] = {}
    doc_stats: dict[str, dict] = {}
    for doc, content in corpus.items():
        toks = tokenize_py(content)
        # positions advance on rejected tokens (jobs/Indexer.java:453-460)
        per_term: dict[str, list[int]] = {}
        pos = 0
        for t in toks:
            pos += 1
            if not is_worth_py(t):
                continue
            per_term.setdefault(t, []).append(pos)
            if t not in STOP_WORDS:
                st = porter_stem(t)
                if st and st != t:
                    per_term.setdefault(st, []).append(pos)
        raw_counts = {
            t: len(p) for t, p in per_term.items()
        }
        # doc_len / max_tf over RAW tokens only
        raw_only: dict[str, int] = {}
        p2 = 0
        for t in toks:
            p2 += 1
            if is_worth_py(t):
                raw_only[t] = raw_only.get(t, 0) + 1
        doc_len = sum(raw_only.values())
        max_tf = max(raw_only.values()) if raw_only else 1
        doc_stats[doc] = {
            "doc_len": doc_len,
            "max_tf": max_tf,
            "title": title_py(content),
        }
        for t, positions in per_term.items():
            wtf = float(len(positions))
            ntf = 0.4 + 0.6 * wtf / max_tf if wtf > 0 and max_tf > 0 else 0.0
            postings.setdefault(t, {})[doc] = {
                "tf": len(positions),
                "weighted_tf": wtf,
                "normalized_tf": ntf,
                "positions": sorted(positions),
            }
    n = len(corpus)
    idf = {
        t: (math.log(n / len(docs)) if n > 0 and docs else 0.0)
        for t, docs in postings.items()
    }
    return postings, doc_stats, idf, n


def title_boost(title: str, search_terms: list[str]) -> float:
    """Direct re-derivation of getTitleBoost (SearchEngine.java:679-799)."""
    if not title or not search_terms:
        return 1.0
    tt = tokenize_py(title)
    if not tt:
        return 1.0
    term_positions: dict[str, list[int]] = {}
    for term in search_terms:
        poss = [j for j, w in enumerate(tt) if w == term]
        st = porter_stem(term)
        if st:
            for j, w in enumerate(tt):
                if porter_stem(w) == st and j not in poss:
                    poss.append(j)
        if poss:
            term_positions[term] = poss
    if not term_positions:
        return 1.0
    matching = len(term_positions)
    n = len(search_terms)

    def in_order():
        if n < 2:
            return False
        earliest = []
        for t in search_terms:
            p = term_positions.get(t)
            if not p:
                return False
            earliest.append(min(p))
        return all(a < b for a, b in zip(earliest, earliest[1:]))

    if n == 1 and matching == 1:
        p = term_positions[search_terms[0]]
        if 0 in p:
            return 3.5
        if any(x < 3 for x in p):
            return 2.5
        return 2.0
    if n > 1 and matching == n:
        o, e = in_order(), all(
            any(x < 4 for x in term_positions.get(t, [])) for t in search_terms
        )
        if o and e:
            return 4.0
        if o:
            return 3.0
        if e:
            return 2.5
        return 2.0
    base = 1.0 + 0.2 * matching
    if in_order():
        return base * (1.85 if matching == n else 1.30)
    return base


def naive_search(
    corpus: dict[str, str],
    query: str,
    page_ranks: dict[str, float] | None = None,
    k: int = 200,
    use_title_boost: bool = True,
    all_matched_boost: bool = True,
) -> list[tuple[str, float]]:
    """The full Q1-Q12 chain as plain loops. Returns [(doc_id, score)]
    sorted (score desc, doc_id asc)."""
    postings, doc_stats, idf, _n = build_naive_index(corpus)
    page_ranks = page_ranks or {}
    terms = tokenize_py(query)
    if not terms:
        return []
    if len(terms) == 1 and terms[0] in STOP_WORDS:
        return []

    # expansion (SearchEngine.java:129-181): list + last-writer-wins map
    expanded: list[str] = []
    exp_to_orig: dict[str, str] = {}
    stem_to_words: dict[str, set[str]] = {}
    for t in postings:  # loadAllTerms analog over raw index keys
        stem_to_words.setdefault(porter_stem(t), set()).add(t)
    for t in terms:
        group = [t]
        st = porter_stem(t)
        if st and st != t and t not in STOP_WORDS:
            group.append(st)
            group += sorted(
                w for w in stem_to_words.get(st, set()) if w not in (t, st)
            )
        expanded += group
        for g in group:
            exp_to_orig[g] = t

    tfidf_sums: dict[str, float] = {}
    positions_by_term: dict[str, dict[str, list[int]]] = {}
    processed: dict[str, set[str]] = {t: set() for t in terms}
    seen_expanded: set[str] = set()
    for term in expanded:
        if term in seen_expanded:
            continue
        seen_expanded.add(term)
        entry = postings.get(term)
        if not entry:
            continue
        orig = exp_to_orig[term]
        url_positions = {}
        for doc, p in entry.items():
            url_positions[doc] = p["positions"]
            if p["normalized_tf"] <= 0 or term in STOP_WORDS:
                continue
            if doc in processed[orig]:
                continue
            processed[orig].add(doc)
            tfidf_sums[doc] = tfidf_sums.get(doc, 0.0) + p["normalized_tf"] * idf[term]
        merged = positions_by_term.setdefault(orig, {})
        for doc, poss in url_positions.items():
            merged[doc] = sorted(set(merged.get(doc, [])) | set(poss))

    if len(terms) > 1:
        for doc in list(tfidf_sums):
            if not all(
                positions_by_term.get(t, {}).get(doc) for t in terms
            ):
                del tfidf_sums[doc]
                continue
            phrase = True
            for w1, w2 in zip(terms, terms[1:]):
                p1 = positions_by_term.get(w1, {}).get(doc, [])
                p2 = positions_by_term.get(w2, {}).get(doc, [])
                if not any(x + 1 in set(p2) for x in p1):
                    phrase = False
                    break
            if phrase:
                tfidf_sums[doc] *= 1.5

    results = []
    for doc, tfidf in tfidf_sums.items():
        score = tfidf * (1.0 + page_ranks.get(doc, 0.0))
        if len(terms) > 1 and all_matched_boost:
            matched = 0
            for t in set(terms):
                docs_t = set(postings.get(t, {}))
                st = porter_stem(t)
                if st and st != t:
                    docs_t |= set(postings.get(st, {}))
                if doc in docs_t:
                    matched += 1
            if matched == len(terms):
                score *= 4.0
            elif matched > 0:
                score *= 0.3 + 0.7 * matched / len(terms)
            else:
                score *= 0.1
        if use_title_boost:
            tb = title_boost(doc_stats[doc]["title"], terms)
            if tb > 1.0:
                score *= tb
        results.append((doc, score))
    results.sort(key=lambda r: (-r[1], r[0]))
    return results[:k]
