"""Regex search over the trigram index — the Google-Code-Search query
planner (Cox, "Regular Expression Matching with a Trigram Index", 2012;
the same structure Zoekt and livegrep use). The reference engine's query
pipeline matches whole tokens only (jobs/Indexer.java tokenizer +
jobs/Query.java lookup); a source-code corpus needs REGEX search
(``(memcpy|strcpy)\\s*\\(``) — this module compiles a regex into a
lossless boolean trigram requirement, prunes candidates through the
:mod:`trigram` postings, and exact-verifies only the survivors.

Compilation (``required_clauses``): a small recursive-descent parse of
the pattern (alternation / concatenation / quantified atoms), then a
requirement analysis that extracts, per match branch, the literal runs
every match MUST contain contiguously:

  - a literal char extends the current run; ``x+`` keeps x then breaks
    the run (later chars are no longer adjacent); ``x?``/``x*`` breaks
    the run WITHOUT x (x is optional);
  - ``.``, char classes, anchors, and groups break runs;
  - a group quantified min>=1 contributes its own clauses; min==0 drops
    them (the group may not occur at all);
  - alternation ORs its branches: one clause per branch is chosen and
    their alternatives unioned — sound because a match of branch i
    satisfies every clause of branch i, in particular the chosen one.

The result is a CNF ``[[alt, ...], ...]``: every clause must hold, a
clause holds when SOME alternative literal is contained. Any clause
with an alternative shorter than 3 chars is dropped whole (dropping a
REQUIREMENT is lossless — it only widens the candidate set; dropping an
alternative would not be). An empty CNF is a full exact scan.

Search is the trigram family's one candidate step and verify
(:mod:`trigram`) keyed by pattern, with the exact ``(?i)`` regex as the
verify. The gate oracle is an INDEPENDENT full-scan ``regexp_matches``
in DuckDB (RE2) with no trigram machinery — equality proves the
compiled requirement is lossless, not merely twin-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .trigram import _candidates, _verified

# ---------------------------------------------------------------------------
# parser: pattern -> AST
#   node := ("alt", [node, ...]) | ("cat", [atom, ...])
#   atom := ("lit", char, min, max) | ("any", min, max)
#          | ("grp", node, min, max)
# max is None for unbounded. "any" covers ., classes, \d-style escapes,
# anchors, and opaque constructs — anything that breaks a literal run.

_CLASS_ESCAPES = set("dDwWsSbBAZzG")


class RegexCompileError(ValueError):
    """Raised on an unparseable pattern (unbalanced group/class/brace)."""


def _parse(pattern: str):
    pos = 0
    n = len(pattern)

    def parse_alt():
        nonlocal pos
        branches = [parse_cat()]
        while pos < n and pattern[pos] == "|":
            pos += 1
            branches.append(parse_cat())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def parse_cat():
        nonlocal pos
        atoms = []
        while pos < n and pattern[pos] not in "|)":
            atoms.append(parse_atom())
        return ("cat", atoms)

    def parse_quant():
        nonlocal pos
        if pos >= n:
            return 1, 1
        c = pattern[pos]
        if c == "?":
            lo, hi = 0, 1
        elif c == "*":
            lo, hi = 0, None
        elif c == "+":
            lo, hi = 1, None
        elif c == "{":
            end = pattern.find("}", pos)
            if end < 0:
                raise RegexCompileError("unbalanced {")
            body = pattern[pos + 1 : end]
            parts = body.split(",")
            try:
                lo = int(parts[0]) if parts[0] else 0
                hi = (
                    lo
                    if len(parts) == 1
                    else (int(parts[1]) if parts[1] else None)
                )
            except ValueError as e:
                raise RegexCompileError(f"bad quantifier {{{body}}}") from e
            pos = end  # advance past body; '}' consumed below
        else:
            return 1, 1
        pos += 1
        if pos < n and pattern[pos] == "?":  # lazy marker — same counts
            pos += 1
        return lo, hi

    def parse_atom():
        nonlocal pos
        c = pattern[pos]
        if c == "(":
            pos += 1
            opaque = False
            if pos < n and pattern[pos] == "?":
                pos += 1
                if pos < n and pattern[pos] in ":":
                    pos += 1
                elif pos < n and pattern[pos] in "=!<":
                    # lookaround: contents are NOT consumed by the match,
                    # so its literals are not required — treat as opaque
                    opaque = True
                else:
                    # inline flags (?i) / (?is:...) — skip to ':' or ')'
                    while pos < n and pattern[pos] not in ":)":
                        pos += 1
                    if pos < n and pattern[pos] == ":":
                        pos += 1
            inner = parse_alt()
            if pos >= n or pattern[pos] != ")":
                raise RegexCompileError("unbalanced (")
            pos += 1
            lo, hi = parse_quant()
            if opaque:
                return ("any", 0, 0)
            return ("grp", inner, lo, hi)
        if c == "[":
            pos += 1
            if pos < n and pattern[pos] == "^":
                pos += 1
            if pos < n and pattern[pos] == "]":  # leading ] is literal
                pos += 1
            while pos < n and pattern[pos] != "]":
                pos += 2 if pattern[pos] == "\\" else 1
            if pos >= n:
                raise RegexCompileError("unbalanced [")
            pos += 1
            lo, hi = parse_quant()
            return ("any", lo, hi)
        if c == "\\":
            if pos + 1 >= n:
                raise RegexCompileError("trailing backslash")
            esc = pattern[pos + 1]
            pos += 2
            lo, hi = parse_quant()
            if esc in _CLASS_ESCAPES or esc.isdigit():
                return ("any", lo, hi)  # class escape / backreference
            ch = {"n": "\n", "t": "\t", "r": "\r"}.get(esc, esc)
            return ("lit", ch, lo, hi)
        if c in ".^$":
            pos += 1
            lo, hi = parse_quant()
            return ("any", lo, hi)
        pos += 1
        lo, hi = parse_quant()
        return ("lit", c, lo, hi)

    node = parse_alt()
    if pos != n:
        raise RegexCompileError(f"unbalanced ) at {pos}")
    return node


# ---------------------------------------------------------------------------
# requirement analysis: AST -> CNF [[alt, ...], ...] over lowercased
# literal strings; every clause's every alternative is >= 3 chars.
# A literal is lowercased one char at a time, the text as a whole (JVM
# lower): they differ only on sigma, whose lowercase depends on its
# neighbours (a word-final one becomes ς), so a sigma ends the run.

_SIGMAS = set("Σσς")


def _clauses(node) -> list[list[str]]:
    kind = node[0]
    if kind == "alt":
        chosen: list[str] = []
        for branch in node[1]:
            branch_clauses = _clauses(branch)
            if not branch_clauses:
                return []  # one unprunable branch -> OR gives no info
            # pick the branch clause with the longest shortest-alternative
            # (rarest trigrams tend to live in the longest required runs)
            best = max(branch_clauses, key=lambda cl: min(map(len, cl)))
            chosen.extend(best)
        return [sorted(set(chosen))]
    if kind == "cat":
        out: list[list[str]] = []
        run: list[str] = []

        def flush():
            if len(run) >= 3:
                out.append(["".join(run)])
            run.clear()

        for atom in node[1]:
            akind = atom[0]
            if akind == "lit" and atom[1] in _SIGMAS:
                flush()  # lowercases by context in the text: not a literal
            elif akind == "lit":
                _, ch, lo, hi = atom
                if lo >= 1 and hi == 1:
                    run.append(ch.lower())
                elif lo >= 1:  # x+ / x{2,}: x required, adjacency ends
                    run.append(ch.lower())
                    flush()
                else:  # optional: required run breaks, x excluded
                    flush()
            elif akind == "grp":
                _, inner, lo, _hi = atom
                flush()
                if lo >= 1:
                    out.extend(_clauses(inner))
            else:  # "any"
                flush()
        flush()
        return out
    raise AssertionError(f"unknown node {kind}")  # pragma: no cover


def required_clauses(pattern: str) -> list[list[str]]:
    """CNF of required literals: every clause must hold; a clause holds
    when some alternative is contained in the lowercased text. ``[]``
    means the pattern is unprunable (full scan)."""
    return [cl for cl in _clauses(_parse(pattern)) if min(map(len, cl)) >= 3]


def regex_search_batch(
    docs: DataFrame,
    postings: DataFrame,
    patterns: list[str],
    prune_to: int = 4,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(pattern, doc_id, n_matches): every doc whose text matches a
    pattern case-insensitively (Java ``(?i)``, ASCII case folding), with
    its match count, for a whole pattern set in one plan. Candidates
    come from each pattern's :func:`required_clauses`; an unprunable
    pattern scans every doc, and one whose clause has no alternative in
    the postings matches nothing. The verify takes the pattern from a
    column (Spark's regexp_count accepts one)."""
    cand = _candidates(
        docs, postings, {p: required_clauses(p) for p in patterns}, "pattern",
        prune_to, doc_id_col,
    )
    count = F.regexp_count(
        F.coalesce(F.col(content_col), F.lit("")),
        F.concat(F.lit("(?i)"), F.col("pattern")),
    )
    return _verified(cand, "pattern", "n_matches", count)


def regex_search(
    docs: DataFrame,
    postings: DataFrame,
    pattern: str,
    prune_to: int = 4,
    doc_id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(doc_id, n_matches): :func:`regex_search_batch` of one."""
    return regex_search_batch(
        docs, postings, [pattern], prune_to, doc_id_col, content_col
    ).drop("pattern")
