"""The term dictionary as a lookup surface: completion, fuzzy matching
and spell correction — one algorithm for every dictionary source,
Spark-free (the serving tier imports it).

A dictionary is two callables:
  df(term)      -> int, the term's document frequency (0 = not a term);
  vocab(lo, hi) -> iterable of (term, df) over the terms in [lo, hi),
                   or over every term when lo is None.
query/multiterm.py feeds them from a term_stats scan (its driver path);
LocalSearcher feeds them from its in-memory sorted block dictionary, and
ShardedSearcher from the union of its groups' dictionaries with df
summed. Both sources answer alike because term_stats df == Σ block n
over the live segments — the equality LocalSearcher's idf relies on
(pinned by tests/test_serving_lean.py).
"""

from __future__ import annotations

import re

from visionsearch_spark.analyzer import tokenize

_TERM_RE = re.compile(r"^[0-9a-z]+$")


def _prefix_bounds(prefix: str) -> tuple[str, str]:
    """Half-open [lo, hi) term range covering exactly the prefix: terms
    are [0-9a-z]+ so every continuation char sorts below '{'."""
    return prefix, prefix + "{"


def _lev_within(a: str, b: str, k: int) -> bool:
    """Banded two-row Levenshtein DP with early exit at > k."""
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (ca != cb))
        if min(cur) > k:
            return False
        prev = cur
    return prev[-1] <= k


def _top_cap(pairs, cap: int) -> list[tuple[str, int]]:
    """The `cap` best (term, df) pairs by (df desc, term asc)."""
    return sorted(pairs, key=lambda p: (-p[1], p[0]))[:cap]


def check_prefix(prefix: str) -> str:
    """The lowercased prefix; ValueError unless it is one analyzed
    token (the HTTP tier answers that with 400)."""
    prefix = prefix.lower()
    if not _TERM_RE.match(prefix):
        raise ValueError(f"prefix must be a single analyzed token, got "
                         f"{prefix!r}")
    return prefix


def complete(vocab, prefix: str, n: int) -> list[tuple[str, int]]:
    """Top-n dictionary terms starting with `prefix`, as (term, df)
    ordered (df desc, term asc)."""
    return _top_cap(vocab(*_prefix_bounds(check_prefix(prefix))), n)


def fuzzy(vocab, term: str, max_edits: int, cap: int,
          prefix: str = "") -> list[tuple[str, int]]:
    """Top-`cap` dictionary terms within `max_edits` Levenshtein edits
    of the analyzed `term` that start with `prefix`."""
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    lo, hi = _prefix_bounds(prefix) if prefix else (None, None)
    return _top_cap(
        (p for p in vocab(lo, hi) if _lev_within(p[0], term, max_edits)),
        cap,
    )


def did_you_mean(df, vocab, query: str, max_edits: int = 2,
                 max_expansions: int = 10) -> tuple[str, int] | None:
    """'Did you mean' (the ES phrase-suggester shape): each OOV analyzed
    query term is replaced by its highest-df dictionary term within
    `max_edits` edits (ties term-asc, the fuzzy order); known terms pass
    through untouched — a correction never second-guesses a term that
    actually matches. Returns (corrected_query, n_corrected), or None
    when nothing was corrected (all terms known, or no candidate in
    range for any OOV term)."""
    toks = tokenize(query)
    out: list[str] = []
    n = 0
    for t in toks:
        cands = [] if df(t) > 0 else fuzzy(vocab, t, max_edits,
                                          max_expansions)
        out.append(cands[0][0] if cands else t)
        n += bool(cands)
    if n == 0:
        return None
    return " ".join(out), n
