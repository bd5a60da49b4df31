"""A small Lucene-style query-string language over the engine's ranked
primitives — one string in, one ranked DataFrame out:

    +required -excluded "exact phrase" pre* wild*card fuzzy~ fuzzy~1
    boosted^2.5 plain terms

Grammar (whitespace-separated clauses; no nesting — the reference's
users type flat queries, and flat composes with every allow-set):

  +term        MUST contain (conjunctive; like boolean must)
  -term        MUST NOT contain (boolean must_not)
               (+/- apply to plain terms only; on phrases or
               expansions the parser raises rather than misparse)
  "a b c"      exact phrase (adjacent analyzed tokens; phrase verify)
  "a b c"~N    ordered sloppy phrase (SpanNear inOrder, slop N; ~ alone
               means N=2; needs a positional store)
  term*        prefix expansion   (term-dictionary rewrite)
  te*m / te?m  wildcard expansion
  term~ [N]    fuzzy expansion, max_edits N (default 2)
  term^B       query-time boost B on the term
  term         plain scoring term (SHOULD)

Semantics — one pass, filter ∧ rank, frozen stats:
  * membership: docs must contain ALL `+` clauses and every phrase,
    NONE of the `-` clauses. If no constraint is given, membership is
    "any scoring term" (ordinary BM25 disjunction).
  * scoring: BM25 over every positive clause's terms — expansions
    contribute at their own idf (scoring-boolean rewrite), boosts
    multiply, `-` terms never score.
  * the allow-set is read in-task by the unchanged zero-shuffle scoring
    kernel (wand.batch_topk docid_filter). Pagination composes
    (search_after).

Parsing is driver-side string work; every expansion reuses the
term-dictionary rewrites (multiterm.py), membership reuses the
zero-shuffle membership kernel (boolean.py), phrases the candidate-
pruned verify (boolean.phrase_docids).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query import wand

_CLAUSE_RE = re.compile(
    r"""
    (?P<sign>[+-])?
    (?:
        "(?P<phrase>[^"]*)"
        (?P<pslop>~(?P<slopn>\d+)?)?
      | (?P<body>[^\s"^~]+)
        (?P<fuzzy>~(?P<edits>\d)?)?
    )
    (?:\^(?P<boost>\d+(?:\.\d+)?))?
    """,
    re.VERBOSE,
)


@dataclass
class ParsedQuery:
    must: list[str] = field(default_factory=list)       # analyzed terms
    must_not: list[str] = field(default_factory=list)
    should: list[str] = field(default_factory=list)
    phrases: list[tuple[str, int]] = field(default_factory=list)  # (raw text, slop)
    prefixes: list[str] = field(default_factory=list)
    wildcards: list[str] = field(default_factory=list)
    fuzzies: list[tuple[str, int]] = field(default_factory=list)
    boosts: dict[str, float] = field(default_factory=dict)


def parse_query(q: str) -> ParsedQuery:
    """Parse the query string. Unknown punctuation inside a clause body
    falls through the analyzer (non-[0-9a-z] are separators), so garbage
    degrades to plain terms rather than erroring — the forgiving
    behavior interactive search needs."""
    out = ParsedQuery()
    for m in _CLAUSE_RE.finditer(q):
        if not (m.group("phrase") or m.group("body")):
            continue
        sign = m.group("sign")
        boost = float(m.group("boost")) if m.group("boost") else None
        if m.group("phrase") is not None:
            toks = tokenize(m.group("phrase"))
            if not toks:
                continue
            if len(toks) == 1:  # one-token "phrase" is just a term
                _add_term(out, sign, toks[0], boost)
                continue
            if sign == "-":
                raise ValueError(
                    'negated phrases (-"...") are not supported — '
                    "negation applies to plain terms only")
            slop = 0
            if m.group("pslop"):
                slop = int(m.group("slopn") or 2)
            out.phrases.append((m.group("phrase"), slop))
            for t in toks:
                if boost is not None:
                    out.boosts[t] = boost
            continue
        body = m.group("body")
        if sign and (m.group("fuzzy") or "*" in body or "?" in body):
            raise ValueError(
                f"{sign}{body!r}: +/- apply to plain terms only — "
                "expansions always score as SHOULD clauses")
        if m.group("fuzzy") and _TERM_OK(body):
            edits = int(m.group("edits") or 2)
            out.fuzzies.append((body.lower(), edits))
            continue
        if "*" in body or "?" in body:
            pat = body.lower()
            # only well-formed patterns become expansions; anything else
            # (stray punctuation, bare metacharacters, no literal chars)
            # degrades through the analyzer like other garbage — found
            # by the parser fuzz: ':?' built an invalid wildcard and
            # bare '*' an empty prefix, both exploding downstream
            if not re.fullmatch(r"[0-9a-z*?]+", pat) \
                    or not re.search(r"[0-9a-z]", pat):
                for t in tokenize(body):
                    _add_term(out, sign, t, boost)
                continue
            if pat.endswith("*") and "*" not in pat[:-1] \
                    and "?" not in pat:
                out.prefixes.append(pat[:-1])
            else:
                out.wildcards.append(pat)
            continue
        for t in tokenize(body):
            _add_term(out, sign, t, boost)
    return out


def _TERM_OK(body: str) -> bool:
    return bool(re.fullmatch(r"[0-9A-Za-z]+", body))


def _add_term(out: ParsedQuery, sign: str | None, term: str,
              boost: float | None) -> None:
    if sign == "-":
        out.must_not.append(term)
        return
    (out.must if sign == "+" else out.should).append(term)
    if boost is not None:
        out.boosts[term] = boost


def query_string_topk(
    spark: SparkSession,
    store: IndexStore,
    q: str,
    k: int = 10,
    threshold: float = 0.0,
    max_expansions: int = 50,
    search_after: tuple[float, str, int] | None = None,
    query_id: int = 0,
) -> DataFrame:
    """Execute a query-string query (module docstring grammar): ONE
    ranked job — membership constraints become a docid allow-set the
    scan tasks read over their own docid spans, scoring terms (plain +
    boosted + expansions) one BM25 disjunction with per-term boosts."""
    from visionsearch_spark.query import multiterm
    from visionsearch_spark.query.boolean import (
        matching_docids,
        phrase_docids,
    )

    p = parse_query(q)
    # expansions -> concrete scoring terms at boost 1 (their own idf)
    exp_terms: list[str] = []
    for pre in p.prefixes:
        exp_terms += [t for t, _df in multiterm.expand_prefix(
            spark, store, pre, max_expansions)]
    for pat in p.wildcards:
        exp_terms += [t for t, _df in multiterm.expand_wildcard(
            spark, store, pat, max_expansions)]
    for term, edits in p.fuzzies:
        exp_terms += [t for t, _df in multiterm.expand_fuzzy(
            spark, store, term, edits, 0, max_expansions)]
    phrase_terms = [t for ph, _s in p.phrases for t in tokenize(ph)]
    scoring = sorted(set(p.must) | set(p.should) | set(exp_terms)
                     | set(phrase_terms))
    if not scoring:
        return wand._local_df(spark, [], wand.RESULT_DDL,
                              wand.RESULT_COLUMNS)

    allow: DataFrame | None = None
    if p.must or p.must_not:
        allow = matching_docids(
            spark, store,
            all_of=p.must or None,
            any_of=None if p.must else
            sorted(set(scoring) - set(p.must_not)),
            none_of=p.must_not or None,
        )
    for ph, slop in p.phrases:
        ph_ids = phrase_docids(spark, store, ph, slop=slop)
        allow = ph_ids if allow is None else \
            allow.join(ph_ids, "docid")  # phrase ∧ boolean: intersect

    boosts = {t: p.boosts.get(t, 1.0) for t in scoring}
    return wand.batch_topk(
        spark, store, [(query_id, " ".join(scoring), k)],
        threshold=threshold,
        docid_filter=allow,
        term_boosts={query_id: boosts},
        search_after={query_id: search_after} if search_after else None,
    )
