"""Multi-term query rewriting: prefix, wildcard, and fuzzy search.

The Lucene MultiTermQuery family, built from this engine's own parts:
expand the pattern against the TERM DICTIONARY (the store's term_stats
table — (term, df) per live dir), keep the top `max_expansions` terms
by (df desc, term asc) (Lucene's top-terms scoring rewrite with its
default 50-clause budget), then rank the disjunction with exact BM25
via :func:`wand.batch_topk` — a doc matches if it contains ANY expanded
term, scored as the sum of per-term BM25 contributions under unchanged
global stats (SCORING_BOOLEAN_REWRITE semantics; no per-edit boosts —
every expanded term scores at its own idf).

Two expansion paths, same result (test-pinned parity):

* **driver** (small dictionaries): streaming pyarrow scan of the
  term_stats files with a range pushdown on the pattern's literal
  prefix; regex / edit-distance refinement vectorized or banded-DP
  driver-side (prefix, fuzzy and did-you-mean through
  ``query/termdict``, the algorithm the serving tier runs over its
  in-memory dictionary). Used when the dictionary is under
  ``DRIVER_SCAN_MAX_BYTES`` — the same budget call as the df point
  lookups in ``wand._lookup_term_dfs``.
* **spark** (the scale path): one scan-only stage over term_stats with
  codegen'd predicates (``startswith`` pushes StringStartsWith to
  parquet; ``rlike`` / ``levenshtein`` are JVM whole-stage codegen),
  sum df across live LSM dirs, ``orderBy(df desc, term).limit(cap)``
  (TakeOrderedAndProject — per-partition heaps of `cap` rows, no full
  sort). A 100 M-term dictionary is one embarrassingly-parallel scan;
  nothing ever shuffles but the ≤`cap` winners.

The reference serving layer exposes only raw text search
(`aisearch/core.py:54-81`); prefix/wildcard/fuzzy are the standard
fulltext surface a Lucene/Elasticsearch user expects, re-expressed on
the SPIMI store.
"""

from __future__ import annotations

import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.index.store import IndexStore, parquet_files
from visionsearch_spark.query import termdict, wand
from visionsearch_spark.query.termdict import _prefix_bounds, _top_cap

# Lucene's BooleanQuery.maxClauseCount-backed rewrite default
DEFAULT_MAX_EXPANSIONS = 50
# dictionaries under this total size expand driver-side (streaming
# pyarrow, no job scheduling); larger ones take the Spark path
DRIVER_SCAN_MAX_BYTES = 64 << 20

_WILD_RE = re.compile(r"^[0-9a-z*?]+$")


# ---------------------------------------------------------------- helpers

def _stats_nbytes(store: IndexStore) -> int:
    import os

    return sum(os.path.getsize(f) for d in store.term_stats_paths()
               for f in parquet_files(d))


def _use_spark(store: IndexStore, force: bool | None) -> bool:
    if force is not None:
        return force
    return _stats_nbytes(store) > DRIVER_SCAN_MAX_BYTES


def _wildcard_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        out.append(".*" if ch == "*" else "." if ch == "?" else ch)
    return "^" + "".join(out) + "$"


def _literal_prefix(pattern: str) -> str:
    m = re.match(r"^[0-9a-z]*", pattern)
    return m.group(0) if m else ""


def _driver_vocab(store: IndexStore, lo: str | None,
                  hi: str | None) -> list[tuple[str, int]]:
    """Stream the dictionary (optionally range-pruned), summing df
    across live dirs. Memory is bounded by the number of DISTINCT terms
    in range — callers gate on DRIVER_SCAN_MAX_BYTES."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    store = store.snapshot()
    store.built_meta()
    ds = pads.dataset([pads.dataset(p) for p in store.term_stats_paths()])
    flt = None
    if lo is not None:
        flt = (pc.field("term") >= lo) & (pc.field("term") < hi)
    agg: dict[str, int] = {}
    for b in ds.scanner(columns=["term", "df"], filter=flt,
                        use_threads=False).to_batches():
        for t, x in zip(b.column("term").to_pylist(),
                        b.column("df").to_pylist()):
            agg[t] = agg.get(t, 0) + int(x)
    return list(agg.items())


def _spark_expand(spark: SparkSession, store: IndexStore, pred,
                  cap: int) -> list[tuple[str, int]]:
    df = spark.read.parquet(*store.term_stats_paths())
    rows = (
        df.filter(pred(F.col("term")))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(cap)
        .collect()
    )
    return [(r["term"], int(r["df"])) for r in rows]


# ------------------------------------------------------------- expansions

def expand_prefix(
    spark: SparkSession,
    store: IndexStore,
    prefix: str,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    use_spark: bool | None = None,
) -> list[tuple[str, int]]:
    """Top-`max_expansions` dictionary terms starting with `prefix`,
    as (term, df) ordered (df desc, term asc)."""
    prefix = termdict.check_prefix(prefix)
    if _use_spark(store, use_spark):
        return _spark_expand(
            spark, store, lambda c: c.startswith(prefix), max_expansions
        )
    return termdict.complete(partial(_driver_vocab, store), prefix,
                             max_expansions)


def expand_wildcard(
    spark: SparkSession,
    store: IndexStore,
    pattern: str,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    use_spark: bool | None = None,
) -> list[tuple[str, int]]:
    """Top-`max_expansions` dictionary terms matching the Lucene-style
    pattern (`*` = any run, `?` = one char). A leading wildcard defeats
    the prefix pushdown and scans the whole dictionary — allowed, but
    the Spark path is the right place for it at scale."""
    pattern = pattern.lower()
    if not _WILD_RE.match(pattern):
        raise ValueError(f"bad wildcard pattern {pattern!r}")
    if "*" not in pattern and "?" not in pattern:
        # degenerate: exact-term lookup
        if _use_spark(store, use_spark):
            return _spark_expand(
                spark, store, lambda c: c == pattern, max_expansions
            )
        return _top_cap(
            [p for p in _driver_vocab(store, *_prefix_bounds(pattern))
             if p[0] == pattern],
            max_expansions,
        )
    rx = _wildcard_regex(pattern)
    lit = _literal_prefix(pattern)
    if _use_spark(store, use_spark):
        if lit:
            return _spark_expand(
                spark, store,
                lambda c: c.startswith(lit) & c.rlike(rx), max_expansions,
            )
        return _spark_expand(
            spark, store, lambda c: c.rlike(rx), max_expansions
        )
    lo, hi = _prefix_bounds(lit) if lit else (None, None)
    crx = re.compile(rx)
    return _top_cap(
        [p for p in _driver_vocab(store, lo, hi) if crx.match(p[0])],
        max_expansions,
    )


def expand_fuzzy(
    spark: SparkSession,
    store: IndexStore,
    term: str,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    use_spark: bool | None = None,
) -> list[tuple[str, int]]:
    """Top-`max_expansions` dictionary terms within `max_edits`
    Levenshtein edits of `term` (classic unit-cost distance — the same
    function Spark's `levenshtein` and DuckDB's `levenshtein` compute).
    `prefix_length` pins the first chars exactly (Lucene's fuzzy
    prefix), which doubles as the scan's range pushdown."""
    toks = tokenize(term)
    if len(toks) != 1:
        raise ValueError(f"fuzzy term must analyze to one token, got "
                         f"{toks!r} from {term!r}")
    q = toks[0]
    if max_edits < 0:
        raise ValueError("max_edits must be >= 0")
    pfx = q[:prefix_length] if prefix_length > 0 else ""
    if _use_spark(store, use_spark):
        def pred(c):
            cond = (F.abs(F.length(c) - len(q)) <= max_edits) \
                & (F.levenshtein(c, F.lit(q)) <= max_edits)
            if pfx:
                cond = c.startswith(pfx) & cond
            return cond
        return _spark_expand(spark, store, pred, max_expansions)
    return termdict.fuzzy(partial(_driver_vocab, store), q, max_edits,
                          max_expansions, prefix=pfx)


def term_df(store: IndexStore, term: str) -> int:
    """Driver-side exact df of one analyzed term (pyarrow range-pruned
    point lookup over term_stats — no Spark job). 0 for OOV."""
    toks = tokenize(term)
    if len(toks) != 1:
        return 0
    t = toks[0]
    return sum(d for _t, d in _driver_vocab(store, t, t + "\x00"))


def did_you_mean(store: IndexStore, query: str, max_edits: int = 2,
                 max_expansions: int = 10) -> tuple[str, int] | None:
    """'Did you mean' over the term_stats dictionary, served driver-side
    with zero Spark jobs (query/termdict.did_you_mean — the algorithm
    the serving tier runs over its in-memory dictionary)."""
    return termdict.did_you_mean(partial(term_df, store),
                                 partial(_driver_vocab, store), query,
                                 max_edits, max_expansions)


# ------------------------------------------------------------------ topk

def _rewrite_topk(spark: SparkSession, store: IndexStore,
                  expanded: list[tuple[str, int]], k: int,
                  threshold: float, query_id: int,
                  search_after: tuple[float, str, int] | None = None
                  ) -> DataFrame:
    if not expanded:
        return wand._local_df(spark, [], wand.RESULT_DDL,
                              wand.RESULT_COLUMNS)
    qtext = " ".join(t for t, _df in expanded)
    return wand.batch_topk(
        spark, store, [(query_id, qtext, k)], threshold=threshold,
        search_after={query_id: search_after} if search_after else None,
    )


def prefix_topk(
    spark: SparkSession,
    store: IndexStore,
    prefix: str,
    k: int = 5,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    threshold: float = 0.0,
    query_id: int = 0,
    use_spark: bool | None = None,
    search_after: tuple[float, str, int] | None = None,
) -> DataFrame:
    """BM25 top-k over the prefix's top-df expansions (wand.RESULT_DDL
    shape): docs containing ANY expanded term, scored as the BM25 sum
    over the expanded terms they contain."""
    exp = expand_prefix(spark, store, prefix, max_expansions, use_spark)
    return _rewrite_topk(spark, store, exp, k, threshold, query_id,
                         search_after=search_after)


def wildcard_topk(
    spark: SparkSession,
    store: IndexStore,
    pattern: str,
    k: int = 5,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    threshold: float = 0.0,
    query_id: int = 0,
    use_spark: bool | None = None,
    search_after: tuple[float, str, int] | None = None,
) -> DataFrame:
    """BM25 top-k over the wildcard pattern's top-df expansions."""
    exp = expand_wildcard(spark, store, pattern, max_expansions, use_spark)
    return _rewrite_topk(spark, store, exp, k, threshold, query_id,
                         search_after=search_after)


def boosted_topk(
    spark: SparkSession,
    store: IndexStore,
    boosts: dict[str, float],
    k: int = 5,
    threshold: float = 0.0,
    query_id: int = 0,
    search_after: tuple[float, str, int] | None = None,
) -> DataFrame:
    """Query-time term boosting (Lucene `term^boost`): rank by
    Σ boost(t) · BM25(t, doc) over the given terms. Keys are analyzed
    (a multi-token key gives its boost to each token; collisions keep
    the max); boosts are a plan-time reweight — the execution path,
    stats, and block-max bounds are the plain query's."""
    norm: dict[str, float] = {}
    for raw, b in boosts.items():
        for t in tokenize(raw):
            norm[t] = max(norm.get(t, 0.0), float(b))
    if not norm:
        return wand._local_df(spark, [], wand.RESULT_DDL,
                              wand.RESULT_COLUMNS)
    qtext = " ".join(sorted(norm))
    return wand.batch_topk(
        spark, store, [(query_id, qtext, k)], threshold=threshold,
        term_boosts={query_id: norm},
        search_after={query_id: search_after} if search_after else None,
    )


def synonym_topk(
    spark: SparkSession,
    store: IndexStore,
    query_text: str,
    synonyms: dict[str, list[str]],
    syn_boost: float = 0.5,
    k: int = 5,
    threshold: float = 0.0,
    query_id: int = 0,
    search_after: tuple[float, str, int] | None = None,
) -> DataFrame:
    """Synonym-expanded search: query terms score at boost 1.0, their
    synonyms join the disjunction down-weighted by `syn_boost` — a doc
    matches on either form. Semantics: synonyms are EXTRA scoring terms
    with their OWN idf (the scoring-boolean rewrite, like this module's
    prefix/fuzzy), not Lucene SynonymQuery's df-blending — documented
    difference, chosen because it needs no stats rewrite and composes
    with every allow-set. Synonyms of terms absent from the query are
    ignored; OOV synonyms drop out like any OOV term."""
    base = set(tokenize(query_text))
    if not base:
        return wand._local_df(spark, [], wand.RESULT_DDL,
                              wand.RESULT_COLUMNS)
    boosts = {t: 1.0 for t in base}
    for raw, syns in synonyms.items():
        if not set(tokenize(raw)) & base:
            continue
        for s in syns:
            for st in tokenize(s):
                if st not in boosts:
                    boosts[st] = float(syn_boost)
    return boosted_topk(spark, store, boosts, k=k, threshold=threshold,
                        query_id=query_id, search_after=search_after)


def fuzzy_topk(
    spark: SparkSession,
    store: IndexStore,
    term: str,
    k: int = 5,
    max_edits: int = 2,
    prefix_length: int = 0,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    threshold: float = 0.0,
    query_id: int = 0,
    use_spark: bool | None = None,
    search_after: tuple[float, str, int] | None = None,
) -> DataFrame:
    """BM25 top-k over the fuzzy expansions of `term`."""
    exp = expand_fuzzy(spark, store, term, max_edits, prefix_length,
                       max_expansions, use_spark)
    return _rewrite_topk(spark, store, exp, k, threshold, query_id,
                         search_after=search_after)
