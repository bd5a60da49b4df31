"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship BM25 batch query over sf0.001.
`queries()` exposes one callable per implemented operator (SURVEY.md §2 +
training-data ops); `oracle_sql()` gives the DuckDB-equivalent SQL the
driver compares against at sf0.01. Column names and rounding are matched
pairwise between the two sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from visionsearch_spark.analyzer import duckdb_tokens, tokenize
from visionsearch_spark.corpus import doc_id_col, get_documents_index
from visionsearch_spark.query.wand import batch_topk

_REPO = os.path.dirname(os.path.abspath(__file__))


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executors (addPyFile) so Arrow-UDF tasks can
    unpickle references to visionsearch_spark regardless of the driver's
    PYTHONPATH — the standalone equivalent of spark-submit --py-files."""
    sc = spark.sparkContext
    if getattr(sc, "_vss_shipped", False):
        return
    import zipfile

    zpath = os.path.join("/tmp", "visionsearch_spark_entry.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath + ".tmp", "w") as z:
            pkg = os.path.join(_REPO, "visionsearch_spark")
            for dirpath, _dirs, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, _REPO))
        os.replace(zpath + ".tmp", zpath)
    sc.addPyFile(zpath)
    sc._vss_shipped = True


def _shipped(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return run

# ---------------------------------------------------------------------------
# shared query definitions (Spark side and oracle side derive from these)
# ---------------------------------------------------------------------------

BM25_QUERIES = {
    "bm25_topk_hot": ("join filter stream", 30),
    "bm25_topk_tail": ("vector scan merge", 10),
    "bm25_topk_single": ("customer", 5),
}
BM25_BATCH = [(0, "join filter stream", 10), (1, "vector scan merge", 10),
              (2, "customer order", 10)]

EVENT_VALUE_THRESHOLD = 150.0


def _p(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# ---------------------------------------------------------------------------
# Spark-side callables
# ---------------------------------------------------------------------------

def _bm25_query(qtext: str, k: int):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        store = get_documents_index(spark, sf_dir)
        res = batch_topk(spark, store, [(0, qtext, k)])
        return res.select(
            doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
        )
    return run


def _bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_documents_index(spark, sf_dir)
    res = batch_topk(spark, store, BM25_BATCH)
    return res.select(
        "query_id", doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


FILTERED_QUERY = ("join filter stream", 20, "src1")


def _bm25_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered top-k (predicate ∧ BM25): rank only docs whose
    source starts with the prefix, under UNCHANGED global stats — the
    reference's S2 scan filter composed with search. The allow-set is
    written once and each scan task reads it over its own docid span
    (wand.py docid_filter)."""
    qtext, k, prefix = FILTERED_QUERY
    store = get_documents_index(spark, sf_dir)
    allowed_convs = (
        spark.read.parquet(_p(sf_dir, "documents"))
        .filter(F.col("source").startswith(prefix))
        .select(F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"))
    )
    allowed = (
        spark.read.parquet(store.docmap_path).select("docid", "conv_id")
        .join(allowed_convs, "conv_id").select("docid")
    )
    res = batch_topk(spark, store, [(0, qtext, k)], docid_filter=allowed)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


PAGE_QUERY = ("join filter", 10)
HYBRID_QUERY = ("join filter stream", 0, 15, 40)  # text, qvec id, k, depth


def _hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + exact-cosine retrieval fused by reciprocal-rank
    fusion (query/hybrid.py): fused = 1/(60+bm25_rank) + 1/(60+cos_rank),
    each list depth-bounded, ids mapped vec_id == doc_id."""
    from pyspark.sql import Window

    from visionsearch_spark.operators.similarity import cosine_topk_to_query
    from visionsearch_spark.query.hybrid import hybrid_topk

    qtext, qid, k, depth = HYBRID_QUERY
    store = get_documents_index(spark, sf_dir)
    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    qvec = emb.filter(F.col("vec_id") == qid).select("embedding") \
        .limit(1).collect()[0][0]
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    vec_ranked = (
        cosine_topk_to_query(emb, list(qvec), k=depth)
        .withColumn("rank", F.row_number().over(w))
        .select(F.format_string("doc-%010d", F.col("vec_id"))
                .alias("conv_id"), "rank")
    )
    res = hybrid_topk(spark, store, qtext, vec_ranked, k=k, depth=depth)
    return res.select(
        doc_id_col().alias("doc_id"), "rank",
        F.round("fused", 6).alias("fused"),
    )


QS_QUERY = ('+join -dup "table scan" stream^2', 20)
EXPLAIN_QUERY = "join filter stream"
PERCOLATE_QUERIES = [(1, "join filter"), (2, "stream"), (3, "join dup"),
                     (4, "zzzznotaword")]

# r6 percolator clauses: negation + exact-phrase (2-token phrases so the
# DuckDB twin can verify adjacency over ONE bigram table)
PERCOLATE_ADV_QUERIES = [
    (1, {"must": "join", "must_not": "dup"}),
    (2, {"phrases": ["table scan"]}),
    (3, {"must": "filter", "phrases": ["join filter"],
         "must_not": "zzzznotaword"}),
    (4, "stream checkpoint"),
]


def _percolate_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation with Lucene-shaped clauses (r6): must conjunctive,
    must_not excludes on any hit, phrases verified as exact analyzed
    token sequences over candidate docs only (operators/percolate.py)."""
    from visionsearch_spark.operators.percolate import percolate

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return percolate(docs, PERCOLATE_ADV_QUERIES) \
        .orderBy("doc_id", "query_id")


KNN_K = 5


def _knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN self-join, exact method (the value oracle; the LSH method is
    the scale path, pytest-pinned by recall + plan assertions)."""
    from visionsearch_spark.operators.similarity import knn_join

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    return knn_join(emb, k=KNN_K, method="exact").select(
        "query_vec_id", "neighbor_id", "rank",
        F.round("cos", 6).alias("cos"),
    )


def _percolate_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse search (operators/percolate.py): which registered queries
    match each document — conjunctive on analyzed terms; the alerting /
    saved-search primitive. Stateless, so the streaming form is the
    same function per micro-batch (test-pinned)."""
    from visionsearch_spark.operators.percolate import percolate

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return percolate(docs, PERCOLATE_QUERIES).orderBy("doc_id", "query_id")


def _bm25_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style score explanation (query/explain.py): the per-term
    BM25 breakdown of the query's TOP document — Σ contribution equals
    its ranking score bit-for-bit (same analyzer, stats, formulas,
    summation order)."""
    from visionsearch_spark.query.explain import explain_score

    store = get_documents_index(spark, sf_dir)
    top = batch_topk(spark, store, [(0, EXPLAIN_QUERY, 1)]).collect()[0]
    res = explain_score(spark, store, EXPLAIN_QUERY,
                        top["conv_id"], top["turn_idx"])
    return res.select(
        "term", F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
        F.col("df").cast("long").alias("df"),
        F.round("idf", 6).alias("idf"),
        F.round("tf_weight", 6).alias("tf_weight"),
        F.round("contribution", 6).alias("contribution"),
    )


def _bm25_querystring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style query string (query/querylang.py): one pass that
    composes must/must_not membership, exact-phrase verify, and boosted
    BM25 scoring — the scan tasks read the allow-set in-task."""
    from visionsearch_spark.query.querylang import query_string_topk

    qs, k = QS_QUERY
    store = get_documents_index(spark, sf_dir)
    res = query_string_topk(spark, store, qs, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


HYBRID_W = ("join filter stream", 0, 15, 40, 0.6)  # +alpha


def _hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted hybrid fusion: alpha·minmax(BM25) + (1−alpha)·minmax(cos)
    — the calibrated blend (query/hybrid.weighted_fuse), vs hybrid_rrf's
    rank-only fusion."""
    from visionsearch_spark.operators.similarity import cosine_topk_to_query
    from visionsearch_spark.query.hybrid import hybrid_weighted_topk

    qtext, qid, k, depth, alpha = HYBRID_W
    store = get_documents_index(spark, sf_dir)
    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    qvec = emb.filter(F.col("vec_id") == qid).select("embedding") \
        .limit(1).collect()[0][0]
    vec = cosine_topk_to_query(emb, list(qvec), k=depth).select(
        F.format_string("doc-%010d", F.col("vec_id")).alias("conv_id"),
        F.col("cos").alias("score"),
    )
    res = hybrid_weighted_topk(spark, store, qtext, vec, k=k,
                               depth=depth, alpha=alpha)
    return res.select(
        doc_id_col().alias("doc_id"), "rank",
        F.round("fused", 6).alias("fused"),
    )


BOOSTED_QUERY = ({"join": 1.0, "filter": 2.5, "stream": 0.5}, 20)
# synonym expansion: base terms at 1.0, synonyms of 'filter' at 0.6 —
# one real corpus term and one OOV (drops out on both sides)
SYNONYM_BOOSTS = {"join": 1.0, "filter": 1.0,
                  "window": 0.6, "zzzsynonym": 0.6}
SYNONYM_K = 20


def _bm25_boosted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time term boosting (Lucene term^boost): each term's BM25
    contribution multiplied by its boost — a plan-time reweight on the
    unchanged zero-shuffle path (multiterm.boosted_topk)."""
    from visionsearch_spark.query.multiterm import boosted_topk

    boosts, k = BOOSTED_QUERY
    store = get_documents_index(spark, sf_dir)
    res = boosted_topk(spark, store, boosts, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synonym-expanded search: synonyms join the disjunction as extra
    scoring terms, down-weighted (multiterm.synonym_topk); OOV synonyms
    drop out exactly like OOV query terms."""
    from visionsearch_spark.query.multiterm import synonym_topk

    store = get_documents_index(spark, sf_dir)
    res = synonym_topk(
        spark, store, "join filter",
        {"filter": ["window", "zzzsynonym"]}, syn_boost=0.6, k=SYNONYM_K,
    )
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_page2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cursor pagination (search_after): run page 1, feed its last row's
    (score, conv_id, turn_idx) back as the cursor, return page 2 — rows
    k+1..2k of the total order. The kernel ceilings scores at the cursor
    before its per-partition cut (wand.py cursors), so page depth never
    inflates per-task row counts the way offset paging would."""
    qtext, k = PAGE_QUERY
    store = get_documents_index(spark, sf_dir)
    page1 = batch_topk(spark, store, [(0, qtext, k)]).collect()
    last = max(page1, key=lambda r: r["rank"])
    res = batch_topk(
        spark, store, [(0, qtext, k)],
        search_after={0: (last["score"], last["conv_id"], last["turn_idx"])},
    )
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


DELETED_QUERY = ("join filter stream", 20)


def _bm25_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over a store with every 13th doc tombstoned but NOT purged:
    deleted docs are masked BEFORE the k-cut while df/N/avgdl keep their
    as-built values (Lucene stale-stats liveness; index/deletes.py) —
    identical scores to ranking with the survivor allow-set."""
    from visionsearch_spark.corpus import get_documents_deleted_index

    qtext, k = DELETED_QUERY
    store = get_documents_deleted_index(spark, sf_dir)
    res = batch_topk(spark, store, [(0, qtext, k)])
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_after_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same store after the purge compaction folded the tombstones:
    postings physically dropped, df/N/avgdl recomputed over survivors —
    scores identical to an index that never contained the deleted docs."""
    from visionsearch_spark.corpus import get_documents_purged_index

    qtext, k = DELETED_QUERY
    store = get_documents_purged_index(spark, sf_dir)
    res = batch_topk(spark, store, [(0, qtext, k)])
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


UPSERT_QUERY = ("stream revised edition", 20)


def _bm25_after_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-or-replace (streaming/incremental.upsert_convs): every 7th
    doc's text re-ingested with a suffix, old units tombstoned, then a
    purge compaction — ranking must equal an index built fresh over the
    MODIFIED corpus (the suffix shifts dl and avgdl, so a value match
    proves both the replaced text and the recomputed stats)."""
    from visionsearch_spark.corpus import get_documents_upserted_index

    qtext, k = UPSERT_QUERY
    store = get_documents_upserted_index(spark, sf_dir)
    res = batch_topk(spark, store, [(0, qtext, k)])
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


PHRASE_QUERY = ("table scan", 20)
BOOLEAN_QUERY = (["join"], ["filter", "stream"], ["dup"], 20)


def _bm25_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase top-k on the POSITIONAL path (r6): adjacency verified
    by intersecting per-term pos_bin payloads on the zero-shuffle
    file-aligned plan — no staged-text scan — then BM25 over the
    phrase's terms among matches (query/boolean.phrase_topk; global
    stats unchanged)."""
    from visionsearch_spark.query.boolean import phrase_topk

    qtext, k = PHRASE_QUERY
    store = get_documents_index(spark, sf_dir)
    res = phrase_topk(spark, store, qtext, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


PROXIMITY_QUERY = (["table", "scan"], 6, 20)
PHRASE_SLOP_QUERY = ("table scan", 2, 20)  # (phrase, slop, k)


def _bm25_phrase_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sloppy phrase (Lucene SpanNear inOrder=true, r6): terms
    in order with total span <= len+slop-1, verified by the positional
    kernel's greedy earliest-successor chain; BM25 over the phrase's
    terms with global stats unchanged."""
    from visionsearch_spark.query.boolean import phrase_topk

    qtext, slop, k = PHRASE_SLOP_QUERY
    store = get_documents_index(spark, sf_dir)
    res = phrase_topk(spark, store, qtext, k=k, slop=slop)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search (Lucene SpanNear, inOrder=false) on the r6
    positional path: the window check is a vectorized sliding count over
    pos_bin payloads; rank only docs where every term co-occurs inside a
    6-token window, BM25 over those terms with global stats unchanged
    (query/boolean.proximity_topk)."""
    from visionsearch_spark.query.boolean import proximity_topk

    terms, window, k = PROXIMITY_QUERY
    store = get_documents_index(spark, sf_dir)
    res = proximity_topk(spark, store, terms, window, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-rule boolean search: must conjunctive, should score-only,
    must_not excluded — zero-shuffle membership kernel feeding the
    in-task allow-set read (query/boolean.boolean_topk)."""
    from visionsearch_spark.query.boolean import boolean_topk

    must, should, must_not, k = BOOLEAN_QUERY
    store = get_documents_index(spark, sf_dir)
    res = boolean_topk(spark, store, must=must, should=should,
                       must_not=must_not, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


PREFIX_QUERY = ("s", 4, 20)       # (prefix, max_expansions, k) — cap binds
WILDCARD_QUERY = ("s*a*", 50, 20)  # (pattern, max_expansions, k)
FUZZY_QUERY = ("prt", 2, 0, 50, 20)  # (term, max_edits, prefix_len, cap, k)


def _bm25_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix search: top-df dictionary expansions of the prefix (the
    cap BINDS here — Lucene top-terms rewrite tie-broken df desc, term
    asc), ranked as a BM25 disjunction (query/multiterm.prefix_topk)."""
    from visionsearch_spark.query.multiterm import prefix_topk

    prefix, cap, k = PREFIX_QUERY
    store = get_documents_index(spark, sf_dir)
    res = prefix_topk(spark, store, prefix, k=k, max_expansions=cap)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard search (`*`/`?` over the term dictionary), ranked as a
    BM25 disjunction (query/multiterm.wildcard_topk)."""
    from visionsearch_spark.query.multiterm import wildcard_topk

    pattern, cap, k = WILDCARD_QUERY
    store = get_documents_index(spark, sf_dir)
    res = wildcard_topk(spark, store, pattern, k=k, max_expansions=cap)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _bm25_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy search: dictionary terms within Levenshtein max_edits of
    the query term, ranked as a BM25 disjunction
    (query/multiterm.fuzzy_topk)."""
    from visionsearch_spark.query.multiterm import fuzzy_topk

    term, edits, pfx, cap, k = FUZZY_QUERY
    store = get_documents_index(spark, sf_dir)
    res = fuzzy_topk(spark, store, term, k=k, max_edits=edits,
                     prefix_length=pfx, max_expansions=cap)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


FACET_QUERY = (["stream", "window"], ["lang", "source"])  # (any_of, facets)
MATCH_COUNT_QUERY = (["join", "filter"], ["dup"])  # (all_of, none_of)

# ES `range` aggregation buckets over n_chars (lo incl, hi excl, None =
# open; 'all' overlaps the others — ES ranges may overlap)
RANGE_FACET_SPEC = (
    ["stream", "window"],  # any_of membership
    {"n_chars": [("short", None, 200.0), ("mid", 200.0, 500.0),
                 ("long", 500.0, None), ("all", None, None)]},
)


def _search_range_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES range aggregation alongside search (query/facets.range_facets,
    r6): named numeric buckets counted over boolean-query matches, every
    requested bucket emitted (zero-count included)."""
    from visionsearch_spark.query.facets import range_facets

    any_of, ranges = RANGE_FACET_SPEC
    store = get_documents_index(spark, sf_dir)
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "n_chars")
    meta = docmap.select(
        "docid", doc_id_col().alias("doc_id")
    ).join(docs, "doc_id")
    return range_facets(spark, store, meta, ranges, any_of=any_of) \
        .orderBy("facet", "bucket")


DUP_SPAN_L = 10  # token length for duplicated-span detection


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection (operators/dedup.duplicate_spans,
    r6) — the Spark form of Lee et al.'s suffix-array substring dedup:
    maximal runs of consecutive corpus-duplicated 10-gram starts, as
    (doc_id, span_start, span_end, n_grams), 0-based end-exclusive."""
    from visionsearch_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return duplicate_spans(docs, length=DUP_SPAN_L) \
        .orderBy("doc_id", "span_start")


def _dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-token coverage (union of duplicated spans —
    a real interval merge; operators/dedup.dup_span_stats, r6): the
    threshold signal for substring-dedup filtering."""
    from visionsearch_spark.operators.dedup import dup_span_stats

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return dup_span_stats(docs, length=DUP_SPAN_L).orderBy("doc_id")


def _search_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cardinality aggregation alongside search (query/facets
    .facet_cardinality, r6): exact distinct value counts per facet over
    boolean-query matches (the value-checkable form of ES's HLL++)."""
    from visionsearch_spark.query.facets import facet_cardinality

    any_of, facets = FACET_QUERY
    store = get_documents_index(spark, sf_dir)
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", *facets)
    meta = docmap.select(
        "docid", doc_id_col().alias("doc_id")
    ).join(docs, "doc_id")
    return facet_cardinality(spark, store, meta, facets,
                             any_of=any_of).orderBy("facet")


TERM_VECTOR_DOC = 7

FUNCTION_SCORE_QUERY = ("stream window", 60, 20)  # (text, depth, k)


def _function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score (query/rescore.function_score_topk, r6):
    BM25 top-depth rescored by a field-value factor — ln(1 + n_chars),
    the length prior — then re-cut to top-k on the rounded combined
    score with the frozen tie-break."""
    from visionsearch_spark.query.rescore import function_score_topk

    qtext, depth, k = FUNCTION_SCORE_QUERY
    store = get_documents_index(spark, sf_dir)
    docs = spark.read.parquet(_p(sf_dir, "documents"))
    factors = docs.select(
        F.format_string("doc-%010d", F.col("doc_id")).alias("conv_id"),
        F.log(F.lit(1.0) + F.col("n_chars")).alias("factor"),
    )
    res = function_score_topk(spark, store, qtext, factors, k=k,
                              depth=depth)
    return res.select(doc_id_col().alias("doc_id"), "fscore", "rank")


def _term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _termvectors (query/termvectors.term_vector_frame, r6): one
    document's (term, tf, 0-based analyzed positions, corpus df) rows —
    the same position coordinate pos_bin stores, so this surface
    spot-checks positional payloads."""
    from visionsearch_spark.query.termvectors import term_vector_frame

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return term_vector_frame(docs, TERM_VECTOR_DOC).orderBy("term")


SIGTERMS_QUERY = (["stream", "window"], 20, 3)  # (any_of, top_n, min_fg_df)

# (any_of membership, numeric column, percentiles)
STATS_QUERY = (["stream", "window"], "n_chars", [0.25, 0.5, 0.75, 0.95])


def _search_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES stats+percentiles aggregation alongside search (query/facets
    .numeric_stats, r6): count/min/max/avg plus EXACT linear-interpolated
    percentiles (Spark percentile == DuckDB quantile_cont) over the
    boolean-query matches' n_chars."""
    from visionsearch_spark.query.facets import numeric_stats

    any_of, col, ps = STATS_QUERY
    store = get_documents_index(spark, sf_dir)
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", col)
    meta = docmap.select(
        "docid", doc_id_col().alias("doc_id")
    ).join(docs, "doc_id")
    return numeric_stats(spark, store, meta, [col], percentiles=ps,
                         any_of=any_of).orderBy("facet", "stat")


def _significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms (query/facets.significant_terms, r6): terms
    over-represented in the boolean-query matches vs the whole corpus,
    JLH-scored ((fg%-bg%)*(fg%/bg%)), query terms excluded, fg_df >= 3;
    foreground re-tokenizes ONLY matching docs, background df comes from
    the store's term_stats."""
    from visionsearch_spark.query.facets import significant_terms

    any_of, top_n, min_fg = SIGTERMS_QUERY
    store = get_documents_index(spark, sf_dir)
    return significant_terms(spark, store, any_of=any_of, top_n=top_n,
                             min_fg_df=min_fg)


def _date_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_histogram semantics (query/facets.histogram_frame, r6):
    calendar-day buckets with EMPTY BUCKETS ZERO-FILLED between observed
    min and max — the timeline widget's contract, which a plain groupBy
    (tumbling_window_events) does not provide. Bucket axis = F.sequence
    over a 1-row min/max aggregate."""
    from visionsearch_spark.query.facets import histogram_frame

    ev = spark.read.parquet(_p(sf_dir, "events"))
    return histogram_frame(ev, "ts", "day").select(
        F.col("bucket").cast("long").alias("bucket_epoch"), "n_docs"
    ).orderBy("bucket_epoch")


def _search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet aggregation alongside search: per-field value counts over
    ALL docs matching a boolean membership query (query/facets
    .facet_counts — zero-shuffle membership, one stacked group-by)."""
    from visionsearch_spark.query.facets import facet_counts

    any_of, facets = FACET_QUERY
    store = get_documents_index(spark, sf_dir)
    docmap = spark.read.parquet(store.docmap_path).select("docid", "conv_id")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", *facets)
    meta = docmap.select(
        "docid", doc_id_col().alias("doc_id")
    ).join(docs, "doc_id")
    return facet_counts(spark, store, meta, facets, any_of=any_of)


def _search_match_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-hits count for a boolean query (query/facets.match_count)
    — the 'N results' header, no ranking."""
    from visionsearch_spark.query.facets import match_count

    all_of, none_of = MATCH_COUNT_QUERY
    store = get_documents_index(spark, sf_dir)
    return match_count(spark, store, all_of=all_of, none_of=none_of)


UNIT_QUERY = ("join filter stream", 20)


def _bm25_unit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-unit fan-out search: docs ranked by MAX unit BM25 score
    (units.py; the reference caption variant's per-doc collapse)."""
    from visionsearch_spark.corpus import get_documents_unit_index
    from visionsearch_spark.query.units import unit_topk

    qtext, k = UNIT_QUERY
    store = get_documents_unit_index(spark, sf_dir)
    res = unit_topk(spark, store, qtext, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


FIELDED_QUERY = ("join filter stream", 20)


def _bm25_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F-lite: docs ranked by weighted sum of per-field BM25 (title
    2x, body 1x) over a field-unit store — the reference's caption/main
    text duality (aisearch/core.py:82-111) with field weights."""
    from visionsearch_spark.corpus import get_documents_field_index
    from visionsearch_spark.query.fielded import fielded_topk

    qtext, k = FIELDED_QUERY
    store = get_documents_field_index(spark, sf_dir)
    res = fielded_topk(spark, store, qtext, k=k)
    return res.select(
        doc_id_col().alias("doc_id"), F.round("score", 6).alias("score")
    )


def _token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.analyzer import tokens_col

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return docs.select(
        "doc_id", F.size(tokens_col("text")).alias("n_tokens")
    )


def _term_df_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_documents_index(spark, sf_dir)
    ts = spark.read.parquet(*store.term_stats_paths())
    return (
        ts.groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term")).limit(50)
    )


def _corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = get_documents_index(spark, sf_dir)
    m = store.read_meta()
    return spark.createDataFrame(
        [(int(m["n_docs"]), round(float(m["avgdl"]), 6))], "n_docs long, avgdl double"
    )


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup; the shuffle key is sha2(text) so the
    exchange carries 32-byte digests, never the corpus bytes."""
    from visionsearch_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return exact_dedup(docs)


def _threshold_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_p(sf_dir, "events"))
    return (
        ev.filter(F.col("value") >= EVENT_VALUE_THRESHOLD)
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(30)
        .select("event_id", "value")
    )


def _turn_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = spark.read.parquet(_p(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", F.row_number().over(w).alias("turn_idx")
    )


def _session_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_p(sf_dir, "events"))
    return (
        ev.groupBy("user_id", F.session_window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def _antijoin_orders_no_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-scan shape (J3/S4): rows not yet covered by the other
    side — non-empty at every sf (orders without lineitems exist)."""
    orders = spark.read.parquet(_p(sf_dir, "orders"))
    li = spark.read.parquet(_p(sf_dir, "lineitem"))
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    ).select("o_orderkey")


def _groupby_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_p(sf_dir, "events"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.similarity import cosine_topk_to_query

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding") \
        .limit(1).collect()[0][0]
    return cosine_topk_to_query(emb, list(qvec), k=20).select(
        "vec_id", F.round("cos", 6).alias("cos")
    )


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return minhash_lsh_pairs(docs, n=3, tau=0.6)


def _dedup_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/neardup_stream (r5): HASHED-shingle
    minhash (no dictionary — one stateless JVM expression per row) with
    the signature-match estimate. The streaming operator's chunked
    replay accumulates exactly this frame (tests/test_neardup_stream)."""
    from visionsearch_spark.operators.dedup import minhash_pairs_hashed

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return minhash_pairs_hashed(docs, n=3, min_match=4)


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, n=5, tau=0.6, max_shingle_df=1000)


def _cross_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: documents (corpus) vs the deterministic
    10% sample (stand-in benchmark table) — every corpus doc whose
    3-gram shingle set Jaccard-matches a benchmark doc at tau=0.5. The
    DuckDB twin replays the same union-dictionary + banded-MinHash
    candidate generation, so candidates (not just verified pairs) match
    by construction."""
    from visionsearch_spark.operators.dedup import cross_contamination
    from visionsearch_spark.operators.textstats import deterministic_sample

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    bench = deterministic_sample(docs, rate=0.1)
    return cross_contamination(docs, bench, n=3, tau=0.5)


def _ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram overlap decontamination (GPT-3/C4-style rule, r5):
    corpus docs sharing any verbatim 5-gram with the stand-in benchmark
    (deterministic 10% sample), with the count of shared distinct
    n-grams. DuckDB twin joins on the raw shingle string; Spark joins
    on its md5 hex — identical absent an md5 collision."""
    from visionsearch_spark.operators.dedup import (
        ngram_overlap_contamination,
    )
    from visionsearch_spark.operators.textstats import deterministic_sample

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    bench = deterministic_sample(docs, rate=0.1)
    return ngram_overlap_contamination(docs, bench, n=5,
                                       max_shingle_df=1000)


def _mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture-targeted selection (r5): the operator that
    APPLIES mixture_weights — per-source modular-hash Bernoulli at
    rate min(1, base_rate·weight). base_rate=0.05 exercises partial
    rates on every targeted source (clipping none)."""
    from visionsearch_spark.operators.textstats import mixture_sample

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return mixture_sample(docs, MIXTURE_TARGETS, base_rate=0.05) \
        .select("doc_id", "source")


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs: the
    transitive-closure step a keep-one-per-group dedup actually
    consumes. Spark side iterates min-label propagation to a fixpoint;
    the DuckDB twin computes the same components with a WITH RECURSIVE
    transitive closure — exact agreement because both resolve to
    min-id-per-component."""
    from visionsearch_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_clusters,
    )

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    pairs = minhash_lsh_pairs(docs, n=3, tau=0.6)
    return neardup_clusters(pairs)


def _dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: survivors = corpus minus every
    non-representative cluster member (keep min id per component)."""
    from visionsearch_spark.operators.dedup import dedup_corpus

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return dedup_corpus(docs, n=3, tau=0.6).select("doc_id", "source")


def _simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.dedup import simhash

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return simhash(docs, n_bits=64).withColumnRenamed("id", "doc_id")


def _simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming-<=3 pairing via pigeonhole-complete banded buckets
    (dedup.simhash_pairs) at 64 bits — 16-bit band buckets (65 536 values
    per band) keep candidate mass linear at 10^9+ docs where the old
    32-bit/8-bit-chunk config went quadratic."""
    from visionsearch_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return simhash_pairs(docs, max_hamming=3, n_bits=64)


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import lang_id

    return lang_id(spark.read.parquet(_p(sf_dir, "documents")))


def _quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import quality_score

    return quality_score(spark.read.parquet(_p(sf_dir, "documents")))


def _token_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import token_length_stats

    return token_length_stats(spark.read.parquet(_p(sf_dir, "documents")))


def _source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import source_mixture

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return source_mixture(docs)


PACK_WINDOW = 512


def _pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import pack_documents

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return pack_documents(docs, window=PACK_WINDOW)


def _llm_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import llm_token_estimate

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return llm_token_estimate(docs)


def _repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import repetition_stats

    return repetition_stats(spark.read.parquet(_p(sf_dir, "documents")))


def _bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.lm import bigram_lm_nll

    return bigram_lm_nll(spark.read.parquet(_p(sf_dir, "documents")))


def _tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.lm import tfidf_keywords

    return tfidf_keywords(spark.read.parquet(_p(sf_dir, "documents")), k=5)


def _related_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.lm import related_docs

    return related_docs(
        spark.read.parquet(_p(sf_dir, "documents")),
        k_keywords=5, top_j=3, max_bucket=100,
    )


# deterministic PII suffix appended to every 7th doc INSIDE the contract
# query (the synthetic corpus contains no PII — both engines build the
# same augmented input, so the scrub rules are actually exercised)
PII_SUFFIX = (" contact a.user@example.com or https://ex.com/p?q=1 "
              "or +1 (555) 123-4567")


def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import pii_scrub

    docs = spark.read.parquet(_p(sf_dir, "documents")).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(PII_SUFFIX))
            .otherwise(F.lit("")),
        ),
    )
    return pii_scrub(docs)


MIXTURE_TARGETS = {"src1": 0.5, "src2": 0.3, "src3": 0.2}


def _mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import mixture_weights

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return mixture_weights(docs, MIXTURE_TARGETS)


def _deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import deterministic_sample

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return deterministic_sample(docs, rate=0.1).select("doc_id", "source")


def _training_set_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pipeline op: dedup ∧ lang ∧ quality ∧ token band."""
    from visionsearch_spark.operators.textstats import training_set_filter

    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return training_set_filter(docs, min_quality=0.6, langs=("en",),
                               min_tokens=5, max_tokens=1000)


def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from visionsearch_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(spark.read.parquet(_p(sf_dir, "documents")))


def _prefix_filter_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_p(sf_dir, "documents"))
    return docs.filter(F.col("source").startswith("src1")).select(
        "doc_id", "source"
    )


def _json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_p(sf_dir, "events"))
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def _tpch_q1_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_p(sf_dir, "lineitem"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # round(x, 2): these sums reach ~1e9+ at sf>=0.1, where a
            # float64 ulp (~5e-7) crosses the 1e-6 rounding step and
            # summation-order noise breaks exact 6-decimal matching
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(_p(sf_dir, "customer"))
    orders = spark.read.parquet(_p(sf_dir, "orders"))
    nation = spark.read.parquet(_p(sf_dir, "nation"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )


def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: banded-LSH candidates + exact cosine verify — no
    CartesianProduct in the plan. The 16x2-band config is verified
    candidate-complete vs the exact O(n²) oracle on the fixtures
    (tests/test_dedup.py), so values match the all-pairs DuckDB SQL."""
    from visionsearch_spark.operators.similarity import pairwise_neardup

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    return pairwise_neardup(emb, tau=0.4, n_planes=32, n_bands=16).select(
        "id_a", "id_b", F.round("cos", 6).alias("cos")
    )


ANN_RECALL_QUERY_IDS = [0, 1, 2, 3, 4]
ANN_RECALL_K = 20
ANN_N_PLANES = 16
ANN_SEED = 7
IVF_N_CENTROIDS = 16
IVF_SEED = 11
IVF_NPROBE = 4


def _ann_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process+corpus) the persisted LSH signature sidecar."""
    import hashlib
    import tempfile

    from visionsearch_spark.operators.similarity import SIG_META, build_ann_index

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    # build params are part of the key VIA the shared constants (not
    # literals): changing ANN_N_PLANES/ANN_SEED can never silently reuse
    # a sidecar built under the old quantizer
    key = hashlib.sha1(
        f"ann-v1:planes={ANN_N_PLANES}:seed={ANN_SEED}:"
        f"{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"vss_ann_{key}")
    if not os.path.exists(os.path.join(root, SIG_META)):
        build_ann_index(emb, root, n_planes=ANN_N_PLANES, seed=ANN_SEED)
    return root


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN over the PERSISTED signature sidecar (built once per
    corpus): the plan prunes on the stored sig column — no per-row
    signature arithmetic over the full corpus at query time. Deterministic
    given the seeded hyperplanes; the DuckDB twin (_ann_lsh_oracle)
    replicates the identical sign-bit / Hamming-prune / exact-cosine
    arithmetic from a hyperplane VALUES table, so this IS value-checked."""
    from visionsearch_spark.operators.similarity import cosine_topk_lsh_indexed

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    root = _ann_root(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding") \
        .limit(1).collect()[0][0]
    return cosine_topk_lsh_indexed(emb, root, list(qvec), k=20, max_hamming=6) \
        .select("vec_id", F.round("cos", 6).alias("cos"))


def _ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval aggregation (A6): recall@20 of the ANN path vs the exact
    scorer over a fixed query set — the reference's zeroshot_retrieval
    harness shape, value-checked against a DuckDB twin that replays both
    sides in SQL."""
    from visionsearch_spark.operators.similarity import ann_recall_at_k

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    root = _ann_root(spark, sf_dir)
    return ann_recall_at_k(emb, root, ANN_RECALL_QUERY_IDS,
                           k=ANN_RECALL_K, max_hamming=6)


def _ivf_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process+corpus) the persisted IVF cell sidecar with
    the STATIC seeded quantizer — the trained (k-means) quantizer is
    pytest-covered; the contract row uses the static one because k-means
    cannot be replayed in static oracle SQL."""
    import hashlib
    import tempfile

    from visionsearch_spark.operators.similarity import IVF_META, build_ivf_index

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    # build params are part of the key: bumping IVF_N_CENTROIDS/IVF_SEED
    # must never silently reuse cells assigned under the old quantizer
    # (the oracle recomputes centroids from the constants)
    key = hashlib.sha1(
        f"ivf-v1:k={IVF_N_CENTROIDS}:seed={IVF_SEED}:"
        f"{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"vss_ivf_{key}")
    if not os.path.exists(os.path.join(root, IVF_META)):
        build_ivf_index(emb, root, n_centroids=IVF_N_CENTROIDS, seed=IVF_SEED)
    return root


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the persisted cell sidecar: top-nprobe centroid cells
    by query dot product, exact cosine on survivors only. The DuckDB twin
    (_ann_ivf_oracle) replays assignment + probe + scoring from a centroid
    VALUES table — value-checked."""
    from visionsearch_spark.operators.similarity import cosine_topk_ivf

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    root = _ivf_root(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding") \
        .limit(1).collect()[0][0]
    return cosine_topk_ivf(emb, root, list(qvec), k=20, nprobe=IVF_NPROBE) \
        .select("vec_id", F.round("cos", 6).alias("cos"))


EMBED_DIM = 8  # contract dim for the deterministic stub embedder


def _embed_text_hashproj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stub embedder (embedding.HashProjectionEmbedder)
    over documents, exploded to (doc_id, dim_idx, value) rows so every
    component sits under the driver's value hash. Zero-token docs are
    excluded on BOTH sides (the oracle's per-token unnest never emits
    them). Integer accumulation + exact-integer squared norm make the
    float values bit-identical to the SQL twin."""
    from visionsearch_spark.analyzer import tokens_col
    from visionsearch_spark.embedding import embed_text

    docs = spark.read.parquet(_p(sf_dir, "documents")) \
        .filter(F.size(tokens_col("text")) > 0)
    emb = embed_text(docs, model_name="hash-projection", dim=EMBED_DIM)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim_idx", "value")
    ).select("doc_id", "dim_idx", F.round("value", 6).alias("value"))


IVFPQ_M = 8  # 64-d embeddings -> 8 subspaces of 8 dims


def _ivfpq_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process+corpus) the persisted IVF-PQ sidecar:
    static seeded coarse quantizer + TRAINED PQ codebooks (bounded
    sample). The codebooks are k-means-trained and so not SQL-replayable
    — which is exactly why the contract query runs the DEGENERATE-EXACT
    config (see _ann_ivfpq_topk)."""
    import hashlib
    import tempfile

    from visionsearch_spark.operators.similarity import (
        PQ_META,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    key = hashlib.sha1(
        f"ivfpq-v1:k={IVF_N_CENTROIDS}:m={IVFPQ_M}:seed={IVF_SEED}:"
        f"{os.path.abspath(sf_dir)}".encode()
    ).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"vss_ivfpq_{key}")
    if not os.path.exists(os.path.join(root, PQ_META)):
        build_ivfpq_index(emb, root, n_centroids=IVF_N_CENTROIDS,
                          m=IVFPQ_M, seed=IVF_SEED)
    return root


def _ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN in DEGENERATE-EXACT mode, putting the whole build+query
    machinery (cell assignment, ADC code scan in mapInArrow, exact
    re-rank) under the driver's value check: with nprobe == n_centroids
    every cell is probed, and with rerank >= corpus size every probed row
    survives the approximate cut — so the final exact-cosine re-rank is
    provably identical to brute force regardless of codebook content
    (the reference's exhaustive-exactness-as-truth semantics,
    `/root/reference/visionsearch/common_utils/indexing/faiss_index/core.py:13-16`).
    The DuckDB twin is therefore the exact cosine top-k SQL. Practical
    (nprobe < n_centroids) configs are covered by the pytest recall
    floor, which is the honest contract for a lossy index."""
    from visionsearch_spark.operators.similarity import cosine_topk_ivfpq

    emb = spark.read.parquet(_p(sf_dir, "embeddings"))
    root = _ivfpq_root(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 1).select("embedding") \
        .limit(1).collect()[0][0]
    return cosine_topk_ivfpq(
        emb, root, list(qvec), k=20, nprobe=IVF_N_CENTROIDS,
        rerank=-1,  # no ADC cut: every probed row reaches the exact re-rank
    ).select("vec_id", F.round("cos", 6).alias("cos"))


def _tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregation (streaming-shape op in batch)."""
    ev = spark.read.parquet(_p(sf_dir, "events"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


def _topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event_type (window rank)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(_p(sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "rnk", "event_id", "value")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batch BM25 top-k over the sf0.001 documents corpus."""
    _ensure_shipped(spark)
    return _bm25_batch(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _bm25_query(text, k) for name, (text, k) in BM25_QUERIES.items()
    }
    q.update(
        {
            "bm25_batch": _bm25_batch,
            "bm25_filtered": _bm25_filtered,
            "bm25_page2": _bm25_page2,
            "bm25_boosted": _bm25_boosted,
            "bm25_synonyms": _bm25_synonyms,
            "bm25_querystring": _bm25_querystring,
            "bm25_explain": _bm25_explain,
            "percolate_queries": _percolate_queries,
            "percolate_advanced": _percolate_advanced,
            "knn_join_exact": _knn_join_exact,
            "hybrid_rrf": _hybrid_rrf,
            "hybrid_weighted": _hybrid_weighted,
            "bm25_after_delete": _bm25_after_delete,
            "bm25_after_purge": _bm25_after_purge,
            "bm25_after_upsert": _bm25_after_upsert,
            "bm25_phrase": _bm25_phrase,
            "bm25_proximity": _bm25_proximity,
            "bm25_boolean": _bm25_boolean,
            "bm25_prefix": _bm25_prefix,
            "bm25_wildcard": _bm25_wildcard,
            "bm25_fuzzy": _bm25_fuzzy,
            "search_facets": _search_facets,
            "search_match_count": _search_match_count,
            "search_range_facets": _search_range_facets,
            "date_histogram_events": _date_histogram_events,
            "significant_terms": _significant_terms,
            "search_numeric_stats": _search_numeric_stats,
            "dup_spans": _dup_spans,
            "dup_span_stats": _dup_span_stats,
            "bm25_phrase_slop": _bm25_phrase_slop,
            "search_cardinality": _search_cardinality,
            "term_vectors": _term_vectors,
            "function_score": _function_score,
            "bm25_unit_topk": _bm25_unit_topk,
            "bm25_fielded": _bm25_fielded,
            "token_count": _token_count,
            "term_df_top": _term_df_top,
            "corpus_stats": _corpus_stats,
            "dedup_exact": _dedup_exact,
            "threshold_topk_events": _threshold_topk_events,
            "turn_numbering": _turn_numbering,
            "session_window_1h": _session_window_1h,
            "antijoin_orders_no_lineitem": _antijoin_orders_no_lineitem,
            "groupby_event_type": _groupby_event_type,
            "cosine_topk": _cosine_topk,
            "dedup_minhash_lsh": _dedup_minhash_lsh,
            "dedup_minhash_stream": _dedup_minhash_stream,
            "dedup_ngram_jaccard": _dedup_ngram_jaccard,
            "cross_contamination": _cross_contamination,
            "ngram_decontaminate": _ngram_decontaminate,
            "mixture_sample": _mixture_sample,
            "dedup_clusters": _dedup_clusters,
            "dedup_corpus": _dedup_corpus,
            "simhash64": _simhash64,
            "simhash_neardup": _simhash_neardup,
            "lang_id": _lang_id,
            "quality_score": _quality_score,
            "token_length_stats": _token_length_stats,
            "llm_token_estimate": _llm_token_estimate,
            "pack_documents": _pack_documents,
            "source_mixture": _source_mixture,
            "repetition_stats": _repetition_stats,
            "bigram_lm_nll": _bigram_lm_nll,
            "tfidf_keywords": _tfidf_keywords,
            "related_docs": _related_docs,
            "pii_scrub": _pii_scrub,
            "mixture_weights": _mixture_weights,
            "deterministic_sample": _deterministic_sample,
            "training_set_filter": _training_set_filter,
            "doc_fingerprint": _doc_fingerprint,
            "prefix_filter_source": _prefix_filter_source,
            "json_extract_props": _json_extract_props,
            "tpch_q1_like": _tpch_q1_like,
            "revenue_by_nation": _revenue_by_nation,
            "embedding_neardup": _embedding_neardup,
            "ann_lsh_topk": _ann_lsh_topk,
            "embed_text_hashproj": _embed_text_hashproj,
            "ann_ivf_topk": _ann_ivf_topk,
            "ann_ivfpq_topk": _ann_ivfpq_topk,
            "ann_recall_at_k": _ann_recall_at_k,
            "tumbling_window_events": _tumbling_window_events,
            "topk_per_group": _topk_per_group,
        }
    )
    return {name: _shipped(fn) for name, fn in _rotate_for_driver(q).items()}


# Driver-window rotation policy (VERDICT r5, Next-round #1). The external
# oracle value-checks only the FIRST 50 entries of queries(); everything
# after slot 50 is graded on this repo's own oracles only. So each round the
# dict is ordered:
#   tier 1 — _ROUND_CHANGED: rows whose operator code changed this round or
#            that have never had a driver-green row (MUST be re-checked);
#   tier 2 — rows absent from last round's CORRECTNESS file (complement of
#            _CHECKED_LAST_ROUND below) — stale by one round;
#   tier 3 — rows green last round (safest to fall outside the window).
# Invariant: as long as |tier1| + |tier2| <= 50, no row ever goes more than
# two consecutive rounds without an external value check. Update BOTH lists
# every round: _CHECKED_LAST_ROUND from CORRECTNESS_r{N-1}.json keys,
# _ROUND_CHANGED from this round's operator diffs.

# keys of CORRECTNESS_r07.json (50 rows, all green; the same key set
# as CORRECTNESS_r06.json)
_CHECKED_LAST_ROUND = {
    "bigram_lm_nll", "tfidf_keywords", "related_docs", "mixture_weights",
    "bm25_phrase", "bm25_proximity", "percolate_queries",
    "percolate_advanced", "search_range_facets", "date_histogram_events",
    "significant_terms", "search_numeric_stats", "dup_spans",
    "dup_span_stats", "bm25_phrase_slop", "search_cardinality",
    "term_vectors", "function_score", "llm_token_estimate",
    "pack_documents", "source_mixture", "repetition_stats", "pii_scrub",
    "deterministic_sample", "training_set_filter", "doc_fingerprint",
    "prefix_filter_source", "json_extract_props", "tpch_q1_like",
    "revenue_by_nation", "embedding_neardup", "ann_lsh_topk",
    "embed_text_hashproj", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_recall_at_k", "tumbling_window_events", "topk_per_group",
    "bm25_topk_hot", "bm25_topk_tail", "bm25_topk_single", "bm25_batch",
    "bm25_filtered", "bm25_page2", "bm25_boosted", "bm25_synonyms",
    "bm25_querystring", "bm25_explain", "knn_join_exact", "hybrid_rrf",
}

# This round moved every doc length out of the postings into per-doc
# DL_TERM rows (segment layout 2): the SPIMI flush, compaction, delete
# masking, the wand score kernel and LocalSearcher all read the new
# segments, so every ranked row rides them. Tier 1 lists them all:
# the r7-green ones (13 bm25_* rows and hybrid_rrf — the budget's
# |tier1 ∩ checked| = 14 keeps |tier1| + |tier2| = 49 <= 50) and the
# ones already in tier 2 (the delete, purge and upsert rows, the
# boolean/multi-term/unit/fielded rows and hybrid_weighted), listed
# because the rotation rule says changed ops MUST be.
_ROUND_CHANGED = [
    "bm25_topk_hot", "bm25_topk_tail", "bm25_topk_single", "bm25_batch",
    "bm25_filtered", "bm25_page2", "bm25_boosted", "bm25_synonyms",
    "bm25_querystring", "bm25_explain", "bm25_phrase", "bm25_proximity",
    "bm25_phrase_slop", "hybrid_rrf",
    "bm25_after_delete", "bm25_after_purge", "bm25_after_upsert",
    "bm25_boolean", "bm25_prefix", "bm25_wildcard", "bm25_fuzzy",
    "bm25_unit_topk", "bm25_fielded", "hybrid_weighted",
]


# First row of the previous round's window: whatever runs first absorbs
# the session's one-time warmup (JVM JIT, python worker forks, first
# parquet reads), so cross-round PER-QUERY timing comparisons are only
# meaningful if the same row runs first each round. Ordering within the
# window is free under the tier policy (membership is what the tiers
# decide); the anchor occupies the window's single tier-3 slot.
_WARMUP_ANCHOR = "bigram_lm_nll"


def _rotate_for_driver(q: dict) -> dict:
    tier1 = [n for n in _ROUND_CHANGED if n in q]
    tier2 = [n for n in q if n not in _CHECKED_LAST_ROUND and n not in tier1]
    tier3 = [n for n in q if n in _CHECKED_LAST_ROUND and n not in tier1]
    assert len(tier1) + len(tier2) <= 50, (
        "rotation invariant broken: stale rows exceed the driver window"
    )
    head: list[str] = []
    if (_WARMUP_ANCHOR in tier3
            and len(tier1) + len(tier2) < 50):
        tier3.remove(_WARMUP_ANCHOR)
        head = [_WARMUP_ANCHOR]
    return {n: q[n] for n in head + tier1 + tier2 + tier3}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _shingle_ctes(n: int) -> str:
    """CTEs toks -> sh -> dic -> sids shared by the shingle-based oracles
    (mirror of operators/dedup.py shingles + shingle_ids)."""
    toks = duckdb_tokens("text")
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return f"""
toks AS (
  SELECT doc_id AS id, {toks} AS tk FROM documents
),
sh AS (
  SELECT DISTINCT id, unnest(
    CASE WHEN len(tk) >= {n}
         THEN list_transform(generate_series(1, len(tk)-{n - 1}), i -> {grams})
         ELSE [] END) AS shingle
  FROM toks
),
dic AS (
  SELECT shingle, dense_rank() OVER (ORDER BY shingle)::BIGINT AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
sids AS (SELECT sh.id, dic.sid FROM sh JOIN dic USING(shingle))
"""


def _jaccard_tail(tau: float) -> str:
    return f"""
sizes AS (SELECT id, count(*) AS sz FROM sids GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cands c
  JOIN sids a ON a.id = c.id_a
  JOIN sids b ON b.id = c.id_b AND b.sid = a.sid
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       round(i.inter * 1.0 / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= {tau}
"""


def _cross_contamination_oracle(n: int, tau: float, rate: float = 0.1) -> str:
    """Twin of dedup.cross_contamination over documents vs the
    deterministic sample: union with side in the low id bit, ONE shingle
    dictionary over the union, banded MinHash candidates across sides
    only, exact-Jaccard verify, ids decoded back."""
    from visionsearch_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_PRIME, N_BANDS, N_HASHES,
    )
    from visionsearch_spark.operators.textstats import FP_MULT, FP_PRIME

    toks = duckdb_tokens("text")
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    pred = (f"({FP_MULT}::BIGINT * doc_id + 12345) % {FP_PRIME}"
            f" < {int(FP_PRIME * rate)}")
    hash_mins = ", ".join(
        f"min(({MINHASH_A[i]}::BIGINT * sid + {MINHASH_B[i]})"
        f" % {MINHASH_PRIME}) AS h{i}"
        for i in range(N_HASHES)
    )
    rpb = N_HASHES // N_BANDS
    band_joins = " UNION ".join(
        "SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b ON "
        + " AND ".join(f"a.h{i} = b.h{i}"
                       for i in range(band * rpb, (band + 1) * rpb))
        + " WHERE a.id % 2 = 0 AND b.id % 2 = 1"
        for band in range(N_BANDS)
    )
    inner = f"""
WITH toks AS (
  SELECT doc_id * 2 AS id, {toks} AS tk FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1 AS id, {toks} AS tk FROM documents WHERE {pred}
),
sh AS (
  SELECT DISTINCT id, unnest(
    CASE WHEN len(tk) >= {n}
         THEN list_transform(generate_series(1, len(tk)-{n - 1}), i -> {grams})
         ELSE [] END) AS shingle
  FROM toks
),
dic AS (
  SELECT shingle, dense_rank() OVER (ORDER BY shingle)::BIGINT AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
sids AS (SELECT sh.id, dic.sid FROM sh JOIN dic USING(shingle)),
sig AS (SELECT id, {hash_mins} FROM sids GROUP BY id),
cands AS (SELECT DISTINCT id_a, id_b FROM ({band_joins})),
""" + _jaccard_tail(tau)
    return f"""
SELECT id_a // 2 AS corpus_id, (id_b - 1) // 2 AS benchmark_id, jaccard
FROM ({inner})
"""


def _minhash_oracle(n: int, tau: float) -> str:
    from visionsearch_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_PRIME, N_BANDS, N_HASHES,
    )

    hash_mins = ", ".join(
        f"min(({MINHASH_A[i]}::BIGINT * sid + {MINHASH_B[i]}) % {MINHASH_PRIME}) AS h{i}"
        for i in range(N_HASHES)
    )
    rpb = N_HASHES // N_BANDS
    band_joins = " UNION ".join(
        "SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b ON "
        + " AND ".join(f"a.h{i} = b.h{i}" for i in range(b * rpb, (b + 1) * rpb))
        + " WHERE a.id < b.id"
        for b in range(N_BANDS)
    )
    return (
        "WITH " + _shingle_ctes(n).strip().lstrip() + f""",
sig AS (SELECT id, {hash_mins} FROM sids GROUP BY id),
cands AS (SELECT DISTINCT id_a, id_b FROM ({band_joins})),
""" + _jaccard_tail(tau)
    )


def _ngram_overlap_oracle(n: int, max_shingle_df: int,
                          bench_rate: float) -> str:
    """Twin of dedup.ngram_overlap_contamination with the deterministic
    sample as benchmark: join on the raw shingle STRING (Spark joins
    md5 hex of the same string — identical absent an md5 collision);
    the df cap counts BENCHMARK-side docs only."""
    from visionsearch_spark.operators.textstats import FP_MULT, FP_PRIME

    toks = duckdb_tokens("text")
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    return f"""
WITH toks AS (
  SELECT doc_id AS id, {toks} AS tk FROM documents
),
sh AS (
  SELECT DISTINCT id, unnest(
    CASE WHEN len(tk) >= {n}
         THEN list_transform(generate_series(1, len(tk)-{n - 1}),
                             i -> {grams})
         ELSE [] END) AS shingle
  FROM toks
),
bench AS (
  SELECT doc_id FROM documents
  WHERE ({FP_MULT}::BIGINT * doc_id + 12345) % {FP_PRIME}
        < {int(FP_PRIME * bench_rate)}
),
bsh AS (SELECT sh.id, sh.shingle FROM sh JOIN bench ON sh.id = bench.doc_id),
bkeys AS (
  SELECT shingle FROM bsh GROUP BY shingle
  HAVING count(*) <= {max_shingle_df}
)
SELECT c.id AS corpus_id, count(*)::BIGINT AS n_shared
FROM sh c JOIN bkeys USING(shingle)
GROUP BY c.id
"""


def _minhash_hashed_oracle(n: int, min_match: int) -> str:
    """Twin of dedup.minhash_pairs_hashed: shingle ids come from
    md5_number_lower(shingle) %% p — the established cross-engine hash
    (== Spark's little-endian conv of the low md5 hex, CLAUDE.md r4) —
    so no dictionary CTE; n_match counts agreeing signature
    components."""
    from visionsearch_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_PRIME, N_BANDS, N_HASHES,
    )

    toks = duckdb_tokens("text")
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(n))
    hash_mins = ", ".join(
        f"min(({MINHASH_A[i]}::BIGINT * sid + {MINHASH_B[i]})"
        f" % {MINHASH_PRIME}) AS h{i}"
        for i in range(N_HASHES)
    )
    rpb = N_HASHES // N_BANDS
    band_joins = " UNION ".join(
        "SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b ON "
        + " AND ".join(f"a.h{i} = b.h{i}"
                       for i in range(b * rpb, (b + 1) * rpb))
        + " WHERE a.id < b.id"
        for b in range(N_BANDS)
    )
    n_match = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, {toks} AS tk FROM documents
),
sh AS (
  SELECT DISTINCT id, unnest(
    CASE WHEN len(tk) >= {n}
         THEN list_transform(generate_series(1, len(tk)-{n - 1}),
                             i -> {grams})
         ELSE [] END) AS shingle
  FROM toks
),
sids AS (
  SELECT id, (md5_number_lower(shingle) % {MINHASH_PRIME})::BIGINT AS sid
  FROM sh
),
sig AS (SELECT id, {hash_mins} FROM sids GROUP BY id),
cands AS (SELECT DISTINCT id_a, id_b FROM ({band_joins})),
pairs AS (
  SELECT c.id_a, c.id_b, ({n_match})::INT AS n_match
  FROM cands c JOIN sig a ON a.id = c.id_a JOIN sig b ON b.id = c.id_b
)
SELECT id_a, id_b, n_match FROM pairs WHERE n_match >= {min_match}
"""


def _ngram_jaccard_oracle(n: int, tau: float, max_shingle_df: int) -> str:
    # candidate generation mirrors the Spark-side Zipf cap (shingles with
    # df > max_shingle_df don't generate candidates); the verify step
    # still uses the FULL shingle sets, like _verify_jaccard.
    return (
        "WITH " + _shingle_ctes(n).strip() + f""",
hot AS (SELECT sid FROM sids GROUP BY sid HAVING count(*) > {max_shingle_df}),
gen AS (SELECT * FROM sids WHERE sid NOT IN (SELECT sid FROM hot)),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM gen a JOIN gen b ON a.sid = b.sid AND a.id < b.id
),
""" + _jaccard_tail(tau)
    )


def _simhash_oracle(n_bits: int = 64) -> str:
    """Twin of dedup.simhash: bit i = sign bit (i mod 16) of hash j=i//16
    (independent affine hashes — a single 31-bit hash can't supply 64
    uniform bits). Bit 63 recomposes as -2^63 (two's-complement sign
    bit), matching the Spark side exactly."""
    from visionsearch_spark.operators.dedup import (
        MINHASH_A, MINHASH_B, MINHASH_PRIME, SIMHASH_BITS_PER_HASH as W,
    )

    toks = duckdb_tokens("text")
    n_hashes = -(-n_bits // W)
    hash_cols = ", ".join(
        f"({MINHASH_A[j]}::BIGINT * dic.tid + {MINHASH_B[j]}) % {MINHASH_PRIME} AS hj{j}"
        for j in range(n_hashes)
    )
    bit_sums = ", ".join(
        f"sum(CASE WHEN (hj{i // W} >> {i % W}) & 1 = 1 THEN tf ELSE -tf END) AS b{i}"
        for i in range(n_bits)
    )
    recompose = " + ".join(
        f"CASE WHEN b{i} > 0 THEN "
        + ("(-9223372036854775807 - 1)::BIGINT" if i == 63
           else f"{1 << i}::BIGINT")
        + " ELSE 0 END"
        for i in range(n_bits)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS id, unnest({toks}) AS term FROM documents
),
tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY id, term),
dic AS (
  SELECT term, dense_rank() OVER (ORDER BY term)::BIGINT AS tid
  FROM (SELECT DISTINCT term FROM tf)
),
h AS (
  SELECT tf.id, tf.tf, {hash_cols}
  FROM tf JOIN dic USING(term)
),
agg AS (SELECT id, {bit_sums} FROM h GROUP BY id)
SELECT id AS doc_id, ({recompose})::BIGINT AS simhash FROM agg
"""


def _lang_id_oracle() -> str:
    from visionsearch_spark.operators.textstats import LANG_MARKERS

    toks = duckdb_tokens("text")
    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(
        "len(list_filter(tk, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
        + f"], t))) AS s_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    pred = "'und'"
    for lg in reversed(langs):
        pred = f"CASE WHEN {best} > 0 AND s_{lg} = {best} THEN '{lg}' ELSE {pred} END"
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS tk FROM documents),
scored AS (SELECT doc_id, {score_cols} FROM toks)
SELECT doc_id, {pred} AS pred_lang FROM scored
"""


def _quality_oracle() -> str:
    from visionsearch_spark.operators.textstats import STOPWORDS

    toks = duckdb_tokens("text")
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH d AS (
  SELECT doc_id,
         len({toks}) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS n_punct,
         length(text) AS n_chars,
         len(list_filter({toks}, t -> list_contains([{stop}], t))) AS n_stop
  FROM documents
),
m AS (
  SELECT *, CASE WHEN n_tokens > 0
                 THEN (n_chars - n_tokens + 1) * 1.0 / n_tokens
                 ELSE 0.0 END AS mtl
  FROM d
)
SELECT doc_id, n_tokens, n_punct, n_stop,
       round(
         (CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN n_stop > 0 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN n_punct > 0 THEN 0.2 ELSE 0.0 END), 6) AS quality
FROM m
"""


def _fingerprint_oracle() -> str:
    # Per-position terms reduced mod p BEFORE the sum (mirrors
    # textstats.doc_fingerprint's bounded arithmetic — sum of unbounded
    # (pos+1)*h wraps int64 on the Spark side for dl ~ 60k while DuckDB
    # promotes to HUGEINT); final ::BIGINT so the driver hashes int64 on
    # both sides instead of HUGEINT->float64.
    from visionsearch_spark.operators.textstats import FP_MULT, FP_PRIME

    toks = duckdb_tokens("text")
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS tk FROM documents),
pos AS (
  SELECT doc_id, unnest(tk) AS term,
         unnest(generate_series(0, len(tk) - 1)) AS pos
  FROM toks WHERE len(tk) > 0
),
dic AS (
  SELECT term, dense_rank() OVER (ORDER BY term)::BIGINT AS tid
  FROM (SELECT DISTINCT term FROM pos)
)
SELECT pos.doc_id,
       (sum((((pos.pos + 1) % {FP_PRIME})
             * (({FP_MULT}::BIGINT * dic.tid + 12345) % {FP_PRIME}))
            % {FP_PRIME})
        % {FP_PRIME})::BIGINT AS fingerprint
FROM pos JOIN dic USING(term)
GROUP BY pos.doc_id
"""


def _ann_lsh_oracle(k: int = 20, n_planes: int = 16, max_hamming: int = 6,
                    dim: int = 64, seed: int = 7, qid: int = 0,
                    ids_only: bool = False) -> str:
    """DuckDB twin of similarity.cosine_topk_lsh: the seeded hyperplanes
    are emitted as a VALUES table (full-precision repr round-trips the
    float64 coefficients), sign bits / Hamming prune / exact cosine are
    replicated in SQL. dim=64 matches the fixture embeddings at every sf
    (the Spark side derives it from the query vector). qid picks the
    query vector; ids_only projects just vec_id (for recall INTERSECTs)."""
    from visionsearch_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    rows = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(c)) for c in plane)
        + "]::DOUBLE[])"
        for i, plane in enumerate(planes)
    )
    proj = "vec_id" if ids_only else "vec_id, round(cos, 6) AS cos"
    return f"""
WITH planes(p, coefs) AS (VALUES {rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {qid}),
bits AS (
  SELECT e.vec_id, p.p, (list_inner_product(e.v, p.coefs) >= 0) AS bit
  FROM e CROSS JOIN planes p
),
qbits AS (SELECT p, bit FROM bits WHERE vec_id = {qid}),
ham AS (
  SELECT b.vec_id, sum(CASE WHEN b.bit <> qb.bit THEN 1 ELSE 0 END) AS ham
  FROM bits b JOIN qbits qb USING(p) GROUP BY b.vec_id
),
scored AS (
  SELECT e.vec_id, list_cosine_similarity(e.v, (SELECT qv FROM q)) AS cos
  FROM e JOIN ham USING(vec_id) WHERE ham.ham <= {max_hamming}
)
SELECT {proj} FROM scored
ORDER BY scored.cos DESC, vec_id ASC LIMIT {k}
"""


def _ann_ivf_oracle(k: int = 20, n_centroids: int = 16, nprobe: int = 4,
                    dim: int = 64, seed: int = 11, qid: int = 0) -> str:
    """DuckDB twin of similarity.cosine_topk_ivf with the static seeded
    quantizer: centroids as a VALUES table (repr round-trips float64),
    assignment = argmax inner product with ties to the lowest centroid id
    (row_number ORDER BY d DESC, cid ASC), probe set = the query's top
    nprobe centroids by the same rule, exact cosine on survivors.
    list_inner_product accumulates sequentially like Spark's F.aggregate
    fold, so assignment matches bit-wise."""
    from visionsearch_spark.operators.similarity import _seeded_centroids

    cents = _seeded_centroids(dim, n_centroids, seed)
    rows = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(v)) for v in c)
        + "]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    return f"""
WITH cent(cid, coefs) AS (VALUES {rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {qid}),
dots AS (
  SELECT e.vec_id, c.cid, list_inner_product(e.v, c.coefs) AS d
  FROM e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
    FROM dots
  ) WHERE rn = 1
),
probes AS (
  SELECT cid FROM (
    SELECT c.cid, list_inner_product((SELECT qv FROM q), c.coefs) AS d
    FROM cent c
  ) ORDER BY d DESC, cid ASC LIMIT {nprobe}
),
scored AS (
  SELECT e.vec_id, list_cosine_similarity(e.v, (SELECT qv FROM q)) AS cos
  FROM e JOIN assign USING(vec_id)
  WHERE assign.cid IN (SELECT cid FROM probes)
)
SELECT vec_id, round(cos, 6) AS cos FROM scored
ORDER BY scored.cos DESC, vec_id ASC LIMIT {k}
"""


def _exact_topk_oracle(k: int, qid: int) -> str:
    """Exact cosine top-k ids for one query vector (recall denominator)."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {qid}),
scored AS (
  SELECT vec_id, list_cosine_similarity(v, (SELECT qv FROM q)) AS cos FROM e
)
SELECT vec_id FROM scored ORDER BY cos DESC, vec_id ASC LIMIT {k}
"""


def _ann_recall_oracle(qids: list[int], k: int, n_planes: int = 16,
                       max_hamming: int = 6, seed: int = 7) -> str:
    """Per-query recall@k = |approx ∩ exact| / k, both sides replayed in
    SQL (nested-WITH subqueries under INTERSECT — fine in DuckDB 1.0)."""
    blocks = [
        f"""
SELECT {qid}::BIGINT AS query_vec_id,
       round(count(*) * 1.0 / {k}, 6) AS recall
FROM (
  ({_ann_lsh_oracle(k=k, n_planes=n_planes, max_hamming=max_hamming,
                    seed=seed, qid=qid, ids_only=True)})
  INTERSECT
  ({_exact_topk_oracle(k, qid)})
)"""
        for qid in qids
    ]
    return " UNION ALL ".join(blocks)

def _bm25_oracle(batch: list[tuple[int, str, int]], with_qid: bool,
                 doc_pred: str | None = None,
                 q_sql: str | None = None,
                 base_pred: str | None = None,
                 offset: int = 0,
                 base_sql: str | None = None,
                 boosts: dict[str, float] | None = None) -> str:
    """Exhaustive BM25 (k1=1.2, b=0.75, Lucene idf) in plain DuckDB SQL —
    the driver-side twin of visionsearch_spark.oracle. doc_pred restricts
    which docs are RANKED (filter-the-results semantics); df/N/avgdl stay
    global, mirroring wand.batch_topk(docid_filter=...). q_sql, when
    given, REPLACES the literal VALUES term list with a computed
    (query_id, term, k) select — the multi-term rewrites (prefix /
    wildcard / fuzzy) derive their term set from the corpus vocabulary
    the same way the engine derives it from the term dictionary.

    base_pred restricts the CORPUS itself — docs failing it contribute
    to NOTHING (df, N, avgdl, candidates), mirroring a store whose
    deletes were folded by the purge compaction; doc_pred by contrast
    only restricts who is ranked (stale-stats deletes / filters).

    base_sql REPLACES the corpus outright with a (doc_id, text) select —
    the upsert twin ranks over a corpus whose texts were rewritten.

    boosts: {analyzed term: multiplier} — query-time boosting twin
    (wand term_boosts): the q relation gains a boost column and each
    term's BM25 contribution is multiplied by it. Overrides the batch's
    term list (the boost map IS the term set)."""
    toks = duckdb_tokens("text")
    if base_sql:
        base = f"({base_sql}) base_docs"
    else:
        base = (f"(SELECT * FROM documents WHERE {base_pred}) base_docs"
                if base_pred else "documents")
    if boosts is not None:
        qid0, _text0, k0 = batch[0]
        qrows = "VALUES " + ", ".join(
            f"({qid0}, '{t}', {k0}, {b!r})"
            for t, b in sorted(boosts.items())
        )
    else:
        qrows = q_sql if q_sql is not None else "VALUES " + ", ".join(
            f"({qid}, '{t}', {kk})"
            for qid, text, kk in batch
            for t in sorted(set(tokenize(text)))
        )
    proj = (
        "query_id, doc_id, round(score, 6) AS score"
        if with_qid
        else "doc_id, round(score, 6) AS score"
    )
    flt = (
        f"WHERE tf.doc_id IN (SELECT doc_id FROM {base} WHERE {doc_pred})"
        if doc_pred else ""
    )
    qcols = "query_id, term, k" + (", boost" if boosts is not None else "")
    bmul = "q.boost * " if boosts is not None else ""
    return f"""
WITH q({qcols}) AS ({qrows}),
toks AS (
  SELECT doc_id, unnest({toks}) AS term FROM {base}
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM {base}) AS n_docs,
         (SELECT avg(len({toks})) FROM {base}) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, any_value(q.k) AS k, tf.doc_id,
         sum( {bmul}ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM q JOIN tf USING(term) JOIN df USING(term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  {flt}
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT {proj} FROM ranked WHERE rnk > {offset} AND rnk <= {offset} + k
"""


def _hybrid_oracle(qtext: str, qvec_id: int, k: int, depth: int,
                   c: int = 60) -> str:
    """DuckDB twin of query/hybrid.hybrid_topk: BM25 top-`depth` and
    exact-cosine top-`depth` (vec_id == doc_id), RRF-fused at constant
    `c`, top-k by (fused desc, doc_id). Both rank lists use the frozen
    tie-breaks; the fused sum is two IEEE doubles added in list order on
    both engines, so values are bit-comparable before the round."""
    toks = duckdb_tokens("text")
    terms = ", ".join(f"('{t}')" for t in sorted(set(tokenize(qtext))))
    return f"""
WITH q(term) AS (VALUES {terms}),
toks AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(len({toks})) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM q JOIN tf USING(term) JOIN df USING(term)
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM scored QUALIFY r <= {depth}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vec AS (
  SELECT vec_id AS doc_id, row_number() OVER (
    ORDER BY list_cosine_similarity(
      v, (SELECT v FROM e WHERE vec_id = {qvec_id})) DESC,
    vec_id ASC) AS r
  FROM e QUALIFY r <= {depth}
),
fused AS (
  SELECT coalesce(bm.doc_id, vec.doc_id) AS doc_id,
         coalesce(1.0 / ({c} + bm.r), 0.0)
         + coalesce(1.0 / ({c} + vec.r), 0.0) AS fused
  FROM bm FULL JOIN vec ON bm.doc_id = vec.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY fused DESC, doc_id ASC) AS rank,
       round(fused, 6) AS fused
FROM fused ORDER BY fused DESC, doc_id ASC LIMIT {k}
"""


def _hybrid_weighted_oracle(qtext: str, qvec_id: int, k: int, depth: int,
                            alpha: float) -> str:
    """DuckDB twin of hybrid_weighted_topk: min-max normalize each
    depth-bounded list over its own rows (single-distinct-score list →
    1.0), fused = alpha·norm_bm + (1−alpha)·norm_cos. The engine
    computes (hi − lo) driver-side and the oracle in SQL — the same two
    IEEE doubles subtracted, so the divisions agree exactly."""
    toks = duckdb_tokens("text")
    terms = ", ".join(f"('{t}')" for t in sorted(set(tokenize(qtext))))
    beta = 1.0 - float(alpha)
    return f"""
WITH q(term) AS (VALUES {terms}),
toks AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(len({toks})) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM q JOIN tf USING(term) JOIN df USING(term)
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
),
bm AS (
  SELECT doc_id, score, row_number() OVER (
    ORDER BY score DESC, doc_id ASC) AS r
  FROM scored QUALIFY r <= {depth}
),
bmn AS (
  SELECT doc_id,
         CASE WHEN (SELECT max(score) FROM bm) = (SELECT min(score) FROM bm)
              THEN 1.0
              ELSE (score - (SELECT min(score) FROM bm))
                   / ((SELECT max(score) FROM bm) - (SELECT min(score) FROM bm))
         END AS ns
  FROM bm
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vec AS (
  SELECT vec_id AS doc_id,
         list_cosine_similarity(
           v, (SELECT v FROM e WHERE vec_id = {qvec_id})) AS score,
         row_number() OVER (
           ORDER BY list_cosine_similarity(
             v, (SELECT v FROM e WHERE vec_id = {qvec_id})) DESC,
           vec_id ASC) AS r
  FROM e QUALIFY r <= {depth}
),
vecn AS (
  SELECT doc_id,
         CASE WHEN (SELECT max(score) FROM vec) = (SELECT min(score) FROM vec)
              THEN 1.0
              ELSE (score - (SELECT min(score) FROM vec))
                   / ((SELECT max(score) FROM vec) - (SELECT min(score) FROM vec))
         END AS ns
  FROM vec
),
fused AS (
  SELECT coalesce(bmn.doc_id, vecn.doc_id) AS doc_id,
         coalesce({alpha!r} * bmn.ns, 0.0)
         + coalesce({beta!r} * vecn.ns, 0.0) AS fused
  FROM bmn FULL JOIN vecn ON bmn.doc_id = vecn.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY fused DESC, doc_id ASC) AS rank,
       round(fused, 6) AS fused
FROM fused ORDER BY fused DESC, doc_id ASC LIMIT {k}
"""


def _unit_bm25_oracle(qtext: str, k: int) -> str:
    """DuckDB twin of units.unit_topk: per-unit BM25 under UNIT corpus
    stats (zero-token parts excluded), MAX collapse per doc, top-k with
    (score desc, doc_id asc) tie-break. Unit numbering uses parallel
    unnest (DuckDB 1.0 has no WITH ORDINALITY) and matches Spark's
    posexplode-then-filter ordering."""
    from visionsearch_spark.analyzer import SENT_SPLIT_RE_STR

    terms = sorted(set(tokenize(qtext)))
    qrows = ", ".join(f"('{t}')" for t in terms)
    toks_part = duckdb_tokens("part")
    return f"""
WITH q(term) AS (VALUES {qrows}),
p0 AS (
  SELECT doc_id, regexp_split_to_array(text, '{SENT_SPLIT_RE_STR}') AS pa
  FROM documents
),
parts AS (
  SELECT doc_id, unnest(pa) AS part,
         unnest(generate_series(1, len(pa))) AS unit_idx
  FROM p0
),
units AS (
  SELECT doc_id, unit_idx, {toks_part} AS tk FROM parts
  WHERE len({toks_part}) > 0
),
stats AS (
  SELECT (SELECT count(*) FROM units) AS n_units,
         (SELECT avg(len(tk)) FROM units) AS avgdl
),
toks AS (SELECT doc_id, unit_idx, unnest(tk) AS term FROM units),
dl AS (SELECT doc_id, unit_idx, count(*) AS dl FROM toks GROUP BY 1, 2),
tf AS (
  SELECT doc_id, unit_idx, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2, 3
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.unit_idx,
         sum( ln(1.0 + (s.n_units - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM tf JOIN df USING(term)
  JOIN dl ON dl.doc_id = tf.doc_id AND dl.unit_idx = tf.unit_idx
  CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.unit_idx
),
collapsed AS (SELECT doc_id, max(score) AS score FROM scored GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM collapsed
)
SELECT doc_id, round(score, 6) AS score FROM ranked WHERE rnk <= {k}
"""


def _fielded_bm25_oracle(qtext: str, k: int) -> str:
    """DuckDB twin of fielded.fielded_topk over the title/body field
    units (corpus.documents_as_field_transcripts): per-field BM25 under
    unit-level stats, weighted sum (title 2x, body 1x), top-k by
    (score desc, doc_id asc)."""
    from visionsearch_spark.analyzer import SENT_SPLIT_RE_STR
    from visionsearch_spark.query.fielded import FIELD_WEIGHTS

    terms = sorted(set(tokenize(qtext)))
    qrows = ", ".join(f"('{t}')" for t in terms)
    toks_part = duckdb_tokens("part")
    wcase = ("CASE fid " + " ".join(
        f"WHEN {fid} THEN {w!r}" for fid, w in sorted(FIELD_WEIGHTS.items())
    ) + " END")
    return f"""
WITH q(term) AS (VALUES {qrows}),
p0 AS (
  SELECT doc_id, regexp_split_to_array(text, '{SENT_SPLIT_RE_STR}') AS pa
  FROM documents
),
fields AS (
  SELECT doc_id, 1 AS fid, pa[1] AS part FROM p0
  UNION ALL
  SELECT doc_id, 2 AS fid, array_to_string(pa[2:], ' ') AS part FROM p0
),
units AS (
  SELECT doc_id, fid, {toks_part} AS tk FROM fields
  WHERE len({toks_part}) > 0
),
stats AS (
  SELECT (SELECT count(*) FROM units) AS n_units,
         (SELECT avg(len(tk)) FROM units) AS avgdl
),
toks AS (SELECT doc_id, fid, unnest(tk) AS term FROM units),
dl AS (SELECT doc_id, fid, count(*) AS dl FROM toks GROUP BY 1, 2),
tf AS (
  SELECT doc_id, fid, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM q) GROUP BY 1, 2, 3
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.fid,
         sum( ln(1.0 + (s.n_units - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM tf JOIN df USING(term)
  JOIN dl ON dl.doc_id = tf.doc_id AND dl.fid = tf.fid
  CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.fid
),
weighted AS (
  SELECT doc_id, sum(({wcase}) * score) AS score
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
  FROM weighted
)
SELECT doc_id, round(score, 6) AS score FROM ranked WHERE rnk <= {k}
"""


def _components_ctes(pairs_sql: str) -> str:
    """WITH RECURSIVE prelude computing clusters(doc_id, cluster_id) —
    min id per connected component — from any pairs(id_a, id_b) query:
    transitive closure by recursion (UNION dedups rows, so the fixpoint
    terminates), label = min reachable id, identical to Spark's
    min-label propagation (dedup.neardup_clusters)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
  FROM reach GROUP BY a
)
"""


def _embed_hashproj_oracle(dim: int) -> str:
    """DuckDB twin of embedding.HashProjectionEmbedder: token hash =
    md5_number_lower (little-endian low 8 md5 bytes — byte-identical to
    the Python struct.unpack('<Q', digest[8:])), per-dimension affine
    offsets summed as integers, squared norm as exact HUGEINT, one
    sqrt + one division per component. Zero-token docs drop out
    naturally (no unnested rows)."""
    from visionsearch_spark.embedding import (
        EMBED_HALF,
        EMBED_MULT,
        EMBED_OFFSET,
        EMBED_PRIME,
        EMBED_STEP,
    )

    toks = duckdb_tokens("text")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
h AS (
  SELECT doc_id,
         (md5_number_lower(term)::HUGEINT % {EMBED_PRIME})::BIGINT AS h
  FROM toks
),
dims AS (SELECT unnest(generate_series(0, {dim - 1})) AS dim_idx),
comp AS (
  SELECT doc_id, dim_idx,
         sum((({EMBED_MULT}::BIGINT * ((h + dim_idx * {EMBED_STEP}) % {EMBED_PRIME})
               + {EMBED_OFFSET}) % {EMBED_PRIME}) - {EMBED_HALF}) AS raw
  FROM h CROSS JOIN dims
  GROUP BY doc_id, dim_idx
),
nrm AS (
  SELECT doc_id, sum(raw * raw) AS n2 FROM comp GROUP BY doc_id
)
SELECT c.doc_id, c.dim_idx::INT AS dim_idx,
       round(CASE WHEN n.n2 > 0
                  THEN (c.raw::DOUBLE) / sqrt(n.n2::DOUBLE)
                  ELSE 0.0 END, 6) AS value
FROM comp c JOIN nrm n USING(doc_id)
"""


def oracle_sql() -> dict[str, str]:
    toks = duckdb_tokens("text")
    sql: dict[str, str] = {
        name: _bm25_oracle([(0, text, k)], with_qid=False)
        for name, (text, k) in BM25_QUERIES.items()
    }
    sql["bm25_batch"] = _bm25_oracle(BM25_BATCH, with_qid=True)
    sql["bm25_filtered"] = _bm25_oracle(
        [(0, FILTERED_QUERY[0], FILTERED_QUERY[1])], with_qid=False,
        doc_pred=f"source LIKE '{FILTERED_QUERY[2]}%'",
    )
    # cursor pagination: page 2 == rows k+1..2k of the exhaustive rank
    sql["bm25_page2"] = _bm25_oracle(
        [(0, PAGE_QUERY[0], PAGE_QUERY[1])], with_qid=False,
        offset=PAGE_QUERY[1],
    )
    # query-string language: +must -not "phrase" term^boost in one pass —
    # membership = must ∧ phrase ∧ ¬not, scoring = boosted disjunction
    sql["bm25_querystring"] = _bm25_oracle(
        [(0, "", QS_QUERY[1])], with_qid=False,
        boosts={"join": 1.0, "scan": 1.0, "stream": 2.0, "table": 1.0},
        doc_pred=(
            f"list_contains({toks}, 'join') "
            f"AND NOT list_contains({toks}, 'dup') "
            f"AND len({toks}) >= 2 AND list_contains("
            f"list_transform(generate_series(1, len({toks})-1), "
            f"i -> {toks}[i] || ' ' || {toks}[i+1]), 'table scan')"
        ),
    )
    # k-NN self-join (exact method): every vector's k nearest neighbors
    sql["knn_join_exact"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS query_vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.v, b.v) AS cos
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_vec_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
  FROM p
)
SELECT query_vec_id, neighbor_id, rnk AS rank, round(cos, 6) AS cos
FROM r WHERE rnk <= {KNN_K}
"""
    # reverse search: registered queries vs every document (conjunctive)
    from visionsearch_spark.operators.percolate import query_table

    _pq_rows, _, _ = query_table(PERCOLATE_QUERIES)
    _pq_vals = ", ".join(f"({q}, '{t}', {n})" for q, t, n in _pq_rows)
    sql["percolate_queries"] = f"""
WITH pq(query_id, term, n_terms) AS (VALUES {_pq_vals}),
dterms AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest({toks}) AS term FROM documents
  )
)
SELECT d.doc_id, pq.query_id
FROM dterms d JOIN pq USING(term)
GROUP BY d.doc_id, pq.query_id
HAVING count(*) = any_value(pq.n_terms)
ORDER BY doc_id, query_id
"""
    # percolation with negation + phrase clauses (r6): VALUES tables come
    # from the SAME query_table normalization the Spark side uses, so the
    # two engines agree on analysis by construction
    _amust, _aneg, _aph = query_table(PERCOLATE_ADV_QUERIES)
    assert all(m == 2 for _q, _g, m in _aph), "oracle assumes bigram phrases"
    _amust_v = ", ".join(f"({q}, '{t}', {n})" for q, t, n in _amust)
    _aneg_v = ", ".join(f"({q}, '{t}')" for q, t in _aneg)
    _aph_v = ", ".join(f"({q}, '{g}')" for q, g, _m in _aph)
    sql["percolate_advanced"] = f"""
WITH toksl AS (SELECT doc_id, {toks} AS tk FROM documents),
dterms AS (
  SELECT DISTINCT doc_id, unnest(tk) AS term FROM toksl
),
grams AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) >= 2
         THEN list_transform(generate_series(1, len(tk)-1),
                             i -> tk[i] || ' ' || tk[i+1])
         ELSE [] END) AS gram
  FROM toksl
),
mq(query_id, term, n_terms) AS (VALUES {_amust_v}),
nq(query_id, term) AS (VALUES {_aneg_v}),
phq(query_id, gram) AS (VALUES {_aph_v}),
cand AS (
  SELECT d.doc_id, mq.query_id
  FROM dterms d JOIN mq USING(term)
  GROUP BY d.doc_id, mq.query_id
  HAVING count(*) = any_value(mq.n_terms)
),
neg AS (
  SELECT DISTINCT d.doc_id, nq.query_id FROM dterms d JOIN nq USING(term)
),
cand2 AS (
  SELECT c.doc_id, c.query_id FROM cand c
  ANTI JOIN neg n ON n.doc_id = c.doc_id AND n.query_id = c.query_id
),
ph_hits AS (
  SELECT p.query_id, g.doc_id, count(DISTINCT p.gram) AS hit
  FROM phq p JOIN grams g ON g.gram = p.gram
  GROUP BY p.query_id, g.doc_id
),
ph_need AS (SELECT query_id, count(*) AS needg FROM phq GROUP BY query_id)
SELECT c.doc_id, c.query_id
FROM cand2 c
LEFT JOIN ph_need n ON n.query_id = c.query_id
LEFT JOIN ph_hits h ON h.query_id = c.query_id AND h.doc_id = c.doc_id
WHERE coalesce(n.needg, 0) = coalesce(h.hit, 0)
ORDER BY c.doc_id, c.query_id
"""
    # per-term score explanation of the query's top-1 document
    _ex_terms = ", ".join(
        f"('{t}')" for t in sorted(set(tokenize(EXPLAIN_QUERY))))
    sql["bm25_explain"] = f"""
WITH q(term) AS (VALUES {_ex_terms}),
toks AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(len({toks})) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM q JOIN tf USING(term) JOIN df USING(term)
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
),
top1 AS (
  SELECT doc_id FROM scored ORDER BY score DESC, doc_id ASC LIMIT 1
)
SELECT tf.term,
       tf.tf::BIGINT AS tf, dl.dl::BIGINT AS dl, df.df::BIGINT AS df,
       round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)), 6) AS idf,
       round((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 6) AS tf_weight,
       round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)), 6) AS contribution
FROM tf JOIN df USING(term) JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats s
WHERE tf.doc_id = (SELECT doc_id FROM top1)
"""
    # hybrid BM25 + cosine retrieval, reciprocal-rank fusion
    sql["hybrid_rrf"] = _hybrid_oracle(
        HYBRID_QUERY[0], HYBRID_QUERY[1], HYBRID_QUERY[2], HYBRID_QUERY[3],
    )
    # weighted hybrid: min-max normalized alpha blend
    sql["hybrid_weighted"] = _hybrid_weighted_oracle(
        HYBRID_W[0], HYBRID_W[1], HYBRID_W[2], HYBRID_W[3], HYBRID_W[4],
    )
    # query-time boosting: per-term multipliers in the score sum
    sql["bm25_boosted"] = _bm25_oracle(
        [(0, "", BOOSTED_QUERY[1])], with_qid=False,
        boosts=BOOSTED_QUERY[0],
    )
    # synonym expansion == boosting over the expanded term set
    sql["bm25_synonyms"] = _bm25_oracle(
        [(0, "", SYNONYM_K)], with_qid=False, boosts=SYNONYM_BOOSTS,
    )
    # tombstoned-not-purged: stats global, dead docs merely unrankable
    from visionsearch_spark.corpus import DELETE_MOD

    sql["bm25_after_delete"] = _bm25_oracle(
        [(0, DELETED_QUERY[0], DELETED_QUERY[1])], with_qid=False,
        doc_pred=f"doc_id % {DELETE_MOD} <> 0",
    )
    # purge-folded: dead docs contribute to nothing (df, N, avgdl)
    sql["bm25_after_purge"] = _bm25_oracle(
        [(0, DELETED_QUERY[0], DELETED_QUERY[1])], with_qid=False,
        base_pred=f"doc_id % {DELETE_MOD} <> 0",
    )
    # insert-or-replace + purge: rank over the REWRITTEN corpus
    from visionsearch_spark.corpus import UPSERT_MOD, UPSERT_SUFFIX

    sql["bm25_after_upsert"] = _bm25_oracle(
        [(0, UPSERT_QUERY[0], UPSERT_QUERY[1])], with_qid=False,
        base_sql=(
            f"SELECT doc_id, CASE WHEN doc_id % {UPSERT_MOD} = 0 "
            f"THEN text || '{UPSERT_SUFFIX}' ELSE text END AS text "
            "FROM documents"
        ),
    )
    # phrase containment as a doc predicate: the bigram list of the
    # analyzed tokens contains the phrase gram (mirror of
    # boolean.phrase_docids' verify step)
    _ph = PHRASE_QUERY[0]
    sql["bm25_phrase"] = _bm25_oracle(
        [(0, _ph, PHRASE_QUERY[1])], with_qid=False,
        doc_pred=(
            f"len({toks}) >= 2 AND list_contains("
            f"list_transform(generate_series(1, len({toks})-1), "
            f"i -> {toks}[i] || ' ' || {toks}[i+1]), '{_ph}')"
        ),
    )
    # ordered sloppy phrase (2 tokens): exists i with t0 at i and t1 in
    # (i, i+1+slop] — mirror of the positional chain for m=2
    _ps_phrase, _ps_slop, _ps_k = PHRASE_SLOP_QUERY
    _ps_t = tokenize(_ps_phrase)
    assert len(_ps_t) == 2, "slop oracle written for 2-token phrases"
    sql["bm25_phrase_slop"] = _bm25_oracle(
        [(0, " ".join(sorted(set(_ps_t))), _ps_k)], with_qid=False,
        doc_pred=(
            f"len(list_filter(generate_series(1, len({toks})), "
            f"i -> {toks}[i] = '{_ps_t[0]}' AND len(list_filter("
            f"generate_series(i+1, least(len({toks}), i+1+{_ps_slop})), "
            f"j -> {toks}[j] = '{_ps_t[1]}')) > 0)) > 0"
        ),
    )
    # proximity containment as a doc predicate: some window of W
    # consecutive tokens holds every term (mirror of
    # boolean.proximity_docids' verify step; slice is 1-based inclusive)
    _px_terms, _px_w, _px_k = PROXIMITY_QUERY
    _px_pred = " AND ".join(
        f"list_contains({toks}[i:i+{_px_w - 1}], '{t}')" for t in _px_terms
    )
    sql["bm25_proximity"] = _bm25_oracle(
        [(0, " ".join(sorted(set(_px_terms))), _px_k)], with_qid=False,
        doc_pred=(
            f"len(list_filter(generate_series(1, greatest(1, "
            f"len({toks})-{_px_w - 1})), i -> {_px_pred})) > 0"
        ),
    )
    _bq_must, _bq_should, _bq_not, _bq_k = BOOLEAN_QUERY
    sql["bm25_boolean"] = _bm25_oracle(
        [(0, " ".join(sorted(set(_bq_must) | set(_bq_should))), _bq_k)],
        with_qid=False,
        doc_pred=" AND ".join(
            [f"list_contains({toks}, '{t}')" for t in _bq_must]
            + [f"NOT list_contains({toks}, '{t}')" for t in _bq_not]
        ),
    )
    # multi-term rewrites: the q CTE is COMPUTED from the corpus
    # vocabulary (df = docs containing the term — identical to the
    # engine's term dictionary), top-`cap` by (df desc, term asc),
    # mirroring multiterm.expand_* exactly
    _vocab = (
        f"SELECT term, count(*) AS df FROM (SELECT doc_id, "
        f"unnest(list_distinct({toks})) AS term FROM documents) "
        f"GROUP BY term"
    )

    def _expand_q(pred: str, cap: int, k: int) -> str:
        return (
            f"SELECT 0 AS query_id, term, {k} AS k FROM ({_vocab}) "
            f"WHERE {pred} ORDER BY df DESC, term ASC LIMIT {cap}"
        )

    _pf, _pf_cap, _pf_k = PREFIX_QUERY
    sql["bm25_prefix"] = _bm25_oracle(
        [], with_qid=False,
        q_sql=_expand_q(f"term LIKE '{_pf}%'", _pf_cap, _pf_k),
    )
    _wc, _wc_cap, _wc_k = WILDCARD_QUERY
    _wc_rx = "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else c for c in _wc
    ) + "$"
    sql["bm25_wildcard"] = _bm25_oracle(
        [], with_qid=False,
        q_sql=_expand_q(f"regexp_full_match(term, '{_wc_rx}')",
                        _wc_cap, _wc_k),
    )
    _fz, _fz_ed, _fz_pfx, _fz_cap, _fz_k = FUZZY_QUERY
    _fz_pred = f"levenshtein(term, '{_fz}') <= {_fz_ed}"
    if _fz_pfx:
        _fz_pred = f"term LIKE '{_fz[:_fz_pfx]}%' AND {_fz_pred}"
    sql["bm25_fuzzy"] = _bm25_oracle(
        [], with_qid=False, q_sql=_expand_q(_fz_pred, _fz_cap, _fz_k),
    )
    # facets / total hits: membership = boolean containment over the
    # analyzed token list, identical to the index membership kernel
    _fc_any, _fc_facets = FACET_QUERY
    _fc_any_sql = "[" + ", ".join(f"'{t}'" for t in _fc_any) + "]"
    sql["search_facets"] = " UNION ALL ".join(
        f"SELECT '{c}' AS facet, CAST({c} AS VARCHAR) AS value, "
        f"count(*)::BIGINT AS n_docs FROM documents "
        f"WHERE list_has_any({toks}, {_fc_any_sql}) GROUP BY {c}"
        for c in _fc_facets
    )
    _rf_any, _rf_ranges = RANGE_FACET_SPEC
    _rf_any_sql = "[" + ", ".join(f"'{t}'" for t in _rf_any) + "]"
    _rf_vals = ", ".join(
        f"('{c}', '{label}', "
        + ("NULL::DOUBLE" if lo is None else str(float(lo))) + ", "
        + ("NULL::DOUBLE" if hi is None else str(float(hi))) + ")"
        for c, bs in _rf_ranges.items() for (label, lo, hi) in bs
    )
    sql["search_range_facets"] = f"""
WITH m AS (
  SELECT n_chars FROM documents WHERE list_has_any({toks}, {_rf_any_sql})
),
b(facet, bucket, lo, hi) AS (VALUES {_rf_vals})
SELECT b.facet, b.bucket, b.lo, b.hi,
       (SELECT count(*) FROM m
        WHERE m.n_chars IS NOT NULL
          AND (b.lo IS NULL OR m.n_chars >= b.lo)
          AND (b.hi IS NULL OR m.n_chars < b.hi))::BIGINT AS n_docs
FROM b ORDER BY facet, bucket
"""
    sql["date_histogram_events"] = """
WITH c AS (
  SELECT date_trunc('day', ts) AS bucket, count(*)::BIGINT AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
axis AS (
  SELECT unnest(generate_series((SELECT min(bucket) FROM c),
                                (SELECT max(bucket) FROM c),
                                INTERVAL 1 DAY)) AS bucket
)
SELECT floor(epoch(axis.bucket))::BIGINT AS bucket_epoch,
       coalesce(c.n, 0)::BIGINT AS n_docs
FROM axis LEFT JOIN c USING(bucket) ORDER BY bucket_epoch
"""
    # duplicated spans: parallel-unnest (pos, gram) occurrence stream,
    # dup grams by corpus count, gaps-and-islands on consecutive starts
    _ds_gram = " || ' ' || ".join(f"tk[i+{j}]" for j in range(DUP_SPAN_L))
    _ds_spans_cte = f"""
toksl AS (SELECT doc_id, {toks} AS tk FROM documents),
occ AS (
  SELECT doc_id,
         unnest(CASE WHEN len(tk) >= {DUP_SPAN_L}
                THEN generate_series(1, len(tk)-{DUP_SPAN_L - 1})
                ELSE [] END) AS pos,
         unnest(CASE WHEN len(tk) >= {DUP_SPAN_L}
                THEN list_transform(
                  generate_series(1, len(tk)-{DUP_SPAN_L - 1}),
                  i -> {_ds_gram})
                ELSE [] END) AS gram
  FROM toksl
),
dup AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) >= 2),
hits AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING(gram)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS island
  FROM hits
),
spans AS (
  SELECT doc_id, (min(pos)-1)::BIGINT AS span_start,
         (max(pos)+{DUP_SPAN_L - 1})::BIGINT AS span_end,
         count(*)::BIGINT AS n_grams
  FROM isl GROUP BY doc_id, island
)"""
    sql["dup_spans"] = f"""
WITH {_ds_spans_cte}
SELECT doc_id, span_start, span_end, n_grams FROM spans
ORDER BY doc_id, span_start
"""
    sql["dup_span_stats"] = f"""
WITH {_ds_spans_cte},
marked AS (
  SELECT doc_id, span_start, span_end,
         coalesce(span_start > max(span_end) OVER (
           PARTITION BY doc_id ORDER BY span_start, span_end
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           true)::INT AS brk
  FROM spans
),
u AS (
  SELECT doc_id, span_start, span_end,
         sum(brk) OVER (PARTITION BY doc_id
                        ORDER BY span_start, span_end
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS isl2
  FROM marked
),
cov AS (
  SELECT doc_id, sum(mx - mn) AS dup FROM (
    SELECT doc_id, isl2, min(span_start) AS mn, max(span_end) AS mx
    FROM u GROUP BY doc_id, isl2
  ) GROUP BY doc_id
)
SELECT t.doc_id, len(t.tk)::BIGINT AS dl,
       coalesce(c.dup, 0)::BIGINT AS dup_tokens,
       CASE WHEN len(t.tk) > 0
            THEN round(coalesce(c.dup, 0) * 1.0 / len(t.tk), 6)
            ELSE 0.0 END AS dup_ratio
FROM toksl t LEFT JOIN cov c USING(doc_id)
ORDER BY doc_id
"""
    sql["search_cardinality"] = " UNION ALL ".join(
        f"SELECT '{c}' AS facet, "
        f"count(DISTINCT {c})::BIGINT AS n_values FROM documents "
        f"WHERE list_has_any({toks}, {_fc_any_sql})"
        for c in _fc_facets
    ) + " ORDER BY facet"
    _fs_text, _fs_depth, _fs_k = FUNCTION_SCORE_QUERY
    _fs_terms = ", ".join(
        f"('{t}')" for t in sorted(set(tokenize(_fs_text))))
    sql["function_score"] = f"""
WITH q(term) AS (VALUES {_fs_terms}),
toks AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(len({toks})) FROM documents) AS avgdl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM q JOIN tf USING(term) JOIN df USING(term)
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats s
  GROUP BY tf.doc_id
),
base AS (
  SELECT doc_id, score FROM (
    SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= {_fs_depth}
),
resc AS (
  SELECT b.doc_id,
         round(b.score * ln(1.0 + d.n_chars), 6) AS fscore
  FROM base b JOIN documents d USING(doc_id)
)
SELECT doc_id, fscore,
       row_number() OVER (ORDER BY fscore DESC, doc_id ASC)::INT AS rank
FROM resc ORDER BY fscore DESC, doc_id ASC LIMIT {_fs_k}
"""
    sql["term_vectors"] = f"""
WITH t AS (SELECT {toks} AS tk FROM documents
           WHERE doc_id = {TERM_VECTOR_DOC}),
occ AS (
  SELECT unnest(generate_series(1, len(tk))) AS pos, unnest(tk) AS term
  FROM t
),
tv AS (
  SELECT term, count(*)::BIGINT AS tf,
         array_to_string(list_sort(list(pos - 1)), ' ') AS positions
  FROM occ GROUP BY term
),
dfreq AS (
  SELECT term, count(*)::BIGINT AS df FROM (
    SELECT DISTINCT doc_id, unnest({toks}) AS term FROM documents
  ) GROUP BY term
)
SELECT tv.term, tv.tf, tv.positions, dfreq.df
FROM tv JOIN dfreq USING(term) ORDER BY term
"""
    _st_any, _st_topn, _st_minfg = SIGTERMS_QUERY
    _st_any_sql = "[" + ", ".join(f"'{t}'" for t in _st_any) + "]"
    _st_excl = ", ".join(f"'{t}'" for t in sorted(_st_any))
    sql["significant_terms"] = f"""
WITH m AS (
  SELECT doc_id, {toks} AS tk FROM documents
  WHERE list_has_any({toks}, {_st_any_sql})
),
nfg AS (SELECT count(*)::DOUBLE AS n FROM m),
nbg AS (SELECT count(*)::DOUBLE AS n FROM documents),
fg AS (
  SELECT term, count(*)::BIGINT AS fg_df FROM (
    SELECT DISTINCT doc_id, unnest(tk) AS term FROM m
  ) GROUP BY term
  HAVING count(*) >= {_st_minfg}
),
bg AS (
  SELECT term, count(*)::BIGINT AS bg_df FROM (
    SELECT DISTINCT doc_id, unnest({toks}) AS term FROM documents
  ) GROUP BY term
),
scored AS (
  SELECT fg.term, fg.fg_df, bg.bg_df,
         round((fg.fg_df / nfg.n - bg.bg_df / nbg.n)
               * ((fg.fg_df / nfg.n) / (bg.bg_df / nbg.n)), 6) AS score
  FROM fg JOIN bg USING(term) CROSS JOIN nfg CROSS JOIN nbg
  WHERE fg.term NOT IN ({_st_excl})
)
SELECT term, fg_df, bg_df, score,
       row_number() OVER (ORDER BY score DESC, term ASC)::INT AS rank
FROM scored ORDER BY score DESC, term ASC LIMIT {_st_topn}
"""
    _ns_any, _ns_col, _ns_ps = STATS_QUERY
    _ns_any_sql = "[" + ", ".join(f"'{t}'" for t in _ns_any) + "]"
    sql["search_numeric_stats"] = f"""
WITH m AS (
  SELECT {_ns_col} FROM documents
  WHERE list_has_any({toks}, {_ns_any_sql})
),
agg AS (
  SELECT count({_ns_col})::DOUBLE AS c,
         round(min({_ns_col})::DOUBLE, 6) AS mn,
         round(max({_ns_col})::DOUBLE, 6) AS mx,
         round(avg({_ns_col}::DOUBLE), 6) AS av,
         {", ".join(f"round(quantile_cont({_ns_col}::DOUBLE, {p}), 6) AS q{i}" for i, p in enumerate(_ns_ps))}
  FROM m
)
SELECT '{_ns_col}' AS facet, s.stat, s.value FROM agg,
LATERAL (VALUES ('count', c), ('min', mn), ('max', mx), ('avg', av),
         {", ".join(f"('p{int(round(p * 100)):02d}', q{i})" for i, p in enumerate(_ns_ps))}
) AS s(stat, value)
ORDER BY facet, stat
"""
    _mc_all, _mc_none = MATCH_COUNT_QUERY
    sql["search_match_count"] = (
        "SELECT count(*)::BIGINT AS n_docs FROM documents WHERE "
        + " AND ".join(
            [f"list_contains({toks}, '{t}')" for t in _mc_all]
            + [f"NOT list_contains({toks}, '{t}')" for t in _mc_none]
        )
    )
    sql["bm25_unit_topk"] = _unit_bm25_oracle(*UNIT_QUERY)
    sql["bm25_fielded"] = _fielded_bm25_oracle(*FIELDED_QUERY)
    sql["token_count"] = f"SELECT doc_id, len({toks}) AS n_tokens FROM documents"
    sql["term_df_top"] = f"""
        WITH tf AS (
          SELECT doc_id, unnest({toks}) AS term FROM documents
        )
        SELECT term, count(DISTINCT doc_id) AS df FROM tf
        GROUP BY term ORDER BY df DESC, term ASC LIMIT 50
    """
    sql["corpus_stats"] = f"""
        SELECT count(*) AS n_docs, round(avg(len({toks})), 6) AS avgdl
        FROM documents
    """
    sql["dedup_exact"] = """
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY sha256(text)
    """
    sql["threshold_topk_events"] = f"""
        SELECT event_id, value FROM events
        WHERE value >= {EVENT_VALUE_THRESHOLD}
        ORDER BY value DESC, event_id ASC LIMIT 30
    """
    sql["turn_numbering"] = """
        SELECT event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx
        FROM events
    """
    sql["session_window_1h"] = """
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           >= INTERVAL 1 HOUR
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS new_s
          FROM events
        ),
        sessioned AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged
        )
        SELECT user_id, floor(epoch(min(ts)))::BIGINT AS session_start,
               count(*) AS n_events
        FROM sessioned GROUP BY user_id, sid
    """
    sql["antijoin_orders_no_lineitem"] = """
        SELECT o_orderkey FROM orders
        WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)
    """
    sql["groupby_event_type"] = """
        SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value
        FROM events GROUP BY event_type
    """
    sql["cosine_topk"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS cos
          FROM embeddings
        )
        SELECT vec_id, round(cos, 6) AS cos FROM scored
        ORDER BY scored.cos DESC, vec_id ASC LIMIT 20
    """
    sql["dedup_minhash_lsh"] = _minhash_oracle(n=3, tau=0.6)
    sql["dedup_minhash_stream"] = _minhash_hashed_oracle(n=3, min_match=4)
    sql["cross_contamination"] = _cross_contamination_oracle(n=3, tau=0.5)
    sql["ngram_decontaminate"] = _ngram_overlap_oracle(
        n=5, max_shingle_df=1000, bench_rate=0.1)
    sql["dedup_ngram_jaccard"] = _ngram_jaccard_oracle(n=5, tau=0.6,
                                                       max_shingle_df=1000)
    # connected components over the minhash pairs: ONE closure SQL
    # (_components_ctes) shared by both cluster-consuming oracles so the
    # recursion can never drift between them
    sql["dedup_clusters"] = (
        _components_ctes(_minhash_oracle(n=3, tau=0.6))
        + "\nSELECT doc_id, cluster_id FROM clusters\n"
    )
    sql["dedup_corpus"] = (
        _components_ctes(_minhash_oracle(n=3, tau=0.6))
        + """
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id NOT IN (
  SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
)
"""
    )
    sql["simhash64"] = _simhash_oracle(64)
    sql["simhash_neardup"] = (
        "WITH s AS (" + _simhash_oracle(64) + """)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""
    )
    sql["lang_id"] = _lang_id_oracle()
    sql["quality_score"] = _quality_oracle()
    sql["doc_fingerprint"] = _fingerprint_oracle()
    sql["token_length_stats"] = f"""
WITH d AS (SELECT len({toks}) AS n_tokens FROM documents)
SELECT count(*) AS n_docs, round(avg(n_tokens), 6) AS avg_tokens,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       round(quantile_cont(n_tokens, 0.5), 6) AS p50,
       round(quantile_cont(n_tokens, 0.9), 6) AS p90,
       round(quantile_cont(n_tokens, 0.99), 6) AS p99
FROM d
"""
    from visionsearch_spark.operators.textstats import (
        BPE_CHARS_PER_TOKEN,
        BPE_PIECE_RE,
    )
    sql["llm_token_estimate"] = f"""
SELECT doc_id,
       coalesce(list_sum(list_transform(
           regexp_extract_all(text, '{BPE_PIECE_RE}'),
           p -> CAST(ceil(length(p) / {BPE_CHARS_PER_TOKEN}.0) AS BIGINT)
       )), 0)::BIGINT AS est_tokens
FROM documents
"""
    sql["source_mixture"] = f"""
WITH d AS (SELECT source, len({toks}) AS n FROM documents),
a AS (
  SELECT source, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
  FROM d GROUP BY source
)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM a), 6)
         AS token_share
FROM a
"""
    sql["pack_documents"] = f"""
WITH d AS (SELECT doc_id, len({toks}) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM d
)
SELECT doc_id, n_tokens,
       ((cum - n_tokens) // {PACK_WINDOW})::BIGINT AS bin_id
FROM c
"""
    sql["repetition_stats"] = f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id, len(tk) AS dl,
    CASE WHEN len(tk) >= 2 THEN list_transform(
      generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1])
      ELSE [] END AS g2,
    CASE WHEN len(tk) >= 3 THEN list_transform(
      generate_series(1, len(tk)-2),
      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      ELSE [] END AS g3
  FROM t),
tfm AS (
  SELECT doc_id, max(c) AS max_tf FROM (
    SELECT doc_id, term, count(*) AS c
    FROM (SELECT doc_id, unnest(tk) AS term FROM t)
    GROUP BY doc_id, term)
  GROUP BY doc_id)
SELECT g.doc_id,
  CASE WHEN len(g2) > 0
       THEN round(1.0 - len(list_distinct(g2)) / len(g2), 6)
       ELSE 0.0 END AS dup_2gram_frac,
  CASE WHEN len(g3) > 0
       THEN round(1.0 - len(list_distinct(g3)) / len(g3), 6)
       ELSE 0.0 END AS dup_3gram_frac,
  CASE WHEN dl > 0 THEN round(max_tf / dl, 6) ELSE 0.0 END AS top_term_frac
FROM g LEFT JOIN tfm USING(doc_id)
"""
    from visionsearch_spark.operators.textstats import PII_STEPS
    pii_expr = "text"
    pii_counts = []
    for name, pat, rep in PII_STEPS:
        pii_counts.append(
            f"len(regexp_extract_all({pii_expr}, '{pat}')) AS n_{name}"
        )
        pii_expr = f"regexp_replace({pii_expr}, '{pat}', '{rep}', 'g')"
    sql["pii_scrub"] = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN '{PII_SUFFIX}' ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id, {", ".join(pii_counts)}, {pii_expr} AS clean_text
FROM aug
"""
    tgt_cases = " ".join(
        f"WHEN source = '{s}' THEN {v}"
        for s, v in sorted(MIXTURE_TARGETS.items())
    )
    sql["mixture_weights"] = f"""
WITH d AS (SELECT source, len({toks}) AS n FROM documents),
a AS (
  SELECT source, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
  FROM d GROUP BY source
),
m AS (
  SELECT source, n_docs, n_tokens,
         round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM a), 6)
           AS token_share
  FROM a
)
SELECT source, n_docs, n_tokens, token_share,
       CASE WHEN token_share > 0
            THEN round((CASE {tgt_cases} ELSE 0.0 END) / token_share, 6)
            ELSE NULL END AS weight
FROM m
"""
    # mixture_sample: the SAME weight pipeline, then the portable
    # modular-hash Bernoulli at rate min(1, base_rate*weight).
    # Multiplication ORDER matches textstats.mixture_sample exactly
    # (min first, prime last, floor = python int() on positives).
    from visionsearch_spark.operators.textstats import FP_MULT as _FPM
    from visionsearch_spark.operators.textstats import FP_PRIME as _FPP
    sql["mixture_sample"] = f"""
WITH d AS (SELECT source, len({toks}) AS n FROM documents),
a AS (
  SELECT source, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
  FROM d GROUP BY source
),
m AS (
  SELECT source, n_tokens,
         round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM a), 6)
           AS token_share
  FROM a
),
w AS (
  SELECT source,
         CASE WHEN token_share > 0
              THEN round((CASE {tgt_cases} ELSE 0.0 END) / token_share, 6)
              ELSE NULL END AS weight
  FROM m
)
SELECT doc.doc_id, doc.source
FROM documents doc JOIN w USING(source)
WHERE ({_FPM}::BIGINT * doc.doc_id + 12345) % {_FPP} <
      CASE WHEN w.weight IS NULL THEN 0
           ELSE floor({_FPP} * least(1.0, 0.05 * w.weight))::BIGINT END
"""
    from visionsearch_spark.operators.textstats import FP_MULT, FP_PRIME
    sql["deterministic_sample"] = f"""
SELECT doc_id, source FROM documents
WHERE ({FP_MULT}::BIGINT * doc_id + 12345) % {FP_PRIME} < {int(FP_PRIME * 0.1)}
"""
    sql["training_set_filter"] = f"""
WITH lang AS ({_lang_id_oracle()}), qual AS ({_quality_oracle()}),
keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text))
SELECT q.doc_id, l.pred_lang, q.n_tokens, round(q.quality, 6) AS quality
FROM qual q JOIN lang l USING(doc_id) JOIN keep USING(doc_id)
WHERE l.pred_lang IN ('en') AND q.quality >= 0.6
  AND q.n_tokens BETWEEN 5 AND 1000
"""
    sql["prefix_filter_source"] = """
        SELECT doc_id, source FROM documents WHERE source LIKE 'src1%'
    """
    sql["json_extract_props"] = """
        SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
        FROM events
    """
    sql["tpch_q1_like"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """
    sql["revenue_by_nation"] = """
        SELECT n_name, round(sum(o_totalprice), 4) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """
    sql["embedding_neardup"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """
    sql["tumbling_window_events"] = """
        SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS window_start,
               event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        FROM events GROUP BY 1, 2
    """
    sql["topk_per_group"] = """
        SELECT event_type, rnk, event_id, value FROM (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rnk
          FROM events
        ) WHERE rnk <= 3
    """
    sql["ann_lsh_topk"] = _ann_lsh_oracle(
        k=20, n_planes=ANN_N_PLANES, max_hamming=6, seed=ANN_SEED
    )
    sql["embed_text_hashproj"] = _embed_hashproj_oracle(EMBED_DIM)
    # degenerate-exact IVF-PQ (all cells probed, rerank >= corpus):
    # provably identical to exact brute-force cosine — the codebooks only
    # order a cut that keeps everything — so the twin is the exact top-k
    sql["ann_ivfpq_topk"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1),
        scored AS (
          SELECT vec_id,
                 list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS cos
          FROM embeddings
        )
        SELECT vec_id, round(cos, 6) AS cos FROM scored
        ORDER BY scored.cos DESC, vec_id ASC LIMIT 20
    """
    sql["ann_ivf_topk"] = _ann_ivf_oracle(
        k=20, n_centroids=IVF_N_CENTROIDS, nprobe=IVF_NPROBE, seed=IVF_SEED
    )
    sql["ann_recall_at_k"] = _ann_recall_oracle(
        ANN_RECALL_QUERY_IDS, ANN_RECALL_K, n_planes=ANN_N_PLANES,
        max_hamming=6, seed=ANN_SEED
    )
    # add-one smoothed bigram LM trained on the corpus, scored on the
    # corpus (operators/lm.bigram_lm_nll). All counts exact ints; the
    # single division is correctly rounded identically in both engines;
    # ln feeds a multi-term sum where a ulp per term cannot reach the
    # 1e-6 rounding boundary.
    sql["bigram_lm_nll"] = f"""
        WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
        p AS (
          SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
          FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk)-1)) AS i
                FROM t WHERE len(tk) >= 2)
        ),
        c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM p
                GROUP BY w1, w2),
        c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY w1),
        v AS (SELECT count(DISTINCT w)::BIGINT AS vs
              FROM (SELECT unnest(tk) AS w FROM t)),
        s AS (
          SELECT p.doc_id,
                 -ln((c12.c12 + 1.0) / (c1.c1 + (SELECT vs FROM v))) AS nll
          FROM p JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        ),
        agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                       sum(nll) AS s FROM s GROUP BY doc_id)
        SELECT t.doc_id,
               coalesce(agg.n_bigrams, 0)::BIGINT AS n_bigrams,
               CASE WHEN coalesce(agg.n_bigrams, 0) > 0
                    THEN round(agg.s / agg.n_bigrams, 6)
                    ELSE 0.0 END AS avg_nll
        FROM t LEFT JOIN agg USING (doc_id)
    """
    # top-5 smoothed TF-IDF keywords per doc; ranking is on the ROUNDED
    # score with term-asc tie-break, so mathematically-tied scores order
    # identically in both engines (operators/lm.tfidf_keywords)
    sql["tfidf_keywords"] = f"""
        WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest(tk) AS term FROM t)
          GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::BIGINT AS nd FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 round(tf.tf * ln(((SELECT nd FROM n) + 1.0) / df.df),
                       6) AS tfidf
          FROM tf JOIN df USING (term)
        )
        SELECT doc_id, term, tf, tfidf, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored
        ) WHERE rank <= 5
    """
    # more-like-this via shared top-5 keywords, bucket cap 100, top 3
    # related per doc — all-integer scoring (operators/lm.related_docs)
    sql["related_docs"] = f"""
        WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::BIGINT AS tf
          FROM (SELECT doc_id, unnest(tk) AS term FROM t)
          GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT count(*)::BIGINT AS nd FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * ln(((SELECT nd FROM n) + 1.0) / df.df),
                       6) AS tfidf
          FROM tf JOIN df USING (term)
        ),
        kw AS (
          SELECT doc_id, term FROM (
            SELECT doc_id, term, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
            FROM scored
          ) WHERE rnk <= 5
        ),
        capped AS (
          SELECT doc_id, term FROM (
            SELECT doc_id, term,
                   count(*) OVER (PARTITION BY term) AS bucket
            FROM kw
          ) WHERE bucket <= 100
        ),
        shared AS (
          SELECT a.doc_id AS doc_id, b.doc_id AS rel_id,
                 count(*)::BIGINT AS shared
          FROM capped a JOIN capped b USING (term)
          WHERE a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_id, rel_id, shared, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY shared DESC, rel_id ASC) AS rank
          FROM shared
        ) WHERE rank <= 3
    """
    return sql
