"""Score explanation — Lucene's Explanation surface: the per-term BM25
breakdown of one document's score under the store's CURRENT statistics
(including the stale-stats window between deletes and their fold).

Σ contribution over the returned rows equals the score `topk` would
rank the document with — bit-for-bit when summed with
`explained_total`, which sums through query/score_core like every
engine: left to right in sorted-term order, the oracle's order. Same
frozen analyzer, same idf and tf-weight formulas, df from the index's
term_stats, dl/tf re-derived from the staged row exactly the way SPIMI
derives postings from it (staged holds TEXT; the index re-tokenizes —
so re-tokenizing here IS reading what the postings hold; pinned by
test_explain_sums_to_ranking_score).

Driver-side by design: explaining one document is a point lookup (O(k)
row groups via docid/conv pushdown on the docid-sorted staged files) —
no Spark job, usable in a request path next to LocalSearcher.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from visionsearch_spark.analyzer import tokenize
from visionsearch_spark.bm25 import idf as idf_fn
from visionsearch_spark.bm25 import tf_weight
from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query import score_core

EXPLAIN_DDL = ("term string, tf long, dl long, df long, "
               "idf double, tf_weight double, contribution double")
EXPLAIN_COLUMNS = ["term", "tf", "dl", "df", "idf", "tf_weight",
                   "contribution"]


def explain_rows(store: IndexStore, query_text: str, conv_id: str,
                 turn_idx: int,
                 spark: SparkSession | None = None) -> list[tuple]:
    """[(term, tf, dl, df, idf, tf_weight, contribution)] per matching
    query term, in sorted term order (the kernel's summation order).
    Empty when the doc doesn't exist, is tombstoned, or shares no term
    with the query. Spark-free (pure pyarrow point lookups — `spark` is
    accepted for signature symmetry and unused), so the serving tier can
    call it in a request path."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from visionsearch_spark.query.wand import _lookup_term_dfs

    qterms = sorted(set(tokenize(query_text)))
    if not qterms:
        return []
    store = store.snapshot()  # stats, tombstones and df of one flip
    meta = store.read_meta()
    tbl = pads.dataset(store.staged_path).to_table(
        columns=["docid", "text"],
        filter=(pc.field("conv_id") == conv_id)
        & (pc.field("turn_idx") == turn_idx),
    )
    if tbl.num_rows == 0:
        return []
    # newest staged row wins (upserts append a fresh copy; older ones
    # are tombstoned) — max docid is the live candidate
    docids = tbl.column("docid").to_pylist()
    live = int(max(docids))
    dead_paths = store.tombstone_paths()
    if dead_paths:
        dead = pads.dataset(
            [pads.dataset(p) for p in dead_paths]
        ).to_table(columns=["docid"], filter=pc.field("docid").isin(docids))
        dead_ids = set(dead.column("docid").to_pylist())
        if live in dead_ids:
            return []
    text = tbl.column("text").to_pylist()[docids.index(live)]
    toks = tokenize(text)
    dl = len(toks)
    tf = Counter(toks)
    present = [t for t in qterms if tf[t] > 0]
    if not present:
        return []
    dfs = _lookup_term_dfs(spark, store, present)
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    out = []
    for t in present:
        df = int(dfs.get(t, 0))
        if df == 0:
            continue
        idf = idf_fn(n_docs, df)
        tfw = tf_weight(tf[t], dl, avgdl)
        out.append((t, int(tf[t]), dl, df, idf, tfw, idf * tfw))
    return out


def explained_total(rows: list[tuple]) -> float:
    """The ranking score these rows explain — summed by score_core in
    the rows' (sorted term) order, so the equality with topk's score is
    exact, not within-epsilon."""
    contribs = np.array([r[6] for r in rows], dtype=np.float64)
    _docid, total = score_core.accumulate(
        [(np.zeros(contribs.size, dtype=np.int64), contribs)], 0.0)
    return float(total[0]) if total.size else 0.0


def explain_score(spark: SparkSession, store: IndexStore,
                  query_text: str, conv_id: str,
                  turn_idx: int) -> DataFrame:
    """DataFrame(EXPLAIN_DDL) of the per-term breakdown; Σ contribution
    == the ranking score (test-pinned)."""
    from visionsearch_spark.query.wand import _local_df

    rows = explain_rows(store, query_text, conv_id, turn_idx, spark)
    return _local_df(spark, rows, EXPLAIN_DDL, EXPLAIN_COLUMNS)
