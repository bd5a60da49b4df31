"""Unit-level (sentence fan-out) search with per-document collapse.

The reference's caption search indexes one doc as N sentence units and
left a TODO about deduplicating multi-unit hits per document
(`/root/reference/visionsearch/common_utils/aisearch/core.py:96-104`
mean-pools then abandons it). Here the collapse is MAX over unit scores —
deterministic, monotone (a doc ranks by its best-matching sentence), and
exact under the distributed k-cut: each scan task maps its candidate
units to their conv_id from the docmap over its own docid span and keeps
each conv's max BEFORE truncation (wand.py `collapse`), the per-task
maxes re-combine with one groupBy on conv_id, and the ranking breaks
ties on conv_id. The parent key is the conv_id, never a docid run: a
parent that gains units in a later append owns several runs of docids
and still ranks once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from visionsearch_spark.index.store import IndexStore
from visionsearch_spark.query.wand import batch_topk

UNIT_RESULT_DDL = "query_id long, rank int, conv_id string, score double"


def unit_batch_topk(
    spark: SparkSession,
    store: IndexStore,
    queries: list[tuple[int, str, int]],
    threshold: float = 0.0,
    n_tasks: int | None = None,
    search_after: dict[int, tuple[float, str]] | None = None,
) -> DataFrame:
    """Top-k DOCUMENTS by max unit BM25 score over a unit-level store.
    search_after: per-query (score, conv_id) cursor from the previous
    page's last row. The doc-level ranking holds each conv at most once,
    so the parent key alone identifies the cursor row; the turn slot
    of wand's three-part cursor is filled with 0 and never compared
    under collapse."""
    res = batch_topk(
        spark, store, queries, threshold=threshold, n_tasks=n_tasks,
        collapse=True,
        search_after={qid: (s, c, 0)
                      for qid, (s, c) in search_after.items()}
        if search_after else None,
    )
    # result docid/conv_id/turn_idx already describe the parent's first
    # unit; the parent key is conv_id
    return res.select("query_id", "rank", "conv_id", "score")


def unit_topk(spark: SparkSession, store: IndexStore, query_text: str,
              k: int = 5, threshold: float = 0.0) -> DataFrame:
    return unit_batch_topk(
        spark, store, [(0, query_text, k)], threshold
    ).select("rank", "conv_id", "score")
