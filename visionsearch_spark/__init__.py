"""visionsearch_spark — a PySpark-native full-text retrieval engine.

A from-scratch inverted-index + BM25 top-k engine over tables of multi-turn
conversation transcripts, re-expressing the retrieval semantics of the
reference system (``tannousgeagea/visionsearch``: exact scoring of every
candidate via FAISS IndexFlatIP, top-k by descending score, threshold
filter, incremental/resumable builds, persisted index + id-map sidecar —
see ``/root/reference/visionsearch/common_utils/aisearch/core.py``)
as idiomatic Spark: DataFrame/SQL plans optimized by Catalyst, Arrow-batched
UDFs for the per-partition SPIMI build and block-max WAND traversal, and
Parquet/Iceberg-style snapshot tables for persistence.

Nothing here is a port — the reference is a single-process Python/FAISS
service; this package is a distributed columnar engine designed for
1000-executor clusters over ~100 TB of transcripts.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # PEP 562: `from visionsearch_spark import get_spark` resolves here, so
    # importing the package (or a Spark-free module of it, e.g. the
    # serving tier) does not import pyspark
    if name == "get_spark":
        from visionsearch_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
