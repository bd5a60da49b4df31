"""Seeded input generators: transcript corpora and query mixes.

Everything here is a pure function of (size, seed): the same arguments give
byte-identical parquet files and identical query lists. The program under
test only ever sees what these functions produce.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from visionsearch_spark.fixtures import make_queries, make_transcripts_pdf

# fixtures.make_queries(seed) lists its queries in fixed blocks; these are
# the blocks in order, each under the query category it falls in: the
# marker queries are rare terms (tail), the partial-OOV one counts as OOV,
# and the accent edge case tokenizes to mid-frequency terms.
LAYOUT = (("head", 5), ("tail", 12), ("mixed", 12), ("tail", 3), ("oov", 3),
          ("mid", 8), ("mid", 1))
CATEGORIES = ("head", "tail", "mixed", "mid", "oov")
CORPUS_COLUMNS = ["conv_id", "turn_idx", "text"]
SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                    ("text", pa.string())])


def corpus_path(work: str, n_convs: int, seed: int) -> str:
    """Parquet corpus of `n_convs` fixture conversations, generated once per
    (size, seed) and cached under `work`; generation is never timed."""
    path = os.path.join(work, "corpus", f"convs{n_convs}_seed{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf = make_transcripts_pdf(n_convs=n_convs, seed=seed)[CORPUS_COLUMNS]
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA,
                                            preserve_index=False), tmp)
        os.replace(tmp, path)
    return path


def read_rows(path: str) -> list[tuple[str, int, str]]:
    """Corpus rows as (conv_id, turn_idx, text) tuples."""
    t = pq.read_table(path, columns=CORPUS_COLUMNS)
    return list(zip(*(t.column(c).to_pylist() for c in CORPUS_COLUMNS)))


def write_rows(path: str, rows) -> str:
    """(conv_id, turn_idx, text) tuples as a corpus-schema parquet file."""
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(CORPUS_COLUMNS, r)) for r in rows], schema=SCHEMA), path)
    return path


def query_pool(seed: int, sets: int) -> list[tuple[str, str, int]]:
    """The queries of fixtures.make_queries(seed + j) for j < `sets`, as
    (category, text, k): the repo's own seeded query set, with its k mix."""
    cats = [c for c, n in LAYOUT for _ in range(n)]
    out = []
    for j in range(sets):
        q = make_queries(seed + j)
        if len(q) != len(cats):
            raise ValueError("fixtures.make_queries no longer matches LAYOUT")
        out += [(c, str(t), int(k)) for c, t, k in zip(cats, q.query_text, q.k)]
    return out


def interleave(queries: list) -> list:
    """Queries reordered round-robin by category (each query's first
    field) in CATEGORIES order, keeping their order within a category, so
    every run of len(CATEGORIES) reads holds one query of each category."""
    by_cat: dict = {c: [] for c in CATEGORIES}
    for q in queries:
        by_cat[q[0]].append(q)
    lanes = list(by_cat.values())
    out = []
    for i in range(max(map(len, lanes), default=0)):
        out += [lane[i] for lane in lanes if i < len(lane)]
    return out
