"""The frozen analyzer: one tokenization spec, three interchangeable impls.

Spec (FIXTURES.md §5; rank-identity of BM25 depends on never changing it):
    lowercase -> split on any run of chars outside [0-9a-z] -> drop empty
    tokens. No stemming, no stopwords, and NO unicode normalization: any
    non-[0-9a-z] codepoint (accents, combining marks, precomposed chars)
    is a separator in ALL THREE engines regardless of normalization form,
    so 'café' and decomposed 'cafe\\u0301' tokenize per their raw bytes
    ('caf' / 'cafe') identically everywhere. An earlier draft NFC-
    normalized only in the Python impl, which silently diverged from
    Spark/DuckDB on decomposed input (round-1 ADVICE); callers that need
    NFC semantics must normalize at ingest, before the engine.

Reference precedent: lowercase-normalize at
`/root/reference/visionsearch/common_utils/embedding/__init__.py:6` and the
sentence-split regex at
`/root/reference/visionsearch/scripts/generate_captions.py:95`.

Three implementations, proven equal by tests/test_analyzer.py (including
NFD/NFC paired cases):

* :func:`tokenize` — pure Python; used by the exhaustive-BM25 oracle.
* :func:`tokens_col` — Spark Column expression (JVM-side, whole-stage
  codegen; the hot path — no Python crosses the executor boundary).
* :data:`DUCKDB_TOKENS_SQL` — DuckDB SQL fragment for the driver oracle.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pyspark stays unimported for Spark-free callers
    from pyspark.sql import Column

TOKEN_SEP_RE = re.compile(r"[^0-9a-z]+")
# Java regex (Spark) — identical semantics for this class.
TOKEN_SEP_JAVA = "[^0-9a-z]+"
# Complement class: a token IS a maximal [0-9a-z] run, so counting
# matches of this pattern counts tokens without materializing them.
TOKEN_RUN_JAVA = "[0-9a-z]+"


def tokenize(text: str | None) -> list[str]:
    """Pure-Python analyzer (oracle + query-side parsing on the driver)."""
    if not text:
        return []
    return [t for t in TOKEN_SEP_RE.split(text.lower()) if t]


def tokens_col(col: Column | str) -> Column:
    """JVM-side analyzer: array<string> of tokens, empties removed.

    Stays inside WholeStageCodegen — F.split/filter are codegen'd; no
    Python UDF in the build or query hot path (the reference's
    batch-size-1 Python loop at `aisearch/core.py:33-40` is the
    anti-pattern this kills).
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SEP_JAVA), lambda t: t != "")


def token_count_col(col: Column | str) -> Column:
    """JVM-side TOKEN COUNT: exactly ``F.size(tokens_col(c))`` (null in,
    null out), but as one ``regexp_count`` over the lowered text — a
    token is by spec a maximal [0-9a-z] run, so the count of runs is the
    count of tokens. Catalyst lowers it to
    ``size(regexp_extract_all(lower(c), '[0-9a-z]+', 0))`` (one regex
    pass, matches only); vs the split chain it skips the separator
    segments, the empty-string entries, and the per-element
    higher-order filter lambda — measured ~25% less task time on the
    bench corpus (0.99 s -> 0.74 s for the isolated noop pass).
    Fuzz-pinned equal to both tokenize() and size(tokens_col()) in
    tests/test_analyzer.py; use it wherever only the LENGTH is needed
    (e.g. the staged dl column)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(TOKEN_RUN_JAVA))


# DuckDB fragment: substitute {col}. list_filter drops the empty strings
# regexp_split_to_array produces at string edges.
DUCKDB_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '[^0-9a-z]+'), t -> t <> '')"
)

# Sentence-unit split (the reference's caption split,
# `/root/reference/visionsearch/scripts/generate_captions.py:95`): cut at
# runs of terminal punctuation. No lookbehind — RE2 (DuckDB) lacks it, so
# the same pattern is byte-identical in Java regex and RE2; empty parts
# are kept by BOTH engines and dropped downstream by the no-tokens filter
# AFTER ordinal assignment, keeping unit numbering aligned.
SENT_SPLIT_RE_STR = "[.!?]+"


def duckdb_tokens(col: str) -> str:
    return DUCKDB_TOKENS_SQL.format(col=col)
