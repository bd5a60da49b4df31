from __future__ import annotations

import pytest

from visionsearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("visionsearch-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from visionsearch_spark.fixtures import make_transcripts_pdf

    return make_transcripts_pdf(n_convs=100, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_pdf):
    from visionsearch_spark.fixtures import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPTS_SCHEMA).repartition(8).cache()


@pytest.fixture(scope="session")
def halves(transcripts_pdf):
    """(first half of the convs, all of them) — a base build plus one
    append."""
    convs = sorted(transcripts_pdf["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    first = transcripts_pdf[transcripts_pdf["conv_id"].isin(half)]
    return first, transcripts_pdf


@pytest.fixture(scope="session")
def oracle_index(transcripts_pdf):
    from visionsearch_spark.oracle import build_oracle_index

    rows = list(
        transcripts_pdf[["conv_id", "turn_idx", "text"]].itertuples(index=False, name=None)
    )
    return build_oracle_index(rows)


@pytest.fixture(scope="session")
def query_set():
    from visionsearch_spark.fixtures import make_queries

    return make_queries()
