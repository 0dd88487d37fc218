from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otd_semantic_framework_spark.session import get_spark  # noqa: E402
from otd_semantic_framework_spark.sources import fixtures  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("otd-tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "500"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pdf():
    return fixtures.transcripts_pandas(20)


@pytest.fixture(scope="session")
def small_pdf():
    return fixtures.transcripts_pandas(300)


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_pdf):
    pdf = tiny_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    from otd_semantic_framework_spark.schemas import TRANSCRIPTS
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS).cache()


@pytest.fixture(scope="session")
def small_df(spark, small_pdf):
    pdf = small_pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    from otd_semantic_framework_spark.schemas import TRANSCRIPTS
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS).cache()


@pytest.fixture(scope="session")
def ontology_pdf():
    return fixtures.ontology_pandas()


@pytest.fixture(scope="session")
def retrained_ontology_pdf(ontology_pdf):
    """Same taxonomy as ``ontology_pdf``, one concept's embedding
    retrained (negated): an embedding-only edit."""
    edited = ontology_pdf.copy()
    emb = list(edited["embedding"])
    emb[0] = [-x for x in emb[0]]
    edited["embedding"] = emb
    return edited
