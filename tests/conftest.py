from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from btd.fixtures import gen_transcripts, gen_triples
from btd.schema import TRANSCRIPTS, TRIPLES
from btd.session import get_spark

#: the reference repo's own 63-line n-quad fixture, read by the goldens
#: marked ``reference_sample``; those skip where it is not mounted
REFERENCE_SAMPLE = "/root/reference/assets/sample.txt"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_sample: reads the reference n-quad fixture sample.txt",
    )


def pytest_collection_modifyitems(config, items):
    needs_sample = pytest.mark.skipif(
        not os.path.exists(REFERENCE_SAMPLE),
        reason=f"reference fixture {REFERENCE_SAMPLE} is absent",
    )
    for item in items:
        if item.get_closest_marker("reference_sample"):
            item.add_marker(needs_sample)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    import os

    if os.environ.get("BTD_TEST_VANILLA") == "1":
        # robustness mode: the bare builder, none of btd.session's
        # tuned confs — correctness must not depend on session tuning
        s = (
            SparkSession.builder.master("local[8]")
            .appName("btd-tests-vanilla")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        s = get_spark("btd-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def triples_rows():
    return gen_triples(n=3000, seed=42)


@pytest.fixture(scope="session")
def triples_df(spark, triples_rows):
    df = spark.createDataFrame(triples_rows, schema=TRIPLES)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def transcripts_fixture():
    return gen_transcripts(n_convs=30, turns_per_conv=10, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_fixture):
    rows, _ = transcripts_fixture
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS)
    df.persist()
    df.count()
    return df
