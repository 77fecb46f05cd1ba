from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the suite's one Spark session is sized to its fixtures (3,000 turns, the
# sf0.01 tables), not to ``get_spark``'s 8g default, which is also -Xms: a
# full run at 8g held ~7.4 GB resident, leaving little room for a second
# Spark process on the same host. An explicit setting still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


@pytest.fixture(scope="session")
def spark():
    from jvector_spark.session import get_spark

    s = get_spark(cores=8, app_name="jvector_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    from jvector_spark.fixtures import make_transcripts_pdf

    return make_transcripts_pdf(n_turns=3000, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_pdf):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    df = spark.createDataFrame(transcripts_pdf, schema=schema)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def corpus(spark, transcripts):
    """Transcripts with dense doc_id over stable (conv_id, turn_idx) order."""
    from jvector_spark.operators import assign_dense_ids

    df = assign_dense_ids(transcripts, ["conv_id", "turn_idx"]).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def query_set():
    from jvector_spark.fixtures import make_query_set

    return make_query_set(n_queries=40, seed=7)
