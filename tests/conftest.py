from __future__ import annotations

import pytest

from dataflow_mm_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.streaming.checkpointLocation.deleteOnStop": "true"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    from dataflow_mm_spark.datagen import transcripts

    df = transcripts(spark, n_convs=60, seed=42).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tiny_pdf(tiny_transcripts):
    return (
        tiny_transcripts.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
