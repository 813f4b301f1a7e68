from __future__ import annotations

import os

import pytest

from switchback_test_dag_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # small core/partition counts: test-suite latency, not throughput
    s = get_spark(app_name="switchback-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    return SF_DIR_MED


def run_stream_to_memory(df, query_name: str, checkpoint_dir: str) -> None:
    """Drain a streaming DataFrame into the in-memory sink (table
    ``query_name``) with one ``availableNow`` append pass — how the
    stream==batch checks of the stateless ingest scorers run their stream
    side."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"stream {query_name} did not finish in 300 s")
