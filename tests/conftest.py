from __future__ import annotations

import pytest

from pagerank_giraph_vs_mapreduce_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_oracle_dir() -> str:
    return "/root/testdata/sf0.01"


def make_edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src bigint, dst bigint"
    )
