import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pdf_to_opensearch_spark.session import get_spark

    s = get_spark("tests", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# query.execute's sized decision pinned to one side: "driver" makes every
# unfiltered call cheap enough for the driver scan, "distributed" (the
# fixed cost forced to 0) sends every call to the Spark scan.
SIDES = {"driver": float("inf"), "distributed": 0.0}


@pytest.fixture
def force_side(monkeypatch):
    from pdf_to_opensearch_spark import query

    def force(side: str) -> None:
        monkeypatch.setattr(query, "DISTRIBUTED_FIXED_MS", SIDES[side])

    return force

