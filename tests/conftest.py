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


@pytest.fixture
def force_side(monkeypatch):
    """``force_side("driver" | "distributed")`` pins the engine's sized
    decisions to one side (``query.SIDE_PINS``) for the rest of the test."""
    from pdf_to_opensearch_spark import query

    def force(side: str) -> None:
        for name, value in query.SIDE_PINS[side].items():
            monkeypatch.setattr(query, name, value)

    return force
