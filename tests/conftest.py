from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from kbrowse_spark.session import get_spark

    return get_spark("kbrowse_tests", master="local[8]", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def follow_caught_up(spark):
    """Run a follow search (``spec.follow`` set) until its stream has
    processed everything already in its source, then stop the stream:
    returns the pioneer array the search wrote, closed by the stop."""
    import threading
    import time

    from kbrowse_spark.search import run_search

    def run(spec) -> str:
        before = {q.id for q in spark.streams.active}
        out: list[str] = []

        def consume() -> None:
            try:
                for chunk in run_search(spark, spec):
                    out.append(chunk)
            except Exception:  # the array already ends with the error
                pass

        t = threading.Thread(target=consume)
        t.start()
        while t.is_alive():
            started = [q for q in spark.streams.active if q.id not in before]
            if started:
                started[0].processAllAvailable()
                started[0].stop()
                break
            time.sleep(0.05)
        t.join(timeout=60)
        assert not t.is_alive(), "the follow search did not end after its stop"
        return "".join(out)

    return run
