import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from win64_local_ocr_tool_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class Stopped(Exception):
    """Raised by ``stopped_job`` right after the job's n-th commit."""


@pytest.fixture
def stopped_job(monkeypatch):
    """``stopped_job(n, job)`` runs ``job()`` until it stops right after
    its n-th lineage append, as a job killed at that commit point would:
    the n-th commit group (or curation stage) is durable, nothing after
    it is."""
    from win64_local_ocr_tool_spark import pipeline

    def run(n: int, job) -> None:
        real, seen = pipeline.append_lineage, 0

        def append_then_stop(*args, **kwargs):
            nonlocal seen
            real(*args, **kwargs)
            seen += 1
            if seen == n:
                raise Stopped

        with monkeypatch.context() as m:
            m.setattr(pipeline, "append_lineage", append_then_stop)
            with pytest.raises(Stopped):
                job()

    return run
