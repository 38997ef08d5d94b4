import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """The benchmark's own session (box fit, pgcdc registered)."""
    from harness import fit_to_box, start_session

    scratch = str(tmp_path_factory.mktemp("cdcbench"))
    fit_to_box(ROOT, scratch)
    spark, _ = start_session(scratch)
    yield spark
    spark.stop()
