from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
# env-overridable like SF_DIR (review r8: relocating testdata moved only
# half the corpus — the differential-fuzz families read SF_SMALL)
SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_SMALL_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from iceberg_data_gen_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def memoized(spark, kind: str, key: tuple):
    """The memo entry for ``(spark, kind, key)``; fails the test when
    there is none (the build passed to ``memo`` never succeeds)."""
    from iceberg_data_gen_spark.memo import memo

    return memo(spark, kind, key, lambda: pytest.fail(f"no memo entry {kind} {key}"))
