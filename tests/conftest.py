from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from cminer_spark import get_spark  # noqa: E402


def pytest_addoption(parser):
    parser.addoption(
        "--run-iceberg",
        action="store_true",
        default=False,
        help="run the Iceberg catalog round-trip (needs the Iceberg "
        "runtime jar + spark.sql.catalog.ice configured)",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cminer-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_ckpt(tmp_path):
    return str(tmp_path / "ckpt")


def edges_df(spark, pairs, weight=1.0):
    """Build an edges DataFrame from (src, dst) or (src, dst, w) tuples."""
    rows = [
        (int(p[0]), int(p[1]), float(p[2]) if len(p) > 2 else weight) for p in pairs
    ]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def count_jobs(spark, fn):
    """Run ``fn`` under a job group of its own; returns ``(result,
    number of Spark jobs it submitted)``."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
