from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running scale test")


def pytest_terminal_summary(terminalreporter):
    """A skipped test is not a pass: list how many tests skipped for
    each reason, even under -q."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    reasons: Counter = Counter()
    for rep in skipped:
        lr = rep.longrepr
        reason = lr[2] if isinstance(lr, tuple) and len(lr) == 3 else str(lr)
        reasons[reason.removeprefix("Skipped: ")] += 1
    terminalreporter.write_sep("=", f"{len(skipped)} skipped, by reason")
    for reason, n in reasons.most_common():
        terminalreporter.write_line(f"{n:5d}  {reason}")


@pytest.fixture(scope="session")
def spark():
    from mapnik_vector_tile_spark.session import get_spark

    s = get_spark(app_name="mvt-spark-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def images_small(spark):
    """Deterministic 2,000-row images fixture (cached on disk)."""
    from mapnik_vector_tile_spark.sources import images

    path = images.ensure_images(spark, 2000)
    return spark.read.parquet(path)
