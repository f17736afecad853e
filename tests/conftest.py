from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from doppel_spark.operators.stage import StageMaterializer  # noqa: E402
from doppel_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="doppel_spark_tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture()
def new_mat(spark):
    """Factory of persist materializers (the policy ``for_input`` picks
    at test scale) for operators that cut through the caller's ``mat``;
    every one is freed when the test ends."""
    made = []

    def make(prefix: str = "test") -> StageMaterializer:
        made.append(StageMaterializer(spark, mode="persist", prefix=prefix))
        return made[-1]

    yield make
    for mat in made:
        mat.cleanup()


@pytest.fixture()
def docs(spark):
    """F1-style fixture: 3 identical + 2 identical + 1 unique text
    (≈ /root/reference/internal/finder/finder_test.go:17-131)."""
    t1 = "this is duplicate content one, 41 chars!"
    t2 = "duplicate content two bytes"
    t3 = "unique content"
    rows = [
        ("u://a/1", t1), ("u://a/2", t1), ("u://a/3", t1),
        ("u://b/1", t2), ("u://b/2", t2),
        ("u://c/1", t3),
    ]
    return spark.createDataFrame(rows, "url string, text string")
