"""Self-test of the benchmark's timed action.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root. The timed action must compute every output column: a projection
wrapping ``assert_true(false)`` has to fail under it, while ``count()``
(which lets Catalyst prune the column) succeeds on the same frame.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.harness import materialize, pct, tail_pct, timed_action_is_honest  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    s = (SparkSession.builder.master("local[1]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.local.dir", str(local))
         .config("spark.sql.shuffle.partitions", "1")
         .getOrCreate())
    yield s
    s.stop()


def _poisoned(spark):
    from pyspark.sql import functions as F

    return spark.range(3).select("id", F.assert_true(F.lit(False)).alias("boom"))


def test_timed_action_evaluates_a_poisoned_projection(spark):
    with pytest.raises(Exception, match="is not true"):
        materialize(_poisoned(spark))


def test_count_would_have_pruned_it(spark):
    assert _poisoned(spark).count() == 3


def test_run_time_gate_agrees(spark):
    assert timed_action_is_honest(spark)


def test_tail_percentile_leaves_ten_samples_above():
    assert tail_pct(19) == 50
    assert tail_pct(40) == 75
    assert tail_pct(100) == 90
    for n in range(20, 500):
        values = list(range(n))
        assert sum(v > pct(values, tail_pct(n)) for v in values) >= 10


def test_percentile_interpolates():
    assert pct([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert pct([5.0], 90) == 5.0
