"""A wrong output must count as a failed operation.

    python -m pytest perfbench/test_check.py -q

The first test needs only DuckDB; the second starts a local Spark
session (about half a minute).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.check import Checker, Collected  # noqa: E402


def test_oracle_mismatch_is_reported(tmp_path):
    chk = Checker(str(tmp_path), [], {})
    try:
        sql = "SELECT id, rank::DOUBLE AS rank FROM (VALUES (1, 0.5), (2, 0.25)) t(id, rank)"
        assert chk.oracle("q", sql, Collected([(2, 0.25), (1, 0.5)], ["id", "rank"], "")) is None
        assert "differ" in chk.oracle("q", sql, Collected([(1, 0.5), (2, 0.3)], ["id", "rank"], ""))
        assert "rows" in chk.oracle("q", sql, Collected([(1, 0.5)], ["id", "rank"], ""))
        assert "columns" in chk.oracle("q", sql, Collected([(1, 0.5), (2, 0.25)], ["id", "r"], ""))
    finally:
        chk.close()


@pytest.fixture(scope="module")
def runner(tmp_path_factory):
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    r = run.Runner("diff_app", seed=7, work=work)
    r.setup()
    yield r
    r.close()
    run.stop_jvm()


def test_corrupted_expectation_counts_as_failure(runner):
    from perfbench.tracing import Tracer
    from perfbench.workloads import DIFF_APP

    statistics = next(op for op in DIFF_APP if op.name == "statistics")
    tracer = Tracer(runner.spark, False)

    runner.run_op(statistics, "ok", os.path.join(runner.work, "ok"), tracer)
    assert (runner.attempted, runner.failed) == (1, 0)

    runner.checker.expect["counts"]["C"] += 1  # one planted change too many
    runner.run_op(statistics, "bad", os.path.join(runner.work, "bad"), tracer)
    assert (runner.attempted, runner.failed) == (2, 1)
    assert runner.failures[0]["op"] == "bad.statistics"
    assert "statistics" in runner.failures[0]["why"]
