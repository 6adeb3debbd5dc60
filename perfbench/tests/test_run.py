"""The runner's summary over runs, and the micro-batch quantiles."""

import json
import subprocess

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS, batch_quantiles


def _fake_runs(monkeypatch, stdout: str, code: int) -> None:
    def fake_run(cmd, **_kw):
        return subprocess.CompletedProcess(cmd, code, stdout=stdout,
                                           stderr="check failed")
    monkeypatch.setattr(run.subprocess, "run", fake_run)


def _summary(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_failed_passes_of_a_failing_run_reach_failed_frac(monkeypatch,
                                                          capsys):
    line = json.dumps({"correct": False, "attempted": 3, "failed": 1,
                       "metrics": {}})
    _fake_runs(monkeypatch, f"metric lines\n{line}\n", 1)
    assert run.main(["--workload", "all", "--reps", "2"]) == 1
    summary = _summary(capsys)
    for name in WORKLOADS:
        assert summary[f"{name}.failed_frac"]["median"] == pytest.approx(
            1 / 3)


def test_a_run_without_result_line_counts_as_one_failed_pass(monkeypatch,
                                                             capsys):
    _fake_runs(monkeypatch, "Traceback (most recent call last):\n", 1)
    assert run.main(["--workload", "all", "--reps", "1"]) == 1
    summary = _summary(capsys)
    for name in WORKLOADS:
        assert summary[f"{name}.failed_frac"]["median"] == 1.0


def test_batch_p90_stays_within_the_batches_seen():
    p50, p90 = batch_quantiles([1.0, 2.0, 3.0])
    assert p50 == 2.0
    assert 2.0 < p90 <= 3.0
