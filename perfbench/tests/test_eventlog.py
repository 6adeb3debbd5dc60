"""The event-log parser on a small log recorded from a local[2] run:
group layer:a ran a shuffle aggregation, layer:b a sleeping pandas UDF,
and one count ran outside any group. The log keeps only the events and
fields the parser reads."""

import os
import shutil

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.json")


def _stats():
    with open(LOG, encoding="utf-8") as fh:
        return eventlog.parse_lines(fh)


def test_jobs_and_tasks_per_group():
    stats = _stats()
    assert set(stats) == {"layer:a", "layer:b", ""}
    assert (stats["layer:a"].jobs, stats["layer:a"].tasks) == (2, 3)
    assert (stats["layer:b"].jobs, stats["layer:b"].tasks) == (1, 2)
    assert (stats[""].jobs, stats[""].tasks) == (2, 3)


def test_times_and_shuffle():
    a, b = _stats()["layer:a"], _stats()["layer:b"]
    assert a.run_s == pytest.approx(1.155)
    assert b.run_s == pytest.approx(5.945)
    assert a.cpu_s == pytest.approx(0.4136, abs=1e-4)
    # the UDF stage waits on Python workers: run time far above CPU time
    assert b.python_wait_s == pytest.approx(b.run_s - b.cpu_s)
    assert b.python_wait_s > 5.0
    assert a.shuffle_write_mb > 0 and b.shuffle_write_mb == 0
    assert a.shuffle_read_mb == pytest.approx(a.shuffle_write_mb)


def test_read_and_remove_merges_files_and_deletes_dir(tmp_path):
    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    for name in ("app-1", "app-2"):
        shutil.copy(LOG, ev_dir / name)
    stats = eventlog.read_and_remove(str(ev_dir))
    assert stats["layer:b"].jobs == 2
    assert stats["layer:a"].run_s == pytest.approx(2 * 1.155)
    assert not ev_dir.exists()
