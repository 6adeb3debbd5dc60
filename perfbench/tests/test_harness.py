"""Session settings and worker imports of the benchmark's sessions."""

import os
import subprocess
import sys

from perfbench import harness
from perfbench.harness import REQUIRED_CONF, conf_mismatches, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_conf_check_names_missing_settings():
    assert conf_mismatches(REQUIRED_CONF.get) == []
    partial = dict(REQUIRED_CONF)
    del partial["spark.sql.join.preferSortMergeJoin"]
    partial["spark.sql.parquet.compression.codec"] = "snappy"
    assert sorted(conf_mismatches(partial.get)) == [
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.parquet.compression.codec"]


def test_trace_conf_adds_only_event_log_settings():
    assert all(k.startswith("spark.eventLog.")
               for k in harness.trace_conf("ev"))


def test_summarize_quartiles():
    s = summarize([4.0, 1.0, 3.0, 2.0, 5.0])
    assert (s["n"], s["median"]) == (5, 3.0)
    assert s["q1"] <= s["median"] <= s["q3"]
    assert summarize([2.5]) == {"n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5}


_WORKER_IMPORT = """
import os
import sys
sys.path.insert(0, sys.argv[1])
from perfbench.harness import (
    _descendants, jvm_pid, prepare_environment, start_session, stop_session)
prepare_environment(sys.argv[1])
spark, _ = start_session()
def probe(batches):
    import contacts_etl_phase21_spark  # noqa: F401 - the import is the test
    for b in batches:
        yield b
try:
    n = spark.range(8).mapInPandas(probe, "id long").count()
    procs = [jvm_pid(), *_descendants(jvm_pid())]
finally:
    stop_session(spark)
alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
print("rows", n, "workers", len(procs) - 1, "alive", len(alive))
"""


def test_workers_import_package_without_caller_pythonpath(tmp_path):
    """A session from start_session lets Python workers import the
    engine though the caller set no PYTHONPATH and runs elsewhere, and
    stop_session leaves neither the JVM nor a worker running."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run([sys.executable, "-c", _WORKER_IMPORT, ROOT],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=300, check=False)
    assert out.returncode == 0, out.stderr[-3000:]
    rows, n, _, workers, _, alive = out.stdout.split()[-6:]
    assert (rows, n, alive) == ("rows", "8", "0")
    assert int(workers) >= 1
