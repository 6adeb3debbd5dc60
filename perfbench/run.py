"""Benchmark for the contacts engine: end-to-end metrics per workload, or
per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload contacts_batch --seed 1 \
        --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --reps 5 --trace 1

One workload per process, from the root of a checkout. Inputs are
generated from --seed. Every pass's outputs are checked against the
planted truth. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it give
each metric with unit, n, median and quartiles, and the run record
(host context). Exits non-zero when any output check fails.

`--workload all` runs each workload --reps times, each in a fresh
process with seeds seed..seed+reps-1, and prints every end-to-end
metric with n, median and quartiles over the runs (plus one traced run
per workload with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
# Untraced end-to-end metrics and their units.
END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s",
              "rows_per_s": "1/s"}
LAYER_KINDS = {"s": "s", "jobs": "count", "cpu_s": "s",
               "python_wait_s": "s", "shuffle_mb": "MB"}


def _print_metrics(rows: dict[str, dict]) -> None:
    for name, m in rows.items():
        print(f"{name:44s} {m['unit']:6s} n={m['n']:<3d} "
              f"median={m['median']:.6g} q1={m['q1']:.6g} "
              f"q3={m['q3']:.6g}")


def run_untraced(wl, seconds: float) -> tuple[dict, dict, int, int]:
    from perfbench.harness import (
        PeakRss, jvm_pid, start_session, stop_session, summarize,
    )
    from perfbench.workloads import CheckFailed, batch_quantiles, timed

    # One set-up per run: a second JVM launch would add ~7 s to each of
    # the 48 runs of a comparison, which must end within the hour.
    spark, ready = start_session()
    cores = spark.sparkContext.defaultParallelism
    times: list[float] = []
    batch_s: list[float] = []
    outcomes: list[bool] = []

    def attempt(steady: bool) -> None:
        try:
            dt, res = timed(wl.run_pass, spark)
            wl.check(res)
            times.append(dt)
            if steady:
                batch_s.extend(res.get("batch_s", ()))
            outcomes.append(True)
        except CheckFailed as exc:
            outcomes.append(False)
            print(f"# check failed: {exc}", file=sys.stderr)
        except Exception:  # noqa: BLE001 - counted as a failed pass
            outcomes.append(False)
            traceback.print_exc()
        spark.catalog.clearCache()

    try:
        with PeakRss(jvm_pid()) as rss:
            attempt(steady=False)  # the cold pass
            t_end = time.perf_counter() + seconds
            attempt(steady=True)
            while time.perf_counter() < t_end:
                attempt(steady=True)
    finally:
        stop_session(spark)
    attempted, failed = len(outcomes), outcomes.count(False)
    metrics: dict[str, dict] = {}
    if failed == 0:
        cold, steady = times[0], times[1:]
        metrics = {
            "setup_s": summarize([ready]),
            "cold_s": summarize([cold]),
            "wall_s": summarize(steady),
            "rows_per_s": summarize([wl.rows / t for t in steady]),
        }
        for k, unit in END_TO_END.items():
            metrics[k]["unit"] = unit
    # peak RSS is in the record, not a bounded metric: the JVM's
    # committed heap makes it bimodal across runs of one input
    record = {"cores_used": cores, "passes": attempted,
              "failed_frac": failed / attempted, "peak_rss_mb": rss.peak_mb}
    if batch_s:
        record["batch_p50_s"], record["batch_p90_s"] = batch_quantiles(
            batch_s)
    return metrics, record, attempted, failed


def run_traced(wl) -> tuple[dict, dict, int, int]:
    from perfbench import eventlog
    from perfbench.eventlog import GroupStats
    from perfbench.harness import start_session, stop_session, trace_conf
    from perfbench.trace import Tracer, group_of
    from perfbench.workloads import BATCH_LAYERS, batch_quantiles, timed

    ev_dir = os.path.join(WORK, "eventlog")
    os.makedirs(ev_dir, exist_ok=True)
    spark, _ = start_session(trace_conf(ev_dir))
    cores = spark.sparkContext.defaultParallelism
    attempted = 3
    try:
        for _ in range(2):  # cold pass, then the untraced steady pass
            untraced_s, res = timed(wl.run_pass, spark)
            wl.check(res)
            spark.catalog.clearCache()
        tr = Tracer(spark)
        traced_s, res = timed(wl.traced_pass, spark, tr)
        wl.check(res)
    except Exception:  # noqa: BLE001 - reported as a failed run
        traceback.print_exc()
        return {}, {"cores_used": cores, "passes": attempted,
                    "failed_frac": 1.0}, attempted, 1
    finally:
        stop_session(spark)
        stats = eventlog.read_and_remove(ev_dir)

    values: dict[str, tuple[float, str]] = {}
    for layer in BATCH_LAYERS:
        g = stats.get(group_of(layer), GroupStats())
        by_kind = {"s": tr.span_s.get(layer, 0.0), "jobs": g.jobs,
                   "cpu_s": g.cpu_s, "python_wait_s": g.python_wait_s,
                   "shuffle_mb": g.shuffle_write_mb}
        for kind, unit in LAYER_KINDS.items():
            values[f"{layer}.{kind}"] = (by_kind[kind], unit)
    for name in ("sources.rows", "normalize.invalid_emails",
                 "normalize.invalid_phones", "er.candidate_pairs",
                 "er.largest_block", "er.accepted_edges", "er.clusters",
                 "er.largest_cluster"):
        values[name] = (tr.counts.get(name, 0), "count")
    values["er.accept_ratio"] = (tr.counts.get("er.accept_ratio", 0.0),
                                 "ratio")
    stream = stats.get(res.get("run_id"), GroupStats())
    batch_s = res.get("batch_s", [])
    p50, p90 = batch_quantiles(batch_s) if batch_s else (0.0, 0.0)
    values.update({
        "streaming.python_wait_s": (stream.python_wait_s, "s"),
        "streaming.jobs_per_batch": (stream.jobs / max(len(batch_s), 1),
                                     "count"),
        "streaming.state_rows": (res.get("state_rows", 0), "count"),
        "streaming.state_mem_mb": (res.get("state_mem_mb", 0.0), "MB"),
        "streaming.batch_p50_s": (p50, "s"),
        "streaming.batch_p90_s": (p90, "s"),
    })
    for phase, ms in tr.plan_ms.items():
        values[f"plan.{phase}_ms"] = (ms, "ms")
    values["trace.overhead_frac"] = (traced_s / untraced_s - 1.0, "ratio")
    values["trace.coverage_frac"] = (sum(tr.span_s.values()) / traced_s,
                                     "ratio")
    metrics = {k: {"n": 1, "median": v, "q1": v, "q3": v, "unit": u}
               for k, (v, u) in values.items()}
    record = {"cores_used": cores, "passes": attempted, "failed_frac": 0.0,
              "traced_s": traced_s, "untraced_s": untraced_s}
    return metrics, record, attempted, 0


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "contacts_etl_phase21_spark")):
        print("no engine package next to the benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import HostContext, prepare_environment
    from perfbench.workloads import WORKLOADS

    host = HostContext()
    prepare_environment(ROOT)
    wl_dir = os.path.join(WORK, args.workload)
    wl = WORKLOADS[args.workload](wl_dir, args.seed)
    if args.trace:
        metrics, record, attempted, failed = run_traced(wl)
    else:
        metrics, record, attempted, failed = run_untraced(wl, args.seconds)
    record.update(host.record(record.pop("cores_used")),
                  workload=args.workload, seed=args.seed,
                  input_rows=wl.rows, trace=args.trace)
    _print_metrics(metrics)
    print("run_record " + json.dumps(record, sort_keys=True))
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m["median"], "unit": m["unit"]}
                    for k, m in metrics.items()}}))
    return 0 if correct else 1


def result_of(stdout: str) -> dict:
    """The result line a run printed last; a run that printed none
    crashed, and counts as one attempted and failed pass."""
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "attempted": 1, "failed": 1,
                "metrics": {}}


def run_all(args) -> int:
    """Every workload, --reps fresh processes each; quartiles over runs."""
    sys.path.insert(0, ROOT)
    from perfbench.harness import summarize
    from perfbench.workloads import WORKLOADS

    status, summary = 0, {}
    for name in WORKLOADS:
        modes = [0] * args.reps + ([1] if args.trace else [])
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        attempted = failed = 0
        for i, trace in enumerate(modes):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", name, "--seed", str(args.seed + i),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, check=False)
            if proc.returncode != 0:
                status = 1
                print(f"# {name} seed {args.seed + i}: exit "
                      f"{proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
            res = result_of(proc.stdout)
            attempted += res["attempted"]
            failed += res["failed"]
            for k, m in res["metrics"].items():
                key = f"{name}.{k}" if trace == 0 else f"{name}.trace.{k}"
                values.setdefault(key, []).append(m["value"])
                units[key] = m["unit"]
        rows = {k: {**summarize(v), "unit": units[k]}
                for k, v in values.items()}
        rows[f"{name}.failed_frac"] = {
            **summarize([failed / attempted]), "unit": "ratio"}
        _print_metrics(rows)
        summary.update(rows)
    print(json.dumps(summary, sort_keys=True))
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--reps", type=int, default=5,
                   help="runs per workload with --workload all")
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
