"""Run one workload of the benchmark and print its metrics as JSON.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` prints the per-layer metrics, taken from spans around calls
into the engine's public functions and from the Spark event log.  The last
line of standard output is the result object; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
GENERATE_REPS = 3


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the "end_to_end" or "per_layer" metrics of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _start_spark(app: str, work: str, trace: bool):
    from p_id_text_extraction_spark.session import get_spark
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                      "spark.eventLog.compress": "false"})
    return get_spark(app=app, cores=CORES, extra=extra)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this run
    started (the JVM's Python workers included) to be gone."""
    from perfbench.trace import descendants
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    leftovers = descendants()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:   # a hung JVM
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in leftovers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _trace_layers(w, window: dict, tracer, events_dir: str) -> dict:
    from perfbench.trace import read_events, spark_counters
    ops = window["ops"]
    traced = window["traced_ops"]
    n_traced = max(len(traced), 1)
    spans = tracer.summary(traced)

    def total(name: str, key: str = "total_s") -> float:
        return spans.get(name, {}).get(key, 0.0) / n_traced

    out = {
        "sources.iceberg_plan_s": total("sources.iceberg_plan"),
        "sources.iceberg_plan_calls": total("sources.iceberg_plan", "calls"),
        "sources.iceberg_commit_s": total("sources.iceberg_commit"),
        "sources.iceberg_commits": total("sources.iceberg_commit", "calls"),
        "sources.iceberg_stage_s": total("sources.iceberg_write", "self_s"),
        "checkpoint.killed_s": spans.get("checkpoint.killed", {}).get("median_s", 0.0),
        "checkpoint.resume_s": spans.get("checkpoint.resume", {}).get("median_s", 0.0),
        "checkpoint.noop_s": spans.get("checkpoint.noop", {}).get("median_s", 0.0),
        "trace.overhead_frac": window["overhead_frac"],
        "process.cpu_ms_per_krow": window["cpu_ms_per_krow"],
    }
    out.update(w.op_layers(ops))
    counters = spark_counters(read_events(events_dir), window["t0_ms"], window["t1_ms"])
    n_ops = max(window["n_ops"], 1)
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        out[f"spark.{k}"] = counters[k] / n_ops
    out["spark.task_skew"] = counters["task_skew"]
    for k in ("exchanges", "sorts", "python_nodes"):
        out[f"plans.{k}"] = counters[k] / n_ops
    if w.name == "resume_iceberg":
        out["checkpoint.jobs_per_call"] = counters["jobs"] / (3 * n_ops)
    out.update(window["probes"])
    return out


def _measure(w, tracer, seconds: float, trace: bool, session_s: float) -> tuple[dict, float, bool]:
    """Set up (inputs generated GENERATE_REPS times, median kept; the
    output gate as the warm-up), then measure; returns the window, the
    set-up seconds and the verdict."""
    from perfbench.workloads import log
    gen_s = []
    for _ in range(GENERATE_REPS):
        t = time.perf_counter()
        w.generate()
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.reference()
    ref_s = time.perf_counter() - t
    t = time.perf_counter()
    try:
        gate_ok = w.gate()
    except Exception:  # noqa: BLE001 - a gate that cannot run is a failed gate
        traceback.print_exc()
        gate_ok = False
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_s) + ref_s + warm_s
    log(f"{w.name} seed={w.seed}: session {session_s:.2f}s generate {statistics.median(gen_s):.2f}s "
        f"reference {ref_s:.2f}s warm-up and gate {warm_s:.2f}s ({'pass' if gate_ok else 'FAIL'})")
    if trace:
        from p_id_text_extraction_spark.sources import iceberg_format
        tracer.wrap(iceberg_format, "plan_files", "sources.iceberg_plan")
        tracer.wrap(iceberg_format, "overwrite_partitions", "sources.iceberg_commit")
        tracer.wrap(iceberg_format, "append_files", "sources.iceberg_commit")
        tracer.wrap(iceberg_format, "write_dataframe", "sources.iceberg_write")
    try:
        window = w.measure(seconds, trace)
    finally:
        tracer.unwrap_all()
    log(f"{w.name}: {window['n_ops']} ops, {window['failed']} failed, "
        f"latency {window['latency_ms']:.1f}ms, {window['rows_per_s']:.0f} rows/s")
    correct = gate_ok and window["failed"] == 0
    window["probes"] = {}
    if trace:
        try:
            window["probes"] = w.probes()
        except Exception:  # noqa: BLE001 - a probe whose output check fails fails the run
            traceback.print_exc()
            correct = False
    return window, setup_s, correct


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-{run_id}")
    os.makedirs(os.path.join(work, "tmp"))
    # scratch of the JVM, its Python workers and this process stays in the run's directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = Tracer(run_id)
    try:
        t = time.perf_counter()
        spark = _start_spark(f"perfbench-{workload}", work, trace)
        session_s = time.perf_counter() - t
        w = WORKLOADS[workload](spark, work, seed, tracer)
        try:
            window, setup_s, correct = _measure(w, tracer, seconds, trace, session_s)
        finally:
            _stop_spark(spark)
        attempted = window["attempted"]
        failed = window["failed"] if correct else attempted
        if trace:
            tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                     f"{workload}-s{seed}-{run_id}.jsonl"))
            units = metric_units("per_layer")
            values = {k: 0.0 for k in units}
            values.update(_trace_layers(w, window, tracer, os.path.join(work, "events")))
        else:
            values = {"setup_s": setup_s, "rows_per_s": window["rows_per_s"],
                      "latency_ms": window["latency_ms"]}
            units = metric_units("end_to_end")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["extract_batch", "resume_iceberg", "dedup_docs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "p_id_text_extraction_spark")):
        print("perfbench: the engine package p_id_text_extraction_spark is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    # pinned: the run, its JVM and its Python workers share the first CORES CPUs
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CORES])
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
