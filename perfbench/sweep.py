"""Run the benchmark over several seeds and summarise every metric.

    python3 perfbench/sweep.py --seeds 1-10 [--workloads extract_batch,dedup_docs]
                               [--seconds 8] [--trace 0] [--out summary.json]

Runs are seed-major (each seed runs every workload before the next seed
starts), so drift of the machine lands on all workloads alike.  For each
workload and metric it prints the median, the quartiles from
``statistics.quantiles(values, n=4)`` and their distance as a share of
the median -- the spread the benchmark's bounds are checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else 0.0, "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out")
    args = p.parse_args()
    workloads = args.workloads.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    failures: dict[str, int] = {w: 0 for w in workloads}
    for seed in _seeds(args.seeds):
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            t = time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.monotonic() - t
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                failures[w] += 1
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            for ln in proc.stderr.splitlines():
                if "[perfbench]" in ln:
                    print(ln[ln.index("[perfbench]"):], file=sys.stderr)
            res = json.loads(lines[-1])
            failures[w] += res["failed"] > 0 or not res["correct"]
            for name, m in res["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed} ({wall:.0f}s): " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), file=sys.stderr, flush=True)
    summary = {w: {"failed_runs": failures[w],
                   "metrics": {k: summarise(v) for k, v in values[w].items()}} for w in workloads}
    for w, s in summary.items():
        print(f"{w} (failed runs: {s['failed_runs']})")
        for k, m in s["metrics"].items():
            print(f"  {k:32s} median {m['median']:12.4f}  q1 {m['q1']:12.4f}  q3 {m['q3']:12.4f}  "
                  f"spread {m['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 1 if any(failures.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
