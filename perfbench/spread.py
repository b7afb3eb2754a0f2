"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload geotag --seeds 1-10 [--trace 0] [--out FILE]

Each run is a separate process, as the benchmark is meant to be run.
For every metric it prints the median and the interquartile range as a
share of the median (``statistics.quantiles(values, n=4)``), the figure
``BENCHMARK.json``'s bounds are judged against.  ``--out`` writes every
run's result line plus the machine (cores, Spark, Python, Java) as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def machine() -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "cores": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": (java.stderr.splitlines() or ["?"])[0],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    runs = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        elapsed = time.perf_counter() - t0
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit code {p.returncode}")
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "process_s": elapsed, "result": result,
                     "summary": [ln for ln in lines[:-1] if ln.startswith("[perfbench]")]})
        values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {elapsed:.1f} s, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} {values}", flush=True)

    spreads = {}
    for name in runs[0]["result"]["metrics"]:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        if len(values) >= 2 and med:
            q1, _, q3 = statistics.quantiles(values, n=4)
            spreads[name] = {"median": med, "iqr_share": (q3 - q1) / med}
            print(f"{args.workload} {name}: median {med:.6g}, IQR/median {(q3 - q1) / med:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "machine": machine(), "spreads": spreads,
                       "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
