"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload loans --seeds 1-10 [--trace 0] [--out FILE]

Prints, per metric, the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread (quartile distance as
a share of the median) — the statistics the acceptance of a benchmark change
and the comparison of two commits use. ``--out`` writes the summary and
every run's result as JSON.
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


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = args.seconds or json.load(fh)["run_seconds"]

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "run_s": time.time() - t0, **res})
        print(f"seed {seed}: {time.time() - t0:.1f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)

    names = list(runs[0]["metrics"])
    summary = {n: summarise([r["metrics"][n]["value"] for r in runs]) for n in names}
    for n, s in summary.items():
        print(f"{n:32s} median {s['median']:14.4f}  q1 {s['q1']:14.4f}  q3 {s['q3']:14.4f}  spread {s['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "trace": args.trace, "seconds": seconds,
                       "summary": summary, "runs": runs}, fh, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
