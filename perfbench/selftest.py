"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload, runs ``run.py`` untraced and traced with the settings of
``settings.json`` shrunk (tables at sf 0.001, a small loans set) and checks
that:

- every end-to-end and per-layer metric of ``BENCHMARK.json`` is printed, the
  outputs are correct and nothing failed;
- the timed phases account for the pass: traced, the operations' phase
  walls sum to within 10% of the traced pass and of the untraced passes, as do
  ``plans.build_s + exec.action_s`` on ``queries``; on ``loans``,
  ``serve.input_ms + serve.plan_ms + serve.exec_ms`` is within 10% of the
  request latency and the pipeline transforms run no Spark job;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
  benchmark exits non-zero without printing a result.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _tiny_settings(path: str) -> None:
    with open(os.path.join(HERE, "settings.json")) as fh:
        s = json.load(fh)
    s["workloads"]["queries"].update(sf=0.001)
    s["workloads"]["loans"].update(train_rows=300, valid_rows=400)
    with open(path, "w") as fh:
        json.dump(s, fh)


def _run(cwd: str, workload: str, trace: int, settings: str | None) -> tuple[int, list[str]]:
    # traced, long enough for several passes of each kind: single passes
    # differ by up to ~10% from one to the next on a shared host
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "90" if trace else "1", "--trace", str(trace)]
    if settings:
        cmd += ["--settings", settings]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


def _close(a: float, b: float, rel: float = 0.10) -> bool:
    return abs(a - b) <= rel * max(abs(b), 1e-9)


def check_workload(workload: str, settings: str, spec: dict) -> list[str]:
    problems = []
    results = {}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, out = _run(ROOT, workload, trace, settings)
        if code != 0 or not out:
            return [f"{workload} trace={trace}: exit {code}"]
        res = json.loads(out[-1])
        results[trace] = res
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{workload} trace={trace}: keys {sorted(res)}")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            problems.append(f"{workload} trace={trace}: correct={res['correct']} failed={res['failed']}")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            problems.append(f"{workload} trace={trace}: metrics differ from BENCHMARK.json")
    e2e = {k: v["value"] for k, v in results[0]["metrics"].items()}
    layer = {k: v["value"] for k, v in results[1]["metrics"].items()}
    if workload == "loans":
        parts = layer["serve.input_ms"] + layer["serve.plan_ms"] + layer["serve.exec_ms"]
        if not _close(parts, layer["serve.latency_ms"]):
            problems.append(f"loans: serve phases {parts:.1f} ms vs request latency {layer['serve.latency_ms']:.1f} ms")
        if layer["pipeline.transform_jobs"] != 0:
            problems.append(f"loans: pipeline transforms ran {layer['pipeline.transform_jobs']} jobs")
    else:
        phases = layer["plans.build_s"] + layer["exec.action_s"]
        if not _close(phases, layer["trace.untraced_wall_s"]):
            problems.append(f"{workload}: build+action {phases:.2f} s vs untraced wall {layer['trace.untraced_wall_s']:.2f} s")
    for wall in ("trace.wall_s", "trace.untraced_wall_s"):
        if not _close(layer["trace.phases_s"], layer[wall]):
            problems.append(f"{workload}: phase walls {layer['trace.phases_s']:.2f} s vs {wall} {layer[wall]:.2f} s")
    if any(v <= 0 for k, v in e2e.items()):
        problems.append(f"{workload}: an end-to-end metric is not positive: {e2e}")
    return problems


def check_bare_directory() -> list[str]:
    """Without the program next to it, the benchmark must fail cleanly."""
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, out = _run(d, "queries", 0, None)
    if code == 0 or any(line.startswith("{") for line in out):
        return [f"bare directory: exit {code}, stdout {out[-1:] if out else ''}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    problems = check_bare_directory()
    with tempfile.TemporaryDirectory() as d:
        settings = os.path.join(d, "settings.json")
        _tiny_settings(settings)
        for w in workloads:
            problems += check_workload(w, settings, spec)
            print(f"selftest {w}: {'ok' if not problems else 'FAILED'}", flush=True)
            if problems:
                break
    for p in problems:
        print("selftest: " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
