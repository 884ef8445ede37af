"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (``settings.json``): ``queries`` (registry queries: eager-build
dedup / similarity paths and a relational one, each checked against its
DuckDB oracle) and ``loans`` (fit the EP1+EP2 pipeline
with its model imputers and a GaussianNB head, then score a batch and a
closed loop of small requests from one client). Inputs are generated from
``--seed`` inside the checkout (``.perfbench_work/``); the package receives
only those files.

Host settings (``settings.json``): the core count, the driver heap, Spark
confs, and each workload's input size and JVM options. ``queries`` runs its
JVM with C1 only (``-XX:TieredStopAtLevel=1``): with C2 its passes kept
getting faster for several passes after the warm-up, as C2 compiled. ``loans``
keeps C2, which halves its pass. The CPU metrics leave out the JIT compiler
threads (``spans.tree_cpu_s``).

A run: set-up (the session starts, then the inputs are generated, written and
read back ``SETUP_ROUNDS`` times, each time in a restarted session; then one
untimed warm-up pass over the same operations), timed passes until
``--seconds`` have elapsed (at least one), then the correctness checks,
outside the timed window. ``--trace 0`` prints the end-to-end metrics, the
medians over the timed passes scaled to a reference host speed (see
``REF_PROBE_S``); ``--trace 1`` alternates untraced and traced
passes (at least untraced, traced, untraced) and prints the per-layer metrics
of the traced passes, unscaled, with ``host.probe_s`` to scale them by. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; details go
to stderr. Exit code 2: the program is missing or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "consumer_loans_analysis_spark"
WORK_DIR = ".perfbench_work"
# set-up is repeated (the inputs prepared again in a restarted session) and
# its median reported
SETUP_ROUNDS = 2
# phases of the fit-once part of an operation; all others serve
BUILD_PHASES = ("build", "fit")
# host-speed probe: a fixed single-threaded pure-Python loop, run PROBE_REPS
# times after the warm-up and after every timed pass. The end-to-end times
# are scaled by REF_PROBE_S / (the run's median probe): this shared host's
# speed drifts by up to 1.6x within an hour and moves every time metric
# with it, and the probe follows that drift. REF_PROBE_S is the probe's
# usual time on the 4-vCPU host the baseline was recorded on.
PROBE_REPS = 3
REF_PROBE_S = 0.125


def _process_start() -> float:
    """Wall-clock start time of this process (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _environment(settings: dict, work: str) -> int:
    """Pin the host-fitting settings for this process, the JVM it starts and
    the Python workers the JVM starts. Returns the core count."""
    cores = max(1, min(int(settings["cores"]), len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": settings["driver_memory"],
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # workers import the package from the checkout, whatever the cwd
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
    })
    tempfile.tempdir = tmp
    return cores


def _start_spark(settings: dict, cfg: dict, work: str, cores: int):
    from consumer_loans_analysis_spark.session import get_spark

    conf = dict(settings["spark_conf"])
    conf["spark.driver.extraJavaOptions"] = " ".join(
        [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *cfg["jvm_options"]]
    )
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    return get_spark("perfbench", master=f"local[{cores}]", extra_configs=conf)


def _stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    pids = spans.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _heap_peaks(spark, reset: bool = False) -> float:
    """Sum of the JVM heap pools' peak usage in MB (optionally reset)."""
    jvm = spark.sparkContext._jvm
    total = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
            if reset:
                pool.resetPeakUsage()
    return total / 2**20


def _tail(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it, and its
    value; None below 11 samples."""
    n = len(values)
    pct = (100 * (n - 10)) // n if n > 10 else 0
    if pct < 1:
        return None
    return pct, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Pass:
    def __init__(self, ops, start: float, end: float, cpu: float, traced: bool) -> None:
        self.ops, self.start, self.end, self.cpu, self.traced = ops, start, end, cpu, traced

    @property
    def wall(self) -> float:
        return self.end - self.start


def _probe() -> tuple[float, float]:
    """Wall and CPU seconds of a fixed single-threaded pure-Python loop."""
    t0, c0 = time.perf_counter(), time.process_time()
    s = 0
    for i in range(2_000_000):
        s += i * i % 7
    return time.perf_counter() - t0, time.process_time() - c0


def _timed_pass(spark, bench, pass_no: int, traced: bool) -> Pass:
    """One pass, started from a collected heap on both sides of py4j."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    c0 = spans.tree_cpu_s(os.getpid())
    t0 = time.time()
    ops = bench.run_pass(spark, pass_no)
    return Pass(ops, t0, time.time(), spans.tree_cpu_s(os.getpid()) - c0, traced)


def _end_to_end(passes: list[Pass], setup_s: float) -> dict[str, float]:
    """Medians over the timed passes. ``wall_s``: wall seconds of a pass;
    ``cpu_s``: CPU seconds the whole process tree (driver, JVM, Python
    workers) uses in it; ``build_cpu_s``: the part of that in the fit-once
    phases (building the query DataFrames, with the index fits and
    checkpoints they run eagerly, or fitting the loans pipeline);
    ``serve_cpu_s``: the part in the query-many phases (the queries'
    actions, or scoring the loans batch and requests). The phase split is
    in CPU, not wall, seconds: on a shared host, CPU repeats from run to run
    about twice as closely."""
    def phase_cpu(p: Pass, build: bool) -> float:
        return sum(cpu for op in p.ops for ph, cpu in op.cpu.items() if (ph in BUILD_PHASES) == build)

    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p.wall for p in passes),
        "cpu_s": statistics.median(p.cpu for p in passes),
        "build_cpu_s": statistics.median(phase_cpu(p, True) for p in passes),
        "serve_cpu_s": statistics.median(phase_cpu(p, False) for p in passes),
    }


def run(args, settings: dict, cfg: dict, work: str, cores: int) -> tuple[dict, dict]:
    import layers
    import workloads

    t_proc = _process_start()
    bench = workloads.WORKLOADS[args.workload](cfg, args.seed, work)
    rounds = []
    spark = None
    try:
        # set-up: the first round starts the JVM; later rounds stop and
        # restart the session in it and prepare the inputs again
        for r in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            t0 = t_proc if r == 0 else time.time()
            spark = _start_spark(settings, cfg, work, cores)
            t1 = time.time()
            bench.prepare(spark)
            rounds.append((t1 - t0, time.time() - t1))
        # warm-up: one untimed pass, so that the timed ones start with loaded
        # classes, compiled code and a running Python worker pool
        warmup_s = _timed_pass(spark, bench, "warmup", False).wall
        probes = [_probe() for _ in range(PROBE_REPS)]
        session_s = rounds[0][0]
        inputs_s = statistics.median(r[1] for r in rounds)
        setup_s = session_s + inputs_s + warmup_s

        tracer = spans.Tracer()
        passes: list[Pass] = []
        _heap_peaks(spark, reset=True)
        # memory is sampled in the traced run only: the sampler thread
        # competes with the driver for the GIL
        with spans.RssSampler() if args.trace else contextlib.nullcontext() as mem:
            if args.trace:
                spans.install(tracer)
            # traced: untraced and traced passes alternate, so that drift in
            # the host's speed falls on both alike
            t_end = time.time() + args.seconds
            while len(passes) < (3 if args.trace else 1) or time.time() < t_end:
                traced = bool(args.trace) and len(passes) % 2 == 1
                tracer.enabled = traced
                passes.append(_timed_pass(spark, bench, len(passes), traced))
                probes += [_probe() for _ in range(PROBE_REPS)]
            tracer.enabled = False
        heap_mb = _heap_peaks(spark)

        probe_wall = statistics.median(w for w, _ in probes)
        probe_cpu = statistics.median(c for _, c in probes)
        layer_m: dict[str, float] = {}
        if args.trace:
            rest = spans.SparkRest(spark.sparkContext)
            rest.settle()
            jobs, stages, sql = rest.jobs(), rest.stages(), rest.sql()
            traced = [p for p in passes if p.traced]
            per_pass = [
                layers.pass_metrics(p.ops, tracer.spans, jobs, stages, sql, cores, (p.start, p.end))
                for p in traced
            ]
            layer_m = {k: statistics.fmean(d[k] for d in per_pass) for k in per_pass[0]}
            untraced_wall = statistics.median(p.wall for p in passes if not p.traced)
            layer_m.update({
                "session.start_s": session_s,
                "setup.inputs_s": inputs_s,
                "setup.warmup_s": warmup_s,
                "mem.peak_rss_mb": mem.peak["total"] / 1024.0,
                "mem.jvm_heap_peak_mb": heap_mb,
                "mem.driver_py_rss_peak_mb": mem.peak["driver"] / 1024.0,
                "mem.workers_py_rss_peak_mb": mem.peak["workers"] / 1024.0,
                "trace.untraced_wall_s": untraced_wall,
                "trace.wall_s": statistics.median(p.wall for p in traced),
                "trace.overhead_s": statistics.median(p.wall for p in traced) - untraced_wall,
                "trace.spans": len(tracer.spans) / len(traced),
                "host.probe_s": probe_wall,
            })
        timed = [p for p in passes if not p.traced]
        raw = _end_to_end(timed, setup_s)
        e2e = {
            k: v * REF_PROBE_S / (probe_cpu if k.endswith("cpu_s") else probe_wall)
            for k, v in raw.items()
        }
        bench.check([p.ops for p in passes])
    finally:
        if spark is not None:
            _stop_spark(spark)

    all_ops = [op for p in passes for op in p.ops]
    errors = [f"{op.name}: {op.error}" for op in all_ops if op.error]
    # operation latency is a diagnostic: per run it rests on a handful of
    # samples and does not repeat within a tenth across seeds
    lat = [op.latency for p in timed for op in p.ops if op.kind in ("query", "request")]
    tail = _tail(lat)
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "pass_walls_s": [round(p.wall, 3) for p in passes],
        "pass_cpu_s": [round(p.cpu, 3) for p in passes],
        "pass_traced": [p.traced for p in passes],
        "setup_rounds_s": [[round(x, 3) for x in r] for r in rounds],
        "warmup_s": round(warmup_s, 3),
        "op_latency_samples": len(lat),
        "op_p50_ms": 1000.0 * statistics.median(lat) if lat else None,
        "op_tail": {"percentile": tail[0], "ms": 1000.0 * tail[1]} if tail else None,
        "peak_rss_mb_by_process": {k: round(v / 1024.0, 1) for k, v in mem.peak.items()} if mem else None,
        "errors": errors[:10],
        "probe_s": {"wall": round(probe_wall, 4), "cpu": round(probe_cpu, 4)},
        "unscaled": {k: round(v, 3) for k, v in raw.items()},
    }
    result = {
        "attempted": len(all_ops),
        "failed": len(errors),
        "metrics": layer_m if args.trace else e2e,
    }
    return result, diag


def _metric_specs(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--settings", default=os.path.join(HERE, "settings.json"),
                    help="workload settings (the self-test passes a shrunk copy)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(args.settings) as fh:
        settings = json.load(fh)
    cfg = settings["workloads"].get(args.workload)
    if cfg is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(settings['workloads'])}",
              file=sys.stderr)
        return 2
    specs = _metric_specs(bool(args.trace))

    work = os.path.join(ROOT, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    cores = _environment(settings, work)
    sys.path.insert(1, ROOT)

    result, diag = run(args, settings, cfg, work, cores)
    missing = sorted(set(specs) - set(result["metrics"]))
    if missing:
        raise RuntimeError(f"metrics listed in BENCHMARK.json but not measured: {missing}")
    result["metrics"] = {k: {"value": float(result["metrics"][k]), "unit": u} for k, u in specs.items()}
    print("perfbench " + json.dumps(diag), file=sys.stderr)
    out = {"correct": result["failed"] == 0, **result}
    print(json.dumps(out), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
