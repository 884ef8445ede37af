"""Measurement from outside the library: spans, Spark job/stage/SQL metrics
and process-tree memory.

Nothing here edits the package. Spans come from wrapping the package's
module functions (and every module attribute that names the same function
object, so ``from x import f`` bindings are wrapped too) and the
``_fit`` / ``_transform`` methods of its pipeline and ml classes. Spark's
own counters are read back from the driver UI's REST API after the run.
"""

from __future__ import annotations

import calendar
import functools
import importlib
import inspect
import json
import os
import pkgutil
import re
import threading
import time
import urllib.request
from dataclasses import dataclass, field

PACKAGE = "consumer_loans_analysis_spark"
# package sub-packages whose calls are spans; ``plans`` builds are timed by
# the workload driver itself (the registry holds the query callables)
TRACED_LAYERS = ("session", "sources", "functions", "operators", "pipeline", "ml")
OPERATOR_GROUPS = ("dedup", "similarity", "text", "curation")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)

    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((max(c.start, self.start), min(c.end, self.end)) for c in self.children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (self.end - self.start) - covered


class Tracer:
    """In-memory span recorder; one span stack per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack = self._stack()
        self.enabled = False

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> Span:
        st = self._stack()
        # a span opened on a helper thread (e.g. a parallel fit) belongs to
        # the span the client thread has open
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, layer, time.time(), parent=parent)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            if sp.parent is not None:
                sp.parent.children.append(sp)
            self.spans.append(sp)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper


def _layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) < 2 or parts[0] != PACKAGE or parts[1] not in TRACED_LAYERS:
        return None
    if parts[1] == "operators" and len(parts) > 2 and parts[2] in OPERATOR_GROUPS:
        return f"operators.{parts[2]}"
    return parts[1]


def _package_modules() -> list:
    pkg = importlib.import_module(PACKAGE)
    mods = [pkg]
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if ".streaming" in info.name:
            continue
        mods.append(importlib.import_module(info.name))
    return mods


def install(tracer: Tracer) -> int:
    """Wrap every public function of the traced layers, every binding of it
    in any package module, and the ``_fit``/``_transform`` methods of the
    pipeline and ml classes. Returns the number of wrapped callables."""
    mods = _package_modules()
    wrapped: dict[int, object] = {}
    for mod in mods:
        layer = _layer_of(mod.__name__)
        if layer is None:
            continue
        short = mod.__name__[len(PACKAGE) + 1:]
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_"):
                continue
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                wrapped[id(obj)] = tracer.wrap(obj, f"{short}.{attr}", layer)
            elif inspect.isclass(obj) and obj.__module__ == mod.__name__ and layer in ("pipeline", "ml"):
                for meth in ("_fit", "_transform"):
                    fn = obj.__dict__.get(meth)
                    if fn is not None and not hasattr(fn, "__perfbench_wrapped__"):
                        setattr(obj, meth, tracer.wrap(fn, f"{short}.{attr}.{meth}", layer))
    # rebind every module-level name that points at a wrapped function
    for mod in mods:
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
    return len(wrapped)


# --- Spark UI REST ------------------------------------------------------------

def _parse_ts(s: str | None) -> float | None:
    """Epoch seconds of a REST timestamp such as ``2026-01-01T00:00:00.123GMT``."""
    if not s:
        return None
    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


class SparkRest:
    """Reads jobs, stages and SQL executions of the live application."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the status store shows no running job."""
        t_end = time.time() + timeout
        while time.time() < t_end:
            if not self._get("/jobs?status=running"):
                return
            time.sleep(0.1)

    def jobs(self) -> list[dict]:
        out = []
        for j in self._get("/jobs"):
            j["_submit"] = _parse_ts(j.get("submissionTime"))
            out.append(j)
        return out

    def stages(self) -> dict[int, dict]:
        by_id: dict[int, dict] = {}
        for s in self._get("/stages"):
            if s.get("status") in ("COMPLETE", "FAILED"):
                by_id.setdefault(s["stageId"], s)
        return by_id

    def sql(self) -> list[dict]:
        return self._get("/sql?details=true&planDescription=false&length=100000")


_DUR = re.compile(r"^\s*([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def sql_duration_s(value: str) -> float:
    """Total of a SQL duration metric (``"total (min, med, max)\\n5.3 s (…)"``)."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = _DUR.match(line)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


# --- memory --------------------------------------------------------------------


def _tree(root: int) -> dict[int, tuple[int, float, str]]:
    """``{pid: (rss kB, CPU seconds incl. reaped children, command)}`` of
    ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    stat: dict[int, tuple[float, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        rp = st.rfind(")")
        f = st[rp + 2:].split()
        children.setdefault(int(f[1]), []).append(int(d))
        # utime, stime, cutime, cstime
        cpu = sum(int(x) for x in f[11:15]) / _CLK_TCK
        stat[int(d)] = (cpu, st[st.find("(") + 1:rp])
    out: dict[int, tuple[int, float, str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE_KB
        except OSError:
            continue
        cpu, comm = stat.get(pid, (0.0, ""))
        out[pid] = (rss, cpu, comm)
        todo.extend(children.get(pid, []))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def descendants(root: int) -> list[int]:
    return [p for p in _tree(root) if p != root]


# HotSpot's JIT compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``
# keeps them alive, so their CPU time never folds back into the process's)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM ``pid``."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        rp = st.rfind(")")
        if st[st.find("(") + 1:rp].startswith(_JIT_THREADS):
            f = st[rp + 2:].split()
            ticks += int(f[11]) + int(f[12])
    return ticks / _CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, not counting
    the JVM's JIT compilers: how much of their work lands in a pass depends
    on when HotSpot decides to compile, not on the pass. CPU time, unlike
    wall time, does not grow when the host steals the vCPUs."""
    tree = _tree(root)
    return sum(cpu for _, cpu, _ in tree.values()) - sum(
        _jit_cpu_s(pid) for pid, (_, _, comm) in tree.items() if comm == "java"
    )


class RssSampler:
    """Samples the RSS of this process tree every ``interval`` seconds and
    keeps the peaks: total, driver Python, JVM, and Python workers."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.root = os.getpid()
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        tree = _tree(self.root)
        parts = {"driver": tree[self.root][0], "jvm": 0, "workers": 0}
        for pid, (kb, _, comm) in tree.items():
            if pid != self.root:
                parts["jvm" if comm == "java" else "workers"] += kb
        parts["total"] = sum(kb for kb, _, _ in tree.values())
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False
