"""Per-layer metrics of one traced pass.

Jobs are attributed to spans and operation phases by their submission time
(the client runs one operation at a time): a job belongs to the innermost
span open when it was submitted. Layer totals use self time (a span minus
its child spans) or, for the ``*_s`` metrics of fit / transform / read
calls, the inclusive time of the outermost span of that layer.
"""

from __future__ import annotations

import numpy as np

from spans import Span, sql_duration_s

# REST timestamps have millisecond resolution
_TS_SLACK = 0.001


def _outermost(spans: list[Span], pred) -> list[Span]:
    out = []
    for sp in spans:
        if not pred(sp):
            continue
        p = sp.parent
        while p is not None and not pred(p):
            p = p.parent
        if p is None:
            out.append(sp)
    return out


def _under(sp: Span | None, pred) -> bool:
    """``sp`` or one of its ancestors satisfies ``pred``."""
    while sp is not None:
        if pred(sp):
            return True
        sp = sp.parent
    return False


def _within(t: float, s: float, e: float) -> bool:
    return s - _TS_SLACK <= t <= e


class Attribution:
    """Maps each job of the traced window to its owning span and phase."""

    def __init__(self, jobs: list[dict], spans: list[Span], phases: list[tuple[str, float, float]]) -> None:
        self.jobs = jobs
        starts = np.array([sp.start for sp in spans]) if spans else np.zeros(0)
        ends = np.array([sp.end for sp in spans]) if spans else np.zeros(0)
        self.owner: dict[int, Span | None] = {}
        self.phase: dict[int, str | None] = {}
        for j in jobs:
            t = j["_submit"]
            inside = (starts - _TS_SLACK <= t) & (t <= ends)
            self.owner[j["jobId"]] = spans[int(np.argmax(np.where(inside, starts, -np.inf)))] if inside.any() else None
            self.phase[j["jobId"]] = next((name for name, s, e in phases if _within(t, s, e)), None)

    def jobs_in(self, sp_list: list[Span]) -> list[dict]:
        return [j for j in self.jobs if any(_within(j["_submit"], sp.start, sp.end) for sp in sp_list)]

    def owned_by(self, pred) -> list[dict]:
        return [j for j in self.jobs if self.owner[j["jobId"]] is not None and pred(self.owner[j["jobId"]])]

    def in_phase(self, *names: str) -> list[dict]:
        return [j for j in self.jobs if self.phase[j["jobId"]] in names]


def _stages_of(jobs: list[dict], stages: dict[int, dict]) -> list[dict]:
    ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    return [stages[s] for s in sorted(ids) if s in stages]


def _is_fit(sp: Span) -> bool:
    return sp.name.endswith("._fit") or ".fit_" in sp.name


def _is_transform(sp: Span) -> bool:
    return sp.name.endswith("._transform")


def pass_metrics(ops, spans: list[Span], jobs: list[dict], stages: dict[int, dict],
                 sql: list[dict], cores: int, window: tuple[float, float]) -> dict[str, float]:
    """Per-layer metrics of one traced pass (``ops`` ran inside ``window``)."""
    w0, w1 = window
    jobs = [j for j in jobs if j["_submit"] is not None and _within(j["_submit"], w0, w1)]
    spans = [sp for sp in spans if sp.start >= w0 - _TS_SLACK and sp.end <= w1 + _TS_SLACK]
    phases = [(name, s, e) for op in ops for name, (s, e) in op.phases.items()]
    att = Attribution(jobs, spans, phases)
    m: dict[str, float] = {}

    def layer(prefix):
        return lambda sp: sp.layer == prefix or sp.layer.startswith(prefix + ".")

    def self_s(pred):
        return sum(sp.self_time() for sp in spans if pred(sp))

    def incl_s(pred):
        return sum(sp.end - sp.start for sp in _outermost(spans, pred))

    m["trace.phases_s"] = sum(e - s for op in ops for s, e in op.phases.values())
    queries = [op for op in ops if op.kind == "query"]
    m["plans.build_s"] = sum(op.phase_s("build") for op in queries)
    m["plans.build_jobs"] = len(att.in_phase("build"))
    exec_jobs = att.in_phase("exec")
    exec_stages = _stages_of(exec_jobs, stages)
    m["exec.action_s"] = sum(op.phase_s("exec") for op in ops)
    m["exec.jobs"] = len(exec_jobs)
    m["exec.stages"] = len(exec_stages)
    m["exec.tasks"] = sum(s["numTasks"] for s in exec_stages)
    m["fetch.rows"] = sum(op.rows for op in ops)
    m["fetch.bytes"] = sum(s["resultSize"] for s in exec_stages)

    src = layer("sources")
    m["sources.read_calls"] = sum(1 for sp in spans if src(sp))
    m["sources.read_s"] = incl_s(src)
    m["sources.read_jobs"] = len(att.owned_by(src))

    fn = layer("functions")
    m["functions.calls"] = sum(1 for sp in spans if fn(sp))
    m["functions.self_s"] = self_s(fn)
    m["functions.jobs"] = len(att.owned_by(fn))

    opr = layer("operators")
    m["operators.self_s"] = self_s(opr)
    op_jobs = att.owned_by(opr)
    m["operators.jobs"] = len(op_jobs)
    m["operators.fetch_bytes"] = sum(s["resultSize"] for s in _stages_of(op_jobs, stages))
    for g in ("dedup", "similarity", "text", "curation"):
        m[f"operators.{g}.self_s"] = self_s(layer(f"operators.{g}"))

    for lay in ("pipeline", "ml"):
        in_lay = layer(lay)
        fit = lambda sp, f=in_lay: f(sp) and _is_fit(sp)  # noqa: E731
        tr = lambda sp, f=in_lay: f(sp) and _is_transform(sp)  # noqa: E731
        m[f"{lay}.fit_s"] = incl_s(fit)
        m[f"{lay}.fit_jobs"] = len(att.owned_by(lambda sp, f=fit: _under(sp, f)))
        m[f"{lay}.transform_s"] = incl_s(tr)
        if lay == "pipeline":
            m["pipeline.transform_jobs"] = len(att.jobs_in(_outermost(spans, tr)))
            m["pipeline.model_imputer.fit_s"] = incl_s(lambda sp: sp.name.endswith("ModelImputer._fit"))

    batches = [op for op in ops if op.kind == "batch"]
    m["serve.batch_rows_per_s"] = sum(op.rows for op in batches) / max(1e-9, sum(op.latency for op in batches))
    requests = [op for op in ops if op.kind == "request"]
    n_req = max(1, len(requests))
    for ph in ("input", "plan", "exec"):
        m[f"serve.{ph}_ms"] = 1000.0 * sum(op.phase_s(ph) for op in requests) / n_req
    m["serve.latency_ms"] = 1000.0 * sum(op.latency for op in requests) / n_req
    req_phases = [(s, e) for op in requests for s, e in op.phases.values()]
    m["serve.jobs_per_request"] = sum(
        1 for j in jobs if any(_within(j["_submit"], s, e) for s, e in req_phases)
    ) / n_req

    all_stages = _stages_of(jobs, stages)
    run_s = sum(s["executorRunTime"] for s in all_stages) / 1000.0
    cpu_s = sum(s["executorCpuTime"] for s in all_stages) / 1e9
    m["spark.executor_run_s"] = run_s
    m["spark.executor_cpu_s"] = cpu_s
    m["spark.jvm_gc_s"] = sum(s["jvmGcTime"] for s in all_stages) / 1000.0
    m["spark.input_bytes"] = sum(s["inputBytes"] for s in all_stages)
    m["spark.input_records"] = sum(s["inputRecords"] for s in all_stages)
    m["spark.shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in all_stages)
    m["spark.shuffle_read_bytes"] = sum(s["shuffleReadBytes"] for s in all_stages)
    m["spark.spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in all_stages)
    m["spark.failed_tasks"] = sum(s["numFailedTasks"] for s in all_stages)
    m["spark.core_busy_share"] = run_s / ((w1 - w0) * cores)
    m["spark.cpu_share"] = cpu_s / run_s if run_s else 0.0

    job_ids = {j["jobId"] for j in jobs}
    execs = [e for e in sql if job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", []))]
    nodes = [n for e in execs for n in e.get("nodes", [])]
    m["sql.exchanges"] = sum(1 for n in nodes if n["nodeName"] in ("Exchange", "BroadcastExchange"))
    m["sql.python_s"] = sum(
        sql_duration_s(mt["value"]) for n in nodes for mt in n.get("metrics", [])
        if mt["name"] == "time to run Python workers"
    )
    return m
