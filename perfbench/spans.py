"""Per-layer tracing from outside the package.

Two sources, neither of which edits the engine:

* ``Tracer`` wraps module-level functions of ``plans.checkpoint``,
  ``plans.onepass`` and ``plans.engine`` by replacing the module attribute
  for the duration of a call. The engine looks these up at call time, so a
  wrapper sees every call; ``uninstall`` puts the originals back.
* ``StatusStore`` reads Spark's own status stores after the call: SQL
  executions (attributed to a span by the output path of their write),
  the jobs and stages under them, and the SQL metrics of the Python UDF
  nodes. The listener bus is drained first so the last write is present.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from dataclasses import dataclass, field

import hoststat

from np_data_validation_spark.plans import checkpoint as CP
from np_data_validation_spark.plans import engine as EN
from np_data_validation_spark.plans import onepass as OP

#: (module, attribute) -> span name
WRAPPED = {
    (CP, "input_fingerprints"): "checkpoint.fingerprint",
    (CP, "content_fingerprints"): "checkpoint.content_fingerprint",
    (CP, "recorded_lineage"): "checkpoint.state_read",
    (CP, "done_partitions"): "checkpoint.state_read",
    (CP, "write_state_rows"): "checkpoint.state_write",
    (CP, "fingerprints_from_identities"): "checkpoint.ids_fingerprint",
    (OP, "validate_onepass"): "onepass.run",
    (EN, "run_validation"): "engine.run",
    (EN, "_partition_metrics"): "engine.partition_metrics",
}

#: last path component of a batch work table -> write span
WORK_WRITES = {
    "pairs_stage1": "onepass.stage1_write",
    "pairs_probe": "onepass.probe_write",
    "identities": "onepass.identities_write",
    "rolled": "onepass.rolled_write",
}

#: path relative to --out -> write span
OUT_WRITES = {
    "verdicts": "engine.results_write",
    "violations": "engine.results_write",
    "manifest_violations": "engine.manifest_audit",
    "_validation_state": "checkpoint.state_write",
}

#: spans whose jobs get stage totals (.jobs, .executor_cpu_s, ...)
STAGE_SPANS = (*WORK_WRITES.values(), "engine.results_write",
               "engine.manifest_audit", "checkpoint.content_fingerprint")

_WRITE_ARG = re.compile(r"Arguments: file:([^\s,\]]+)")


@dataclass
class Span:
    name: str
    t0: float                 # epoch seconds, comparable with Spark's clock
    t1: float = 0.0
    parent: "Span | None" = None
    args: tuple = ()
    result: object = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        for (mod, attr), name in WRAPPED.items():
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            span = Span(name, time.time(), parent=stack[-1] if stack else None, args=args)
            self.spans.append(span)
            stack.append(span)
            try:
                span.result = fn(*args, **kwargs)
                return span.result
            finally:
                span.t1 = time.time()
                stack.pop()

        return traced


@dataclass
class Execution:
    """One SQL execution: wall interval, jobs, and the span it belongs to."""
    t0: float
    t1: float
    jobs: list[int]
    path: str | None          # output path of a write, else None
    plan: str
    python_rows: int          # rows out of Python UDF nodes
    span: str | None = None


@dataclass
class StageTotals:
    jobs: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    busy: list[tuple[float, float]] = field(default_factory=list)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def _metric_int(text: str | None) -> int:
    return int(text.replace(",", "")) if text else 0


class StatusStore:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._core = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        """Jobs submitted within [t0, t1] (epoch s)."""
        self.drain()
        out = []
        for j in self._list(self._core.jobsList(None)):
            sub = _opt_ms(j.submissionTime())
            if sub is not None and t0 <= sub <= t1:
                out.append(j.jobId())
        return out

    def executions(self, t0: float, t1: float) -> list[Execution]:
        """Completed SQL executions submitted within [t0, t1] (epoch s)."""
        self.drain()
        out = []
        for e in self._list(self._sql.executionsList()):
            start = e.submissionTime() / 1000
            end = _opt_ms(e.completionTime())
            if not (t0 <= start <= t1) or end is None:
                continue
            plan = e.physicalPlanDescription()
            m = _WRITE_ARG.search(plan)
            out.append(Execution(
                t0=start, t1=end,
                jobs=sorted(self._list(e.jobs().keySet())),
                path=m.group(1) if m else None, plan=plan,
                python_rows=self._python_rows(e.executionId()),
            ))
        return sorted(out, key=lambda x: x.t0)

    def _python_rows(self, exec_id: int) -> int:
        values = self._conv.asJava(self._sql.executionMetrics(exec_id))
        n = 0
        for node in self._list(self._sql.planGraph(exec_id).allNodes()):
            if "EvalPython" not in node.name():
                continue
            for m in self._list(node.metrics()):
                if m.name() == "number of output rows":
                    n += _metric_int(values.get(m.accumulatorId()))
        return n

    def stage_totals(self, job_ids) -> StageTotals:
        """Sum of stage metrics over the given jobs (each stage once)."""
        tot = StageTotals(jobs=len(set(job_ids)))
        stages = set()
        for j in set(job_ids):
            stages.update(self._list(self._core.job(j).stageIds()))
        for sid in sorted(stages):
            try:
                s = self._core.stageAttempt(sid, 0, False, None, False, self._no_quantiles)._1()
            except Exception:  # noqa: BLE001 - stage evicted or never attempted
                continue
            tot.executor_cpu_s += s.executorCpuTime() / 1e9
            tot.shuffle_write_mb += s.shuffleWriteBytes() / 2**20
            tot.spill_mb += s.diskBytesSpilled() / 2**20
            first, done = _opt_ms(s.firstTaskLaunchedTime()), _opt_ms(s.completionTime())
            if first is not None and done is not None:
                tot.busy.append((first, done))
        return tot


def attribute(executions: list[Execution], out_dir: str) -> None:
    """Name each write execution's span from its output path."""
    out_dir = os.path.abspath(out_dir)
    for e in executions:
        if e.path is None:
            continue
        rel = os.path.relpath(e.path, out_dir)
        if rel.startswith("_work" + os.sep):
            e.span = WORK_WRITES.get(os.path.basename(rel))
        else:
            e.span = OUT_WRITES.get(rel)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layer_metrics(call: dict, tracer: Tracer, store: StatusStore, out_dir: str,
                  snapshot_rows: int) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of one traced CLI call.

    ``call`` holds the call's epoch window (``e0``, ``e1``), its wall time
    and the CLI's JSON summary (``res``)."""
    lo, hi = call["e0"], call["e1"]
    execs = store.executions(lo, hi)
    attribute(execs, out_dir)
    by_span: dict[str, list] = {}
    for s in tracer.spans:
        by_span.setdefault(s.name, []).append(s)
    for e in execs:
        if e.span is not None:
            by_span.setdefault(e.span, []).append(e)

    def busy(name):
        return covered([(x.t0, x.t1) for x in by_span.get(name, [])], lo, hi)

    m: dict[str, tuple[float, str]] = {}
    onepass = by_span.get("onepass.run", [])
    m["onepass.calls"] = (len(onepass), "count")
    m["onepass.run_s"] = (busy("onepass.run"), "s")
    m["onepass.n_missing"] = (sum(s.result.n_missing for s in onepass), "count")
    m["onepass.probe_salted"] = (sum(int(s.result.probe_salted) for s in onepass), "count")
    m["onepass.probe_keyed_semi"] = (
        sum("LeftSemi" in e.plan for e in by_span.get("onepass.probe_write", [])), "count")
    for name in WORK_WRITES.values():
        m[f"{name}_s"] = (busy(name), "s")
    run_id = call["res"]["run_id"]
    work = os.path.join(out_dir, "_work", f"run={run_id}")
    m["onepass.work_bytes"] = (hoststat.dir_bytes(work) if run_id else 0, "bytes")

    m["hashing.rows_per_input_row"] = (
        sum(e.python_rows for e in execs) / snapshot_rows, "rows/row")

    own_fp = [s for s in by_span.get("checkpoint.fingerprint", [])
              if s.parent is None or s.parent.name != "checkpoint.content_fingerprint"]
    m["checkpoint.fingerprint_s"] = (covered([(s.t0, s.t1) for s in own_fp], lo, hi), "s")
    for name in ("content_fingerprint", "state_read", "state_write", "ids_fingerprint"):
        m[f"checkpoint.{name}_s"] = (busy(f"checkpoint.{name}"), "s")
    m["checkpoint.partitions_rehashed"] = (
        sum(len(s.args[1]) for s in by_span.get("checkpoint.content_fingerprint", [])),
        "count")
    m["checkpoint.partitions_skipped"] = (len(call["res"]["skipped"]), "count")

    # every span below engine.run: wrapped functions and attributed writes
    phases = [(s.t0, s.t1) for s in tracer.spans if s.name != "engine.run"]
    phases += [(e.t0, e.t1) for e in execs if e.span is not None]
    runs = by_span.get("engine.run", [])
    run_lo, run_hi = (runs[0].t0, runs[0].t1) if runs else (lo, lo)
    m["engine.run_s"] = (run_hi - run_lo, "s")
    m["engine.self_s"] = (run_hi - run_lo - covered(phases, run_lo, run_hi), "s")
    m["engine.batches"] = (len({os.path.dirname(e.path) for e in execs
                                if e.span in WORK_WRITES.values()}), "count")
    m["engine.results_write_s"] = (busy("engine.results_write"), "s")
    m["engine.partition_metrics_s"] = (busy("engine.partition_metrics"), "s")
    m["engine.manifest_audit_s"] = (busy("engine.manifest_audit"), "s")
    all_busy = store.stage_totals(store.jobs_between(lo, hi)).busy
    m["engine.no_task_s"] = (
        run_hi - run_lo - covered(all_busy, run_lo, run_hi), "s")

    for name in STAGE_SPANS:
        if name == "checkpoint.content_fingerprint":
            wins = [(s.t0, s.t1) for s in by_span.get(name, [])]
            jobs = [j for e in execs if any(a <= e.t0 <= b for a, b in wins) for j in e.jobs]
        else:
            jobs = [j for e in by_span.get(name, []) for j in e.jobs]
        tot = store.stage_totals(jobs)
        m[f"{name}.jobs"] = (tot.jobs, "count")
        m[f"{name}.executor_cpu_s"] = (tot.executor_cpu_s, "s")
        m[f"{name}.shuffle_write_mb"] = (tot.shuffle_write_mb, "MiB")
        m[f"{name}.spill_mb"] = (tot.spill_mb, "MiB")

    m["trace.wall_s"] = (call["wall"], "s")
    m["trace.coverage"] = (covered(phases, lo, hi) / (hi - lo), "frac")
    return m
