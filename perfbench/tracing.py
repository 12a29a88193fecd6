"""Spans and Spark-side counters, recorded from outside the program.

Everything here wraps the benchmark's own calls into the layers or reads
Spark's public status surfaces after a statement has finished:

- ``Tracer`` keeps spans (name, start, end, parent, attributes) in memory;
  the runner writes them out when the run ends.
- ``instrument_session`` wraps the module-level names ``qurious_spark.session``
  calls (dialect rewrites, ``_checkpoint``, ``Session._execute_ddl_dml``) so
  those layers get spans without editing the library. It is installed
  around each traced execution and undone by ``uninstrument``.
- ``Py4jCounter`` counts py4j round trips on the gateway client.
- ``spark_jobs`` reads job and stage records for one job group from the
  status store (``statusStore().job(id)`` / ``lastStageAttempt(id)``), which
  is populated with the UI disabled.
- ``catalyst_phases`` reads ``queryExecution().tracker().phases()``.
- ``broadcast_metrics`` walks the executed plan through
  ``AdaptiveSparkPlanExec.executedPlan()`` and query stages for the SQL
  metrics of every BroadcastExchange.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; times are epoch seconds (``time.time``) so
    they line up with the JVM's job submission and completion stamps."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(next(self._ids), self._stack[-1] if self._stack else None, name,
                  time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span measured elsewhere (a Spark job from the status store)."""
        sp = Span(next(self._ids), parent, name, start, end, attrs)
        self.spans.append(sp)
        return sp

    def within(self, root: Span, name: str) -> list[Span]:
        """Spans called ``name`` that descend from ``root``."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and p != root.id:
                p = by_id[p].parent
            if p == root.id:
                out.append(s)
        return out

    def as_json(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "name": s.name, "start": round(s.start, 6),
             "end": round(s.end, 6), **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------- #
# library wrappers (traced runs only)
# --------------------------------------------------------------------------- #

_DIALECT_NAMES = ("parse_ddl_dml", "rewrite_table_functions", "fold_interval_quantity",
                  "rewrite_qualify")


def _wrap(tracer: Tracer, name: str, fn):
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapped.__wrapped__ = fn
    return wrapped


def instrument_session(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap the dialect, checkpoint and DML entry points ``Session`` calls.

    Returns the (owner, attribute, original) triples for ``uninstrument``."""
    import qurious_spark.session as session_mod

    saved = []
    for attr in _DIALECT_NAMES:
        orig = getattr(session_mod, attr)
        saved.append((session_mod, attr, orig))
        setattr(session_mod, attr, _wrap(tracer, "dialect", orig))
    orig = session_mod._checkpoint
    saved.append((session_mod, "_checkpoint", orig))
    session_mod._checkpoint = _wrap(tracer, "checkpoint", orig)
    cls = session_mod.Session
    orig = cls.__dict__["_execute_ddl_dml"]
    saved.append((cls, "_execute_ddl_dml", orig))
    cls._execute_ddl_dml = _wrap(tracer, "session.dml", orig)
    return saved


def uninstrument(saved) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


class Py4jCounter:
    """Counts py4j commands sent on the gateway client while enabled."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self._orig = self.client.send_command

    def install(self) -> None:
        orig = self._orig

        def counted(*args, **kwargs):
            self.count += 1
            return orig(*args, **kwargs)

        self.client.send_command = counted

    def uninstall(self) -> None:
        self.client.send_command = self._orig


# --------------------------------------------------------------------------- #
# Spark status store and plan readers
# --------------------------------------------------------------------------- #

def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Wait until the status store has seen every event posted so far; the
    listener bus is asynchronous, so a job that just ended may not be there."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt) -> float | None:
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


def spark_jobs(spark, ids: list[int]) -> list[dict]:
    """Job and stage figures for ``ids`` from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in ids:
        job = store.job(jid)
        stages = []
        for sid in _seq(job.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt recorded
                continue
            if st.status().toString() == "SKIPPED":
                continue
            stages.append({
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1000.0,
                "cpu_s": st.executorCpuTime() / 1e9,
                "input_bytes": st.inputBytes(),
                "input_records": st.inputRecords(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            })
        out.append({
            "id": jid,
            "submitted": _opt_ms(job.submissionTime()),
            "completed": _opt_ms(job.completionTime()),
            "stages": stages,
        })
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations in ms (parsing, analysis, optimization,
    planning) from the DataFrame's query-execution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("parsing", "analysis", "optimization", "planning"):
        got = phases.get(name)
        out[name] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def broadcast_metrics(df) -> dict[str, float]:
    """Sum of BroadcastExchange SQL metrics in the final executed plan."""
    totals = {"bytes": 0.0, "collect_ms": 0.0, "build_ms": 0.0}
    seen: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        key = node.id() if hasattr(node, "id") else id(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "BroadcastExchange":
            metrics = node.metrics()
            for metric, out_key in (("dataSize", "bytes"), ("collectTime", "collect_ms"),
                                    ("buildTime", "build_ms")):
                got = metrics.get(metric)
                if got.isDefined():
                    totals[out_key] += float(got.get().value())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return totals


def plan_nodes(df) -> int:
    """Operator count of a DataFrame's logical plan."""
    text = df._jdf.queryExecution().logical().numberedTreeString()
    return sum(1 for line in text.splitlines() if line[:1].isdigit())
