"""The repository benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the datasets into
``.perfbench/data`` (``datagen.py``); Spark's scratch files, the warehouse
and the per-run artifacts also stay under ``.perfbench``.

One closed-loop client issues the workload's statements one at a time on
``local[nproc]``. A run is: set-up (a probe process sets up and exits, then
this process sets up; ``setup_s`` is the median of the two, each timed from
process start), one cold pass, the timed passes, then the DuckDB oracle
check of every result, outside the timed region. ``--trace 1`` runs the same
workload, records spans and Spark status-store figures on every second
execution of each statement, and reports the per-layer metrics plus the
tracing overhead (traced minus untraced executions).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A human-readable report and the host context go to stderr; the full record
(every execution, and the spans of a traced run) is written to
``.perfbench/results``. README.md lists every metric.
"""

from __future__ import annotations

import os
import time


def _since_process_start() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


# the interpreter's own start-up, before this line, is part of set-up time
T_START = time.time() - _since_process_start()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import datagen  # noqa: E402
import tracing  # noqa: E402
from workloads import (  # noqa: E402
    DML_CREATE, DML_TABLE, WORKLOADS, WRITE_KINDS, Workload, dml_round)

# Timed work per run: whole passes, not a clock cut-off, so every run of a
# workload has the same number of samples. ``--seconds`` buys
# ``round(seconds / PASS_S)`` timed passes: at ``--seconds 12``, 3 passes of
# headline_sf0.1, 2 of tpch_sf1 and 1 round of session_dml. A run then takes
# 50-65 s on a 4-core box that runs at half its best speed (README.md,
# "Budget").
PASS_S = {"headline_sf0.1": 4.0, "tpch_sf1": 6.0, "session_dml": 12.0}
SETUP_PROBES = 1
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "suite_s": "s"}
# reported on stderr and in the run record, not bounded (README.md)
EXTRA_UNITS = {
    "suite_median_s": "s", "query_p50_s": "s", "query_tail_s": "s", "samples": "count",
    "query_tail_pct": "%", "setup_samples_s": "s", "write_p50_s": "s", "write_tail_s": "s",
    "read_p50_s": "s", "error_rate": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "spark.start_s": "s", "sources.load_s": "s",
    "queries.build_s": "s", "queries.py4j_calls": "count",
    "catalyst.parsing_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.pre_job_s": "s", "scheduler.job_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.broadcast_bytes": "bytes",
    "exec.broadcast_collect_ms": "ms", "exec.broadcast_build_ms": "ms",
    "exec.rows_examined_per_result": "rows/row",
    "collect.tail_s": "s", "collect.rows": "rows",
    "dialect.parse_s": "s", "session.dml_s": "s", "session.count_jobs": "count",
    "checkpoint.calls": "count", "checkpoint.s": "s", "session.plan_nodes": "count",
    "session.write_p50_s": "s", "session.write_tail_s": "s", "session.read_p50_s": "s",
    "ref.duckdb_s": "s", "trace.overhead_s": "s", "jvm.gc_s": "s", "jvm.peak_rss_mb": "MB",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    for rel in ("qurious_spark/__init__.py", "tools/check_correctness.py",
                "tools/make_scale.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}; run from a checkout of the repository")


def configure_env() -> None:
    """Pin Spark to this box's cores and keep its scratch files in the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)


def ensure_data(name: str) -> str:
    """Path of dataset ``name`` (sf0.1 or sf1), building it on first use."""
    path = os.path.join(WORK, "data", name)
    if os.path.isdir(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if name == "sf1":
        datagen.build_scaled(ROOT, ensure_data("sf0.1"), path, factor=10)
    else:
        datagen.build(float(name[2:]), path)
    return path


def load_checker():
    """``tools/check_correctness.py``, imported by path for its comparison helpers."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --------------------------------------------------------------------------- #
# set-up and teardown
# --------------------------------------------------------------------------- #

def setup_session(data_dir: str, startup_s: float):
    """Start the session the way every caller does; returns timings too.

    ``setup_s`` is process start to a ready session: ``startup_s`` (from
    process start to the call, less work that is not set-up) plus the import
    of the program and the session start. Nothing of the program is imported
    before this call."""
    t0 = time.time()
    from qurious_spark.session import get_spark
    import qurious_spark.queries as q

    t_imported = time.time()
    spark = get_spark()
    t1 = time.time()
    q.load_all()
    t2 = time.time()
    q.ensure_views(spark, data_dir)
    t3 = time.time()
    return spark, q, {"import_s": t_imported - t0, "spark.start_s": t1 - t_imported,
                      "queries.load_all_s": t2 - t1, "sources.load_s": t3 - t2,
                      "setup_s": startup_s + t3 - t0}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe(data_dir: str) -> None:
    """Child mode: set up, report the timings as JSON, shut down."""
    spark, _, timings = setup_session(data_dir, time.time() - T_START)
    stop_spark(spark)
    print(json.dumps(timings))


def run_probes(data_dir: str) -> list[dict]:
    """Set up ``SETUP_PROBES`` times in fresh processes, one after another."""
    out = []
    for _ in range(SETUP_PROBES):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--setup-probe", data_dir],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT,
            timeout=150, check=True)
        out.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    return out


# --------------------------------------------------------------------------- #
# host context
# --------------------------------------------------------------------------- #

def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def jit_seconds(spark) -> float:
    """Total JIT compilation time so far."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1000.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus the JVM."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)


# --------------------------------------------------------------------------- #
# execution
# --------------------------------------------------------------------------- #

@dataclass
class Op:
    """One executed statement: a registry query or one DML-script statement."""

    key: str  # what medians are taken over: query name, or DML round slot
    kind: str  # "query", or the DML statement kind
    pass_idx: int  # 0 is the cold pass
    traced: bool
    latency_s: float = 0.0
    error: str | None = None
    jobs: int = 0
    columns: list = field(default_factory=list)
    dtypes: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    mismatch: str | None = None

    def record(self) -> dict:
        out = {"key": self.key, "kind": self.kind, "pass": self.pass_idx,
               "traced": self.traced, "latency_s": round(self.latency_s, 6),
               "jobs": self.jobs, "rows": len(self.rows)}
        for name in ("error", "mismatch"):
            if getattr(self, name):
                out[name] = getattr(self, name)
        if self.layers:
            out["layers"] = self.layers
        return out


class Runner:
    def __init__(self, spark, q, data_dir: str, tracer: tracing.Tracer | None):
        self.spark = spark
        self.q = q
        self.data_dir = data_dir
        self.tracer = tracer
        self.ops: list[Op] = []
        self.pass_marks: list[tuple[float, float, float]] = []
        self.session = None
        self.py4j = tracing.Py4jCounter(spark) if tracer else None

    # the traced path ---------------------------------------------------- #
    def _layers(self, op: Op, root, collect_span, df, jobs: list[dict], t_sql_end: float):
        """Per-layer figures of one traced execution from its spans and jobs."""
        tr = self.tracer
        done = [j for j in jobs if j["submitted"] is not None and j["completed"] is not None]
        for j in done:
            tr.add("spark.job", j["submitted"], j["completed"], collect_span.id,
                   id=j["id"], stages=len(j["stages"]))
        intervals = [(j["submitted"], j["completed"]) for j in done]
        stages = [s for j in jobs for s in j["stages"]]
        lay = {
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": sum(s["tasks"] for s in stages),
            "exec.run_s": sum(s["run_s"] for s in stages),
            "exec.cpu_s": sum(s["cpu_s"] for s in stages),
            "exec.input_bytes": sum(s["input_bytes"] for s in stages),
            "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "input_records": sum(s["input_records"] for s in stages),
            "collect.rows": len(op.rows),
            "job_intervals": intervals,
        }
        if done:
            first = min(s for s, _ in intervals)
            last = max(e for _, e in intervals)
            lay["scheduler.pre_job_s"] = max(0.0, first - root.start)
            lay["scheduler.job_gap_s"] = (last - first) - tracing.union_length(intervals)
            lay["collect.tail_s"] = max(0.0, root.end - last)
        else:
            lay["scheduler.pre_job_s"] = root.end - root.start
            lay["scheduler.job_gap_s"] = 0.0
            lay["collect.tail_s"] = 0.0
        if df is not None:
            for phase, ms in tracing.catalyst_phases(df).items():
                lay[f"catalyst.{phase}_ms"] = ms
            b = tracing.broadcast_metrics(df)
            lay["exec.broadcast_bytes"] = b["bytes"]
            lay["exec.broadcast_collect_ms"] = b["collect_ms"]
            lay["exec.broadcast_build_ms"] = b["build_ms"]
        for name in ("queries.build", "dialect", "checkpoint", "session.dml"):
            spans = tr.within(root, name)
            lay[f"{name}_spans"] = [(s.start, s.end) for s in spans]
        if op.kind != "query":
            # jobs the DML statement ran itself (counts, checkpoints), before
            # Session.sql returned the result frame
            lay["session.count_jobs"] = sum(
                1 for j in jobs if j["submitted"] is not None and j["submitted"] <= t_sql_end)
        return lay

    def _run(self, op: Op, build, traced_session: bool) -> None:
        """Execute one statement; ``build`` returns the DataFrame to collect."""
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.ops)}"
        sc.setJobGroup(group, op.key)
        self.ops.append(op)
        df = None
        if not op.traced:
            t0 = time.perf_counter()
            try:
                df = build()
                rows = df.collect()
            except Exception as e:  # the run goes on; the failure is counted
                op.error = f"{type(e).__name__}: {e}"[:400]
                return
            op.latency_s = time.perf_counter() - t0
        else:
            tr = self.tracer
            gc0 = gc_seconds(self.spark)
            saved = tracing.instrument_session(tr) if traced_session else []
            try:
                with tr.span("op", key=op.key, kind=op.kind) as root:
                    t0 = time.perf_counter()
                    with tr.span("queries.build" if op.kind == "query" else "session.sql"):
                        self.py4j.count = 0
                        self.py4j.install()
                        try:
                            df = build()
                        finally:
                            self.py4j.uninstall()
                    t_sql_end = time.time()
                    with tr.span("spark.collect") as collect_span:
                        rows = df.collect()
                    op.latency_s = time.perf_counter() - t0
            except Exception as e:
                op.error = f"{type(e).__name__}: {e}"[:400]
                return
            finally:
                tracing.uninstrument(saved)
        op.columns = list(df.columns)
        op.dtypes = [t for _, t in df.dtypes]
        op.rows = [tuple(r) for r in rows]
        tracing.drain_listener_bus(self.spark)
        ids = tracing.job_ids(self.spark, group)
        op.jobs = len(ids)
        if op.traced:
            lay = self._layers(op, root, collect_span,
                               df if op.kind in ("query", "select") else None,
                               tracing.spark_jobs(self.spark, ids), t_sql_end)
            lay["queries.py4j_calls"] = self.py4j.count
            lay["jvm.gc_s"] = gc_seconds(self.spark) - gc0
            if op.kind == "select":
                lay["session.plan_nodes"] = tracing.plan_nodes(
                    self.session.tables[DML_TABLE].df)
            op.layers = lay

    def mark_pass(self) -> None:
        """Record wall clock, GC and JIT totals at a pass boundary."""
        self.pass_marks.append((time.time(), gc_seconds(self.spark), jit_seconds(self.spark)))

    def pass_record(self) -> list[dict]:
        m = self.pass_marks
        return [{"wall_s": round(b[0] - a[0], 4), "gc_s": round(b[1] - a[1], 4),
                 "jit_s": round(b[2] - a[2], 4)} for a, b in zip(m, m[1:])]

    def query(self, name: str, pass_idx: int, traced: bool) -> Op:
        op = Op(name, "query", pass_idx, traced)
        self._run(op, lambda: self.q.REGISTRY[name](self.spark, self.data_dir), False)
        return op

    def statement(self, stmt, round_idx: int, traced: bool) -> Op:
        op = Op(f"slot{stmt.slot:02d}", stmt.kind, round_idx, traced)
        self._run(op, lambda: self.session.sql(stmt.sql), True)
        return op


def _timed_passes(wl: Workload, seconds: float, traced: bool) -> int:
    n = max(1, round(seconds / PASS_S[wl.name]))
    # a traced run needs a traced and an untraced sample of every key
    return max(n, 2 * wl.cycle) if traced else n


def _is_traced_sample(wl: Workload, key_idx: int, traced_run: bool, pass_idx: int) -> bool:
    """In a traced run, the timed executions of each key alternate between
    traced and the untraced reference, starting with the untraced one on
    even keys and the traced one on odd keys, so warm-up between passes, and
    a table that grows between rounds, fall on both sides of
    ``trace.overhead_s``."""
    sample = (pass_idx - 1) // wl.cycle  # earlier timed executions of the key
    return traced_run and pass_idx > 0 and (sample + key_idx) % 2 == 1


def run_queries(runner: Runner, wl: Workload, seed: int, passes: int, traced: bool) -> None:
    rng = random.Random(seed)
    order = list(wl.queries)
    for p in range(passes + 1):
        runner.mark_pass()
        rng.shuffle(order)
        for name in order:
            runner.query(name, p, _is_traced_sample(wl, wl.queries.index(name), traced, p))
    runner.mark_pass()


def run_dml(runner: Runner, wl: Workload, seed: int, passes: int, traced: bool) -> list:
    from qurious_spark.session import Session

    runner.session = Session(runner.spark)
    runner.session.sql(DML_CREATE)
    script = []
    for r in range(passes + 1):
        runner.mark_pass()
        for stmt in dml_round(seed, r):
            script.append(stmt)
            runner.statement(stmt, r, _is_traced_sample(wl, stmt.slot, traced, r))
    runner.mark_pass()
    return script


# --------------------------------------------------------------------------- #
# correctness (outside the timed region)
# --------------------------------------------------------------------------- #

class _Collected:
    """What ``check_correctness.compare`` reads of a DataFrame, over the rows
    an execution already collected."""

    def __init__(self, op: Op):
        self.columns = op.columns
        self.dtypes = list(zip(op.columns, op.dtypes))
        self._rows = op.rows

    def collect(self) -> list:
        return self._rows


def _compare(cc, op: Op, con, sql: str) -> str | None:
    """``check_correctness.compare``; a 0-row agreement proves nothing and
    fails, as check_correctness flags it."""
    problems, oracle_rows = cc.compare(op.key, _Collected(op), con, sql)
    if not problems and oracle_rows == 0:
        problems = ["the oracle returned 0 rows, so the agreement is vacuous"]
    return "; ".join(problems) or None


def _materialise(con, name: str, sql: str) -> tuple[str, float]:
    """Run an oracle once into a temp table; returns the SELECT that reads it
    and the run time."""
    t0 = time.perf_counter()
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {sql}")
    return f"SELECT * FROM {name}", time.perf_counter() - t0


def check_queries(runner: Runner, cc) -> float:
    """Compare every execution with its oracle; returns the DuckDB time of
    one pass (each oracle's second, warm run)."""
    con = cc.duckdb_conn(runner.data_dir)
    first: dict[str, Op] = {}
    for op in runner.ops:
        first.setdefault(op.key, op)
    ref_s = 0.0
    for i, (key, base) in enumerate(first.items()):
        sql = runner.q.ORACLES[key]
        _materialise(con, f"oracle_{i}", sql)  # cold run
        result_sql, dt = _materialise(con, f"oracle_{i}", sql)
        ref_s += dt
        for op in runner.ops:
            if op.key != key or op.error:
                continue
            op.mismatch = _compare(cc, op, con, result_sql)
            # fresh-build guard: a re-collected frame lets AQE reuse stages
            # and run fewer jobs; every execution must run the cold count
            if op.mismatch is None and base.error is None and op.jobs != base.jobs:
                op.mismatch = f"ran {op.jobs} jobs, cold execution ran {base.jobs}"
    con.close()
    return ref_s


def check_dml(runner: Runner, cc, script: list) -> tuple[Op, float]:
    """Replay the script in DuckDB; compare every SELECT and the final table.
    Returns the final-table check and the median DuckDB time of a timed round."""
    con = cc.duckdb_conn(runner.data_dir)
    con.execute(DML_CREATE)
    round_s: dict[int, float] = {}
    for stmt, op in zip(script, runner.ops):
        if op.error:
            continue
        if stmt.kind == "select":
            (sql,) = stmt.duck
            result_sql, dt = _materialise(con, "oracle_select", sql)
            op.mismatch = _compare(cc, op, con, result_sql)
        else:
            t0 = time.perf_counter()
            for sql in stmt.duck:
                con.execute(sql)
            dt = time.perf_counter() - t0
        round_s[op.pass_idx] = round_s.get(op.pass_idx, 0.0) + dt
    final = Op("final_state", "select", -1, False)
    df = runner.session.sql(f"SELECT * FROM {DML_TABLE}")
    final.columns, final.dtypes = list(df.columns), [t for _, t in df.dtypes]
    final.rows = [tuple(r) for r in df.toPandas().itertuples(index=False)]
    final.mismatch = _compare(cc, final, con, f"SELECT * FROM {DML_TABLE}")
    con.close()
    timed = [t for r, t in round_s.items() if r > 0]
    return final, statistics.median(timed) if timed else 0.0


# --------------------------------------------------------------------------- #
# metrics
# --------------------------------------------------------------------------- #

def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile). With 20 samples or fewer no percentile above the
    median has ten samples beyond it, and the maximum is reported."""
    v = sorted(values)
    n = len(v)
    if n <= 20:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def _by_key(ops: list[Op], get, stat=statistics.median) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.key, []).append(get(o))
    return {k: stat(v) for k, v in by.items()}


def end_to_end(ops: list[Op], setup_samples: list[float]) -> tuple[dict, dict]:
    good = [o for o in ops if o.error is None and o.mismatch is None]
    cold = [o for o in good if o.pass_idx == 0]
    timed = [o for o in good if o.pass_idx > 0 and not o.traced]
    lat = [o.latency_s for o in timed]
    tail_v, tail_pct = tail(lat)
    writes = [o.latency_s for o in timed if o.kind in WRITE_KINDS]
    reads = [o.latency_s for o in timed if o.kind in ("select", "query")]
    metrics = {
        "setup_s": statistics.median(setup_samples),
        "cold_pass_s": sum(o.latency_s for o in cold),
        # best of the timed executions per statement: JIT compilation of
        # freshly generated code keeps running on the same 4 cores as the
        # tasks and stalls single executions by up to 3x at random, which
        # the minimum filters out (README.md, "Steadiness")
        "suite_s": sum(_by_key(timed, lambda o: o.latency_s, min).values()),
    }
    extra = {
        "suite_median_s": sum(_by_key(timed, lambda o: o.latency_s).values()),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "samples": len(lat), "query_tail_pct": round(tail_pct, 1),
        "setup_samples_s": [round(s, 4) for s in setup_samples],
    }
    if writes:
        extra["write_p50_s"] = statistics.median(writes)
        extra["write_tail_s"] = tail(writes)[0]
        extra["read_p50_s"] = statistics.median(reads)
    return metrics, extra


def per_layer(ops: list[Op], setup: dict, ref_per_pass: float, rss: float) -> dict:
    """Per pass: the sum over keys of each key's mean over its traced
    executions. A mean, not a median, so rare work such as a checkpoint
    every 16th mutation still shows."""
    good = [o for o in ops if o.error is None and o.pass_idx > 0]
    traced = [o for o in good if o.traced]
    untraced = [o for o in good if not o.traced]

    def per_pass(get) -> float:
        return sum(_by_key(traced, get, statistics.fmean).values())

    def span_total(name):
        return lambda o: sum(e - s for s, e in o.layers.get(f"{name}_spans", []))

    def dml_self(o: Op) -> float:
        own = o.layers.get("session.dml_spans", [])
        inner = (o.layers.get("checkpoint_spans", []) + o.layers.get("dialect_spans", [])
                 + o.layers.get("job_intervals", []))
        return sum(e - s for s, e in own) - tracing.union_length(
            (max(s, a), min(e, b)) for s, e in inner for a, b in own if s < b and e > a)

    out = {"spark.start_s": setup["spark.start_s"], "sources.load_s": setup["sources.load_s"]}
    for name in ("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
                 "scheduler.pre_job_s", "scheduler.job_gap_s", "exec.run_s", "exec.cpu_s",
                 "exec.input_bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                 "exec.spill_bytes", "exec.broadcast_bytes", "exec.broadcast_collect_ms",
                 "exec.broadcast_build_ms", "collect.tail_s", "collect.rows",
                 "catalyst.parsing_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
                 "catalyst.planning_ms", "session.count_jobs", "jvm.gc_s"):
        out[name] = per_pass(lambda o, n=name: o.layers.get(n, 0.0))
    queries = [o for o in traced if o.kind == "query"]
    out["queries.build_s"] = sum(
        _by_key(queries, span_total("queries.build"), statistics.fmean).values())
    out["queries.py4j_calls"] = sum(
        _by_key(queries, lambda o: o.layers["queries.py4j_calls"], statistics.fmean).values())
    rows_in = per_pass(lambda o: o.layers.get("input_records", 0))
    out["exec.rows_examined_per_result"] = rows_in / max(1.0, out["collect.rows"])
    out["dialect.parse_s"] = per_pass(span_total("dialect"))
    out["checkpoint.calls"] = per_pass(lambda o: len(o.layers.get("checkpoint_spans", [])))
    out["checkpoint.s"] = per_pass(span_total("checkpoint"))
    out["session.dml_s"] = per_pass(dml_self)
    reads = [o.layers["session.plan_nodes"] for o in traced if "session.plan_nodes" in o.layers]
    out["session.plan_nodes"] = statistics.median(reads) if reads else 0.0
    writes = [o.latency_s for o in untraced if o.kind in WRITE_KINDS]
    sel = [o.latency_s for o in untraced if o.kind == "select"]
    out["session.write_p50_s"] = statistics.median(writes) if writes else 0.0
    out["session.write_tail_s"] = tail(writes)[0] if writes else 0.0
    out["session.read_p50_s"] = statistics.median(sel) if sel else 0.0
    out["ref.duckdb_s"] = ref_per_pass
    t_med = _by_key(traced, lambda o: o.latency_s)
    u_med = _by_key(untraced, lambda o: o.latency_s)
    both = set(t_med) & set(u_med)
    out["trace.overhead_s"] = sum(t_med[k] - u_med[k] for k in both)
    out["jvm.peak_rss_mb"] = rss
    return out


def _core_scale(nproc: int) -> float:
    """Aggregate over single-thread sha256 throughput with ``nproc`` threads
    (hashlib releases the GIL). Near ``nproc`` on a healthy box; a host that
    grants fewer cores than it reports reads low while steal stays near 0."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    buf = b"\x5a" * (1 << 20)

    def work(_) -> None:
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)

    t0 = time.perf_counter()
    work(0)
    single = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(nproc) as ex:
        list(ex.map(work, range(nproc)))
    return round(nproc * single / (time.perf_counter() - t0), 2)


def host_context(start_jiffies, load_start) -> dict:
    steal1, total1 = _cpu_jiffies()
    steal0, total0 = start_jiffies
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2),
        "core_scale": _core_scale(nproc),
    }


# --------------------------------------------------------------------------- #
# entry point
# --------------------------------------------------------------------------- #

def run(workload: str, seed: int, seconds: float, trace: bool, data_dir: str,
        startup_s: float) -> dict:
    """One benchmark run in this process; returns the result object."""
    wl = WORKLOADS[workload]
    jiffies, load_start = _cpu_jiffies(), os.getloadavg()[0]
    cc = load_checker()
    probe_setups = run_probes(data_dir)
    spark, q, setup = setup_session(data_dir, startup_s)
    try:
        setup_samples = [setup["setup_s"]] + [p["setup_s"] for p in probe_setups]
        tracer = tracing.Tracer() if trace else None
        runner = Runner(spark, q, data_dir, tracer)
        passes = _timed_passes(wl, seconds, trace)
        extra_checks: list[Op] = []
        if wl.queries:
            run_queries(runner, wl, seed, passes, trace)
            ref_per_pass = check_queries(runner, cc)
        else:
            script = run_dml(runner, wl, seed, passes, trace)
            final, ref_per_pass = check_dml(runner, cc, script)
            extra_checks.append(final)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    ops = runner.ops
    checked = ops + extra_checks
    failed = sum(1 for o in checked if o.error or o.mismatch)
    e2e, extra = end_to_end(ops, setup_samples)
    extra["error_rate"] = failed / len(checked)
    extra["peak_rss_mb"] = rss
    if trace:
        metrics = per_layer(ops, setup, ref_per_pass, rss)
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    context = host_context(jiffies, load_start)
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "timed_passes": passes, "passes": runner.pass_record(), "host": context,
        "setup": setup, "end_to_end": e2e, "extra": extra, "result": result,
        "ops": [o.record() for o in checked],
        **({"spans": runner.tracer.as_json()} if trace else {}),
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as fh:
        json.dump(artifact, fh, default=str)
    report(workload, result, e2e, extra, context, path)
    return result


def report(workload, result, e2e, extra, context, path) -> None:
    err = sys.stderr
    print(f"# perfbench {workload}: {result['attempted']} executions, "
          f"{result['failed']} failed", file=err)
    for k, v in e2e.items():
        print(f"#   {k} = {v:.4f} {END_TO_END[k]}", file=err)
    for k, v in extra.items():
        print(f"#   {k} = {v} {EXTRA_UNITS[k]}", file=err)
    if result["metrics"] and "trace.overhead_s" in result["metrics"]:
        for k, v in result["metrics"].items():
            print(f"#   {k} = {v['value']:.6g} {v['unit']}", file=err)
    print(f"#   host {json.dumps(context)}", file=err)
    print(f"#   record {path}", file=err)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="use this dataset directory instead of the built one")
    ap.add_argument("--setup-probe", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args()
    startup_s = time.time() - T_START
    check_checkout()
    configure_env()
    if args.setup_probe:
        setup_probe(args.setup_probe)
        return
    if not args.workload:
        fail("--workload is required")
    data_dir = os.path.abspath(args.data) if args.data else ensure_data(
        WORKLOADS[args.workload].data)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), data_dir,
                 startup_s)
    for m in result["metrics"].values():
        if not math.isfinite(m["value"]):
            fail(f"non-finite metric in {result['metrics']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
