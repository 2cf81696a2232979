"""Run one workload against the engine's public entry points.

One closed-loop client: one thread, one query at a time. A run is

1. set-up (``setup_s``): ``get_spark``, ``load_table`` for the tables
   the workload reads, and one untimed warm-up pass;
2. one more untimed pass, outside set-up: JIT compilation is still
   settling, and the pass after the warm-up is 20-40% slower than later
   ones, which would move the median with the number of passes;
3. timed passes until ``seconds`` have elapsed (at least one);
4. an output check: every query's result against its DuckDB oracle
   (``tests.oracle_check.compare_query``), on the plans the last timed
   pass memoized.

A pass calls ``spark.catalog.clearCache()`` and ``clear_plan_cache()``
and then runs the query list in an order drawn from the seed, each as
``REGISTRY[name].fn(spark, data_dir)`` followed by a ``noop`` write.

The traced run does all of that with tracing off, then starts a second
session in the same JVM with the event log and a streaming listener on,
and repeats the warm-up and timed passes with spans around every call;
each half times passes for half the run's seconds.
End-to-end metrics always come from the untraced session.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from minispark_spark import registry, tracing
from minispark_spark.registry import REGISTRY, clear_plan_cache
from minispark_spark.session import get_spark
from minispark_spark.sources import sidecache
from minispark_spark.sources.tables import TABLES, load_table
from tests.oracle_check import compare_query

from perfbench import eventlog, spans
from perfbench.streams import STREAM_FIELDS, StreamTracker
from perfbench.workloads import Workload

# Seconds to wait for asynchronous unpersists before reading storage
# after a clear.
UNPERSIST_WAIT_S = 0.5
# Job submission times are whole milliseconds.
JOB_TIME_SLACK_S = 0.002


@dataclass
class PassResult:
    span: int
    wall_s: float  # without the traced run's storage probes
    latencies: dict[str, float]
    failed: list[str]


@dataclass
class Session:
    spark: object
    workload: Workload
    data_dir: str
    rec: spans.Recorder
    tracker: StreamTracker | None = None
    rdd_ids_after_clear: set[int] = field(default_factory=set)

    @property
    def traced(self) -> bool:
        return self.tracker is not None


def prepare(work: str) -> None:
    """Import every registry module, then keep its side tables in ``work``."""
    registry.all_queries()
    reroot_side_dirs(os.path.join(work, "side"))


def reroot_side_dirs(root: str) -> None:
    """The engine keeps side tables (stream sources, indexes) under fixed
    ``/tmp/minispark_*`` roots; move them under ``root`` so the
    benchmark writes only inside its own directory."""
    orig = sidecache.side_dir

    def side_dir(base: str, sf_dir: str, leaf: str) -> str:
        return orig(os.path.join(root, base.lstrip("/")), sf_dir, leaf)

    for name, mod in list(sys.modules.items()):
        if name.startswith("minispark_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, side_dir)


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def table_names(data_dir: str) -> list[str]:
    return [t for t in TABLES if os.path.isdir(os.path.join(data_dir, f"{t}.parquet"))]


def oracle_conn(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the tables the directory holds (the replicated
    TPC-H directory has no events/documents/embeddings)."""
    con = duckdb.connect()
    for t in table_names(data_dir):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet/*.parquet'")
    return con


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stored_rdds(spark) -> dict[str, float]:
    """MB held in executor storage, per cached RDD name."""
    out: dict[str, float] = {}
    for i in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        mb = (i.memSize() + i.diskSize()) / 2**20
        if mb > 0:
            out[i.name()] = out.get(i.name(), 0.0) + mb
    return out


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def catalyst_ms(qe) -> dict[str, int]:
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[f"{k}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
    return out


def run_query(s: Session, name: str, tag: str) -> None:
    spec = REGISTRY[name]
    if not s.traced:
        with s.rec.span("construct", name):
            df = spec.fn(s.spark, s.data_dir)
        with s.rec.span("execute", name):
            df.write.format("noop").mode("overwrite").save()
        return
    with tracing.tagged(s.spark.sparkContext, tag):
        s.tracker.current = tag
        try:
            with s.rec.span("construct", name):
                df = spec.fn(s.spark, s.data_dir)
            with s.rec.span("plan", name) as sp:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                sp.attrs.update(catalyst_ms(qe))
            with s.rec.span("execute", name):
                df.write.format("noop").mode("overwrite").save()
        finally:
            s.tracker.current = None


def clear(s: Session) -> None:
    with s.rec.span("clear", "clear") as sp:
        s.spark.catalog.clearCache()
        t0 = time.perf_counter()
        clear_plan_cache()
        sp.attrs["clear_plan_cache_s"] = time.perf_counter() - t0
    if s.traced:
        with s.rec.span("probe", "storage after clear") as sp:
            deadline = time.perf_counter() + UNPERSIST_WAIT_S
            while (left := stored_rdds(s.spark)) and time.perf_counter() < deadline:
                time.sleep(0.05)
            sp.attrs["storage_mb_after_clear"] = sum(left.values())
            sp.attrs["stored_after_clear"] = left
            s.rdd_ids_after_clear = persistent_rdd_ids(s.spark)


def run_pass(s: Session, order: list[str], label: str) -> PassResult:
    """One pass. The traced run reads executor storage after the clear
    and after every query, in ``probe`` spans; the pass's ``wall_s``
    leaves them out, so they do not count as tracing overhead."""
    latencies, failed = {}, []
    with s.rec.span("pass", label) as p:
        clear(s)
        built: set[int] = set()
        peak = 0.0
        for name in order:
            with s.rec.span("query", name, tag=f"{label}/{name}") as q:
                try:
                    run_query(s, name, q.attrs["tag"])
                except Exception:  # a failing query is counted, not fatal
                    traceback.print_exc()
                    failed.append(name)
            if name not in failed:
                latencies[name] = q.duration
            if s.traced:
                with s.rec.span("probe", "storage"):
                    built |= persistent_rdd_ids(s.spark) - s.rdd_ids_after_clear
                    peak = max(peak, sum(stored_rdds(s.spark).values()))
        if s.traced:
            p.attrs.update(rdds_built=len(built), storage_mb_peak=peak)
    idx = s.rec.index(p)
    probes = sum(c.duration for c in s.rec.children(idx) if c.kind == "probe")
    return PassResult(idx, p.duration - probes, latencies, failed)


def load_tables(s: Session) -> float:
    t0 = time.perf_counter()
    for t in s.workload.tables:
        load_table(s.spark, s.data_dir, t)
    return time.perf_counter() - t0


def shuffled(queries: tuple[str, ...], rng: random.Random) -> list[str]:
    order = list(queries)
    rng.shuffle(order)
    return order


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def timed_passes(s: Session, rng: random.Random, seconds: float, prefix: str) -> tuple[list[PassResult], float]:
    """Passes until ``seconds`` have elapsed, and the share of CPU time
    the hypervisor stole from this machine meanwhile."""
    out: list[PassResult] = []
    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        out.append(run_pass(s, shuffled(s.workload.queries, rng), f"{prefix}{len(out)}"))
    steal1, total1 = cpu_ticks()
    return out, (steal1 - steal0) / max(1, total1 - total0)


def check_outputs(s: Session) -> list[str]:
    con = oracle_conn(s.data_dir)
    bad = []
    for name in s.workload.queries:
        try:
            ok, msg = compare_query(s.spark, con, name, s.data_dir)
        except Exception as e:  # a crashing oracle comparison is a mismatch
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            print(f"OUTPUT MISMATCH {name}: {msg}", file=sys.stderr)
            bad.append(name)
    return bad


@dataclass
class RunResult:
    setup_s: float
    session_s: float
    load_s: float
    passes: list[PassResult]
    attempted: int
    failed: int
    peak_rss_mb: float
    steal_frac: float  # host CPU steal during the timed passes
    layers: dict[str, float] = field(default_factory=dict)
    per_query: dict[str, dict] = field(default_factory=dict)
    pass_checks: list[dict] = field(default_factory=list)

    @property
    def suite_s(self) -> float:
        return statistics.median(p.wall_s for p in self.passes)

    @property
    def latencies(self) -> list[float]:
        return [v for p in self.passes for v in p.latencies.values()]

    @property
    def query_medians(self) -> dict[str, float]:
        per_query: dict[str, list[float]] = {}
        for p in self.passes:
            for name, t in p.latencies.items():
                per_query.setdefault(name, []).append(t)
        return {name: statistics.median(v) for name, v in per_query.items()}

    @property
    def query_p50_s(self) -> float:
        """Median of all timed query latencies, pooled over passes."""
        return statistics.median(self.latencies)


def untraced(workload: Workload, data_dir: str, work: str, seed: int, seconds: float):
    """Set-up, timed passes and output check with tracing off. Returns
    the result and the live session (the caller stops it)."""
    rng = random.Random(seed)
    rec = spans.Recorder()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload.name}", extra_conf=spark_conf(work))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    s = Session(spark, workload, data_dir, rec)
    load_s = load_tables(s)
    warm = run_pass(s, shuffled(workload.queries, rng), "warmup")
    setup_s = time.perf_counter() - t0
    settle = run_pass(s, shuffled(workload.queries, rng), "settle")
    passes, steal = timed_passes(s, rng, seconds, "p")
    bad = check_outputs(s)
    runs = [warm, settle, *passes]
    attempted = len(workload.queries) * (len(runs) + 1)
    failed = sum(len(p.failed) for p in runs) + len(bad)
    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    return RunResult(setup_s, session_s, load_s, passes, attempted, failed, rss, steal), s


def traced(workload: Workload, data_dir: str, work: str, seed: int, seconds: float, cores: int):
    """The untraced run, then the same passes again with tracing on,
    each timing passes for half of ``seconds``. Returns the untraced
    result with ``layers``/``per_query`` filled from the traced
    session, and the recorder and jobs for the chrome trace."""
    seconds /= 2
    base, s0 = untraced(workload, data_dir, work, seed, seconds)
    stop(s0.spark)
    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    conf = {**spark_conf(work), **tracing.trace_confs(log_dir)}
    spark = get_spark(f"perfbench-{workload.name}-traced", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracker = StreamTracker()
    spark.streams.addListener(tracker)
    rec = spans.Recorder()
    s = Session(spark, workload, data_dir, rec, tracker)
    load_tables(s)
    rng = random.Random(seed)
    warm = run_pass(s, shuffled(workload.queries, rng), "warmup")
    passes, steal = timed_passes(s, rng, seconds, "t")
    base.attempted += len(workload.queries) * (len(passes) + 1)
    base.failed += sum(len(p.failed) for p in [warm, *passes])
    _drain_listener_bus(spark)
    app_id = spark.sparkContext.applicationId
    stop(spark)
    per_tag = eventlog.by_query(eventlog.log_files(log_dir, app_id), tracker.run_to_tag)
    streaming = tracker.per_tag()
    layer_rows, pass_checks, per_query, jobs = [], [], {}, []
    for p in passes:
        row, check, queries, pass_jobs = pass_layers(rec, p.span, per_tag, streaming, cores)
        layer_rows.append(row)
        pass_checks.append(check)
        per_query.update(queries)
        jobs.extend(pass_jobs)
    layers = {k: statistics.median(r[k] for r in layer_rows) for k in layer_rows[0]}
    traced_suite = statistics.median(p.wall_s for p in passes)
    layers.update(
        {
            "session.start_s": base.session_s,
            "sources.load_table_s": base.load_s,
            "trace.suite_s": traced_suite,
            "trace.overhead_s": traced_suite - base.suite_s,
            "host.steal_frac": steal,
        }
    )
    base.layers, base.per_query, base.pass_checks = layers, per_query, pass_checks
    return base, rec, jobs


def stop(spark) -> None:
    """Stop a session. The engine's memo stores outlive it, so empty
    them first, while their cached frames can still be unpersisted."""
    spark.catalog.clearCache()
    clear_plan_cache()
    spark.stop()


def _drain_listener_bus(spark) -> None:
    """Wait until queued listener events (streaming progress) are delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _jobs_of(rec: spans.Recorder, stats: dict) -> list[tuple[float, float]]:
    return [(rec.from_epoch_ms(j["start_ms"]), rec.from_epoch_ms(j["end_ms"])) for j in stats.get("spans", [])]


def pass_layers(rec: spans.Recorder, pass_idx: int, per_tag: dict, streaming: dict, cores: int):
    """Per-layer numbers of one traced pass, its coverage check, its
    per-query rows and its jobs for the chrome trace."""
    p = rec.spans[pass_idx]
    row = dict.fromkeys(LAYER_SUMS, 0.0)
    queries, jobs, intervals, left_after_clear = {}, [], [], {}
    for qi, q in enumerate(rec.spans):
        if q.parent == pass_idx and q.kind == "clear":
            row["registry.clear_plan_cache_s"] += q.attrs["clear_plan_cache_s"]
        if q.parent == pass_idx and "stored_after_clear" in q.attrs:
            row["cache.storage_mb_after_clear"] += q.attrs["storage_mb_after_clear"]
            left_after_clear = q.attrs["stored_after_clear"]
        if q.parent != pass_idx or q.kind != "query":
            continue
        tag = q.attrs["tag"]
        stats = per_tag.get(tag, {})
        kids = {c.kind: c for c in rec.children(qi)}
        job_iv = _jobs_of(rec, stats)
        intervals.extend(job_iv)
        con = kids.get("construct")
        construct_jobs = (
            sum(1 for s, _ in job_iv if con.start - JOB_TIME_SLACK_S <= s <= con.end + JOB_TIME_SLACK_S)
            if con
            else 0
        )
        stream = streaming.get(tag, dict.fromkeys(STREAM_FIELDS, 0))
        plan_attrs = kids["plan"].attrs if "plan" in kids else {}
        qrow = {
            "registry.construct_s": con.duration if con else 0.0,
            "registry.construct_jobs": construct_jobs,
            "catalyst.analysis_ms": plan_attrs.get("analysis_ms", 0),
            "catalyst.optimization_ms": plan_attrs.get("optimization_ms", 0),
            "catalyst.planning_ms": plan_attrs.get("planning_ms", 0),
            "exec.jobs": stats.get("jobs", 0),
            "exec.stages": stats.get("stages", 0),
            "exec.tasks": stats.get("tasks", 0),
            "exec.task_s": stats.get("task_time_ms", 0) / 1e3,
            "exec.cpu_s": stats.get("cpu_ns", 0) / 1e9,
            "exec.gc_s": stats.get("gc_ms", 0) / 1e3,
            "shuffle.write_bytes": stats.get("shuffle_write_bytes", 0),
            "shuffle.read_bytes": stats.get("shuffle_read_bytes", 0),
            "shuffle.fetch_wait_s": stats.get("fetch_wait_ms", 0) / 1e3,
            "shuffle.spill_bytes": stats.get("spill_bytes", 0),
            "sources.input_bytes": stats.get("input_bytes", 0),
            "sources.input_rows": stats.get("input_rows", 0),
            "python.run_s": stats.get("python_run_ms", 0) / 1e3,
            "python.start_s": stats.get("python_start_ms", 0) / 1e3,
            "python.bytes_sent": stats.get("python_bytes_sent", 0),
            "python.bytes_returned": stats.get("python_bytes_returned", 0),
            "streaming.batches": stream["batches"],
            "streaming.trigger_s": stream["trigger_ms"] / 1e3,
            "streaming.add_batch_s": stream["add_batch_ms"] / 1e3,
            "streaming.log_commit_s": stream["log_commit_ms"] / 1e3,
            "streaming.state_commit_s": stream["state_commit_ms"] / 1e3,
            "streaming.state_rows": stream["state_rows"],
        }
        for k, v in qrow.items():
            row[k] += v
        queries[tag] = {
            "wall_s": q.duration,
            **{f"{k}_s": c.duration for k, c in kids.items()},
            **qrow,
        }
        jobs.extend(
            {"name": f"job {j['job']}", "start_ms": j["start_ms"], "end_ms": j["end_ms"], "query": tag}
            for j in stats.get("spans", [])
        )
    exec_wall = spans.union_length(spans.clip(intervals, p.start, p.end))
    row["exec.wall_s"] = exec_wall
    row["exec.idle_s"] = p.duration - exec_wall
    row["exec.busy_frac"] = row["exec.task_s"] / (exec_wall * cores) if exec_wall > 0 else 0.0
    row["cache.rdds_built"] = p.attrs.get("rdds_built", 0)
    row["cache.storage_mb_peak"] = p.attrs.get("storage_mb_peak", 0.0)
    self_times = spans.self_times_by_kind(rec, pass_idx)
    for kind in SPAN_KINDS:
        row[f"self.{kind}_s"] = self_times.get(kind, 0.0)
    share = spans.coverage(rec, pass_idx)
    row["trace.span_coverage"] = share
    check = {
        "pass": p.name,
        "wall_s": p.duration,
        "probe_s": self_times.get("probe", 0.0),
        "coverage": share,
        "ok": spans.coverage_ok(share),
        "storage_mb_after_clear": row["cache.storage_mb_after_clear"],
        "stored_after_clear": left_after_clear,
    }
    return row, check, queries, jobs


SPAN_KINDS = ("pass", "clear", "probe", "query", "construct", "plan", "execute")
LAYER_SUMS = (
    "registry.construct_s",
    "registry.construct_jobs",
    "registry.clear_plan_cache_s",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_s",
    "exec.cpu_s",
    "exec.gc_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    "sources.input_bytes",
    "sources.input_rows",
    "python.run_s",
    "python.start_s",
    "python.bytes_sent",
    "python.bytes_returned",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.log_commit_s",
    "streaming.state_commit_s",
    "streaming.state_rows",
    "cache.storage_mb_after_clear",
)


def shutdown_jvm() -> None:
    """Stop the JVM that ``get_spark`` launched and wait until it exits
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF from its launcher
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
