"""The three benchmark workloads.

Each workload builds its inputs from the seed, sets up the package (the
part reported as ``setup_s``), runs a fixed amount of work sized from the
requested seconds, then checks the program's outputs outside the timed
region. It returns the final result object and the run parameters.
"""

from __future__ import annotations

import glob
import json
import os
import random
import signal
import threading
import time
from collections import defaultdict
from contextlib import nullcontext
from datetime import datetime, timedelta, timezone

import numpy as np

from perfbench import datagen
from perfbench.probe import JobCounter, Probe

# One query per module of QUERY_LAYERS: the relational half reads the
# TPC-H-like tables and events, the LLM half reads documents and
# embeddings, the dedup and IVF queries through the ANN index store.
QUERIES = [
    "pricing_summary", "tpch_q9", "join_multiway_star", "agg_cube",
    "window_sessionize", "topk_per_group", "ts_gapfill", "median_exact", "agg_pulse",
    "llm_dedup_near", "llm_simsearch_ivf", "llm_text_fingerprint", "llm_contamination",
]
# Package modules the registered queries live in, named as layers.
QUERY_LAYERS = [
    "operators.relational", "operators.tpch_suite", "operators.joins",
    "operators.aggregates", "operators.windows", "operators.topk",
    "operators.timeseries", "operators.advanced", "operators.dedup",
    "operators.similarity", "operators.textstats", "operators.pipeline",
    "plans.queue_queries",
]
QUERY_SF = 0.01
QUERY_PASS_S = 5.0  # nominal time of one warm pass; passes = seconds / this
# The tables are one fixed dataset, as a TPC-H scale factor is; the run
# seed drives the query order.
TABLE_SEED = 42
SMOKE_SF = 0.001

QUEUE_BACKLOG = 60
QUEUE_CYCLE_S = 3.3  # nominal time of one cycle; cycles = seconds / this
QUEUE_WARM_CYCLES = 2  # set-up cycles; the first ones in a JVM run slow (JIT)
QUEUE_PROJECTS = ["atlas", "borealis", "cygnus", "draco"]
QUEUE_FILES = [
    "src/auth/session.py", "src/auth/tokens.py", "src/pay/charge.py", "src/pay/refund.py",
    "src/api/routes.py", "src/api/schema.py", "src/core/models.py", "src/core/store.py",
    "src/ui/board.tsx", "src/ui/pulse.tsx", "lib/util.py", "lib/log.py",
    "docs/guide.md", "docs/api.md", "tests/test_api.py", "tests/test_core.py",
]
PLAN_TYPES = ["security", "bug", "feature", "refactor", "chore", "docs"]

STREAM_RATE = 20.0  # offered status events per second
STREAM_TRIGGER = "2 seconds"  # longer than a batch (~1.1 s), so batches do not queue
STREAM_OPEN_PHASES = 8  # phases reporting concurrently
# Pre-published events drained by one availableNow micro-batch. Split
# over several batches, files that share a modification time can arrive
# out of order, and lifecycle_stream then disagrees with lifecycle_batch
# (see README.md, findings).
STREAM_BACKLOG = 600


# -- helpers -------------------------------------------------------------


def utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def pct(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if len(xs) else 0.0


def fixed_count(seconds: float, nominal_s: float) -> int:
    """Operations a run measures: the same for every run of a given
    ``--seconds``, so runs time the same work whatever the host speed."""
    return max(1, round(seconds / nominal_s))


def _proc_status_kb(pid, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.split("/")[2]))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return [0] * 8


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS counter (drops input generation)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


class Session:
    """The package's SparkSession plus the JVM process behind it."""

    def __init__(self, run: "Run"):
        t0 = time.perf_counter()
        from nova_pulsar_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        run.session = self

    def rss_peak_mb(self) -> float:
        kb = _proc_status_kb("self", "VmHWM") + _proc_status_kb(self.jvm.pid, "VmHWM")
        return kb / 1024.0

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait for each."""
        from pyspark import SparkContext

        if self.jvm.poll() is not None:
            return
        spawned = _descendants(self.jvm.pid)
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            try:
                self.jvm.stdin.close()
            except Exception:
                pass
            try:
                self.jvm.wait(timeout=30)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            # Python workers outlive the JVM briefly; end them and wait.
            for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
                alive = [p for p in spawned if _proc_status_kb(p, "VmRSS") > 0]
                for pid in alive:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
                deadline = time.time() + grace
                while alive and time.time() < deadline:
                    alive = [p for p in alive if _proc_status_kb(p, "VmRSS") > 0]
                    time.sleep(0.05)
                if not alive:
                    break


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, workload, seed, seconds, trace, smoke, tmp, spans_path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.smoke, self.tmp = trace, smoke, tmp
        self.spans_path = spans_path
        self.rng = random.Random(seed)
        self.probe = Probe() if trace else None
        self.jobs: JobCounter | None = None
        self.session: Session | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.setup_snapshot: tuple[dict, dict] = ({}, {})
        self.params: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                             "trace": int(trace), "smoke": smoke, "phases_s": {}}
        self._t_mark = time.perf_counter()
        self.cpu_at_measure = cpu_times()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def span(self, name, op=None):
        if self.probe is None:
            return nullcontext()
        return self.probe.span(name, op)

    def mark(self, phase: str) -> None:
        """Record the wall time spent since the previous mark."""
        now = time.perf_counter()
        self.params["phases_s"][phase] = round(now - self._t_mark, 3)
        self._t_mark = now

    def end_setup(self) -> None:
        """Mark the end of set-up: per-layer totals restart from here."""
        self.cpu_at_measure = cpu_times()
        if self.probe is not None:
            self.setup_snapshot = (dict(self.probe.busy), dict(self.probe.calls))
            self.jobs.jobs.clear()
            self.jobs.tasks.clear()

    def job_group(self, gid: str):
        if self.jobs is None:
            return nullcontext()
        return self.jobs.group(gid)

    def result(self) -> dict:
        metrics = self.layer if self.trace else self.e2e
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def _install_package_probes(run: Run, spark) -> None:
    """Time the package's layer entry points from outside (traced runs)."""
    from nova_pulsar_spark.operators import ann_index
    from nova_pulsar_spark.plans import daemon, pulsar, scheduler
    from nova_pulsar_spark.sources import tables
    from nova_pulsar_spark.streaming import sinks, topics

    probe = run.probe
    run.jobs = JobCounter(spark, probe)
    probe.interpose(tables, "load_table", "sources.load_table")
    probe.interpose(ann_index, "corpus_fingerprint", "ann_index.corpus_fingerprint")
    probe.interpose(daemon, "scan_namespaces", "daemon.scan_namespaces")
    probe.interpose(scheduler, "select_plan", "scheduler.select_plan")
    probe.interpose(pulsar, "finalize_plan", "pulsar.finalize_plan")
    probe.interpose(topics.QueueNamespace, "enqueue_plan", "topics.enqueue_plan")
    probe.interpose(topics.Topic, "produce", "topics.produce")
    probe.interpose(sinks.AppendLogSink, "__call__", "sinks.append")

    original = ann_index.load_or_build

    def load_or_build(spark, sf_dir, kind, build, table="embeddings"):
        built = []

        def counted_build():
            built.append(True)
            return build()

        t0 = time.perf_counter()
        with probe.span("ann_index.load_or_build"):
            out = original(spark, sf_dir, kind, counted_build, table)
        if built:
            probe.busy["ann_index.build"] += time.perf_counter() - t0
            probe.calls["ann_index.build"] += 1
        return out

    probe.replace(ann_index, "load_or_build", load_or_build)


def _layer_metrics(run: Run, extra: dict) -> None:
    """Fill every per-layer metric; layers a workload never calls read 0."""
    p = run.probe
    # Set-up work (index builds, enqueueing the backlog) counts whole;
    # every other layer, index lookups included, counts the measured
    # region only.
    setup_busy, setup_calls = run.setup_snapshot
    busy = defaultdict(float, {k: v - setup_busy.get(k, 0.0) for k, v in p.busy.items()})
    calls = defaultdict(int, {k: v - setup_calls.get(k, 0) for k, v in p.calls.items()})
    measured_builds = calls["ann_index.build"]
    for k in ("ann_index.build", "topics.enqueue_plan"):
        busy[k], calls[k] = p.busy[k], p.calls[k]
    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (extra.get("get_spark_s", 0.0), "s")
    m["registry.all_queries_s"] = (extra.get("all_queries_s", 0.0), "s")
    lob = calls["ann_index.load_or_build"]
    m["ann_index.build_s"] = (busy["ann_index.build"], "s")
    m["ann_index.builds"] = (calls["ann_index.build"], "count")
    m["ann_index.lookups"] = (lob, "count")
    m["ann_index.hit_ratio"] = ((lob - measured_builds) / lob if lob else 0.0, "ratio")
    m["ann_index.corpus_fingerprint.busy_s"] = (busy["ann_index.corpus_fingerprint"], "s")
    lat = extra.get("query_lat", {})
    for name in QUERIES:
        m[f"query.{name}.p50_s"] = (pct(lat.get(name, []), 50), "s")
    for layer in QUERY_LAYERS:
        m[f"{layer}.busy_s"] = (busy[layer], "s")
        m[f"{layer}.calls"] = (calls[layer], "count")
    m["sources.load_table.busy_s"] = (busy["sources.load_table"], "s")
    m["sources.load_table.calls"] = (calls["sources.load_table"], "count")
    jobs = run.jobs
    per_call = extra.get("job_ops", "query") == "query"
    m["spark.jobs_per_call"] = (float(np.mean(jobs.jobs)) if per_call and jobs.jobs else 0.0, "count")
    m["spark.tasks_per_call"] = (float(np.mean(jobs.tasks)) if per_call and jobs.tasks else 0.0, "count")
    m["spark.jobs_per_cycle"] = (float(np.mean(jobs.jobs)) if not per_call and jobs.jobs else 0.0, "count")
    m["daemon.scan_namespaces.busy_s"] = (busy["daemon.scan_namespaces"], "s")
    m["scheduler.select_plan.busy_s"] = (busy["scheduler.select_plan"], "s")
    m["daemon.plan_files_per_cycle"] = (extra.get("plan_files_per_cycle", 0.0), "count")
    m["daemon.monitor_once.p50_s"] = (extra.get("monitor_p50_s", 0.0), "s")
    m["topics.enqueue_plan.busy_s"] = (busy["topics.enqueue_plan"], "s")
    m["pulsar.finalize_plan.busy_s"] = (busy["pulsar.finalize_plan"], "s")
    m["topics.produce.busy_s"] = (busy["topics.produce"], "s")
    m["gen.late_p99_s"] = (extra.get("late_p99_s", 0.0), "s")
    m["stream.latest_offset_ms"] = (extra.get("latest_offset_ms", 0.0), "ms")
    m["stream.add_batch_ms"] = (extra.get("add_batch_ms", 0.0), "ms")
    m["sinks.append.busy_s"] = (busy["sinks.append"], "s")
    m["stream.state_rows_total"] = (extra.get("state_rows_total", 0.0), "count")
    m["stream.state_memory_bytes"] = (extra.get("state_memory_bytes", 0.0), "bytes")
    m["stream.backlog_files"] = (extra.get("backlog_files", 0.0), "count")
    m["process.rss_peak_mb"] = (extra["rss_peak_mb"], "MB")
    m["trace.overhead_s"] = (p.overhead_s, "s")
    m["trace.overhead_ratio"] = (p.overhead_s / extra["measured_s"] if extra.get("measured_s") else 0.0, "ratio")
    m["trace.latency_p50_s"] = (run.e2e["latency_p50_s"][0], "s")
    m["trace.latency_p90_s"] = (run.latency_p90_s, "s")
    run.layer = {k: (float(v), u) for k, (v, u) in m.items()}


def _finish(run: Run, sess: Session, setup_s, lat, throughput, extra) -> None:
    run.mark("measure")
    # Time stolen by other guests on a shared host explains outlying runs.
    run.params["cpu_steal_share"] = round(steal_share(run.cpu_at_measure, cpu_times()), 4)
    run.params["samples_s"] = [round(x, 4) for x in lat]
    run.e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (pct(lat, 50), "s"),
        "throughput_per_s": (throughput, "1/s"),
    }
    run.latency_p90_s = pct(lat, 90)
    if run.trace:
        extra["get_spark_s"] = sess.get_spark_s
        extra["rss_peak_mb"] = sess.rss_peak_mb()
        _layer_metrics(run, extra)
        run.params["spans"] = len(run.probe.spans)
        if run.spans_path:
            run.probe.write_spans(run.spans_path)
            run.params["spans_file"] = run.spans_path


# -- query workloads -----------------------------------------------------


def _query_workload(run: Run, names: list[str]) -> None:
    sf = SMOKE_SF if run.smoke else QUERY_SF
    run.params["sf"] = sf
    data_dir = datagen.write_tables(os.path.join(run.tmp, "data"), sf, TABLE_SEED)
    reset_peak_rss()
    run.mark("inputs")

    t_setup = time.perf_counter()
    sess = Session(run)
    spark = sess.spark
    t0 = time.perf_counter()
    from nova_pulsar_spark.registry import all_queries

    regs = all_queries()
    all_queries_s = time.perf_counter() - t0
    if run.trace:
        _install_package_probes(run, spark)
    queries = {n: regs[n] for n in names}

    results: dict[str, list] = defaultdict(list)
    lat: dict[str, list[float]] = defaultdict(list)

    def one(name: str, op) -> float:
        rq = queries[name]
        layer = rq.fn.__module__.removeprefix("nova_pulsar_spark.")
        t = time.perf_counter()
        try:
            with run.job_group(f"op-{op}"), run.span(layer, op), run.span(f"query.{name}"):
                pdf = rq.fn(spark, data_dir).toPandas()
        except Exception as e:  # counted, never hidden
            results[name].append(e)
            return time.perf_counter() - t
        results[name].append(pdf)
        return time.perf_counter() - t

    # Set-up ends after one warm pass: the first run of each query pays
    # for JIT, code generation and the ANN index builds.
    warm = list(names)
    run.rng.shuffle(warm)
    for i, name in enumerate(warm):
        one(name, f"warm-{i}")
    setup_s = time.perf_counter() - t_setup
    run.end_setup()
    run.mark("setup")

    # A fixed number of full passes, each in a seeded order, so every
    # run times the same operations.
    passes = fixed_count(run.seconds, QUERY_PASS_S)
    measured = 0.0
    n_ops = 0
    for _ in range(passes):
        order = list(names)
        run.rng.shuffle(order)
        for name in order:
            dt = one(name, f"op-{n_ops}")
            lat[name].append(dt)
            measured += dt
            n_ops += 1
    medians = [pct(lat[n], 50) for n in names]
    run.params.update({"passes": passes, "queries_run": n_ops, "queries": len(names)})
    _finish(
        run, sess, setup_s, medians, len(names) / sum(medians),
        {"all_queries_s": all_queries_s, "query_lat": lat, "measured_s": measured},
    )
    sess.stop()
    run.mark("stop")
    _check_queries(run, regs, data_dir, results)


def _check_queries(run: Run, regs, data_dir: str, results) -> None:
    """Compare every result against the query's DuckDB oracle SQL."""
    import duckdb

    from nova_pulsar_spark.sources.tables import TABLE_NAMES
    from tools.check_oracle import compare

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name, outs in results.items():
        oracle = con.execute(regs[name].sql).fetchdf()
        for out in outs:
            if isinstance(out, Exception):
                run.check(False, f"{name}: raised {out!r}"[:300])
                continue
            problems = compare(out, oracle)
            run.check(not problems, f"{name}: {'; '.join(problems[:2])}"[:300])
    con.close()


# -- queue_dispatch ------------------------------------------------------


def make_backlog(rng: random.Random, n: int, base: datetime) -> list[dict]:
    """Seeded plans over several projects; overlapping file sets make
    later plans depend on earlier ones."""
    plans = []
    for i in range(n):
        project = rng.choice(QUEUE_PROJECTS)
        created = base + timedelta(minutes=i, seconds=rng.randrange(60))
        n_phases = rng.randint(1, 4)
        phases = [
            {
                "phase": k + 1,
                "title": f"phase {k + 1}",
                "files": sorted(rng.sample(QUEUE_FILES, rng.randint(1, 3))),
                "complexity": rng.choice(["Low", "Medium", "High"]),
            }
            for k in range(n_phases)
        ]
        plans.append(
            {
                "id": f"plan-{i:04d}-{rng.randrange(16**6):06x}",
                "title": f"plan {i}",
                "project": project,
                "type": rng.choice(PLAN_TYPES),
                "execution_mode": "background",
                "created_at": created.isoformat(),
                "n_phases": n_phases,
                "phases": phases,
            }
        )
    return plans


def _status_event(plan: dict, phase: int, status: str, tool_count: int, now: datetime) -> dict:
    return {
        "task_id": f"{plan['id']}-p{phase}",
        "project": plan["project"],
        "plan_id": plan["id"],
        "phase": phase,
        "thread_id": f"thread-{plan['id']}-{phase}",
        "status": status,
        "tool_count": tool_count,
        "last_tool": "Edit",
        "last_file": plan["phases"][phase - 1]["files"][0],
        "updated_at": now.isoformat(),
        "started_at": now.isoformat(),
        "completed_at": now.isoformat() if status == "completed" else None,
    }


def _drive_plan(spark, root: str, plans_by_id: dict, run: Run, op) -> dict:
    """One closed-loop cycle; returns the per-step timings."""
    from nova_pulsar_spark.plans import daemon, pulsar
    from nova_pulsar_spark.streaming.topics import STATUS_SCHEMA, Topic

    t0 = time.perf_counter()
    with run.job_group(f"cycle-{op}"):
        with run.span("daemon.dispatch_once", op):
            decision = daemon.dispatch_once(spark, root, now=utcnow())
        t1 = time.perf_counter()
        plan_id = decision.get("plan_id")
        plan = plans_by_id.get(plan_id)
        step = {"decision": decision, "dispatch_s": t1 - t0}
        if decision.get("action") != "dispatch" or plan is None:
            step["cycle_s"] = t1 - t0
            return step
        topic = Topic(base_dir=os.path.join(root, plan["project"], "status"), schema=STATUS_SCHEMA)
        for ph in range(1, plan["n_phases"] + 1):
            for k, status in enumerate(("running", "completed"), start=1):
                topic.produce(f"{plan_id}-p{ph}-{k}.json", _status_event(plan, ph, status, k, utcnow()))
        t2 = time.perf_counter()
        with run.span("daemon.monitor_once", op):
            step["pulse"] = daemon.monitor_once(spark, root, now=utcnow())
        t3 = time.perf_counter()
        pulsar.finalize_plan(root, plan["project"], plan_id, utcnow())
        t4 = time.perf_counter()
    step.update({"monitor_s": t3 - t2, "cycle_s": t4 - t0})
    return step


def _plan_files(root: str) -> int:
    n = 0
    for sub in ("queued/background", "active", "completed"):
        n += len(glob.glob(os.path.join(root, "*", sub, "*.json")))
    return n


def _queue_workload(run: Run) -> None:
    from nova_pulsar_spark.streaming.topics import QueueNamespace

    backlog_n = 8 if run.smoke else QUEUE_BACKLOG
    base = datetime(2026, 1, 5, 9, 0, 0)
    plans = make_backlog(run.rng, backlog_n, base)
    warm_plans = make_backlog(random.Random(run.seed + 1), QUEUE_WARM_CYCLES, base - timedelta(days=1))
    plans_by_id = {p["id"]: p for p in plans + warm_plans}
    root = os.path.join(run.tmp, "comms")
    warm_root = os.path.join(run.tmp, "warm-comms")
    run.params.update({"backlog": backlog_n, "projects": len(QUEUE_PROJECTS)})
    reset_peak_rss()
    run.mark("inputs")

    t_setup = time.perf_counter()
    sess = Session(run)
    spark = sess.spark
    from nova_pulsar_spark.registry import all_queries

    t0 = time.perf_counter()
    all_queries()
    all_queries_s = time.perf_counter() - t0
    if run.trace:
        _install_package_probes(run, spark)
    for r, batch in ((warm_root, warm_plans), (root, plans)):
        for project in QUEUE_PROJECTS:
            QueueNamespace(root=r, project=project).setup()
        for plan in batch:
            QueueNamespace(root=r, project=plan["project"]).enqueue_plan(plan)
    # Warm-up cycles on a separate queue root, so the measured queue's
    # log, board and pulse hold only measured cycles.
    for i in range(len(warm_plans)):
        _drive_plan(spark, warm_root, plans_by_id, run, f"warm-{i}")
    setup_s = time.perf_counter() - t_setup
    run.end_setup()
    run.mark("setup")

    # A fixed number of cycles, so every run times the same cycle indices
    # (dispatch cost grows with the queue's history).
    cycles = min(backlog_n, fixed_count(run.seconds, QUEUE_CYCLE_S))
    dispatch, monitor, cycle_s, files_seen = [], [], [], []
    measured = 0.0
    drained: list[str] = []
    cycle = 0
    while cycle < cycles:
        if run.trace:
            files_seen.append(_plan_files(root))
        try:
            step = _drive_plan(spark, root, plans_by_id, run, f"cycle-{cycle}")
        except Exception as e:  # counted, never hidden
            run.check(False, f"cycle {cycle} raised {e!r}"[:300])
            break
        cycle += 1
        measured += step["cycle_s"]
        dispatch.append(step["dispatch_s"])
        d = step["decision"]
        run.check(d.get("action") == "dispatch", f"cycle {cycle}: {d.get('action')} {d.get('error', '')}"[:300])
        if d.get("action") != "dispatch":
            break
        monitor.append(step["monitor_s"])
        cycle_s.append(step["cycle_s"])
        drained.append(d["plan_id"])
        # At most one plan active: none before the dispatch, none after finalize.
        n_active = len(glob.glob(os.path.join(root, "*", "active", "*.json")))
        run.check(d.get("n_active") == 0 and n_active == 0,
                  f"cycle {cycle}: {d.get('n_active')} active at dispatch, {n_active} after finalize")
    run.params.update({"cycles": cycles, "plans_drained": len(drained)})
    # Plans per second at the median cycle time: one cycle drains one
    # plan, and the median keeps a single stalled cycle from setting it.
    _finish(
        run, sess, setup_s, dispatch, 1.0 / pct(cycle_s, 50) if cycle_s else 0.0,
        {"all_queries_s": all_queries_s, "job_ops": "cycle", "monitor_p50_s": pct(monitor, 50),
         "plan_files_per_cycle": float(np.mean(files_seen)) if files_seen else 0.0,
         "measured_s": measured},
    )
    from nova_pulsar_spark.plans import daemon

    final_pulse = daemon.monitor_once(spark, root, now=utcnow())
    sess.stop()
    run.mark("stop")
    _check_queue(run, root, drained, plans, final_pulse)


def _check_queue(run: Run, root: str, drained: list[str], backlog: list[dict], pulse: dict) -> None:
    plans_by_id = {p["id"]: p for p in backlog}
    records = []
    with open(os.path.join(root, "daemon.log")) as f:
        for line in f:
            records.append(json.loads(line.split(" - ", 1)[1]))
    dispatched = [r["plan_id"] for r in records if r.get("action") == "dispatch"]
    run.check(dispatched == drained, "daemon log dispatches differ from drained plans")
    run.check(len(set(dispatched)) == len(dispatched), "a plan was dispatched twice")
    errors = [r for r in records if r.get("action") == "scan_error"]
    run.check(not errors, f"daemon log has scan_error: {errors[:1]}")
    # Dependencies: every older plan sharing a file finished first.
    files = {p["id"]: {f for ph in p["phases"] for f in ph["files"]} for p in backlog}
    done: set[str] = set()
    for pid in drained:
        plan = plans_by_id[pid]
        blockers = [o["id"] for o in backlog if o["created_at"] < plan["created_at"]
                    and o["id"] not in done and files[pid] & files[o["id"]]]
        run.check(not blockers, f"{pid} dispatched before its dependencies {blockers[:3]}")
        done.add(pid)
    board = json.load(open(os.path.join(root, "board.json")))["entries"]
    run.check(
        sorted(e["id"] for e in board) == sorted(drained) and all(e["status"] == "completed" for e in board),
        "board is not fully completed",
    )
    on_disk = json.load(open(os.path.join(root, "pulse.json")))
    phases = [(g["plan_id"], p["phase"], p["status"]) for g in on_disk["rounds"] for p in g["phases"]]
    want = sorted((pid, ph, "completed") for pid in drained for ph in range(1, plans_by_id[pid]["n_phases"] + 1))
    run.check(sorted(phases) == want and on_disk == pulse, "pulse.json is not fully completed")
    run.check(not pulse["incidents"], f"pulse has incidents: {pulse['incidents'][:1]}")


# -- status_stream -------------------------------------------------------


def make_status_events(rng: random.Random, n: int, tag: str) -> list[dict]:
    """Seeded status events for concurrently running phases: each phase
    reports running with a growing tool count, then completes; a few
    events come from a second thread (claim rejected) or arrive after
    completion (suppressed regression)."""
    events: list[dict] = []
    open_phases: list[dict] = []
    next_plan = 0
    while len(events) < n:
        while len(open_phases) < STREAM_OPEN_PHASES:
            open_phases.append({"plan": f"{tag}-plan-{next_plan:04d}", "phase": rng.randint(1, 4),
                                "left": rng.randint(2, 6), "tools": 0})
            next_plan += 1
        ph = rng.choice(open_phases)
        roll = rng.random()
        ph["tools"] += 1
        thread = f"thread-{ph['plan']}-{ph['phase']}"
        if roll < 0.05:
            thread += "-other"
            status = "running"
        else:
            ph["left"] -= 1
            status = "completed" if ph["left"] == 0 else "running"
        events.append({"plan_id": ph["plan"], "phase": ph["phase"], "thread_id": thread,
                       "status": status, "tool_count": ph["tools"]})
        if ph["left"] == 0:
            open_phases.remove(ph)
            if rng.random() < 0.1:
                events.append({"plan_id": ph["plan"], "phase": ph["phase"], "thread_id": thread,
                               "status": "running", "tool_count": ph["tools"] + 1})
    return events[:n]


def _stamp(ev: dict, i: int) -> dict:
    now = utcnow().isoformat(timespec="microseconds")
    return {"task_id": f"task-{i}", "project": "stream", "last_tool": "Bash", "last_file": None,
            "updated_at": now, "started_at": now, "completed_at": None, **ev}


class LagSink:
    """Delivers each micro-batch through an `AppendLogSink`, then reads
    back the rows it appended and stamps their arrival."""

    def __init__(self, path: str, run: Run):
        from nova_pulsar_spark.streaming.sinks import AppendLogSink

        self.run = run
        self.sink = AppendLogSink(path)
        self.path = path
        self.offset = 0
        self.rows: list[dict] = []
        self.lags: list[float] = []
        self.record = True

    def __call__(self, batch_df, batch_id: int) -> None:
        with self.run.span("stream.deliver", f"{os.path.basename(self.path)}-batch-{batch_id}"):
            self.sink(batch_df, batch_id)
        arrived = utcnow()
        if not os.path.exists(self.path):
            return
        with open(self.path) as f:
            f.seek(self.offset)
            chunk = f.read()
            self.offset = f.tell()
        for line in chunk.splitlines():
            row = json.loads(line)
            self.rows.append(row)
            if self.record:
                self.lags.append((arrived - datetime.fromisoformat(row["at"])).total_seconds())


class ProgressLog:
    """Collects every StreamingQuery progress report (the same objects
    ``lastProgress`` returns) and waits for a number of consumed files.

    The lifecycle stream uses processing-time state timeouts, so Spark
    keeps scheduling no-data batches: neither ``processAllAvailable`` nor
    an ``availableNow`` run ever reports idle, and consumption is tracked
    from the progress reports instead."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.cond = threading.Condition()
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.consumed: dict[str, int] = defaultdict(int)

    def add(self, p: dict) -> None:
        with self.cond:
            self.progress[p["id"]].append(p)
            self.consumed[p["id"]] += int(p.get("numInputRows", 0))
            self.cond.notify_all()

    def wait_consumed(self, query, n: int, timeout: float = 120.0) -> bool:
        qid = str(query.id)
        deadline = time.time() + timeout
        with self.cond:
            while self.consumed[qid] < n:
                left = deadline - time.time()
                if left <= 0 or query.exception() is not None:
                    return False
                self.cond.wait(min(left, 0.5))
        return True


def _start_stream(spark, topic, sink, ckpt: str, **trigger):
    from nova_pulsar_spark.streaming.state import lifecycle_stream

    return (
        lifecycle_stream(topic.reader(spark))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(**trigger)
        .start()
    )


def _stream_workload(run: Run) -> None:
    from nova_pulsar_spark.streaming.topics import STATUS_SCHEMA, Topic

    seconds = run.seconds
    n_live = int(STREAM_RATE * seconds)
    n_warm = 20
    n_backlog = 60 if run.smoke else STREAM_BACKLOG
    live_events = make_status_events(run.rng, n_live, "live")
    warm_events = make_status_events(random.Random(run.seed + 1), n_warm, "warm")
    backlog_events = make_status_events(random.Random(run.seed + 2), n_backlog, "drain")
    run.params.update({"rate_per_s": STREAM_RATE, "trigger": STREAM_TRIGGER,
                       "live_events": n_live, "backlog": n_backlog})
    live_topic = Topic(base_dir=os.path.join(run.tmp, "topics", "live"), schema=STATUS_SCHEMA)
    drain_topic = Topic(base_dir=os.path.join(run.tmp, "topics", "drain"), schema=STATUS_SCHEMA)
    for topic in (live_topic, drain_topic):
        os.makedirs(topic.base_dir, exist_ok=True)
    for i, ev in enumerate(backlog_events):  # input for the drain phase
        drain_topic.produce(f"d{i:06d}.json", _stamp(ev, i))
    reset_peak_rss()
    run.mark("inputs")

    t_setup = time.perf_counter()
    sess = Session(run)
    spark = sess.spark
    from nova_pulsar_spark.registry import all_queries

    t0 = time.perf_counter()
    all_queries()
    all_queries_s = time.perf_counter() - t0
    if run.trace:
        _install_package_probes(run, spark)
    progress = ProgressLog()
    spark.streams.addListener(progress.listener)
    live_sink = LagSink(os.path.join(run.tmp, "out", "live.log"), run)
    live_sink.record = False
    query = _start_stream(spark, live_topic, live_sink, os.path.join(run.tmp, "ckpt", "live"),
                          processingTime=STREAM_TRIGGER)
    for i, ev in enumerate(warm_events):
        live_topic.produce(f"w{i:06d}.json", _stamp(ev, i))
    run.check(progress.wait_consumed(query, n_warm), "warm-up events were not consumed")
    setup_s = time.perf_counter() - t_setup
    run.end_setup()
    run.mark("setup")
    # Open loop: one generator thread offers events at a fixed rate.
    live_sink.record = True
    produced_at: list[float] = []
    late: list[float] = []
    n_progress = len(progress.progress[str(query.id)])

    def generate() -> None:
        start = time.time()
        for i, ev in enumerate(live_events):
            due = start + i / STREAM_RATE
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            late.append(max(0.0, time.time() - due))
            with run.span("gen.event", f"ev-{i}"):
                live_topic.produce(f"e{i:06d}.json", _stamp(ev, n_warm + i))
            produced_at.append(time.time())

    gen = threading.Thread(target=generate, name="status-generator")
    t_open = time.perf_counter()
    gen.start()
    gen.join()
    run.check(progress.wait_consumed(query, n_warm + n_live), "live events were not all consumed")
    open_s = time.perf_counter() - t_open
    live_progress = progress.progress[str(query.id)][n_progress:]
    query.stop()

    # Drain phase: the pre-published backlog through an availableNow run.
    # The drain time runs from the start of the first batch that read
    # input to the end of the last one, as the progress reports give them.
    drain_sink = LagSink(os.path.join(run.tmp, "out", "drain.log"), run)
    t_drain = time.perf_counter()
    dq = _start_stream(spark, drain_topic, drain_sink, os.path.join(run.tmp, "ckpt", "drain"),
                       availableNow=True)
    run.check(progress.wait_consumed(dq, n_backlog), "backlog was not drained")
    drain_wall_s = time.perf_counter() - t_drain
    dq.stop()
    drain_s = _busy_span_s(progress.progress[str(dq.id)]) or drain_wall_s
    run.params.update({"drain_s": round(drain_s, 3), "drain_wall_s": round(drain_wall_s, 3)})

    extra = {"all_queries_s": all_queries_s, "measured_s": open_s + drain_s}
    if run.trace:
        extra.update(_progress_metrics(run, live_progress, produced_at))
        extra["late_p99_s"] = pct(late, 99)
    _finish(run, sess, setup_s, live_sink.lags, n_backlog / drain_s, extra)

    from nova_pulsar_spark.streaming.state import lifecycle_batch

    checks = []
    for topic, sink in ((live_topic, live_sink), (drain_topic, drain_sink)):
        want = [r.asDict() for r in lifecycle_batch(topic.read_batch(spark)).collect()]
        checks.append((topic.base_dir, want, sink.rows))
    sess.stop()
    run.mark("stop")
    for where, want, got in checks:
        key = lambda r: (r["plan_id"], r["phase"], r["kind"], r["from_status"] or "",
                         r["to_status"] or "", r["tool_count"], str(r["at"]))
        run.check(sorted(map(key, want)) == sorted(map(key, got)),
                  f"{os.path.basename(where)}: stream transitions differ from lifecycle_batch "
                  f"({len(got)} vs {len(want)} rows)")
    run.check(len(live_sink.lags) > 0, "no transitions reached the sink")


def _ts(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _busy_span_s(progress: list[dict]) -> float:
    """Seconds from the start of the first batch that read input to the
    end of the last one."""
    batches = [p for p in progress if int(p.get("numInputRows", 0))]
    if not batches:
        return 0.0
    first, last = batches[0], batches[-1]
    return _ts(last) + last["durationMs"]["triggerExecution"] / 1000.0 - _ts(first)


def _progress_metrics(run: Run, progress, produced_at: list[float]) -> dict:
    """Per-batch numbers from StreamingQuery progress, and the file
    backlog at each trigger (produced minus consumed)."""
    latest, add_batch, backlog = [], [], []
    consumed = 0
    rows_total = mem = 0.0
    produced_at = sorted(produced_at)
    to_perf = time.perf_counter() - time.time()  # spans use the perf_counter clock
    for p in progress:
        d = p.get("durationMs", {})
        n_in = int(p.get("numInputRows", 0))
        if "latestOffset" in d:
            latest.append(d["latestOffset"])
        if n_in:
            add_batch.append(d.get("addBatch", 0))
        started = _ts(p)
        backlog.append(float(np.searchsorted(produced_at, started)) - consumed)
        consumed += n_in
        ops = p.get("stateOperators") or []
        if ops:
            rows_total = ops[0].get("numRowsTotal", 0)
            mem = ops[0].get("memoryUsedBytes", 0)
        begin = started + to_perf
        run.probe.record("stream.batch", begin, begin + d.get("triggerExecution", 0) / 1000.0,
                         f"batch-{p.get('batchId')}")
    return {
        "latest_offset_ms": pct(latest, 50),
        "add_batch_ms": pct(add_batch, 50),
        "backlog_files": pct(backlog, 50),
        "state_rows_total": rows_total,
        "state_memory_bytes": mem,
    }


def run_workload(workload, seed, seconds, trace, smoke, tmp, spans_path):
    run = Run(workload, seed, seconds, trace, smoke, tmp, spans_path)
    try:
        if workload == "query_mix":
            _query_workload(run, QUERIES)
        elif workload == "queue_dispatch":
            _queue_workload(run)
        else:
            _stream_workload(run)
    finally:
        if run.session is not None:
            run.session.stop()
    run.mark("check")
    run.params["failed_ratio"] = run.failed / max(1, run.attempted)
    if run.problems:
        run.params["problems"] = run.problems[:10]
    return run.result(), run.params
