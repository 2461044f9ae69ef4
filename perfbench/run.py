"""pysparkline benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload adhoc_olap --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run in a checkout generates the
source tables and builds the indexes (``fixture.py``); no timed region
includes that. Each run then starts one Spark ``local[N]`` session
(N = min(4, cores)), sets up the index once to launch the JVM and once more
to time it, warms up, and issues one operation at a time for ``--seconds``
seconds. After the loop, every result is checked against
DuckDB over the raw parquet.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the engine's
public module functions with span recorders, adds probes of the write path
(index append and compaction) and of both dedup stores, and prints the
per-layer metrics; its spans go to ``.bench_build/perfbench/traces/``. The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. DESIGN.md in this directory says what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import urllib.request
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import fixture  # noqa: E402
import oracle  # noqa: E402
import sqlgen  # noqa: E402
from spans import Tracer, highest_tail, interquartile_mean, percentile  # noqa: E402

ADHOC_WARMUP = 5  # half a cycle: cheap, dear and subquery shapes
# plan-cache hits after the dashboard warm-up's two passes: without them,
# latencies fell by ~15% from the first to the last quarter of the loop
DASHBOARD_WARM_HITS = 40
# the cube the write probe compacts: day grain, so an append adds the most
# partial rows to it. Compacting all nine would add ~25 s to a traced run.
COMPACT_CUBE = "flags"
DEDUP_BATCH = 250
# A run must end within 180 s. A traced run skips a probe that would not
# end by RUN_LIMIT_S. It guesses a probe's length from the one before it, and
# the first's as FIRST_PROBE_S (each took 30-40 s on a quiet 4-vCPU host).
RUN_LIMIT_S = 170.0
FIRST_PROBE_S = 60.0


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def dir_stats(path: str) -> tuple[int, int, dict]:
    """(files, bytes, {path: (size, mtime_ns)}) of every file below path."""
    seen = {}
    for base, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            st = os.stat(p)
            seen[p] = (st.st_size, st.st_mtime_ns)
    return len(seen), sum(s for s, _ in seen.values()), seen


def source_bytes(data_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
               for t in oracle.TABLES)


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM of the process tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def cpu_s() -> float:
    """User + system CPU seconds used so far by the live process tree.
    Time the hypervisor gave to other guests (steal) is not in it."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def cpu_stat() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def live_heap_mb(spark) -> float:
    """Driver JVM heap in use after a full collection: what the session
    keeps alive (pinned cubes, compiled plans, metadata)."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def median(xs) -> float | None:
    """Median of the samples that were measured; None if there are none."""
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def mean(xs) -> float | None:
    xs = list(xs)
    return statistics.fmean(xs) if xs else None


# ----------------------------------------------------------------- Spark IO
def catalyst_phases(df) -> dict[str, float | None]:
    """Catalyst's own phase durations (ms) for this DataFrame's plan; None
    for a phase the tracker did not record."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {name: float(phases.apply(name).durationMs())
            if phases.contains(name) else None
            for name in ("analysis", "optimization", "planning")}


def scan_metrics(df) -> dict[str, float]:
    """Summed leaf-node SQL metrics of the executed plan: files and bytes
    read by file scans, rows produced by every scan (file or in-memory)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    out = {"files": 0.0, "bytes": 0.0, "rows": 0.0}
    stack = [plan]
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if "QueryStage" in name:
            stack.append(p.plan())
            continue
        if name == "ReusedExchangeExec":
            continue
        kids = p.children()
        if kids.isEmpty():
            m = p.metrics()
            for key, field in (("numFiles", "files"), ("filesSize", "bytes"),
                               ("numOutputRows", "rows")):
                if m.contains(key):
                    out[field] += m.apply(key).value()
        it = kids.iterator()
        while it.hasNext():
            stack.append(it.next())
    return out


class SparkUI:
    """Job and stage records of the running application, read from the
    Spark UI's REST API on the loopback interface."""

    def __init__(self, sc):
        url = sc.uiWebUrl or ""
        port = url.rsplit(":", 1)[-1] if url else "4040"
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    @staticmethod
    def _ts(s: str | None) -> float | None:
        if not s:
            return None
        return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
            .replace(tzinfo=timezone.utc).timestamp()

    def groups(self) -> dict[str, dict]:
        """job group -> {jobs: [(start, end)], stages, tasks, task_ms}."""
        stages = {}
        for s in self._get("stages"):
            if s.get("status") == "COMPLETE":
                stages[s["stageId"]] = s
        out: dict[str, dict] = {}
        for j in self._get("jobs"):
            g = out.setdefault(j.get("jobGroup") or "", {
                "jobs": [], "stages": 0, "tasks": 0, "task_ms": 0.0})
            g["jobs"].append((self._ts(j.get("submissionTime")),
                              self._ts(j.get("completionTime"))))
            for sid in j.get("stageIds", []):
                s = stages.get(sid)
                if s is None:
                    continue  # skipped: its output was reused
                g["stages"] += 1
                g["tasks"] += s.get("numCompleteTasks", 0)
                g["task_ms"] += s.get("executorRunTime", 0)
        return out


def covered_ms(intervals, lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of intervals."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                 if a is not None and b is not None and min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in cut:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


def split_collect(jobs, lo: float, hi: float):
    """Split a collect window [lo, hi] (seconds) by the job intervals inside
    it: (before the first job, job time, gaps between jobs, after the last
    job), in ms. Without a job, only the job time (0) is known."""
    jobs = [(a, b) for a, b in jobs
            if a is not None and b is not None and a < hi and b > lo]
    ex = covered_ms(jobs, lo, hi)
    if not jobs:
        return None, ex, None, None
    first = max(lo, min(a for a, _ in jobs))
    last = min(hi, max(b for _, b in jobs))
    return ((first - lo) * 1000.0, ex, (last - first) * 1000.0 - ex,
            (hi - last) * 1000.0)


# -------------------------------------------------------------- the bench
class Bench:
    def __init__(self, args, meta: dict, tmp: str):
        self.started = time.perf_counter()
        self.args = args
        self.meta = meta
        self.tmp = tmp
        self.local = os.path.join(tmp, "spark")
        self.spark = None
        self.failures: list[str] = []
        self._dfs: list = []  # DataFrames ctx.sql returned (traced runs)

    # set-up: session + index load + star tables + cube pinning
    def setup_read(self, reps_wanted: int):
        """Set up ``reps_wanted`` times, each on a new SparkContext; the
        first launches the JVM. ``dashboard_repeat`` pins the cubes in
        executor memory (its serving posture); ``adhoc_olap`` reads them
        from disk like an analyst's fresh session."""
        from pysparkline import tpch
        from pysparkline.index import OlapIndex
        from pysparkline.session import OlapContext

        reps = []
        for _ in range(reps_wanted):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = fixture.spark_session(self.local, ui=bool(self.args.trace))
            t1 = time.perf_counter()
            idx = OlapIndex.load(self.spark, self.meta["index"]["read"])
            idx.tune_read_parallelism()
            tables = tpch.load_star_tables(self.spark, self.meta["read_data"])
            ctx = OlapContext(self.spark, idx, base_tables=tables,
                              fds=tpch.tpch_fds())
            t2 = time.perf_counter()
            if self.args.workload == "dashboard_repeat":
                idx.cache_cubes()
            t3 = time.perf_counter()
            reps.append({"setup": t3 - t0, "session": t1 - t0,
                         "load": t2 - t1, "cache": t3 - t2})
        self.ctx = ctx
        return reps

    def streams(self):
        seed = self.args.seed
        if self.args.workload == "adhoc_olap":
            warm = sqlgen.adhoc_stream(seed + 1_000_003)
            return [next(warm) for _ in range(ADHOC_WARMUP)], sqlgen.adhoc_stream(seed)
        # twice: the first pass compiles, the second lets the context's
        # group-count feedback re-plan what it will before the timed loop
        hits = sqlgen.dashboard_stream(seed + 1_000_003)
        warm = 2 * list(sqlgen.DASHBOARD.values())
        warm += [next(hits) for _ in range(DASHBOARD_WARM_HITS)]
        return warm, sqlgen.dashboard_stream(seed)

    def run_op(self, sql: str, ops: list, tracer: Tracer | None = None):
        """One closed-loop operation: ctx.sql + collect, timed."""
        if tracer is None:
            t0 = time.perf_counter()
            try:
                df = self.ctx.sql(sql)
                rows = df.collect()
            except Exception:  # noqa: BLE001 — counted as a failed op
                self.failures.append(traceback.format_exc())
                ops.append({"sql": sql, "rows": None, "s": None})
                return
            ops.append({"sql": sql, "rows": rows, "s": time.perf_counter() - t0})
            if self.args.trace:  # plan-cache hits are judged against these
                self._dfs.append(df)
            return
        sc = self.spark.sparkContext
        i = len(ops)
        tracer.op = i
        sc.setJobGroup(f"op{i}", "perfbench", False)
        codegen = self.spark._jvm.org.apache.spark.sql.execution.WholeStageCodegenExec
        cg0 = codegen.codeGenTime()
        op = {"sql": sql, "rows": None, "s": None}
        ops.append(op)
        try:
            t0 = time.perf_counter()
            with tracer.span("session.sql"):
                df = self.ctx.sql(sql)
            with tracer.span("transfer.collect") as cs:
                rows = df.collect()
            op["s"] = time.perf_counter() - t0
            op["rows"] = rows
        except Exception:  # noqa: BLE001 — counted as a failed op
            self.failures.append(traceback.format_exc())
            return
        finally:
            tracer.op = None
            sc.setJobGroup("", "", False)
        op["codegen_ms"] = (codegen.codeGenTime() - cg0) / 1e6
        op["collect"] = (cs.start, cs.end)
        op["backing"] = self.ctx.query_history[-1].backing
        op["hit"] = any(df is d for d in self._dfs)
        if not op["hit"]:
            self._dfs.append(df)
        # on a plan-cache hit, the phases of the plan's first execution
        op["phases"] = catalyst_phases(df)
        scan = scan_metrics(df)
        prev = self._scan_seen.get(id(df), {"files": 0, "bytes": 0, "rows": 0})
        self._scan_seen[id(df)] = scan
        op["scan"] = {k: scan[k] - prev[k] for k in scan}

    def loop(self, ops: list, stream, seconds: float, tracer=None) -> float:
        t0 = time.perf_counter()
        deadline = t0 + seconds
        while time.perf_counter() < deadline:
            self.run_op(next(stream), ops, tracer)
        return time.perf_counter() - t0

    def check(self, ops: list, orc: oracle.Oracle) -> int:
        """Failed operations: exceptions plus results that differ from the
        oracle's."""
        failed, cache = 0, {}
        for op in ops:
            if op["rows"] is None:
                failed += 1
                continue
            want = cache.get(op["sql"])
            if want is None:
                want = cache[op["sql"]] = orc.rows(op["sql"])
            if not oracle.same_rows(op["rows"], want):
                failed += 1
                self.failures.append(f"wrong result: {op['sql']}")
        return failed

    def check_all(self, ops: list) -> int:
        orc = oracle.Oracle(self.meta["read_data"])
        try:
            return self.check(ops, orc)
        finally:
            orc.close()

    # ------------------------------------------------------------ workloads
    def read_workload(self) -> dict:
        # The first set-up launches the JVM and is left out of setup_s, which
        # times the second. The traced run sets up once: its set-up numbers
        # are per-layer only.
        reps = self.setup_read(1 if self.args.trace else 2)
        warm, stream = self.streams()
        warm_ops: list = []
        t = time.perf_counter()
        for sql in warm:
            self.run_op(sql, warm_ops)
        log(f"perfbench: warm-up {time.perf_counter() - t:.1f} s; set-up reps "
            f"{[{k: round(v, 2) for k, v in r.items()} for r in reps]}")
        if self.args.trace:
            return self.traced(reps, stream, warm_ops)
        return self.untraced(reps, stream, warm_ops)

    def untraced(self, reps, stream, warm_ops) -> dict:
        ops: list = []
        c0, st0 = cpu_s(), cpu_stat()
        loop_s = self.loop(ops, stream, self.args.seconds)
        cpu, steal = cpu_s() - c0, steal_frac(st0, cpu_stat())
        heap = live_heap_mb(self.spark)
        failed = self.check_all(warm_ops + ops)
        lat = [op["s"] * 1000.0 for op in ops if op["s"] is not None]
        _, idx_bytes, _ = dir_stats(self.meta["index"]["read"])
        metrics = {
            "setup_s": (reps[1]["setup"], "s"),
            "live_heap_mb": (heap, "MB"),
            "index_bytes_per_source_byte": (
                idx_bytes / source_bytes(self.meta["read_data"]), "ratio"),
        }
        log(f"perfbench: {self.args.workload}: {len(lat)} timed queries"
            f" ({len(lat) / loop_s:.2f}/s); host steal {steal:.1%}")
        if lat:  # none when every timed query failed
            tail = highest_tail(len(lat))
            log(f"perfbench: p50 {percentile(lat, 50):.1f} ms"
                + (f", p{tail:g} {percentile(lat, tail):.1f} ms" if tail else "")
                + f"; latencies {[round(x) for x in lat]} ms")
            metrics["query_iqm_ms"] = (interquartile_mean(lat), "ms")
            metrics["cpu_ms_per_query"] = (cpu * 1000.0 / len(lat), "ms")
        return self.result(len(warm_ops) + len(ops), failed, metrics)

    def traced(self, reps, stream, warm_ops) -> dict:
        from pysparkline import lowering, planner, sqlfront, transforms

        tracer = Tracer()
        for mod, fn in ((sqlfront, "parse_sql"), (transforms, "optimize"),
                        (planner, "choose_backing"), (lowering, "lower")):
            tracer.wrap(mod, fn, f"{mod.__name__.rsplit('.', 1)[1]}.{fn}")
        self._scan_seen: dict = {}
        n_hist = len(self.ctx.query_history)
        ops: list = []
        try:
            self.loop(ops, stream, self.args.seconds, tracer)
        finally:
            tracer.restore()
        failed = self.check_all(warm_ops + ops)
        m = self.read_layers(tracer, ops, n_hist)
        m["index.load_s"] = (reps[0]["load"], "s")
        m["index.build_s"] = (self.meta["build_s"]["read"], "s")
        files, nbytes, _ = dir_stats(self.meta["index"]["read"])
        m["index.files"] = (files, "count")
        m["index.bytes"] = (nbytes, "B")
        attempted, guess = len(warm_ops) + len(ops), FIRST_PROBE_S
        for probe in (self.write_probe, self.dedup_probe):
            t = time.perf_counter()
            if t - self.started + guess > RUN_LIMIT_S:
                log(f"perfbench: {probe.__name__} skipped: it would not end "
                    f"within {RUN_LIMIT_S:g} s")
                continue
            try:
                p_att, p_failed, pm = probe(tracer)
            except Exception:  # noqa: BLE001 — counted as a failed op
                self.failures.append(traceback.format_exc())
                p_att, p_failed, pm = 1, 1, {}
            attempted, failed = attempted + p_att, failed + p_failed
            m.update(pm)
            guess = time.perf_counter() - t
            log(f"perfbench: {probe.__name__} {guess:.1f} s")
        m["process.peak_rss_mb"] = (peak_rss_mb(), "MB")
        self.save_trace(tracer)
        return self.result(attempted, failed, m)

    def read_layers(self, tracer: Tracer, ops: list, n_hist: int) -> dict:
        ui = SparkUI(self.spark.sparkContext).groups()
        per_op = tracer.by_op()
        good = [(i, op) for i, op in enumerate(ops) if op["s"] is not None]
        n = len(good)

        def layer(name):
            return median(per_op.get(i, {}).get(name, 0.0) for i, _ in good)

        backings = [op["backing"] for _, op in good]
        rows_out = sum(len(op["rows"]) for _, op in good)
        # The blocking path of one query, each part on its own clock: the
        # session.sql span (parse, optimize, plan, lower and the session's
        # own work), Catalyst optimization and planning (its phase tracker,
        # first execution only), whole-stage code generation (its counter),
        # executor job time, the gaps between jobs (scheduling and adaptive
        # re-planning) and the hand-over after the last job (the job
        # intervals come from the listener's clock).
        attributed, unattributed, exec_ms, gap_ms = [], [], [], []
        pre_ms, first_catalyst = [], []
        for i, op in good:
            lay = per_op.get(i, {})
            pre, ex, gap, op["transfer"] = split_collect(
                ui.get(f"op{i}", {"jobs": []})["jobs"], *op["collect"])
            pre_ms.append(pre)
            exec_ms.append(ex)
            gap_ms.append(gap)
            ph = op["phases"]
            catalyst = op["codegen_ms"] + (
                0.0 if op["hit"] else (ph["optimization"] or 0.0)
                + (ph["planning"] or 0.0))
            got = sum(v for k, v in lay.items() if k != "transfer.collect")
            got += catalyst + ex + (gap or 0.0) + (op["transfer"] or 0.0)
            unattributed.append(op["s"] * 1000.0 - got)
            attributed.append(got / (op["s"] * 1000.0))
            if not op["hit"]:
                first_catalyst.append(catalyst)
        log("perfbench: median ms of collect before the first job: "
            f"{median(pre_ms)}; of Catalyst and code generation on first "
            f"executions: {median(first_catalyst)}")
        groups = [ui.get(f"op{i}") for i, _ in good]
        groups = [g for g in groups if g]
        hist = self.ctx.query_history[n_hist:]
        errs = [abs(math.log10(r.estimated_groups / r.observed_rows))
                for r in hist
                if r.estimated_groups and r.observed_rows]
        scanned = sum(op["scan"]["rows"] for _, op in good)
        span_cost = self.span_cost_us()
        spans_per_op = sum(s.op is not None for s in tracer.spans) / max(1, n)
        lat = [op["s"] * 1000.0 for _, op in good]

        def share(count):
            return count / n if n else None

        return {
            "sqlfront.parse_ms": (layer("sqlfront.parse_sql"), "ms"),
            "sqlfront.decline_frac": (share(backings.count("sparksql")), "ratio"),
            "transforms.optimize_ms": (layer("transforms.optimize"), "ms"),
            "planner.plan_ms": (layer("planner.choose_backing"), "ms"),
            "planner.cube_frac": (share(backings.count("cube")), "ratio"),
            "planner.flat_frac": (share(backings.count("flat")), "ratio"),
            "planner.fallback_frac": (share(backings.count("base")), "ratio"),
            "planner.composite_frac": (share(sum(
                b not in ("cube", "flat", "base", "sparksql") for b in backings
            )), "ratio"),
            "planner.group_est_log_err": (median(errs), "log10"),
            "lowering.lower_ms": (layer("lowering.lower"), "ms"),
            "session.driver_ms": (median(
                sum(s.ms for s in tracer.spans
                    if s.op == i and s.name == "session.sql")
                for i, _ in good), "ms"),
            "session.self_ms": (layer("session.sql"), "ms"),
            "session.plan_cache_hit_frac": (
                share(sum(op["hit"] for _, op in good)), "ratio"),
            "catalyst.analysis_ms": (median(
                op["phases"]["analysis"] for _, op in good), "ms"),
            "catalyst.optimization_ms": (median(
                op["phases"]["optimization"] for _, op in good), "ms"),
            "catalyst.planning_ms": (median(
                op["phases"]["planning"] for _, op in good), "ms"),
            "catalyst.codegen_ms": (median(
                op["codegen_ms"] for _, op in good), "ms"),
            "executor.wall_ms": (median(exec_ms), "ms"),
            "executor.task_ms": (median(g["task_ms"] for g in groups), "ms"),
            "executor.stages": (median(g["stages"] for g in groups), "count"),
            "executor.tasks": (median(g["tasks"] for g in groups), "count"),
            "executor.files_read": (median(
                op["scan"]["files"] for _, op in good), "count"),
            "executor.bytes_read": (median(
                op["scan"]["bytes"] for _, op in good), "B"),
            "executor.rows_scanned_per_row_out": (
                scanned / rows_out if rows_out else None, "ratio"),
            "scheduling.gap_ms": (median(gap_ms), "ms"),
            "transfer.collect_ms": (layer("transfer.collect"), "ms"),
            "transfer.python_ms": (median(
                op["transfer"] for _, op in good), "ms"),
            "transfer.result_rows": (median(
                len(op["rows"]) for _, op in good), "count"),
            "trace.query_iqm_ms": (interquartile_mean(lat) if lat else None, "ms"),
            "trace.attributed_frac": (median(attributed), "ratio"),
            "trace.unattributed_ms": (median(unattributed), "ms"),
            "trace.spans_per_op": (spans_per_op, "count"),
            "trace.span_cost_us": (span_cost, "us"),
            "trace.overhead_ms": (spans_per_op * span_cost / 1000.0, "ms"),
        }

    @staticmethod
    def span_cost_us() -> float:
        """Cost of one traced call of an empty function."""
        t = Tracer()

        class Box:
            @staticmethod
            def f():
                return None

        t.wrap(Box, "f", "x")
        t0 = time.perf_counter()
        for _ in range(2000):
            Box.f()
        return (time.perf_counter() - t0) / 2000 * 1e6

    # ------------------------------------------------ traced write probes
    def write_probe(self, tracer: Tracer):
        """Append a seeded batch of flattened star rows (half of one ship
        month) to a copy of the sf0.01 index, query, compact the touched
        flat partition and one cube, query again. Each query is checked at
        once against an oracle holding the base rows plus the batch."""
        from pyspark.sql import functions as F

        from pysparkline import tpch
        from pysparkline.index import OlapIndex
        from pysparkline.session import OlapContext
        from pysparkline.streaming.ingest import StreamingIngest

        data = self.meta["write_data"]
        path = os.path.join(self.tmp, "ingest_index")
        shutil.copytree(self.meta["index"]["write"], path)
        spark = self.spark
        idx = OlapIndex.load(spark, path)
        ctx = OlapContext(spark, idx,
                          base_tables=tpch.load_star_tables(spark, data),
                          fds=tpch.tpch_fds())
        t = time.perf_counter()
        idx.cache_cubes()
        cache_s = time.perf_counter() - t
        flat, _ = tpch.flat_star_df(spark, data)
        rng = random.Random(self.args.seed)
        month = rng.randrange(1, sqlgen.N_MONTHS - 1)
        lo, hi = sqlgen._month(month), sqlgen._month(month + 1)
        pred = (f"l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < "
                f"TIMESTAMP '{hi}' AND (l_orderkey + l_linenumber) % 2 = "
                f"{self.args.seed % 2}")
        queries = sqlgen.adhoc_stream(self.args.seed + 7)
        count_sql = ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q"
                     " FROM lineitem GROUP BY l_returnflag")
        checks: list = []
        failed = 0
        orc = oracle.Oracle(data)
        saved, self.ctx = self.ctx, ctx

        def query(sql: str) -> float:
            nonlocal failed
            self.run_op(sql, checks)
            failed += self.check(checks[-1:], orc)
            s = checks[-1]["s"]
            return None if s is None else s * 1000.0

        tracer.wrap(OlapIndex, "append_batch", "index.append_batch")
        tracer.wrap(StreamingIngest, "compact_flat", "ingest.compact_flat")
        tracer.wrap(StreamingIngest, "compact", "ingest.compact")
        try:
            t = time.perf_counter()
            idx.append_batch(flat.where(F.expr(pred)))
            append_s = time.perf_counter() - t
            src = os.path.join(data, "lineitem.parquet")
            orc.con.execute(f"INSERT INTO lineitem SELECT * FROM '{src}' "
                            f"WHERE {pred}")
            first_ms = query(count_sql)
            query(next(queries))
            _, _, before = dir_stats(path)
            ing = StreamingIngest(idx)
            t = time.perf_counter()
            ing.compact_flat()
            ing.compact(COMPACT_CUBE)
            compact_s = time.perf_counter() - t
            idx.invalidate()
            _, nbytes, after = dir_stats(path)
            rewritten = sum(size for p, (size, mt) in after.items()
                            if before.get(p) != (size, mt))
            query(count_sql)
            query(next(queries))
        finally:
            self.ctx = saved
            tracer.restore()
            orc.close()
            idx.invalidate()
        return len(checks), failed, {
            "index.cache_cubes_s": (cache_s, "s"),
            "index.append_s": (append_s, "s"),
            "ingest.compact_s": (compact_s, "s"),
            "ingest.bytes_rewritten": (rewritten, "B"),
            "ingest.first_query_after_append_ms": (first_ms, "ms"),
            "ingest.bytes_per_source_byte": (nbytes / source_bytes(data), "ratio"),
        }

    def dedup_probe(self, tracer: Tracer):
        """Both incremental dedup stores: a seeded history batch is stored
        with ``append``, then a second batch goes through
        ``dedup_and_append`` with the history as ``history_docs``. Verdicts
        are checked against an exact recomputation."""
        from pyspark.sql import functions as F

        from pysparkline.operators.dedup import SignatureStore, SubstringStore

        spark = self.spark
        sc = spark.sparkContext
        docs_path = os.path.join(self.meta["read_data"], "documents.parquet")
        docs = spark.read.parquet(docs_path).select("doc_id", "text")
        texts = {r.doc_id: r.text for r in docs.collect()}
        ids = sorted(texts)
        random.Random(self.args.seed).shuffle(ids)
        hist_ids = sorted(ids[:DEDUP_BATCH])
        new_ids = sorted(ids[DEDUP_BATCH:2 * DEDUP_BATCH])
        hist = docs.where(F.col("doc_id").isin(hist_ids))
        new = docs.where(F.col("doc_id").isin(new_ids))
        stores = {
            "sig": SignatureStore.create(spark, os.path.join(self.tmp, "sig")),
            "substr": SubstringStore.create(spark, os.path.join(self.tmp, "substr")),
        }
        tracer.wrap(SignatureStore, "dedup_and_append", "dedup.signature")
        tracer.wrap(SubstringStore, "dedup_and_append", "dedup.substring")
        secs, failed = {}, 0
        try:
            for kind, store in stores.items():
                store.append(hist, "doc_id", "text")
                sc.setJobGroup(f"dedup_{kind}", "perfbench", False)
                t = time.perf_counter()
                try:
                    got = {r.id: r.kept for r in store.dedup_and_append(
                        new, "doc_id", "text", history_docs=hist).collect()}
                except Exception:  # noqa: BLE001 — counted as failed
                    self.failures.append(traceback.format_exc())
                    failed += 1
                    continue
                finally:
                    sc.setJobGroup("", "", False)
                secs[kind] = time.perf_counter() - t
                if got != expected_verdict(kind, hist_ids, new_ids, texts):
                    failed += 1
                    self.failures.append(f"{kind} store verdict differs")
        finally:
            tracer.restore()
        ui = SparkUI(sc).groups()
        groups = [g for g in (ui.get(f"dedup_{k}") for k in stores) if g]
        store_bytes = sum(dir_stats(os.path.join(self.tmp, k))[1] for k in stores)
        return len(stores), failed, {
            "dedup.sig_ingest_s": (secs.get("sig"), "s"),
            "dedup.substr_ingest_s": (secs.get("substr"), "s"),
            "dedup.tasks_per_ingest": (mean(g["tasks"] for g in groups), "count"),
            "dedup.stages_per_ingest": (mean(g["stages"] for g in groups), "count"),
            "dedup.task_s_per_ingest": (
                mean(g["task_ms"] / 1000.0 for g in groups), "s"),
            "dedup.store_bytes": (store_bytes, "B"),
        }

    # --------------------------------------------------------------- output
    def save_trace(self, tracer: Tracer) -> None:
        out = os.path.join(fixture.WORK, "traces")
        os.makedirs(out, exist_ok=True)
        name = f"{self.args.workload}-seed{self.args.seed}.json"
        with open(os.path.join(out, name), "w") as fh:
            json.dump(tracer.to_json(), fh)

    def result(self, attempted: int, failed: int, metrics: dict) -> dict:
        """The verdict line. A metric with no samples (None) is left out
        rather than reported as 0."""
        for f in self.failures[:5]:
            log(f"perfbench: failure: {f}")
        missing = sorted(k for k, (v, _) in metrics.items() if v is None)
        if missing:
            log(f"perfbench: not measured in this run: {', '.join(missing)}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items() if v is not None},
        }

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def shingles(text: str, k: int = 5) -> set:
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


def windows(text: str, n: int = 8) -> set:
    t = text.split()
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


def expected_verdict(kind: str, stored_ids, batch_ids, texts: dict) -> dict:
    """Exact verdict for ``batch_ids`` against a store holding
    ``stored_ids``: a document is dropped when it matches a stored document
    or any smaller-id document of its own batch. ``sig`` matches on
    character 5-shingle Jaccard >= 0.5, ``substr`` on a shared run of 8
    whitespace tokens."""
    feat = shingles if kind == "sig" else windows

    def match(a: set, b: set) -> bool:
        if kind == "substr":
            return not a.isdisjoint(b)
        c = len(a & b)
        return round(c / (len(a) + len(b) - c), 6) >= 0.5

    stored = [feat(texts[d]) for d in stored_ids]
    fs = {d: feat(texts[d]) for d in batch_ids}
    return {
        d: not (any(match(fs[d], s) for s in stored)
                or any(match(fs[d], fs[e]) for e in batch_ids if e < d))
        for d in batch_ids
    }


WORKLOADS = ("adhoc_olap", "dashboard_repeat")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "pysparkline", "__init__.py")):
        log("perfbench: no pysparkline package beside perfbench/; run from "
            "the root of a full checkout")
        return 2
    pp = os.environ.get("PYTHONPATH")
    # Spark's Python workers import pysparkline (the dedup UDFs)
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    sys.path.insert(0, ROOT)
    prep = subprocess.run([sys.executable, os.path.join(HERE, "fixture.py")],
                          stdout=2, timeout=870)
    if prep.returncode != 0:
        log("perfbench: fixture preparation failed")
        return 3
    meta = fixture.load_meta()
    t1 = time.perf_counter()
    os.makedirs(os.path.join(fixture.WORK, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(fixture.WORK, "tmp"))
    bench = Bench(args, meta, tmp)
    try:
        result = bench.read_workload()
        t2 = time.perf_counter()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    log(f"perfbench: fixture check {t1 - t0:.1f} s, run {t2 - t1:.1f} s, "
        f"shutdown {time.perf_counter() - t2:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
