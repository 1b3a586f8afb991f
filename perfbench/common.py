"""Shared machinery of the benchmark: host context, the Spark session it
pins, process memory, the span recorder, the per-op engine reader and the
statistics the end-to-end metrics are built from.

Nothing here changes a program file: tracing wraps program functions from
outside, and the engine numbers come from Spark's in-process status stores.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import statistics
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
CALIBRATION_ITERS = 1_000_000


def sf_dir() -> str:
    """The test data the suites read: $SCORE_SPARK_ORACLE_SF_DIR, else the
    sf dir the package's oracle SQL defaults to (the correctness gate's
    scale)."""
    from score_spark.xcheck import _DEFAULT_ORACLE_SF_DIR, _ORACLE_SF_DIR_ENV

    return os.environ.get(_ORACLE_SF_DIR_ENV, _DEFAULT_ORACLE_SF_DIR)


# --------------------------------------------------------------- host context


def process_start_monotonic() -> float:
    """time.monotonic() value at which this process was started, from
    /proc/self/stat (clock ticks since boot) and /proc/uptime."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.monotonic() - max(0.0, age)


def calibration_ms() -> float:
    """A fixed pure-Python loop, timed: the host's speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIBRATION_ITERS):
        acc += i & 7
    return (time.perf_counter() - t0) * 1e3


def cpu_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def spark_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_memory() -> str:
    """A quarter of physical memory, capped at 4g: the session default
    (32g) is more than many hosts have."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


# ------------------------------------------------------------------ session


def prepare_environment(run_dir: str) -> None:
    """Point every scratch location of Spark, its Python workers and the
    xcheck oracle channel into ``run_dir``, and let workers import the
    package from the checkout. Must run before anything imports score_spark
    (xcheck freezes its directory and the oracle SQL its sf dir at import)
    and before the JVM starts."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "xcheck"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SCORE_SPARK_XCHECK_DIR"] = os.path.join(run_dir, "xcheck")
    os.environ["SCORE_SPARK_ORACLE_SF_DIR"] = sf_dir()  # pinned for the xcheck oracles


def session_conf(run_dir: str, live_sized_heap: bool = False) -> dict[str, str]:
    """The settings the benchmark pins. live_sized_heap adds
    -XX:GCTimeRatio=1, which stops G1 from growing the heap because GC
    pauses ran long (on a shared host they do at random), so the committed
    heap, and with it peak_rss_mb, follows the live data."""
    tmp = os.path.join(run_dir, "tmp")
    memory = driver_memory()
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.driver.memory": memory,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData keeps the JVM from writing hsperfdata under /tmp
        "spark.driver.extraJavaOptions": java + (" -XX:GCTimeRatio=1" if live_sized_heap else ""),
    }


def start_session(run_dir: str, live_sized_heap: bool = False):
    from score_spark.session import get_session

    cores = spark_cores()
    spark = get_session(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=session_conf(run_dir, live_sized_heap)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python worker
    daemon) has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_gc(spark) -> None:
    """Untimed cleanup between ops, as bench.py does between queries."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()


# ------------------------------------------------------------ process memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def settle_rss(spark, timeout_s: float = 10.0) -> None:
    """Run a full JVM GC and wait until the summed RSS of this process and
    every process below it has held still for half a second: G1 returns
    the memory the GC freed in the background, after System.gc() returns."""
    spark._jvm.System.gc()
    t_end = time.monotonic() + timeout_s
    last, still_since = -1, time.monotonic()
    while time.monotonic() < t_end:
        rss = sum(_status_kb(p, "VmRSS") for p in descendants(os.getpid()))
        if abs(rss - last) > 1024:
            last, still_since = rss, time.monotonic()
        elif time.monotonic() - still_since >= 0.5:
            return
        time.sleep(0.05)


def reset_peak_rss() -> None:
    """Restart VmHWM from the current RSS in this process and every process
    below it, so that a later peak_rss_mb() covers only what ran since."""
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process has exited


def peak_rss_mb() -> float:
    """VmHWM summed over this process, its JVM and the live Python workers
    (every process below this one)."""
    return sum(_status_kb(p, "VmHWM") for p in descendants(os.getpid())) / 1024.0


def peak_rss_by_process() -> dict[str, float]:
    """VmHWM in MB per process below this one, keyed "<pid> <comm>"."""
    out = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[f"{pid} {comm}"] = round(_status_kb(pid, "VmHWM") / 1024.0, 1)
    return out


def python_worker_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds of the Python worker processes under the JVM, reaped
    workers included (they accrue to their parent's cutime/cstime)."""
    if jvm_pid is None:
        return 0.0
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(jvm_pid)[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


# -------------------------------------------------------------------- tracing


class Tracer:
    """Spans (name, start, end, parent index, op id) kept in memory and
    written out when the run ends. Only the main thread records."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[tuple[int, str], float]:
        """{(op, name): summed self seconds} over spans inside timed ops.
        Self time is a span's duration minus what its child spans cover."""
        child_cover = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child_cover[parent] += t1 - t0
        out: dict[tuple[int, str], float] = {}
        for i, (name, t0, t1, _, op) in enumerate(self.spans):
            if op is None or t1 is None:
                continue
            out[(op, name)] = out.get((op, name), 0.0) + (t1 - t0) - child_cover[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": t0, "end": t1, "parent": p, "op": op}
                    for n, t0, t1, p, op in self.spans
                ],
                f,
            )


def install_analyzer_tracing(tracer: Tracer) -> None:
    """Wrap the analyzer's phases from outside (module attributes are looked
    up at call time, so replacing them reroutes every caller)."""
    from score_spark.schema_on_read import generator as gen

    gen._collect_jvm_relations = tracer.wrap("sor.collect_relations", gen._collect_jvm_relations)
    gen._collect_jvm_subquery_relations = tracer.wrap(
        "sor.collect_relations", gen._collect_jvm_subquery_relations
    )
    gen.build_tree = tracer.wrap("sor.build_tree", gen.build_tree)
    gen.prune_schema = tracer.wrap("sor.emit", gen.prune_schema)
    gen.SchemaOnRead._analyze = tracer.wrap("sor.walk", gen.SchemaOnRead._analyze)
    gen.SchemaOnRead.generate = classmethod(
        tracer.wrap("sor.generate", gen.SchemaOnRead.generate.__func__)
    )

    real_pool = gen._plan_json_pool

    class _TracedFuture:
        def __init__(self, fut) -> None:
            self._fut = fut

        def result(self, *args):
            with tracer.span("sor.plan_json_wait"):
                return self._fut.result(*args)

        def __getattr__(self, attr):
            return getattr(self._fut, attr)

    class _TracedPool:
        def submit(self, fn, *args, **kwargs):
            return _TracedFuture(real_pool().submit(fn, *args, **kwargs))

    gen._plan_json_pool = _TracedPool


def install_xcheck_tracing(tracer: Tracer) -> None:
    from score_spark.operators import dedup, rollup, similarity

    for mod in (dedup, rollup, similarity):
        mod.write_xcheck = tracer.wrap("xcheck.write", mod.write_xcheck)


# -------------------------------------------------------------------- engine

_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange \(\d+\)")
_PYUDF = re.compile(r"(?<![A-Za-z])\w*(?:Python|InPandas|InArrow)\w* \(\d+\)")


def _plan_tree(description: str) -> str:
    """The node tree of a formatted physical plan: its final plan when AQE
    re-planned, without the per-node detail section."""
    tree = description.split("\n\n", 1)[0]
    return tree.split("== Initial Plan ==", 1)[0]


class EngineReader:
    """Per-op Spark engine counts from the in-process status stores. Job,
    stage and SQL execution ids are sequential, so an op's work is every id
    issued since the previous read, whichever thread submitted it."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_exec = 0
        self.read()

    def spark_next_job(self) -> int:
        """Id the next submitted job will get: one call, cheap enough to
        take inside a traced op."""
        return self._sc.dagScheduler().nextJobId()

    def _new_jobs(self) -> list:
        jobs = []
        while True:
            try:
                jobs.append(self._store.job(self._next_job))
            except Exception:  # py4j NoSuchElementException: no such job yet
                return jobs
            self._next_job += 1

    def _new_plans(self) -> list[str]:
        plans = []
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                return plans
            plans.append(_plan_tree(ex.get().physicalPlanDescription()))
            self._next_exec += 1

    def read(self, wall_s: float = 0.0) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._new_jobs()
        plans = self._new_plans()
        out = dict.fromkeys(
            ("stages", "tasks", "exec_cpu_s", "exec_run_s", "gc_s", "input_bytes", "shuffle_write_bytes"),
            0.0,
        )
        intervals = []
        for job in jobs:
            ids = job.stageIds()
            for k in range(ids.length()):
                st = self._store.lastStageAttempt(ids.apply(k))
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                if st.submissionTime().isDefined() and st.completionTime().isDefined():
                    intervals.append(
                        (st.submissionTime().get().getTime(), st.completionTime().get().getTime())
                    )
        out["jobs"] = float(len(jobs))
        out["exchanges"] = float(sum(len(_EXCHANGE.findall(p)) for p in plans))
        out["pyudf_nodes"] = float(sum(len(_PYUDF.findall(p)) for p in plans))
        out["driver_gap_s"] = max(0.0, wall_s - _union_ms(intervals) / 1e3)
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------- statistics


def end_to_end(setup_s: float, latencies: list[float], attempted: int, failed: int,
               rss_mb: float, scan_bytes_ratio: float) -> dict[str, dict]:
    ok = attempted - failed
    p50 = p90 = 0.0
    if latencies:
        p50 = statistics.median(latencies) * 1e3
        p90 = statistics.quantiles(latencies, n=10)[8] * 1e3 if len(latencies) > 1 else p50
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": ok / sum(latencies) if latencies else 0.0, "unit": "1/s"},
        "latency_p50_ms": {"value": p50, "unit": "ms"},
        "latency_p90_ms": {"value": p90, "unit": "ms"},
        "success_rate": {"value": ok / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "scan_bytes_ratio": {"value": scan_bytes_ratio, "unit": "ratio"},
    }


def footer_ratio(items: list[tuple[str, object, object]]) -> tuple[float, float]:
    """(scan_bytes_ratio, kept_leaf_ratio) over (path, full, pruned) schema
    triples: parquet footer bytes a scan needs under the pruned schema over
    those under the full one (parquet paths only), and kept leaves over all
    leaves."""
    from score_spark.schema_on_read.bytes_audit import parquet_leaf_paths, scan_bytes

    full_b = pruned_b = full_l = kept_l = 0
    for path, full, pruned in items:
        full_l += len(parquet_leaf_paths(full))
        kept_l += len(parquet_leaf_paths(pruned))
        if path.rstrip("/").endswith(".parquet"):
            full_b += scan_bytes(path, full)
            pruned_b += scan_bytes(path, pruned)
    return pruned_b / full_b, kept_l / full_l
