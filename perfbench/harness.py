"""Host sizing, Spark session lifecycle, memory sampling, statistics and
tracing for the benchmark.

Nothing here imports pyspark at module level: :func:`configure_env`
must run first, because the JVM reads its memory and temp-dir settings
only when it is launched.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory() -> str:
    """An eighth of physical RAM, clamped to [1, 2] GiB: the benchmark's
    inputs are small, and the host is shared."""
    gib = _meminfo_kb("MemTotal") / (1 << 20)
    return f"{int(min(max(gib / 8, 1), 2) * 1024)}m"


def configure_env() -> None:
    """Environment for the driver, the JVM and the Python workers. Every
    file Spark or Python writes lands under the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def spark_extra() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap, touched in full at launch: a growable one made
        # peak RSS swing by a fifth between runs of the same work, and an
        # untouched one by up to 0.6 GB (geodesic_pairs: 2.0-2.65 GB over
        # ten runs; touched, 3.0 GB in each of three)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{driver_memory()} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def task_slots() -> int:
    """One task slot fewer than the host has cores, which leaves a core
    to the Spark driver side: this Python process, py4j and the JVM's
    scheduler and GC threads. With a slot per core on a shared 4-core
    host, text_dedup's run-to-run spread of items_per_s was twice as
    wide (IQR/median 0.21 against 0.10 over the same five seeds,
    alternating), with no lower median (4,549 against 4,739 texts/s)."""
    return max(host_cpus() - 1, 1)


def start_spark(app: str):
    from geodistpy_spark import get_spark

    return get_spark(app, master=f"local[{task_slots()}]", extra=spark_extra())


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. Left alone, the JVM
    outlives this process by 1.5-2 s after ``spark.stop()`` (measured on
    a 4-core host), so it would overlap the next run."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def executed_plan(df) -> list[dict]:
    """The executed physical plan of a DataFrame after an action, through
    the adaptive query stages, as a pre-order list of nodes: ``name``,
    ``parent`` (an index into the list, or None) and the SQL ``metrics``.
    Codegen wrappers are left out."""
    nodes = []

    def walk(p, parent):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan(), parent)
        if cls.endswith("QueryStageExec"):
            return walk(p.plan(), parent)
        if cls not in ("InputAdapter", "WholeStageCodegenExec"):
            ms, metrics = p.metrics(), {}
            keys = ms.keys().iterator()
            while keys.hasNext():
                k = keys.next()
                metrics[k] = ms.apply(k).value()
            nodes.append({"name": p.nodeName(), "parent": parent, "metrics": metrics})
            parent = len(nodes) - 1
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i), parent)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return nodes


# ---------------------------------------------------------------------------
# host metadata and memory
# ---------------------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostMeta:
    """load1 and CPU steal over the run: recorded, never waited on."""

    def __init__(self):
        self.load1_start = os.getloadavg()[0]
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
        return {"load1_start": self.load1_start, "load1_end": os.getloadavg()[0],
                "cpu_steal_frac": round(steal, 4), "cpus": host_cpus(),
                "task_slots": task_slots(),
                "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY")}


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:  # the process ended
        pass
    return out


def _descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants, the JVM and the
    Python workers, sampled from /proc on a daemon thread. This process
    is left out: besides the Spark driver it holds the benchmark's inputs
    and references. The peak is the highest total that two samples in a row
    reach: single samples about one JVM heap above the rest (5.4 GB
    against 3.3 GB, once in six docs_pipeline runs) are left out; a
    process the JVM spawns shares its memory until it execs, so /proc
    likely showed the heap twice."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        prev = 0
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _descendants(me) if p != me)
            self.peak = max(self.peak, min(prev, total))
            prev = total
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, as (p, value); None when there are too few samples."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(values, n=100, method="inclusive")
            return p, q[p - 1]
    return None


def timing_summary(values: list[float]) -> dict:
    out = {"n": len(values), "median": statistics.median(values),
           "each": [round(v, 4) for v in values]}
    tail = tail_percentile(values)
    if tail:
        out[f"p{tail[0]}"] = tail[1]
    return out


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "jobs", "stages",
                 "tasks", "tasks_failed", "shuffle_write_bytes", "spill_bytes",
                 "py4j_calls", "children")

    def __init__(self, sid, name, parent):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0
        self.jobs = self.stages = self.tasks = self.tasks_failed = 0
        self.shuffle_write_bytes = self.spill_bytes = self.py4j_calls = 0
        self.children: list[Span] = []

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part of it that child spans cover."""
        iv = sorted((c.start, c.end) for c in self.children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return self.dur - covered


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name):
        yield None

    def attach(self, spark):
        pass

    def detach(self):
        pass


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Each span runs its Spark jobs under its own job group, so jobs,
    stages, tasks, shuffle-write and spill bytes are attributed per call
    from the status tracker and status store; py4j round trips are
    counted at the gateway client. The tracer times its own bookkeeping,
    which is the tracing overhead.
    """

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._py4j = 0
        self._counting = True  # off while the tracer itself talks to the JVM
        self.overhead_s = 0.0

    def attach(self, spark):
        """Bind to a (new) session and count its py4j calls."""
        t0 = time.perf_counter()
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        if not getattr(client, "_perfbench_counted", False):
            orig = client.send_command

            def counted(*a, **k):
                if self._counting:
                    self._py4j += 1
                return orig(*a, **k)

            client.send_command = counted
            client._perfbench_counted = True
        self.overhead_s += time.perf_counter() - t0

    def detach(self):
        """Forget the session (it is about to stop)."""
        self._sc = None

    @contextmanager
    def span(self, name):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{self.run_id}-{sp.sid}"
        if self._sc is not None:
            self._counting = False
            self._sc.setJobGroup(group, name)
            self._counting = True
        py4j0 = self._py4j
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            t1 = time.perf_counter()
            sp.py4j_calls = self._py4j - py4j0
            self._stack.pop()
            if self._sc is not None:
                self._counting = False
                self._collect_jobs(sp, group)
                if parent:
                    self._sc.setJobGroup(f"perfbench-{self.run_id}-{parent.sid}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._counting = True
            self.overhead_s += time.perf_counter() - t1

    def _collect_jobs(self, sp: Span, group: str) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self._sc
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                sp.stages += 1
                try:
                    seq = store.stageData(int(sid), False, jvm.java.util.ArrayList(),
                                          False, sc._gateway.new_array(jvm.double, 0))
                    attempts = jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
                except Py4JJavaError:  # a skipped stage is not in the store
                    continue
                for sd in attempts:
                    sp.tasks += sd.numTasks()
                    sp.tasks_failed += sd.numFailedTasks()
                    sp.shuffle_write_bytes += sd.shuffleWriteBytes()
                    sp.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # -- aggregation -------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive(self, sp: Span, attr: str) -> int:
        return getattr(sp, attr) + sum(self.inclusive(c, attr) for c in sp.children)

    def total(self, name: str, attr: str) -> float:
        return sum(self.inclusive(s, attr) for s in self.named(name))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.sid, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": s.self_s, "jobs": s.jobs, "stages": s.stages,
                    "tasks": s.tasks, "tasks_failed": s.tasks_failed,
                    "shuffle_write_bytes": s.shuffle_write_bytes,
                    "spill_bytes": s.spill_bytes, "py4j_calls": s.py4j_calls,
                }) + "\n")
