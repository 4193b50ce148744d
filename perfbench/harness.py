"""Process-level plumbing for the store benchmark: the Spark session and
its teardown, the RSS sampler, host counters, and the tracer used by the
traced run (spans plus per-call Spark job/stage/task counts)."""
from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager

HEAP = "2g"


def build_spark(tmp: str, cpus: int):
    """One ``local[cpus]`` session whose temporary files all live under
    ``tmp``.  The heap is sized so the JVM and one Python worker per core
    fit next to each other on a 4-vCPU / 15 GiB host."""
    from pyspark.sql import SparkSession

    # initial heap == max heap, touched at start: otherwise when G1 grows
    # the heap, or first uses a region, decides the JVM's RSS, which then
    # varies by 10-15% between identical runs.  Heap use is reported by
    # ``old_gen_peak_mb``; the JVM's native memory (Arrow buffers,
    # threads, code) still shows in its RSS.
    java_opts = (f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
                 "-XX:-UsePerfData")
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.local.dir", f"{tmp}/local")
         .config("spark.sql.warehouse.dir", f"{tmp}/warehouse")
         .config("spark.sql.shuffle.partitions", str(2 * cpus))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.python.unix.domain.socket.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    for k in ("MALLOC_MMAP_MAX_", "MALLOC_TRIM_THRESHOLD_",
              "ARROW_DEFAULT_MEMORY_POOL"):
        b = b.config(f"spark.executorEnv.{k}", os.environ[k])
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session with the daemons' stderr muted, then end the JVM
    and wait until every process it started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    sys.stderr.flush()
    saved = os.dup(2)
    devnull = os.open(os.devnull, os.O_WRONLY)
    try:
        # reaped python-worker daemons print BrokenPipe tracebacks on
        # shutdown; they share fd 2, so silence it at the OS level
        os.dup2(devnull, 2)
        children = descendants(os.getpid())
        try:
            spark.stop()
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM is ended below anyway
            # a signal that interrupted a gateway call leaves the gateway
            # unusable, and stop() then raises
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to SIGKILL
                proc.kill()
                proc.wait(timeout=30)
        wait_gone(children, timeout=30)
    finally:
        os.dup2(saved, 2)
        os.close(saved)
        os.close(devnull)


def _children() -> dict[int, list[int]]:
    """Parent PID -> PIDs of its live children (from /proc)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None
                ) -> list[int]:
    """PIDs of every live descendant of ``root``."""
    kids = _children() if kids is None else kids
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def program_pids(root: int) -> list[int]:
    """The JVM (a child of ``root``) and the Python workers under it.
    Other processes the JVM starts (``chmod`` and ``rm`` through
    ``jspawnhelper``) are left out: until they exec they share the JVM's
    memory, so their RSS would count the JVM a second time."""
    kids = _children()
    out = []
    for jvm in kids.get(root, []):
        out.append(jvm)
        out += [p for p in descendants(jvm, kids)
                if b"pyspark.daemon" in _cmdline(p)]
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if _alive(p)]
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in live:
        while _alive(p) and time.monotonic() < deadline + 10:
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of the JVM and its Python worker tree
    (``program_pids``), sampled every ``period`` seconds.  This process,
    which holds the benchmark's own inputs and oracles, is left out."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in program_pids(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _old_gen_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
            and ("Old" in p.getName() or "Tenured" in p.getName())]


def reset_heap_peak(spark) -> None:
    for pool in _old_gen_pools(spark):
        pool.resetPeakUsage()


def old_gen_peak_mb(spark) -> float:
    """Peak use of the JVM heap's old generation since ``reset_heap_peak``:
    the data the program keeps alive across collections.  (Young pools
    fill to their pinned capacity on every run, so they tell nothing.)"""
    return sum(p.getPeakUsage().getUsed()
               for p in _old_gen_pools(spark)) / 2**20


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_context(start: list[int]) -> dict:
    """nproc, 1-minute load average, and the share of CPU time stolen by
    the hypervisor since ``start`` (a ``cpu_times()`` snapshot)."""
    end = cpu_times()
    delta = [b - a for a, b in zip(start, end)]
    steal = delta[7] if len(delta) > 7 else 0
    return {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0],
            "steal_frac": steal / max(sum(delta), 1)}


# ------------------------------------------------------------------ tracing

class NullTracer:
    """Tracing off: spans cost one context-manager call, nothing recorded."""
    enabled = False

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        yield None


class Tracer:
    """Spans (name, start, end, parent) recorded around calls into each
    layer, kept in memory and written when the run ends.  A span opened
    with ``jobs=True`` also runs its calls in a fresh Spark job group and
    counts that group's jobs, stages and tasks from the status tracker."""
    enabled = True

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        # time the tracer adds around traced calls: job-group setup before,
        # span bookkeeping and job counting after
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"trace": self.trace_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        if jobs:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self.t0
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec.update(self._count(group))
            self._stack.pop()
            self.overhead_s += time.perf_counter() - self.t0 - rec["end"]

    def _count(self, group: str) -> dict:
        """Jobs, stages and tasks the group ran.  Listener events arrive
        asynchronously, so poll until every job has ended."""
        st = self.sc.statusTracker()
        for _ in range(100):
            infos = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos):
                break
            time.sleep(0.02)
        stages = tasks = 0
        for info in infos:
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                # skipped stages (shuffle output reused) did no work here
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": len(infos), "stages": stages, "tasks": tasks}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
