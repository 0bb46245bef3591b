"""Shared machinery of the benchmark: paths, the Spark environment, the
process clock, the memory sampler, spans and the per-layer readers.

Nothing here imports pyspark at module level, so ``run.py`` can set the
environment before the JVM starts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BASE = ROOT / ".perfbench"
WORK = BASE / "work"  # scratch, emptied at the start of every run
OUT = BASE / "out"  # span files of traced runs

CPUS = len(os.sched_getaffinity(0))
CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_monotonic() -> float:
    """CLOCK_MONOTONIC time at which this process started (10 ms grain)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / CLK_TCK)


def prepare_environment() -> None:
    """Point every scratch location of Spark, its Python workers and the
    oracle at ``WORK``, and put the checkout on the workers' import path."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    OUT.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the heap's maximum; see spark_conf
    # the program's tmpfs scratch lives in /dev/shm, outside the checkout
    env["SPARK_GRAFT_FAST_TMP"] = "0"
    env["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    env["TMPDIR"] = str(WORK / "tmp")
    # the launcher JVM that spark-submit starts first would write /tmp/hsperfdata_*
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env.pop("SPARK_GRAFT_MASTER", None)


def spark_conf() -> dict[str, str]:
    # A fixed 2 GB heap, touched at start: left to size itself, the heap
    # (and with it peak_rss_mb) grew differently on every run of the same
    # code, and a fixed heap is resident only as far as it has been used.
    return {
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
                                          " -Xms2g -XX:+AlwaysPreTouch"),
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "5000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
    }


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak use of the JVM heap's old generation since the JVM started:
    the data that outlived young collections.  (The young generation
    fills whatever heap is free, so its peak reads the heap's size.)"""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if "Old Gen" in p.getName() or "Tenured" in p.getName()) / 2**20


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=10)


# ------------------------------------------------------------ statistics


def pct(values: list[float], q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- memory


class RssSampler:
    """Peak summed resident memory of this process and its descendants,
    sampled every 100 ms from /proc.  ``exclude`` holds pids whose subtree
    is left out (the load generator).  A child that reports at least 90%
    of a large parent's resident set is a spawn of the JVM that has not yet
    exec'd: it shares the parent's pages and is not counted again."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_bytes / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited between listdir and open
            rss[int(name)] = int(f[21]) * self.PAGE
            children.setdefault(int(f[1]), []).append(int(name))
        root = os.getpid()
        total, todo = rss.get(root, 0), [root]
        while todo:
            pid = todo.pop()
            for child in children.get(pid, ()):
                if child in self.exclude or child not in rss:
                    continue
                if not (rss[pid] > 2**29 and rss[child] >= 0.9 * rss[pid]):
                    total += rss[child]
                todo.append(child)
        self.peak_bytes = max(self.peak_bytes, total)


# ----------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory and written out when the run ends.  A span has
    a name, a start and end on CLOCK_MONOTONIC, its parent span and the
    id of the operation it belongs to.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # wall clock minus monotonic clock, for Spark's progress timestamps
        self.wall_offset = time.time() - time.monotonic()

    def add(self, name: str, start: float, end: float, op: str,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append({"id": sid, "op": op, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = self.add(name, time.monotonic(), 0.0, op, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ----------------------------------------------------- per-layer readers


def wait_listener_bus(spark) -> None:
    """Block until the driver's listener bus has delivered every event,
    so the status store and the streaming listener are up to date."""
    spark._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def stage_totals(spark, job_group: str) -> dict[str, float]:
    """Executor-side totals of every job in ``job_group``, read from the
    JVM status store (works with the UI disabled)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark._jsc.sc().statusStore()
    tot = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(job_group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        tot["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its output was reused
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1e3
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return tot


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    as a plain dict; return it (its ``events`` list fills as batches end)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def batch_spans(tracer: Tracer, events: list[dict], op: str) -> None:
    """One span per micro-batch, from its progress event."""
    from datetime import datetime

    for ev in events:
        start_wall = datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp()
        start = start_wall - tracer.wall_offset
        dur = ev["durationMs"].get("triggerExecution", 0) / 1e3
        tracer.add("streaming.batch", start, start + dur, op, parent=None,
                   query=ev.get("name"), batch=ev["batchId"],
                   rows=ev.get("numInputRows", 0), duration_ms=ev["durationMs"])


def streaming_layer(events: list[dict], sinks: dict[str, str]) -> dict[str, float]:
    """Per-layer streaming and sink figures from progress events.
    ``sinks`` maps a query name to the sink label it feeds."""
    def med(key: str, evs: list[dict]) -> float:
        return median([e["durationMs"][key] for e in evs if key in e["durationMs"]])

    data = [e for e in events if e.get("numInputRows", 0) > 0]
    out = {
        "streaming.batches": float(len(events)),
        "streaming.trigger_ms_p50": med("triggerExecution", data),
        "streaming.add_batch_ms_p50": med("addBatch", data),
        "streaming.planning_ms_p50": med("queryPlanning", data),
        "streaming.wal_commit_ms_p50": med("walCommit", data),
        "streaming.commit_offsets_ms_p50": med("commitOffsets", data),
        "sources.rows_read_total": float(sum(e.get("numInputRows", 0) for e in events)),
    }
    for label in ("emoncms", "dead_letter"):
        mine = [e for e in data if sinks.get(e.get("name")) == label]
        out[f"sinks.{label}.add_batch_ms_p50"] = med("addBatch", mine)
    return out


def files_and_mb(path: Path, suffix: str = ".parquet") -> tuple[int, float]:
    n, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / 2**20
