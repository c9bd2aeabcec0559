"""Session, host block, memory sampling, Spark job counting and spans.

Everything here observes the engine from outside: it times calls into
the package's public functions, reads Spark's status store and samples
``/proc``.  Nothing in ``recordlinker_spark`` is instrumented.
"""

from __future__ import annotations

import contextlib
import gc
import os
import platform
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time


def start_session(work_dir: str, cores: int, java_opts: str = ""):
    """local[cores] session whose scratch space stays inside ``work_dir``;
    ``java_opts`` are added to the driver JVM's options."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and the Python workers inherit this environment; a
    # SPARK_LOCAL_DIRS from the caller's shell would override
    # spark.local.dir and spill shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a 1 GiB heap with the parallel collector: on the 4-core VM the
        # benchmark was tuned on, runs were shorter than with a 2 GiB G1
        # heap and peak memory far steadier (README "Budget")
        .config("spark.driver.memory", "1g")
        # steady-state control (README "Steady-state control"): unreferenced
        # broadcast/shuffle/cache blocks are reclaimed on a short cycle,
        # and every timed unit starts after an explicit full GC
        .config("spark.cleaner.periodicGC.interval", "45s")
        # keep every job of a run in the status store: the job and
        # stage counts are read from it
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # -UsePerfData: no hsperfdata file under /tmp; -Xlog: the
            # JVM's own warnings go to stderr, never between the
            # benchmark's result lines on stdout
            f"-XX:+UseParallelGC -XX:-UsePerfData "
            f"-Xlog:disable -Xlog:all=warning:stderr {java_opts} "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> int | None:
    """Stop Spark, end its JVM and wait until the JVM and every Python
    worker it started have exited; returns the JVM's exit code.

    PySpark keeps the JVM after ``stop()`` and lets it die only once this
    process exits, which would leave it running after the benchmark has
    returned.  Closing its stdin makes it exit now (the gateway server
    exits on end of input); what is left after ``timeout`` is killed."""
    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    left = [p for p in tree if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    for pid in left:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    return proc.returncode


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_probe_s(reps: int = 5) -> float:
    """Median seconds of a fixed single-core pure-Python loop.

    A host-speed reference printed beside every result, so numbers from
    different machines are not compared as if they came from one."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        words = ["smith", "johnson", "garcia", "martinez", "robinson"]
        for i in range(200_000):
            w = words[i % 5]
            acc = (acc * 31 + len(w) + (i & 7)) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_block(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cores_used": int(spark.sparkContext.defaultParallelism),
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "driver_heap_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20),
        "cpu_probe_s": round(cpu_probe_s(), 5),
    }


def gc_nudge(spark) -> None:
    """Full GC in the driver JVM and this interpreter before a timed unit.

    The JVM collection also lets the ContextCleaner release the blocks of
    frames dropped by the previous unit, so every unit starts from the
    same block-manager state."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


class JobCounter:
    """Spark jobs and executed stages, read from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def snapshot(self) -> tuple[int, int]:
        # the status store is fed by the listener bus, which runs behind
        # the jobs; let it catch up so the last jobs are counted
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        n = jobs.size()
        stages = 0
        for i in range(n):
            job = jobs.apply(i)
            stages += job.stageIds().size() - job.numSkippedStages()
        return n, stages


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers.

    Samples ``/proc`` from a thread of this process every ``interval``
    seconds: the JVM is the gateway process PySpark launched, and the
    Python workers are its descendants."""

    def __init__(self, spark, interval: float = 0.2):
        self._root = spark.sparkContext._gateway.proc.pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_kb = 0

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        total = sum(self._rss_kb(p) for p in process_tree(self._root))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> None:
        self.peak_kb = 0
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024


class Tracer:
    """In-memory spans around layer calls, with per-span Spark jobs.

    Each span sets a job group unique to it, so the jobs its call
    submits from this thread are attributed to it (the link path's own
    thread pools do not inherit job groups — see README).  A span is
    (name, start, end, parent, run id); the workload records its counts
    at the same boundaries."""

    def __init__(self, spark, run_id: str):
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"{self.run_id}/{idx}/{name}"
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self._sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part covered by its direct children
        (children run one after another on this thread)."""
        idx = self.spans.index(rec)
        covered = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == idx
        )
        return rec["end"] - rec["start"] - covered

    def stages(self, rec: dict) -> int:
        """Stages of the span's own jobs, skipped ones included."""
        tracker = self._sc.statusTracker()
        n = 0
        for job_id in tracker.getJobIdsForGroup(rec["group"]):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                n += len(info.stageIds)
        return n

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for rec in self.spans:
                row = dict(rec, self_s=self.self_time(rec), stages=self.stages(rec))
                fh.write(json.dumps(row) + "\n")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
