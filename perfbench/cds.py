"""Class-data-sharing archive for the benchmark's driver JVM.

A fresh driver JVM spends seconds loading and verifying Spark's classes
before the first query, in every run.  A dynamic CDS archive maps them
ready-made: session start fell from 7-9 s to 3-4 s on the 4-core VM
the benchmark was tuned on (README "Budget").  The archive holds only
JDK and Spark classes, never the engine's Python code, so it is built
once per checkout, like a compiled artifact:

    python3 perfbench/cds.py <archive>

starts a session with ``-XX:ArchiveClassesAtExit``, runs the stream
workload's data set-up at smoke size (session start, corpus write and
read, span parsing, an MPI append) and stops Spark; the JVM writes the
archive as it exits.  ``cds_options`` builds it on first use and
returns the JVM options that map it.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".perfbench_build")
ARCHIVE = os.path.join(BUILD_DIR, "spark-driver.jsa")
# the JVM refuses to archive classes from a non-empty directory on the
# class path, and Spark puts its conf directory first on it
CONF_DIR = os.path.join(BUILD_DIR, "conf")
BUILD_TIMEOUT_S = 600


def _spark_conf_files() -> list[str]:
    """Files of the conf directory Spark would use, templates excepted."""
    conf = os.environ.get("SPARK_CONF_DIR")
    if not conf:
        from pyspark.find_spark_home import _find_spark_home

        conf = os.path.join(_find_spark_home(), "conf")
    if not os.path.isdir(conf):
        return []
    return [f for f in os.listdir(conf) if not f.endswith(".template")]


def cds_options(log) -> str:
    """JVM options mapping the archive, built first if absent; '' when
    the archive cannot be used.

    Sets ``SPARK_CONF_DIR`` to an empty directory of the checkout, which
    is only done when Spark's own conf directory holds nothing but
    templates, so no setting is lost."""
    extra = _spark_conf_files()
    if extra:
        log(f"no CDS archive: Spark's conf directory holds {sorted(extra)}")
        return ""
    os.makedirs(CONF_DIR, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = CONF_DIR
    if not os.path.exists(ARCHIVE):
        t0 = time.perf_counter()
        ok = _build(log)
        log(f"CDS archive build {'done' if ok else 'failed'} "
            f"in {time.perf_counter() - t0:.1f}s")
        if not ok:
            return ""
    return f"-XX:SharedArchiveFile={ARCHIVE}"


def _build(log) -> bool:
    """Run this module in a child process; its output goes to a log file
    of the build directory.  The child and everything it started are
    killed if it overruns."""
    tmp = f"{ARCHIVE}.{os.getpid()}.tmp"
    with open(os.path.join(BUILD_DIR, "cds-build.log"), "w") as out:
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), tmp],
            cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log("CDS archive build overran; killed")
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode == 0 and os.path.exists(tmp):
        os.replace(tmp, ARCHIVE)
        return True
    if os.path.exists(tmp):
        os.remove(tmp)
    return False


def main(archive: str) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.harness import start_session, stop_session
    from perfbench.workloads import WORKLOADS

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench_work", f"cds-{os.getpid()}")
    cores = os.cpu_count() or 1
    spark = start_session(work, cores, f"-XX:ArchiveClassesAtExit={archive}")
    try:
        WORKLOADS["stream_microbatch"](spark, work, 1, "smoke", cores).setup()
    finally:
        # the archive is written while the JVM exits, which takes a while;
        # a JVM that had to be killed may have left it half written
        rc = stop_session(spark, timeout=BUILD_TIMEOUT_S / 2)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
