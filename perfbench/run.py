"""Linkage benchmark for recordlinker_spark: one workload per invocation.

    python3 perfbench/run.py --workload stream_microbatch --seed 1 \
        --seconds 1 --trace 0

Every input is generated in-process from ``--seed`` with
``recordlinker_spark.synth``.  The workload runs on local[nproc] from
this single driver process: timed units (at least one, more while
``--seconds`` last), each checked.  The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of one traced unit with ``--trace 1``.  The line before it holds
the host block and the details behind the metrics.  The exit code is 0
only when every unit and check passed.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.cds import cds_options  # noqa: E402
from perfbench.harness import (  # noqa: E402
    JobCounter,
    RssSampler,
    Tracer,
    gc_nudge,
    host_block,
    log,
    start_session,
    stop_session,
)

WORKLOAD_NAMES = ("stream_microbatch", "bootstrap_cluster", "bulk_link")

# per-layer metric -> unit; a layer the workload does not run reports 0
LAYER_METRICS = {
    "ingest.s": "s", "ingest.records_out": "count", "ingest.stages": "count",
    "stream.mpi_read_s": "s", "stream.mpi_rows": "count", "stream.stages": "count",
    "features.incoming_s": "s", "features.mpi_s": "s", "features.mpi_rows": "count",
    "features.stages": "count",
    "blocking.subsets_s": "s", "blocking.p1_s": "s", "blocking.p2_s": "s", "blocking.p1_pairs": "count",
    "blocking.p2_pairs": "count", "blocking.yield": "ratio", "blocking.stages": "count",
    "attach.p1_s": "s", "attach.p2_s": "s", "attach.stages": "count",
    "scoring.p1_s": "s", "scoring.p2_s": "s", "scoring.pairs": "count",
    "scoring.tuple_ratio": "ratio", "scoring.stages": "count",
    "medians.p1_s": "s", "medians.p2_s": "s", "medians.p1_clusters": "count",
    "medians.p2_clusters": "count", "medians.stages": "count",
    "decide.s": "s", "decide.certain": "count", "decide.possible": "count",
    "decide.certainly_not": "count", "decide.stages": "count",
    "sink.s": "s", "sink.rows": "count", "sink.stages": "count",
    "cluster.s": "s", "cluster.edges_in": "count", "cluster.components": "count",
    "cluster.stages": "count",
    "spark.jobs": "count", "spark.stages": "count", "trace.total_s": "s",
}
# span name -> its time metric, where not "<span>_s" or "<span>.s"
SPAN_METRIC = {
    "stream.mpi_read": "stream.mpi_read_s",
    "features.incoming": "features.incoming_s",
    "features.mpi": "features.mpi_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full",
                   help="input size; smoke is the small self-check size")
    return p.parse_args(argv)


class Tally:
    """Units and checks attempted and failed in one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, what: str, fn, *args):
        """Run ``fn``; a raise counts as a failure and is reported."""
        from perfbench.workloads import CheckFailed

        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception as exc:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            if isinstance(exc, CheckFailed):
                log(f"{what}: check failed: {exc}")
            else:
                log(f"{what}: error: {exc}")
                traceback.print_exc(file=sys.stderr)
            return False, None


def timed_unit(wl, spark, counter, u):
    """One unit: untimed reset and GC, then the call alone is timed."""
    wl.prepare(u)
    gc_nudge(spark)
    j0 = counter.snapshot()
    t0 = time.perf_counter()
    wl.unit(u)
    wall = time.perf_counter() - t0
    j1 = counter.snapshot()
    return wall, j1[0] - j0[0], j1[1] - j0[1]


def end_to_end(wl, spark, args, tally, setup_s):
    """Timed units while --seconds last (at least one), each checked."""
    from perfbench.workloads import F1_FLOOR

    counter = JobCounter(spark)
    rss = RssSampler(spark)
    walls, jobs, stages, records = [], [], [], 0
    rss.start()
    start = time.perf_counter()
    for u in wl.units():
        if walls and time.perf_counter() - start >= args.seconds:
            break
        ok, res = tally.attempt(f"unit {u}", timed_unit, wl, spark, counter, u)
        if not ok:
            continue
        wall, nj, ns = res
        log(f"unit {u}: {wall:.3f}s, {nj} jobs, {ns} stages")
        walls.append(wall)
        jobs.append(nj)
        stages.append(ns)
        records += wl.records_in(u)
        t0 = time.perf_counter()
        tally.attempt(f"check {u}", wl.check, u)
        log(f"check {u}: {time.perf_counter() - t0:.3f}s")
    peak_mb = rss.stop()
    f1 = wl.details.get("pair_f1")
    tally.attempted += 1
    if f1 is None or f1 < F1_FLOOR[wl.name]:
        tally.failed += 1
        log(f"pair_f1 {f1} is below the floor {F1_FLOOR[wl.name]}")
    if not walls:
        return None, {}
    wl.details.update(
        wall_samples=len(walls), wall_s_all=[round(w, 4) for w in walls],
        spark_jobs_per_unit=statistics.median(jobs),
        spark_stages_per_unit=statistics.median(stages),
    )
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "records_per_s": (records / sum(walls), "1/s"),
        "pair_f1": (f1 or 0.0, "ratio"),
        "success_rate": (1 - tally.failed / tally.attempted, "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    return metrics, wl.details


def per_layer(wl, spark, args, tally):
    """The first unit, traced layer by layer, then checked."""
    u = wl.units()[0]
    wl.prepare(u)
    gc_nudge(spark)
    counter = JobCounter(spark)
    tracer = Tracer(spark, f"{wl.name}-{args.seed}")
    j0 = counter.snapshot()
    with tracer.span("unit"):
        ok, counts = tally.attempt("traced unit", wl.traced_unit, tracer, u)
    j1 = counter.snapshot()
    if not ok:
        return None, {}
    tally.attempt(f"check {u}", wl.check, u)

    values = {name: 0 for name in LAYER_METRICS}
    values.update(counts)
    for rec in tracer.spans[1:]:
        name = rec["name"]
        metric = SPAN_METRIC.get(name, f"{name}_s" if "." in name else f"{name}.s")
        values[metric] = tracer.self_time(rec)
        values[name.split(".")[0] + ".stages"] += tracer.stages(rec)
    unit = tracer.spans[0]
    values["trace.total_s"] = unit["end"] - unit["start"]
    values["spark.jobs"] = j1[0] - j0[0]
    values["spark.stages"] = j1[1] - j0[1]
    unknown = set(values) - set(LAYER_METRICS)
    if unknown:
        raise RuntimeError(f"per-layer values without a declared unit: {sorted(unknown)}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.jsonl"))
    return {k: (values[k], LAYER_METRICS[k]) for k in LAYER_METRICS}, wl.details


def run(args) -> int:
    try:
        import pyspark  # noqa: F401
        import recordlinker_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    from perfbench.workloads import WORKLOADS

    # the Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cores = os.cpu_count() or 1
    java_opts = cds_options(log)
    t0 = time.perf_counter()
    spark = start_session(work, cores, java_opts)
    try:
        session_s = time.perf_counter() - t0
        tally = Tally()
        host = host_block(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size, cores)
        t1 = time.perf_counter()
        wl.setup()
        data_s = time.perf_counter() - t1
        log(f"host {host}; session {session_s:.2f}s, data set-up {data_s:.2f}s")
        if args.trace:
            metrics, details = per_layer(wl, spark, args, tally)
        else:
            metrics, details = end_to_end(wl, spark, args, tally, session_s + data_s)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if metrics is None:
        log("no unit completed; no result")
        return 1
    details.update(session_s=round(session_s, 3), data_setup_s=round(data_s, 3))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host,
                      "details": details}, default=str))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
