"""Scaling-efficiency benchmark: the same link job at N and 4N executors.

North-rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors.  No real multi-node cluster exists in this sandbox, so the
protocol runs the identical job on identical input at two parallelism
levels and reports pairs-scored/sec at each plus
``efficiency = (pairs/sec at 4N) / (4 x pairs/sec at N)``.

Two modes (SPARK_GRAFT_SCALE_MODE):

* ``executors`` (default) — ``local-cluster[1,2,M]`` vs
  ``local-cluster[4,2,M]``: real separate executor JVMs (own heap, own
  GC, netty shuffle, python workers per executor) driven through
  ``--py-files``-style packaging (sc.addPyFile of the zipped package).
  This is the faithful single-box proxy for 1 -> 4 executors: it scales
  the executor count, not threads inside one heap.
* ``threads`` — ``local[2]`` vs ``local[8]``: single-JVM core scaling.
  Reported as a secondary datapoint; a single shared heap saturates
  memory bandwidth / GC and understates multi-executor scaling.

This sandbox shows +-20% run-to-run variance on identical Spark jobs,
so each level runs a warmup plus 3 measured runs and reports the
median.  Results land in BENCH/scaling.json + BENCH/BASELINE.md.

Usage: python scripts/bench_scaling.py [n_persons] (default 400000)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS_BASE = os.environ.get("SPARK_GRAFT_SCALE_CORPUS", "/tmp/rlspark_scale_corpus")
MODE = os.environ.get("SPARK_GRAFT_SCALE_MODE", "executors")
if MODE not in ("executors", "executors1", "threads"):
    raise SystemExit(
        f"unknown SPARK_GRAFT_SCALE_MODE={MODE!r} "
        "(expected executors | executors1 | threads) — refusing to "
        "silently fall back to the single-JVM threads protocol"
    )
PKG_ZIP = "/tmp/recordlinker_spark_pkg.zip"

RUN_ONE = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F

master = sys.argv[1]
cpus = int(sys.argv[2])
# local-cluster[k,c,M] only sets the WORKER's memory capacity; the
# executor JVM itself still launches at the spark.executor.memory
# default (1g) unless set explicitly — measured: -Xmx1024M executors
# under a 12288M worker, GC-thrashing the N level and OOMing large
# corpora.  Size the executor heap to the advertised capacity.
exec_mb = os.environ.get("SPARK_GRAFT_EXEC_MB", "12288")
# driver heap is also a knob: the matched-replica protocol runs four
# concurrent drivers, so the box can't afford 4 x 12g defaults
driver_mb = os.environ.get("SPARK_GRAFT_DRIVER_MB", "12288")
# experiment knobs: AQE toggle + arbitrary extra confs (JSON dict) so
# fixed-cost (stage latency) hypotheses can be A/B'd without editing
# the protocol script between runs
aqe = "false" if os.environ.get("SPARK_GRAFT_AQE", "1") == "0" else "true"
extra_conf = json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{{}}"))
builder = (SparkSession.builder.master(master)
         .appName(f"rlspark-scale-{{cpus}}")
         .config("spark.sql.shuffle.partitions", str(max(cpus * 4, 16)))
         .config("spark.sql.adaptive.enabled", aqe)
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", f"{{driver_mb}}m")
         .config("spark.executor.memory", f"{{exec_mb}}m")
         # cached partitions pin tasks to the executor that warmed them;
         # the default 3s-per-level locality wait idles cores exactly
         # when executor count grows (measured 30-84s swings at 4N).
         # Remote cache fetch over local loopback is cheap — never wait.
         .config("spark.locality.wait", "0")
         # back-to-back measured runs accumulate broadcast/shuffle
         # blocks faster than the 30-min default periodic cleaner GC;
         # measured: executor heap OOM in the 5th 1.6M-person run
         .config("spark.cleaner.periodicGC.interval", "45s"))
for _k, _v in extra_conf.items():
    builder = builder.config(_k, str(_v))
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
if master.startswith("local-cluster"):
    spark.sparkContext.addPyFile({pkg!r})

from recordlinker_spark.config import dibbs_default
from recordlinker_spark.sources.ingest import parse_documents
from recordlinker_spark.operators.linkjob import link_batch

# Pre-parsed inputs (written once by the launcher at full host
# parallelism): the Arrow parse of the span documents is NOT part of
# the measured window — each measured run times the link pipeline over
# warmed input caches — but reset_caches() rebuilds those caches
# between runs, and re-running the parse on a 1-core executor costs
# ~10x the parquet scan.  Reading the materialized records keeps the
# unmeasured warm phase proportional at every level; identical data
# either way.
if os.path.exists(os.path.join({corpus!r} + "_inc", "_SUCCESS")):
    incoming = spark.read.parquet({corpus!r} + "_inc")
    mpi = spark.read.parquet({corpus!r} + "_mpi")
else:
    docs = spark.read.parquet({corpus!r})
    # the link pipeline never touches the span payload after parsing;
    # caching it would only inflate executor storage memory
    records = parse_documents(docs.select("doc_id", "spans")).drop("spans")
    split = F.abs(F.xxhash64("record_id")) % 5
    incoming = records.filter(split == 0)
    truth = docs.select(F.col("doc_id").alias("record_id"), "person_key")
    mpi = records.filter(split != 0).join(truth, "record_id") \
        .withColumnRenamed("person_key", "person_id")
incoming = incoming.cache(); mpi = mpi.cache()
n_inc = incoming.count(); n_mpi = mpi.count()
alg = dibbs_default()

def run():
    out = link_batch(incoming, mpi, alg, keep_pair_scores=True,
                     cache_intermediate=True)
    n_pairs = out.pair_scores.count()
    n_dec = out.decisions.count()
    return n_pairs, n_dec

def reset_caches():
    spark.catalog.clearCache()
    # force ContextCleaner to release the previous run's broadcast and
    # shuffle blocks before the next run starts (see periodicGC note)
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    incoming.cache(); mpi.cache()
    incoming.count(); mpi.count()

n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

def counters():
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stages = sum(jobs.apply(i).stageIds().size() for i in range(jobs.size()))
    return jobs.size(), stages

# warmup (codegen + python workers) excluded; caches cleared before
# every measured run so each recomputes the full pipeline.
# SPARK_GRAFT_WARMUP_FRAC < 1 warms on a seeded sample of the incoming
# side instead of the full corpus — same code paths compiled (codegen,
# Arrow UDF workers, shuffle serde), ~frac of the wall, IDENTICAL at
# both levels and excluded from measurement either way.  Large corpus
# points use it so the warmup doesn't cost a full measured-run wall.
wfrac = float(os.environ.get("SPARK_GRAFT_WARMUP_FRAC", "1"))
if wfrac < 1.0:
    full_incoming = incoming
    incoming = full_incoming.sample(fraction=wfrac, seed=7).cache()
    incoming.count()
    run()
    incoming.unpersist()
    incoming = full_incoming
    reset_caches()
else:
    run()
j0, s0 = counters()
walls = []
for i in range(n_runs):
    reset_caches()
    t0 = time.perf_counter()
    n_pairs, n_dec = run()
    walls.append(round(time.perf_counter() - t0, 3))
    print(f"run {{i + 1}}/{{n_runs}} [{{master}}]: {{walls[-1]}}s",
          file=sys.stderr, flush=True)
j1, s1 = counters()
walls.sort()
import statistics
dt = round(statistics.median(walls), 3)  # true median (even-run levels too)
print(json.dumps({{"cpus": cpus, "master": master, "seconds": dt,
                   "runs": walls, "pairs": n_pairs, "decisions": n_dec,
                   "incoming": n_inc, "mpi": n_mpi,
                   "jobs_per_run": round((j1 - j0) / n_runs, 1),
                   "stages_per_run": round((s1 - s0) / n_runs, 1),
                   "pairs_per_sec": round(n_pairs / dt, 1)}}))
spark.stop()
"""


def corpus_dir(n_persons: int) -> str:
    return f"{CORPUS_BASE}_{n_persons}"


def ensure_corpus(n_persons: int) -> None:
    corpus = corpus_dir(n_persons)
    if os.path.exists(os.path.join(corpus, "_SUCCESS")):
        return
    gen = f"""
import sys; sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from recordlinker_spark.synth import synth_documents
spark = (SparkSession.builder.master("local[16]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "16g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
synth_documents(spark, {n_persons}, seed=42, hot_block_prob=0.02,
                max_dups=6, partitions=64).write.mode("overwrite").parquet({corpus!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", gen], check=True)


def ensure_parsed(n_persons: int) -> None:
    """Materialize the parsed incoming/MPI inputs once at full host
    parallelism so every level's (unmeasured) cache warms are parquet
    scans instead of single-core Arrow re-parses."""
    corpus = corpus_dir(n_persons)
    if os.path.exists(os.path.join(corpus + "_inc", "_SUCCESS")):
        return
    gen = f"""
import sys; sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession, functions as F
from recordlinker_spark.sources.ingest import parse_documents
spark = (SparkSession.builder.master("local[32]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "64")
         .config("spark.driver.memory", "24g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet({corpus!r})
records = parse_documents(docs.select("doc_id", "spans")).drop("spans")
split = F.abs(F.xxhash64("record_id")) % 5
records.filter(split == 0).repartition(16) \\
    .write.mode("overwrite").parquet({corpus!r} + "_inc")
truth = docs.select(F.col("doc_id").alias("record_id"), "person_key")
records.filter(split != 0).join(truth, "record_id") \\
    .withColumnRenamed("person_key", "person_id").repartition(32) \\
    .write.mode("overwrite").parquet({corpus!r} + "_mpi")
spark.stop()
"""
    subprocess.run([sys.executable, "-c", gen], check=True)


def ensure_pkg_zip() -> None:
    with zipfile.ZipFile(PKG_ZIP, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "recordlinker_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))


def main() -> None:
    n_persons = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    ensure_corpus(n_persons)
    ensure_parsed(n_persons)
    ensure_pkg_zip()
    if MODE == "executors":
        # executor memory scales with the corpus point (a real cluster
        # sizes executors to the data); IDENTICAL at N and 4N within a
        # point so the efficiency ratio stays honest — in particular the
        # single executor at N must not be the only level that spills
        # its caches to disk
        exec_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MB", "12288"))
        levels = [
            ("N", f"local-cluster[1,2,{exec_mb}]", 2),
            ("4N", f"local-cluster[4,2,{exec_mb}]", 8),
        ]
        desc = "1 executor x 2 cores vs 4 executors x 2 cores (separate JVMs, --py-files packaging)"
    elif MODE == "executors1":
        # Narrow-executor protocol: 1 core per executor, so the 4N level
        # keeps at most ~5 of this box's 32 cores busy (4 executor cores
        # + driver) and never saturates the single shared memory bus.
        # The wide protocol's 8 concurrent cores at 4N book bus
        # contention into the "non-scaling" term F, which a real
        # multi-host 4-executor cluster does not share — this mode
        # measures executor-count scaling (the north-rule quantity: N vs
        # 4N executors) with that one-box artifact minimized.  Same
        # corpus, same job, same per-executor shape at both levels.
        exec_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MB", "12288"))
        levels = [
            ("N", f"local-cluster[1,1,{exec_mb}]", 1),
            ("4N", f"local-cluster[4,1,{exec_mb}]", 4),
        ]
        desc = "1 executor x 1 core vs 4 executors x 1 core (separate JVMs, --py-files packaging; <=5 of 32 host cores busy, no shared-bus saturation)"
    else:  # MODE == "threads" (validated at import)
        levels = [("N", "local[2]", 2), ("4N", "local[8]", 8)]
        desc = "local[2] vs local[8] single-JVM threads"

    script = RUN_ONE.format(repo=REPO, corpus=corpus_dir(n_persons), pkg=PKG_ZIP)
    runs_per_level = {
        "N": int(os.environ.get("SPARK_GRAFT_SCALE_RUNS_N", "5")),
        "4N": int(os.environ.get("SPARK_GRAFT_SCALE_RUNS_4N", "3")),
    }
    # SPARK_GRAFT_CONCURRENT=1: run the two levels at the same time,
    # each taskset-pinned to a DISJOINT core set (defaults: N -> 6
    # cores, 4N -> 16 cores, on a 32-core host).  This mirrors how a
    # real N-vs-4N comparison uses different hosts: the levels never
    # compete for CPUs, and with 1-core executors at most 5 compute
    # cores are busy box-wide, so shared-memory-bus pressure stays
    # negligible.  Java 17 + CPython both respect sched_getaffinity,
    # so each JVM sizes its GC/fork-join pools to its own core set.
    concurrent = os.environ.get("SPARK_GRAFT_CONCURRENT", "0") == "1"
    pins = {
        "N": os.environ.get("SPARK_GRAFT_PIN_N", "0-5"),
        "4N": os.environ.get("SPARK_GRAFT_PIN_4N", "6-21"),
    }
    results = {}
    if concurrent:
        procs = {}
        for tag, master, cpus in levels:
            cmd = ["taskset", "-c", pins[tag], sys.executable, "-c", script,
                   master, str(cpus), str(runs_per_level[tag])]
            # stderr to a live file so per-run progress is observable
            # while the levels run (hours-long points)
            errf = open(f"/tmp/rlspark_scale_{MODE}_{n_persons}_{tag}.err", "w")
            procs[tag] = subprocess.Popen(
                cmd, stdout=subprocess.PIPE, stderr=errf, text=True)
        for tag, _master, _cpus in levels:
            out, _ = procs[tag].communicate()
            if procs[tag].returncode != 0:
                raise SystemExit(
                    f"level {tag} failed rc={procs[tag].returncode}; "
                    f"see /tmp/rlspark_scale_{MODE}_{n_persons}_{tag}.err")
            line = [l for l in out.splitlines() if l.startswith("{")][-1]
            results[tag] = json.loads(line)
            print(results[tag])
        desc += f"; levels run CONCURRENTLY on disjoint pinned core sets (N: cpus {pins['N']}, 4N: cpus {pins['4N']})"
    else:
        for tag, master, cpus in levels:
            proc = subprocess.run(
                [sys.executable, "-c", script, master, str(cpus),
                 str(runs_per_level[tag])],
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-8000:])
                raise SystemExit(f"level {tag} ({master}) failed rc={proc.returncode}")
            line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
            results[tag] = json.loads(line)
            print(results[tag])

    eff = results["4N"]["pairs_per_sec"] / (4 * results["N"]["pairs_per_sec"])
    report = {
        "mode": MODE,
        "corpus_persons": n_persons,
        "localN": results["N"],
        "local4N": results["4N"],
        "scaling_efficiency": round(eff, 3),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # SPARK_GRAFT_SCALE_TAG: suffix for experiment runs so A/B probes
    # don't overwrite the committed protocol points
    tag = os.environ.get("SPARK_GRAFT_SCALE_TAG", "")
    tag = f"_{tag}" if tag else ""
    with open(os.path.join(REPO, "BENCH", f"scaling_{MODE}_{n_persons}{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=2)
    md = f"""# BENCH — scaling efficiency (N vs 4N, mode: {MODE})

Protocol: identical input (seeded synthetic span-document corpus,
{n_persons} persons, {results["N"]["incoming"]} incoming vs
{results["N"]["mpi"]} MPI records), identical two-pass dibbs-default
link job (block -> score -> exact-median -> grade -> fold -> decide),
{desc}, fresh JVMs per level, warmup excluded, median of
{runs_per_level["N"]} N-runs / {runs_per_level["4N"]} 4N-runs
(run-to-run variance in this sandbox is +-20%).

| parallelism | wall s (median) | all runs | pairs scored | pairs/sec |
|---|---|---|---|---|
| {results["N"]["master"]}  (N)  | {results["N"]["seconds"]} | {results["N"]["runs"]} | {results["N"]["pairs"]} | {results["N"]["pairs_per_sec"]} |
| {results["4N"]["master"]}  (4N) | {results["4N"]["seconds"]} | {results["4N"]["runs"]} | {results["4N"]["pairs"]} | {results["4N"]["pairs_per_sec"]} |

**Scaling efficiency = (pairs/sec at 4N) / (4 x pairs/sec at N) =
{report["scaling_efficiency"]}** (target >= 0.8).

See BENCH/PHASES.md for the per-phase scaling evidence and the round-2
fixes (unified census, eager cache warm-up, worker-global similarity
memo, cores-proportional shuffle partitions).
"""
    # per-point report; BENCH/BASELINE.md (the multi-point curve) is
    # regenerated separately by scripts/scaling_curve.py so a single
    # re-run can't clobber the curve narrative
    with open(os.path.join(REPO, "BENCH", f"scaling_{MODE}_{n_persons}{tag}.md"), "w") as fh:
        fh.write(md)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
