"""Resumable multi-stage orchestration: per-stage checkpoints + manifest.

north_rule: the link job must be "resumable from checkpoint with
per-partition lineage + metrics".  The reference has no batch notion of
this (it is request/response; its nearest analog is the TuningJob state
machine, reference src/recordlinker/models/tuning.py); this layer is
engine-native design:

* every pipeline stage (blocking pairs, pair scores, cluster grades,
  decisions, CC iterations) writes its output to the run directory as
  parquet and appends a manifest record: stage name, status, row count,
  #partitions, wall seconds, input-stage lineage;
* per-partition lineage: each checkpointed stage carries a
  ``_part_id`` column (``spark_partition_id()`` at write time) so a
  resumed run can attribute rows to the producing partition and re-run
  a single failed partition's slice;
* ``StageRunner.stage(name, fn)`` is the idempotence point: if the
  manifest marks the stage complete, the parquet is loaded and ``fn``
  never runs — a driver restart resumes mid-pipeline;
* metrics (A9): counters appended driver-side to ``<run>/metrics.jsonl``\n  (no Spark job per counter — they are driver-known values).

Storage: local/HDFS parquet in this sandbox.  On an Iceberg deployment
the same runner maps writes to ``df.writeTo(table).append()`` and the
manifest to an Iceberg snapshot tag per stage — the stage protocol
(write -> fsync manifest -> next stage) is unchanged, and Iceberg's
snapshot isolation replaces the _SUCCESS-file atomicity used here.
"""

from __future__ import annotations

import json
import os
import threading
import time
import typing

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageRunner:
    """The stages of one run directory.  Stages may run from concurrent
    threads (link_batch's pass threads): one lock guards the manifest
    and the in-memory records.  A stage's ``lineage`` is the stages
    complete when it finished, which may include a sibling pass's."""

    def __init__(self, spark: SparkSession, run_dir: str, job_id: str = "job"):
        self.spark = spark
        self.run_dir = run_dir
        self.job_id = job_id
        os.makedirs(run_dir, exist_ok=True)
        self.manifest_path = os.path.join(run_dir, "MANIFEST.jsonl")
        self._done: dict[str, dict] = {}
        self._records: list[dict] = []
        self._lock = threading.Lock()
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as fh:
                for line in fh:
                    rec = json.loads(line)
                    self._records.append(rec)
                    if rec.get("status") == "complete":
                        self._done[rec["stage"]] = rec

    # ------------------------------------------------------------------
    def _append_manifest(self, rec: dict) -> None:
        with open(self.manifest_path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def _complete(self, name: str, rec: dict) -> None:
        with self._lock:
            rec["lineage"] = sorted(self._done)
            self._append_manifest(rec)
            self._done[name] = rec

    def completed(self, name: str) -> bool:
        return name in self._done

    def validate_inputs(
        self, fingerprint: dict, ignore: tuple[str, ...] = ()
    ) -> None:
        """Enforce the 'same inputs' precondition of resume, the same
        way connected_components' CC manifest does: the first run
        records a fingerprint of its inputs; a later run with the same
        run_dir but a DIFFERENT fingerprint is refused while completed
        stages exist — without this, re-using a run_dir with new inputs
        silently returns the previous inputs' checkpointed stages as
        the new inputs' answer (no error, wrong results).

        :param ignore: fingerprint keys exempt from the comparison —
            for inputs the remaining (un-checkpointed) work no longer
            reads, e.g. an MPI the job itself appended to after its
            last MPI-reading stage completed."""
        prior = [r for r in self._records if r.get("kind") == "inputs"]
        if prior:
            pf = prior[-1].get("fp") or {}
            diff = [
                k
                for k in set(pf) | set(fingerprint)
                if k not in ignore and pf.get(k) != fingerprint.get(k)
            ]
            if not diff:
                return
            if self._done:
                raise ValueError(
                    f"run_dir {self.run_dir!r} holds checkpointed stages "
                    f"for different inputs (fingerprint keys {sorted(diff)}: "
                    f"{pf} != {fingerprint}); use a new "
                    "run_dir or clear this one"
                )
        elif self._done:
            # completed stages but NO inputs record: a run_dir written
            # by pre-fingerprint code (or a hand-pruned manifest).  The
            # guard cannot tell whether those stages came from these
            # inputs — recording the new fingerprint and resuming would
            # be exactly the wrong-results hazard it exists to prevent.
            raise ValueError(
                f"run_dir {self.run_dir!r} holds checkpointed stages "
                f"({sorted(self._done)}) but no inputs fingerprint; "
                "cannot prove they match these inputs — use a new "
                "run_dir or clear this one"
            )
        rec = {
            "job_id": self.job_id,
            "kind": "inputs",
            "fp": fingerprint,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with self._lock:
            self._append_manifest(rec)
            self._records.append(rec)

    def stage(
        self,
        name: str,
        fn: typing.Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) one checkpointed stage."""
        path = os.path.join(self.run_dir, name)
        if self.completed(name):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = fn().withColumn("_part_id", F.spark_partition_id())
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        # one job for both manifest facts (was a count + a distinct-count)
        stats = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("_part_id").alias("parts"),
        ).collect()[0]
        n, parts = stats["n"], stats["parts"]
        rec = {
            "job_id": self.job_id,
            "stage": name,
            "status": "complete",
            "rows": n,
            "partitions": parts,
            "seconds": round(time.perf_counter() - t0, 3),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        self._complete(name, rec)
        self.metric(name, "rows", float(n))
        self.metric(name, "seconds", rec["seconds"])
        return out

    # ------------------------------------------------------------------
    def side_effect(self, name: str, fn: typing.Callable[[], None]) -> bool:
        """Run a non-DataFrame side effect (e.g. an MPI append) once per
        run: skipped on resume when the manifest already marks it
        complete.  A crash in the window between the effect and the
        manifest fsync replays it on resume — at-least-once, so effects
        routed here must be tolerable under replay (the MPI store dedups
        record_ids on read).  Returns True when the effect ran."""
        if self.completed(name):
            return False
        t0 = time.perf_counter()
        fn()
        rec = {
            "job_id": self.job_id,
            "stage": name,
            "status": "complete",
            "kind": "side_effect",
            "seconds": round(time.perf_counter() - t0, 3),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        self._complete(name, rec)
        self.metric(name, "seconds", rec["seconds"])
        return True

    # ------------------------------------------------------------------
    def metric(self, stage: str, metric: str, value: float) -> None:
        """A9: append one metrics row.  Counters are DRIVER-known values
        (names, counts, seconds), so they are recorded driver-side as
        fsynced JSONL — zero Spark jobs per metric (the previous
        one-row-parquet-write-per-call added two driver-blocking jobs
        to every stage, pure fixed latency).  An Iceberg deployment
        appends to a metrics table instead."""
        path = os.path.join(self.run_dir, "metrics.jsonl")
        rec = {
            "job_id": self.job_id,
            "stage": stage,
            "metric": metric,
            "value": float(value),
            "ts": time.time(),
        }
        with self._lock, open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def metrics(self) -> DataFrame:
        schema = "job_id string, stage string, metric string, value double, ts double"
        jsonl = os.path.join(self.run_dir, "metrics.jsonl")
        parquet_dir = os.path.join(self.run_dir, "metrics")
        out = None
        if os.path.exists(jsonl):
            out = self.spark.read.schema(schema).json(jsonl)
        # run dirs written before the JSONL switch recorded metrics as
        # one-row parquet appends under <run>/metrics — a resumed job
        # must still see those counters (and a mid-upgrade resume sees
        # both stores, so union rather than either/or)
        if os.path.exists(parquet_dir):
            old = self.spark.read.schema(schema).parquet(parquet_dir)
            out = old if out is None else out.unionByName(old)
        if out is None:
            raise FileNotFoundError(
                f"no metrics recorded under {self.run_dir!r} "
                f"(neither {jsonl} nor {parquet_dir})"
            )
        return out


def checkpointed_link_job(
    spark: SparkSession,
    documents: DataFrame,
    mpi_patients: DataFrame,
    algorithm,
    run_dir: str,
    **block_kwargs,
) -> DataFrame:
    """The flagship batch link job, stage-checkpointed end to end:

        ingest -> per-pass pairs -> per-pass scores -> per-pass grades
               -> folded decisions

    The stages after ``ingest`` are link_batch's own chain, each one
    checkpointed through its ``stage`` hook.  A driver restart with the
    same ``run_dir`` resumes after the last complete stage (verified in
    tests/test_checkpoint.py)."""
    from recordlinker_spark.operators.linkjob import link_batch
    from recordlinker_spark.sources.ingest import parse_documents

    runner = StageRunner(spark, run_dir)

    # same-inputs precondition, enforced: fingerprint the documents
    # (id + spans), the MPI snapshot (id -> person), and the algorithm
    # config before touching any checkpointed stage.  One narrow
    # aggregation scan per table at job start buys refusal instead of
    # silently serving a previous input's decisions.
    import hashlib

    def dffp(df: DataFrame, cols: str) -> list:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
        ).collect()[0]
        return [row["n"], row["h"]]

    # once 'decisions' is checkpointed, nothing that still runs reads
    # the MPI (it is read back below without building the chain, and
    # the CLI's mpi_append side effect joins checkpointed stages only)
    # — and the job's own append has CHANGED the MPI, so holding the
    # fingerprint would refuse idempotent re-runs of a completed job
    # and crash-window resumes of the append itself
    done = runner.completed("decisions")
    runner.validate_inputs(
        {
            "documents": dffp(documents, "doc_id, spans"),
            "mpi": dffp(mpi_patients, "record_id, person_id"),
            "algorithm": hashlib.md5(repr(algorithm).encode()).hexdigest(),
        },
        ignore=("mpi",) if done else (),
    )

    def stage(name: str, build: typing.Callable[[], DataFrame]) -> DataFrame:
        return runner.stage(name, build).drop("_part_id")

    if done:
        return spark.read.parquet(os.path.join(run_dir, "decisions")).drop("_part_id")
    records = stage("ingest", lambda: parse_documents(documents))
    out = link_batch(records, mpi_patients, algorithm, stage=stage, **block_kwargs)
    # every stage is written by now: the caches only served the build
    out.unpersist()
    return out.decisions
