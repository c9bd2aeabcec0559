"""Structured-Streaming ingestion: incremental linkage via foreachBatch.

The reference is request/response — each POST /link sees the MPI as
left by all prior requests (SURVEY §2.9/§3.1).  The streaming analog
is micro-batch linkage: a ``readStream`` of span documents, each
micro-batch linked against the current MPI with the SAME batch
operators (operators/linkjob.py), and the decided records appended to
the MPI store before the next batch — exactly the reference's
sequential semantics at batch granularity.

``foreachBatch`` (not stateful operators) is the right tool: the MPI
is a table, not stream state — it must be queryable/seedable/mergeable
outside the stream (person CRUD, S3/S7), and blocking needs full
joins against it.  applyInPandasWithState would trap the MPI in one
stream's state store.

Exactly-once: foreachBatch is at-least-once, so idempotence is built
in two layers — (1) a replay is skipped outright only when BOTH its
decisions partition already exists AND all its records are already in
the MPI (the batch fully committed before the crash); record-presence
alone is not enough — a genuinely new batch that re-submits
previously linked records must still be processed; (2) decisions land
in a ``run_id=R/batch_id=N`` partition directory with overwrite, so a
replay that got past the guard replaces its own partial output
instead of appending a second copy.  R is the streaming query id from
``<checkpoint>/metadata`` — stable across restarts of one checkpoint
(batch ids restart at 0 per checkpoint), regenerated when the
checkpoint is wiped, so a reprocess-from-scratch run cannot overwrite
the previous run's partitions.  The MPI store ignores duplicate
record_ids (parquet dedup on read; an Iceberg deployment uses MERGE
for true idempotence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recordlinker_spark.config import Algorithm
from recordlinker_spark.operators.linkjob import link_batch
from recordlinker_spark.plans.replay import (
    MPI_SCHEMA,
    attach_external_person_id,
    mpi_projection,
)
from recordlinker_spark.sources.ingest import parse_documents


class IncrementalLinker:
    """foreachBatch sink: link each micro-batch against the MPI store."""

    def __init__(
        self,
        spark: SparkSession,
        mpi_dir: str,
        decisions_dir: str,
        algorithm: Algorithm,
        run_id: str | None = None,
        checkpoint_dir: str | None = None,
        gc_every: int = 64,
        **block_kwargs,
    ):
        self.spark = spark
        self.mpi_dir = mpi_dir
        self.decisions_dir = decisions_dir
        self.algorithm = algorithm
        # batch_id restarts at 0 for every new checkpoint location, so
        # the idempotent decision slot must be (run_id, batch_id);
        # resolved lazily from <checkpoint>/metadata on the first batch
        # (the file exists once the query has started)
        self._run_id = run_id
        self.checkpoint_dir = checkpoint_dir
        # cadence for the explicit JVM-GC nudge (see __call__); <= 0
        # disables it
        self.gc_every = gc_every
        self._batches_since_gc = 0
        self.block_kwargs = block_kwargs

    @property
    def run_id(self) -> str:
        if self._run_id is None:
            resolved = self._resolve_run_id()
            if resolved is None:
                # metadata not written yet (query not started): fall
                # back for THIS access but do NOT cache it — caching
                # the fallback pre-start would split one checkpoint's
                # batches across two run_id partitions
                return self._fallback_run_id()
            self._run_id = resolved
        return self._run_id

    def _fallback_run_id(self) -> str:
        import hashlib

        if not self.checkpoint_dir:
            return "0"
        return hashlib.md5(self.checkpoint_dir.encode()).hexdigest()[:12]

    def _resolve_run_id(self) -> str | None:
        """Streaming query id from the checkpoint's metadata file.

        Spark writes ``<checkpoint>/metadata`` = ``{"id": "<uuid>"}``
        at query start: the id survives restarts of the same
        checkpoint but is regenerated when the checkpoint directory is
        wiped — exactly the run identity the decision partitions need.
        A hash of the checkpoint PATH (the previous scheme) collides
        across a wipe-and-reprocess at the same path, and batch ids
        restart at 0, so the new run would overwrite the old run's
        partitions.  Returns None when the metadata isn't readable
        (query not started yet / foreign layout)."""
        import json

        from pyspark.errors import AnalysisException

        if not self.checkpoint_dir:
            return "0"
        try:
            rows = self.spark.read.text(
                self.checkpoint_dir.rstrip("/") + "/metadata"
            ).collect()
            meta = json.loads("".join(r["value"] for r in rows))
            qid = meta.get("id") if isinstance(meta, dict) else None
            if qid:
                return str(qid)
        except (AnalysisException, ValueError):
            pass  # pre-start construction or a foreign metadata layout
        return None

    def current_mpi(self) -> DataFrame:
        from pyspark.errors import AnalysisException

        # probe through Spark's reader, not os.path: the MPI store can
        # live on any Hadoop-compatible FS (hdfs://, s3a://), where a
        # driver-local isdir() would silently report "no data" and every
        # batch would link against an empty MPI
        try:
            return (
                self.spark.read.schema(MPI_SCHEMA)
                .parquet(self.mpi_dir)
                .dropDuplicates(["record_id"])
            )
        except AnalysisException as exc:
            from recordlinker_spark.errors import is_missing_path

            if is_missing_path(exc):
                return self.spark.createDataFrame([], MPI_SCHEMA)
            raise

    def _batch_dir(self, batch_id: int) -> str:
        return (
            f"{self.decisions_dir.rstrip('/')}"
            f"/run_id={self.run_id}/batch_id={batch_id}"
        )

    def _committed_at(self, path: str) -> bool:
        from pyspark.errors import AnalysisException

        from recordlinker_spark.errors import is_missing_path

        try:
            self.spark.read.parquet(path)
            return True
        except AnalysisException as exc:
            # is_missing_path also classifies UNABLE_TO_INFER_SCHEMA as
            # "nothing committed": a crash mid-write leaves the dir with
            # only _temporary/, and re-raising here would wedge the
            # stream in exactly the state the overwrite recovery exists
            # for (every restart re-hits the same exception)
            if is_missing_path(exc):
                return False
            raise

    def _decisions_exist(self, batch_id: int) -> bool:
        # Only THIS run's partition counts as committed.  A probe of the
        # legacy md5-of-path partition (the pre-query-id scheme) was
        # tried here and removed: it made every batch of a
        # wipe-and-reprocess at the same path look like a committed
        # replay (legacy partitions linger for batch 0..N, the records
        # are all in the MPI), so the whole reprocess silently emitted
        # zero decisions — data loss, violating the resubmission
        # invariant above.  The case the probe covered — an in-place
        # upgrade replaying the one batch that committed decisions+MPI
        # but not the checkpoint — is already tolerated by design: the
        # replay re-links records against an MPI that contains them,
        # yielding consistent self-match decisions under the new run_id
        # and duplicate MPI rows the store dedups on read.  One
        # tolerated duplicate batch beats unbounded silent skips.
        return self._committed_at(self._batch_dir(batch_id))

    def __call__(self, batch_docs: DataFrame, batch_id: int) -> None:
        if batch_docs.isEmpty():
            return
        records = parse_documents(batch_docs.select("doc_id", "spans"))
        mpi = self.current_mpi()
        # restart replay guard: foreachBatch is at-least-once — skip
        # only when BOTH this (run_id, batch_id)'s decisions were
        # already written AND every record is already in the MPI (the
        # batch fully committed before a crash; re-linking it against
        # an MPI containing its own records would emit contradictory
        # decisions).  Record-presence alone is NOT a replay signal: a
        # genuinely new batch that re-submits previously linked records
        # lands at a fresh batch_id with no decisions partition, and
        # must be processed like any POST /link of known records.
        if self._decisions_exist(batch_id) and (
            batch_docs.select(F.col("doc_id").alias("record_id"))
            .join(mpi.select("record_id"), "record_id", "left_anti")
            .isEmpty()
        ):
            return
        # parse the batch once: the link's cached incoming side and the
        # MPI append both read these records
        records = records.cache()
        batch_dir = self._batch_dir(batch_id)
        try:
            # the sink is the longest-running loop caller of link_batch:
            # the with-block releases every micro-batch's cached
            # projections (the MPI-side ones grow with the MPI) even on
            # a failed write, or they leak into the block manager for
            # the stream's lifetime
            with link_batch(
                records, mpi, self.algorithm, **self.block_kwargs
            ) as out:
                # decisions land in a batch-scoped partition dir with
                # overwrite: a replay that got past the guard (crash
                # between the two writes) REPLACES its own partial
                # output instead of appending a second copy; readers
                # see batch_id as a partition column
                out.decisions.write.mode("overwrite").parquet(batch_dir)
            # the append joins the records onto the decisions just
            # committed, not onto the link's lineage: it plans over a
            # file scan, and the MPI receives exactly what the
            # decisions partition holds.  Same external_person_id
            # passthrough as the batch CLI paths — the stream must not
            # be the one insert mode that silently writes NULL
            # external ids
            committed = self.spark.read.parquet(batch_dir)
            new_patients = records.join(
                committed.select("record_id", "person_id"), "record_id"
            )
            mpi_projection(
                attach_external_person_id(new_patients, batch_docs)
            ).write.mode("append").parquet(self.mpi_dir)
        finally:
            # after link_batch's caches, which are built on it: dropping
            # an input first makes Spark re-plan its cached dependents
            records.unpersist()
            # unpersist() can't reach everything: the salted blocking
            # path localCheckpoints its sampled census
            # (operators/blocking.py), and checkpoint blocks are only
            # reclaimed by the ContextCleaner after a JVM GC notices the
            # dropped reference — by default a 30-minute periodic cycle,
            # during which thousands of micro-batches can each park a
            # census RDD in the block manager.  Nudge the collector on a
            # bounded cadence instead (the same mechanism
            # spark.cleaner.periodicGC.interval uses).
            self._batches_since_gc += 1
            if self.gc_every > 0 and self._batches_since_gc >= self.gc_every:
                self._batches_since_gc = 0
                self.spark.sparkContext._jvm.System.gc()


def link_stream(
    spark: SparkSession,
    source_dir: str,
    mpi_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
    algorithm: Algorithm,
    max_files_per_trigger: int = 1,
    **block_kwargs,
):
    """File-source stream of span documents -> incremental linkage.

    Returns the started StreamingQuery (caller awaits/stops)."""
    from recordlinker_spark.schemas import DOCUMENTS_SCHEMA

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    sink = IncrementalLinker(
        spark, mpi_dir, decisions_dir, algorithm,
        checkpoint_dir=checkpoint_dir, **block_kwargs
    )
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
