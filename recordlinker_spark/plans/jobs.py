"""spark-submit entry points — the batch equivalents of the reference's
REST surface (reference: src/recordlinker/routes/*, SURVEY §2.10).

    python -m recordlinker_spark.plans.jobs seed    --documents D --labels L --mpi M
    python -m recordlinker_spark.plans.jobs link    --documents D --mpi M --out O [--no-persist]
    python -m recordlinker_spark.plans.jobs match   --documents D --mpi M --out O
    python -m recordlinker_spark.plans.jobs cluster --documents D --out O
    python -m recordlinker_spark.plans.jobs tune    --mpi M --out O
    python -m recordlinker_spark.plans.jobs reset   --mpi M
    python -m recordlinker_spark.plans.jobs orphans --mpi M
    python -m recordlinker_spark.plans.jobs update  --documents D --mpi M
    python -m recordlinker_spark.plans.jobs update  --record-ids R --person-id P --mpi M

Every job accepts ``--catalog`` to treat ``--mpi`` as an Iceberg table
identifier (writes route through ``df.writeTo`` — sinks/catalog.py);
without it ``--mpi`` is a parquet path with a rename-swap replace.

Semantics mapping:
  seed    = POST /seed (bulk insert pre-labeled clusters, seed_router.py:28-88)
  link    = POST /link (link + persist, link_router.py:60-87)
  match   = POST /match (dry-run, link_router.py:125-149)
  cluster = batch bootstrap: all-pairs within blocks -> certain edges ->
            connected components (the batch analog of person merges,
            mpi_service.py:436-450)
  tune    = POST /tuning (tuning_router.py:45-95)
  reset   = DELETE /seed (mpi_service.py:453-468)
  orphans = GET orphaned patients/persons (mpi_service.py:502-547):
            patients with NULL person + persons with no patients
  update  = PATCH /patient/{id} (patient_router.py:63-128) +
            PATCH /person/{id} patient reassignment
            (person_router.py:110-186)

Run via ``spark-submit --py-files recordlinker_spark.zip`` on a
cluster, or plain ``python`` locally (a local session is created when
none exists).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recordlinker_spark.config import Algorithm, dibbs_default
from recordlinker_spark.plans.replay import (
    MPI_SCHEMA,
    attach_external_person_id,
    mpi_projection,
)
from recordlinker_spark.sinks.catalog import TableTarget
from recordlinker_spark.sources.ingest import parse_documents


def _spark() -> SparkSession:
    return (
        SparkSession.builder.appName("recordlinker-spark-job")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def _restore_swap(path: str) -> None:
    """Crash recovery for the _rewrite_mpi swap: a crash between its two
    renames leaves the data only in <path>.old — restore it before
    reading so readers never see a missing table (an Iceberg catalog
    target needs none of this; see sinks/catalog.py).  Shared by every
    table that _rewrite_mpi swaps: the MPI and the persons registry."""
    import os

    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(path.rstrip("/") + ".tmp", ignore_errors=True)


def _read_persons(spark: SparkSession, path: str) -> DataFrame:
    _restore_swap(path)
    return spark.read.parquet(path)


def _read_mpi(spark: SparkSession, path: str) -> DataFrame:
    _restore_swap(path)
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(MPI_SCHEMA).parquet(path).dropDuplicates(
            ["record_id"]
        )
    except AnalysisException as exc:
        # ONLY a genuinely-missing path means "empty MPI" (first run).
        # Any other failure — permissions, corrupt footer, transient FS
        # outage — must propagate: silently linking against an empty
        # MPI would append every incoming record as a brand-new patient
        # (same rationale as the catalog branch in _read_mpi_t).
        from recordlinker_spark.errors import is_missing_path

        if is_missing_path(exc):
            return spark.createDataFrame([], MPI_SCHEMA)
        raise


def _mpi_target(args) -> TableTarget:
    """--catalog routes MPI writes through Iceberg DataFrameWriterV2
    (sinks/catalog.py); default is the parquet path + rename-swap."""
    return TableTarget(args.mpi, catalog=bool(getattr(args, "catalog", False)))


def _widen_to_mpi_schema(df: DataFrame) -> DataFrame:
    """Add any MPI_SCHEMA columns the stored table predates, as NULLs.

    The parquet path gets this for free (explicit read schema); a
    catalog table reads with ITS schema, so an Iceberg MPI created
    before a schema widening (e.g. the external_person_id/source
    columns) would fail downstream column selects.  Reads tolerate old
    tables; APPENDS of the widened frame still require the one-time
    ``ALTER TABLE ... ADD COLUMNS`` migration Iceberg schema evolution
    is built for — that failure is loud, never wrong-results.

    Deliberately NOT replay.mpi_projection, despite the overlap: that
    is the INSERT normalizer (derives source='IRIS' from a present id,
    casts caller columns to the declared types — both wrong on a read
    path, where stored rows must come back exactly as stored and a
    type drift in the table should fail loudly, not be cast over)."""
    for f in MPI_SCHEMA.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def _read_mpi_t(spark: SparkSession, target: TableTarget) -> DataFrame:
    if target.catalog:
        from pyspark.errors import AnalysisException

        try:
            return _widen_to_mpi_schema(
                target.read(spark).dropDuplicates(["record_id"])
            )
        except AnalysisException as exc:
            # ONLY a genuinely-absent table means "empty MPI" (first
            # run bootstrap).  Any other failure — permissions, catalog
            # connectivity, corrupt metadata — must propagate: silently
            # linking against an empty MPI would append every incoming
            # record as a brand-new patient (mass duplication).  The
            # reference's DB layer likewise raises on session failures
            # (src/recordlinker/database/__init__.py).
            from recordlinker_spark.errors import is_missing_table

            if is_missing_table(exc):
                return spark.createDataFrame([], MPI_SCHEMA)
            raise
    return _read_mpi(spark, target.ident)


def job_seed(spark: SparkSession, args) -> None:
    """documents + (record_id, person_id) labels -> MPI append (S3)."""
    records = parse_documents(spark.read.parquet(args.documents))
    labels = spark.read.parquet(args.labels)
    out = records.join(labels, "record_id")
    _mpi_target(args).append(mpi_projection(out))


def job_link(spark: SparkSession, args, persist: bool = True) -> None:
    from recordlinker_spark.operators.linkjob import link_batch
    from recordlinker_spark.plans.checkpoint import StageRunner, checkpointed_link_job

    target = _mpi_target(args)
    fhir_mode = bool(getattr(args, "fhir", False))
    run_dir = getattr(args, "run_dir", None)
    if run_dir and fhir_mode:
        raise ValueError(
            "--run-dir and --fhir are mutually exclusive: bundle "
            "enrichment is not stage-checkpointed"
        )
    if fhir_mode:
        # batch analog of POST /link/fhir (link_router.py:90-122):
        # --documents is a directory of FHIR bundle JSON files, one
        # bundle per file; file name = record id
        from recordlinker_spark.sources.fhir import (
            enrich_bundles,
            parse_fhir_bundles,
        )

        bundles = (
            spark.read.option("wholetext", "true")
            .text(args.documents)
            .select(
                # record id = BASENAME + content hash, neither alone:
                # the full input_file_name() URI made identities depend
                # on where the directory was mounted (file:// vs
                # hdfs://, a remount, a copy), so re-linking the same
                # bundles missed the dedup and re-appended every
                # patient; basename alone made two DIFFERENT bundles
                # that happen to share a filename (patient.json from
                # two directories, linked in separate runs) collide on
                # record_id, and the MPI's dedup-on-read silently
                # dropped one patient's data.  basename-md5(content)
                # is mount-invariant AND collision-free: identical
                # bundles still dedup, distinct ones never merge.
                # Migration note: MPIs seeded under an older id scheme
                # (bare basename / full URI) won't dedup against the
                # new ids — relink such bundles into a fresh MPI, or
                # delete the old rows first (job_delete).  A byte-level
                # edit to a bundle (even whitespace) changes its id by
                # design: content defines identity here, as upstream
                # systems that round-trip JSON should pin a canonical
                # serialization.
                F.concat_ws(
                    "-",
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                    F.md5(F.col("value")),
                ).alias("doc_id"),
                F.col("value").alias("bundle"),
            )
        )
        records = parse_fhir_bundles(bundles)
    else:
        docs_df = spark.read.parquet(args.documents)
        records = parse_documents(docs_df)
    mpi = _read_mpi_t(spark, target)
    if run_dir:
        # north-rule resumability from the CLI surface: every stage is
        # checkpointed to the run directory with per-partition lineage
        # + metrics (plans/checkpoint.py), so a driver restart with the
        # same --run-dir resumes after the last complete stage; the
        # append below joins the checkpointed records
        decisions = checkpointed_link_job(spark, docs_df, mpi, _algorithm(args), run_dir)
        decisions.write.mode("overwrite").parquet(args.out)
        records = spark.read.parquet(os.path.join(run_dir, "ingest")).drop("_part_id")
    else:
        out = link_batch(records, mpi, _algorithm(args))
        try:
            out.decisions.write.mode("overwrite").parquet(args.out)
        finally:
            # release even when a write raises: a long-lived driver that
            # catches and retries would otherwise accumulate cached
            # MPI-sized projections per attempt (same rationale as the
            # streaming sink's finally in streaming/incremental.py)
            out.unpersist()
    # every further output reads the decisions back from what was just
    # written: one pipeline execution feeds them all, each plans over a
    # file scan instead of the link's lineage, and the MPI receives
    # exactly the committed decisions
    decisions = spark.read.parquet(args.out)
    if fhir_mode:
        # per-bundle response rows: grade, person, Person-enriched
        # bundle (NULL when no person, like the reference response)
        enrich_bundles(bundles, decisions, records).write.mode(
            "overwrite"
        ).parquet(args.out.rstrip("/") + ".fhir")
    if persist:
        new_patients = records.join(
            decisions.select("record_id", "person_id"), "record_id"
        )
        if not fhir_mode:
            # attach here, at the append, like the streaming path: only
            # the MPI insert needs the column
            new_patients = attach_external_person_id(new_patients, docs_df)
        if run_dir:
            # an at-least-once, effectively-idempotent side-effect stage:
            # a crash between the append and the manifest fsync replays
            # it on resume (StageRunner.side_effect), and the store
            # dedups record_ids on read, so the replay is harmless
            StageRunner(spark, run_dir).side_effect(
                "mpi_append", lambda: target.append(mpi_projection(new_patients))
            )
        else:
            target.append(mpi_projection(new_patients))


def job_cluster(spark: SparkSession, args) -> None:
    """Corpus bootstrap: dedupe a whole documents table into persons."""
    from recordlinker_spark.operators.cluster import assign_persons
    from recordlinker_spark.operators.linkjob import link_passes, release

    algorithm = _algorithm(args)
    records = parse_documents(spark.read.parquet(args.documents)).cache()
    # released in reverse, so the chain's caches go before the records
    cached = [records]
    try:
        # self-linkage: every record probes against every record
        selfmpi = records.withColumn("person_id", F.col("record_id"))
        scored_per_pass, _, chain_cached = link_passes(records, selfmpi, algorithm)
        cached += chain_cached

        edges = None
        for algorithm_pass, scored in zip(algorithm.passes, scored_per_pass):
            _, cmt = algorithm_pass.possible_match_window
            max_points = algorithm.max_points(algorithm_pass)
            # != (not <): candidate generation is PROBE-sided — the J2
            # missingness gate and the build side's key-presence filter
            # apply asymmetrically, so a pair may be reachable in only
            # one direction (a sparse record probing a fuller one, never
            # the reverse).  An l < r filter would permanently drop such
            # edges whenever the reachable direction has the larger id;
            # connected_components symmetrizes + dedups anyway, so the
            # only thing < bought was halving scored rows — at the cost
            # of id-order-dependent clusters.  The optimizer pushes the
            # filter below the scoring UDF, so self-pairs are not scored.
            certain = scored.filter(
                (F.col("record_id_l") != F.col("record_id_r"))
                & (F.col("score") / F.lit(max_points) >= F.lit(cmt))
            ).select("record_id_l", "record_id_r")
            edges = certain if edges is None else edges.unionByName(certain)

        # optional pre-assigned clusters (M4): seeded labels merge with
        # batch matches through the sentinel edges in assign_persons
        seed_labels = None
        if getattr(args, "labels", None):
            seed_labels = spark.read.parquet(args.labels).select(
                "record_id", "person_id"
            )
        labels = assign_persons(records, edges, seed_labels=seed_labels)
        labels.write.mode("overwrite").parquet(args.out)
    finally:
        release(cached)


def _write_tune_manifest(path: str, manifest: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def job_tune(spark: SparkSession, args) -> None:
    """Tuning with the reference's TuningJob run-state machine
    (models/tuning.py:15-42, tuning/base.py:85-125): a manifest at
    ``<out>.manifest.json`` records id / status
    (running->completed|failed) / params / results / started_at /
    finished_at, updated atomically at every transition — so an
    orchestrator polling the manifest sees exactly what the
    reference's ``GET /tuning/{id}`` reports, and a guard-rejected or
    crashed run leaves status=failed with the error text instead of
    vanishing."""
    import datetime
    import uuid

    from recordlinker_spark.operators.tuning import tune

    def now() -> str:
        return datetime.datetime.now(datetime.timezone.utc).isoformat(
            timespec="seconds"
        )

    manifest_path = args.out + ".manifest.json"
    manifest = {
        "id": str(uuid.uuid4()),
        "status": "running",
        "params": {
            "true_match_pairs_requested": args.n_pairs,
            "non_match_pairs_requested": args.n_pairs,
        },
        "results": None,
        "started_at": now(),
        "finished_at": None,
    }
    _write_tune_manifest(manifest_path, manifest)
    try:
        mpi = _read_mpi_t(spark, _mpi_target(args))
        result = tune(
            mpi,
            _algorithm(args),
            n_true_pairs=args.n_pairs,
            n_non_pairs=args.n_pairs,
        )
        results = {
            "log_odds": result.log_odds,
            "bounds": {k: list(v) for k, v in result.bounds.items()},
            "true_pairs": result.true_pairs,
            "non_pairs": result.non_pairs,
        }
        # results write INSIDE the state machine and atomic (tmp +
        # replace): a failure here (missing dir, disk full,
        # unserializable value) must transition the manifest to
        # failed, not strand it at 'running' with a truncated results
        # file beside it
        tmp = args.out + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(results, fh, indent=2)
        os.replace(tmp, args.out)
    except Exception as exc:
        manifest.update(
            status="failed",
            results={"details": str(exc)},
            finished_at=now(),
        )
        _write_tune_manifest(manifest_path, manifest)
        raise
    manifest.update(status="completed", results=results, finished_at=now())
    _write_tune_manifest(manifest_path, manifest)


def job_reset(spark: SparkSession, args) -> None:
    if getattr(args, "catalog", False):
        spark.sql(f"DROP TABLE IF EXISTS {args.mpi}")
    else:
        shutil.rmtree(args.mpi, ignore_errors=True)


def _rewrite_mpi(df: DataFrame, path: str) -> None:
    """Replace the MPI table contents (parquet is immutable: write a
    sibling then swap — the batch analog of a transactional delete).

    The double-rename is not atomic: a crash between the two renames
    leaves the data only in ``<path>.old``.  ``_read_mpi`` recovers
    that state (restores ``.old`` when the main path is missing and
    clears a stale ``.tmp``), so the table is never observed missing
    across a crash.  On an Iceberg deployment use
    ``TableTarget(catalog=True).overwrite`` instead — one atomic
    metadata swap, no recovery path needed (sinks/catalog.py)."""
    import os

    tmp = path.rstrip("/") + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def job_delete(spark: SparkSession, args) -> None:
    """Granular deletes — the batch analog of DELETE /patient/{id} and
    DELETE /person/{id} (mpi_service.py:464-499, patient_router.py:187-203).

    * ``--record-ids``: drop those patients from the MPI (blocking
      values are derived at link time, so nothing else to clean).
    * ``--person-ids``: refuse while the person still has patients
      (the reference's check_person_for_patients guard,
      mpi_service.py:493-499); with a ``--persons`` registry, remove
      the ids from it.
    """
    target = _mpi_target(args)
    mpi = _read_mpi_t(spark, target)
    report: dict = {}
    if getattr(args, "record_ids", None):
        ids = [s for s in args.record_ids.split(",") if s]
        kept = mpi.filter(~F.col("record_id").isin(ids))
        report["patients_deleted"] = mpi.count() - kept.count()
        target.overwrite(kept)
        mpi = _read_mpi_t(spark, target)
    if getattr(args, "person_ids", None):
        ids = [s for s in args.person_ids.split(",") if s]
        with_patients = [
            r["person_id"]
            for r in mpi.filter(F.col("person_id").isin(ids))
            .select("person_id")
            .distinct()
            .collect()
        ]
        if with_patients:
            raise ValueError(
                f"Persons still have patients: {sorted(with_patients)}"
            )
        if getattr(args, "persons", None):
            persons = _read_persons(spark, args.persons)
            before = persons.count()
            kept_persons = persons.filter(~F.col("person_id").isin(ids))
            report["persons_deleted"] = before - kept_persons.count()
            _rewrite_mpi(kept_persons, args.persons)
        else:
            # no registry to delete from: the guard passed, but nothing
            # was removed anywhere — report that honestly
            report["persons_deleted"] = 0
            report["persons_releasable"] = len(ids)
    print(json.dumps(report))


def job_update(spark: SparkSession, args) -> None:
    """PATCH analogs — patient update + person repointing
    (patient_router.py:63-128 PATCH /patient/{id};
    person_router.py:110-186 PATCH /person/{id} patient reassignment).

    * ``--documents``: replace existing patients' PII/spans in place —
      parse the updated documents, match on ``record_id``, keep each
      patient's ``person_id`` (blocking values are derived at link
      time, so nothing else needs refreshing).  Documents whose
      record_id is not in the MPI are ignored (PATCH, not upsert).
    * ``--record-ids`` + ``--person-id``: repoint those patients to the
      given person.
    * ``--record-ids`` alone: POST /person analog
      (person_router.py:66-84 create_person) — mint a new person and
      move those patients into it; the minted id is reported.
    * ``--person-ids`` + ``--person-id``: POST /person/{id}/merge
      analog (person_router.py:184-230 merge_person_clusters) —
      repoint every patient whose person is in the source list to the
      target person (the source clusters become empty; the persons
      registry, when used, is cleaned by job_orphans / job_delete,
      mirroring the route's delete_person_clusters=False default).
    """
    target = _mpi_target(args)
    mpi = _read_mpi_t(spark, target)
    report: dict = {}
    if getattr(args, "documents", None):
        updated = parse_documents(spark.read.parquet(args.documents))
        # carry person assignment AND external-person metadata over
        # from the stored patient: an update replaces PII, not the
        # client's person identifier (the reference's patient update
        # leaves external_person_id/source untouched)
        replaced = updated.join(
            mpi.select(
                "record_id", "person_id",
                "external_person_id", "external_person_source",
            ),
            "record_id",
        )
        report["patients_updated"] = replaced.count()
        kept = mpi.join(updated.select("record_id"), "record_id", "left_anti")
        target.overwrite(
            kept.unionByName(mpi_projection(replaced))
        )
        mpi = _read_mpi_t(spark, target)
    if getattr(args, "record_ids", None):
        ids = [s for s in args.record_ids.split(",") if s]
        person_id = getattr(args, "person_id", None)
        if person_id is None:
            # mint deterministically from the sorted member set, same
            # scheme as decide's new-person labels (md5, "p-" prefix)
            import hashlib

            digest = hashlib.md5(
                ("person:" + ",".join(sorted(ids))).encode()
            ).hexdigest()
            person_id = f"p-{digest}"
            report["person_created"] = person_id
        report["patients_repointed"] = mpi.filter(
            F.col("record_id").isin(ids)
        ).count()
        moved = F.when(
            F.col("record_id").isin(ids), F.lit(person_id)
        ).otherwise(F.col("person_id"))
        target.overwrite(mpi.withColumn("person_id", moved))
        mpi = _read_mpi_t(spark, target)
    if getattr(args, "person_ids", None) and getattr(args, "person_id", None):
        src = [s for s in args.person_ids.split(",") if s]
        tgt = args.person_id
        merged = F.when(
            F.col("person_id").isin(src), F.lit(tgt)
        ).otherwise(F.col("person_id"))
        report["patients_merged"] = mpi.filter(
            F.col("person_id").isin(src)
        ).count()
        report["persons_merged_into"] = tgt
        target.overwrite(mpi.withColumn("person_id", merged))
    print(json.dumps(report))


def job_orphans(spark: SparkSession, args) -> None:
    """Orphaned patients (NULL person, mpi_service.py:502-521) and —
    when a persons registry is given — orphaned persons: registry ids
    with no patient (mpi_service.py:524-547, the NOT EXISTS anti-join
    re-expressed as a left-anti join)."""
    mpi = _read_mpi_t(spark, _mpi_target(args))
    orphan_patients = mpi.filter(F.col("person_id").isNull())
    report = {
        "orphaned_patients": orphan_patients.count(),
        "orphaned_patient_ids": [
            r["record_id"]
            for r in orphan_patients.select("record_id")
            .orderBy("record_id")
            .limit(50)
            .collect()
        ],
    }
    if getattr(args, "persons", None):
        persons = _read_persons(spark, args.persons).select("person_id").distinct()
        orphan_persons = persons.join(
            mpi.select("person_id").filter(F.col("person_id").isNotNull()),
            "person_id",
            "left_anti",
        )
        report["orphaned_persons"] = orphan_persons.count()
        report["orphaned_person_ids"] = [
            r["person_id"]
            for r in orphan_persons.orderBy("person_id").limit(50).collect()
        ]
    print(json.dumps(report))


def _algorithm(args) -> Algorithm:
    """--algorithm JSON (reference config format, validated) or the
    built-in dibbs-default (assets/testing_algorithms.json parity)."""
    path = getattr(args, "algorithm", None)
    if not path:
        return dibbs_default()
    from recordlinker_spark.algorithms import load_algorithm

    return load_algorithm(path, getattr(args, "algorithm_label", None))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="recordlinker-spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in (
        "seed", "link", "match", "cluster", "tune", "reset", "orphans",
        "delete", "update",
    ):
        sp = sub.add_parser(name)
        sp.add_argument("--documents")
        sp.add_argument("--labels")
        sp.add_argument("--mpi")
        sp.add_argument("--out")
        sp.add_argument("--n-pairs", type=int, default=1000)
        sp.add_argument("--algorithm", help="algorithm-config JSON path")
        sp.add_argument("--persons", help="persons registry parquet (orphans)")
        sp.add_argument("--record-ids", help="comma-joined patient ids (delete/update)")
        sp.add_argument("--person-ids", help="comma-joined person ids (delete)")
        sp.add_argument("--person-id", help="repoint target person id (update)")
        sp.add_argument(
            "--algorithm-label", help="label to pick from a multi-algorithm file"
        )
        sp.add_argument(
            "--catalog",
            action="store_true",
            help="treat --mpi as an Iceberg table identifier (writeTo path)",
        )
        sp.add_argument(
            "--run-dir",
            dest="run_dir",
            help="link/match: stage-checkpoint the pipeline to this "
            "directory; re-running with the same --run-dir resumes "
            "after the last complete stage (manifest + per-partition "
            "lineage + metrics)",
        )
        sp.add_argument(
            "--fhir",
            action="store_true",
            help="link/match: --documents is a directory of FHIR bundle "
            "JSON files; writes Person-enriched bundles to <out>.fhir "
            "(the POST /link/fhir analog)",
        )
    args = p.parse_args(argv)
    # per-subcommand required flags (the shared parser accepts every
    # flag everywhere, so argparse's required= machinery can't express
    # this): fail with a usage message instead of a TypeError on
    # args.out + '...' or an obscure path=None deep inside Spark
    _REQUIRED = {
        "seed": ("documents", "labels", "mpi"),
        "link": ("documents", "mpi", "out"),
        "match": ("documents", "mpi", "out"),
        "cluster": ("documents", "out"),
        "tune": ("mpi", "out"),
        "reset": ("mpi",),
        "orphans": ("mpi",),
        "delete": ("mpi",),
        "update": ("mpi",),
    }
    missing = [
        f"--{name.replace('_', '-')}"
        for name in _REQUIRED[args.cmd]
        if not getattr(args, name, None)
    ]
    if missing:
        p.error(f"{args.cmd} requires {' '.join(missing)}")
    spark = _spark()
    if args.cmd == "seed":
        job_seed(spark, args)
    elif args.cmd == "link":
        job_link(spark, args, persist=True)
    elif args.cmd == "match":
        job_link(spark, args, persist=False)
    elif args.cmd == "cluster":
        job_cluster(spark, args)
    elif args.cmd == "tune":
        job_tune(spark, args)
    elif args.cmd == "reset":
        job_reset(spark, args)
    elif args.cmd == "orphans":
        job_orphans(spark, args)
    elif args.cmd == "delete":
        job_delete(spark, args)
    elif args.cmd == "update":
        job_update(spark, args)


if __name__ == "__main__":
    main()
