"""Checkpoint/resume: a restarted run reuses completed stages."""

import json

from pyspark.sql import functions as F

from recordlinker_spark.plans.checkpoint import StageRunner, checkpointed_link_job
from recordlinker_spark.config import dibbs_default
from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
from recordlinker_spark.sources.spandoc import docs_to_rows

from fixtures_patients import SIX_PATIENTS


def test_stage_runner_resume(spark, tmp_path):
    run_dir = str(tmp_path / "run")
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(10).select(F.col("id").cast("string").alias("record_id"))

    r1 = StageRunner(spark, run_dir)
    out1 = r1.stage("s1", make)
    assert out1.count() == 10
    assert calls["n"] == 1

    # fresh runner (simulated restart): stage loads, fn NOT re-run
    r2 = StageRunner(spark, run_dir)
    assert r2.completed("s1")
    out2 = r2.stage("s1", make)
    assert out2.count() == 10
    assert calls["n"] == 1

    # manifest carries lineage + counts; per-partition lineage column present
    recs = [json.loads(l) for l in open(f"{run_dir}/MANIFEST.jsonl")]
    assert recs[0]["stage"] == "s1" and recs[0]["rows"] == 10
    assert "_part_id" in out2.columns
    # metrics table captured stage rows
    m = r2.metrics()
    assert m.filter((m.stage == "s1") & (m.metric == "rows")).count() == 1


def test_checkpointed_link_job_resume(spark, tmp_path):
    run_dir = str(tmp_path / "link_run")
    docs = spark.createDataFrame(
        docs_to_rows([(f"r{i}", p, []) for i, p in enumerate(SIX_PATIENTS)]),
        DOCUMENTS_SCHEMA,
    )
    from recordlinker_spark.plans.replay import MPI_SCHEMA

    empty_mpi = spark.createDataFrame([], MPI_SCHEMA)
    alg = dibbs_default()

    d1 = checkpointed_link_job(spark, docs, empty_mpi, alg, run_dir)
    rows1 = {r["record_id"]: r["final_grade"] for r in d1.collect()}
    assert len(rows1) == 6
    # empty MPI -> everything certainly-not
    assert set(rows1.values()) == {"certainly-not"}

    # resume: all stages complete, identical output without recompute
    d2 = checkpointed_link_job(spark, docs, empty_mpi, alg, run_dir)
    rows2 = {r["record_id"]: r["final_grade"] for r in d2.collect()}
    assert rows1 == rows2
    stages = {r["stage"] for r in map(json.loads, open(f"{run_dir}/MANIFEST.jsonl")) if "stage" in r}
    assert {"ingest", "pass0_pairs", "pass0_scores", "decisions"} <= stages


def _stage_records(run_dir):
    with open(f"{run_dir}/MANIFEST.jsonl") as fh:
        return [json.loads(line) for line in fh]


def test_stage_runner_concurrent_stages(spark, tmp_path):
    """Stages and side effects run from concurrent threads (link_batch's
    pass threads) leave one whole manifest line each, all complete."""
    import concurrent.futures
    import sys

    run_dir = str(tmp_path / "run")
    runner = StageRunner(spark, run_dir)

    def make(name):
        return runner.stage(
            name, lambda: spark.range(5).select(F.col("id").cast("string").alias("record_id"))
        )

    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
        outs = list(pool.map(make, ["a", "b"]))
    assert [o.count() for o in outs] == [5, 5]
    recs = _stage_records(run_dir)
    assert sorted(r["stage"] for r in recs) == ["a", "b"]
    assert all(r["status"] == "complete" and r["rows"] == 5 for r in recs)
    assert runner.completed("a") and runner.completed("b")

    # more threads than cores, switching often: no record is lost
    names = [f"effect{i}" for i in range(32)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=16) as pool:
            ran = list(pool.map(lambda n: runner.side_effect(n, lambda: None), names))
    finally:
        sys.setswitchinterval(interval)
    assert all(ran)
    recs = _stage_records(run_dir)
    assert sorted(r["stage"] for r in recs) == sorted(["a", "b", *names])
    assert all(runner.completed(n) for n in names)
    assert len(StageRunner(spark, run_dir)._done) == 34


def test_checkpointed_run_matches_plain_run_and_resumes(spark, tmp_path):
    """--run-dir runs link_batch's chain: on a seeded MPI where both
    passes find candidates its decisions equal link_batch's, row for
    row, and a run resumed after its scores stages rebuilds only the
    grades and the decisions, with the same decisions."""
    from recordlinker_spark.operators.linkjob import link_batch
    from recordlinker_spark.sources.ingest import parse_documents

    run_dir = str(tmp_path / "run")
    docs = spark.createDataFrame(
        docs_to_rows([(f"r{i}", p, []) for i, p in enumerate(SIX_PATIENTS)]),
        DOCUMENTS_SCHEMA,
    )
    mpi = parse_documents(
        spark.createDataFrame(
            docs_to_rows([(f"m{i}", p, []) for i, p in enumerate(SIX_PATIENTS[:3])]),
            DOCUMENTS_SCHEMA,
        )
    ).withColumn("person_id", F.concat(F.lit("p"), F.col("record_id")))
    alg = dibbs_default()

    def rows(df):
        return sorted((r.asDict() for r in df.collect()), key=lambda d: d["record_id"])

    with link_batch(parse_documents(docs), mpi, alg) as out:
        plain = rows(out.decisions)
    assert len(plain) == 6
    assert {"certain", "certainly-not"} <= {d["final_grade"] for d in plain}

    assert rows(checkpointed_link_job(spark, docs, mpi, alg, run_dir)) == plain
    recs = _stage_records(run_dir)
    pairs = {r["stage"]: r["rows"] for r in recs if r.get("stage", "").endswith("_pairs")}
    assert set(pairs) == {"pass0_pairs", "pass1_pairs"}
    assert all(n > 0 for n in pairs.values()), pairs

    # drop the grades and decisions records (line order varies with the
    # pass threads, so select them by stage name); keep the inputs one
    kept = [
        r for r in recs
        if not (r.get("stage", "").endswith("_grades") or r.get("stage") == "decisions")
    ]
    assert any(r.get("kind") == "inputs" for r in kept)
    with open(f"{run_dir}/MANIFEST.jsonl", "w") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in kept)

    assert rows(checkpointed_link_job(spark, docs, mpi, alg, run_dir)) == plain
    stages = [r["stage"] for r in _stage_records(run_dir) if "stage" in r]
    for i in (0, 1):
        assert stages.count(f"pass{i}_pairs") == 1
        assert stages.count(f"pass{i}_scores") == 1
        assert stages.count(f"pass{i}_grades") == 1
    assert stages.count("decisions") == 1


def test_connected_components_resumes_from_checkpoint(spark, tmp_path):
    """CC with checkpoint_dir resumes from the last completed iteration:
    a rerun with the same dir + input converges immediately (at most one
    extra manifest line) and labels are identical."""
    import json

    from recordlinker_spark.operators.cluster import connected_components

    # a 6-node path graph (worst case for propagation: needs iterations)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(5)], "src string, dst string"
    )
    cc_dir = str(tmp_path / "cc")
    labels1 = {
        r["record_id"]: r["component"]
        for r in connected_components(edges, checkpoint_dir=cc_dir).collect()
    }
    assert set(labels1.values()) == {"n0"}
    manifest = tmp_path / "cc" / "CC_MANIFEST.jsonl"
    lines1 = [json.loads(l) for l in manifest.read_text().splitlines()]
    assert len(lines1) >= 1

    # rerun: resumes at the converged state, no full recomputation
    labels2 = {
        r["record_id"]: r["component"]
        for r in connected_components(edges, checkpoint_dir=cc_dir).collect()
    }
    assert labels2 == labels1
    lines2 = [json.loads(l) for l in manifest.read_text().splitlines()]
    assert len(lines2) <= len(lines1) + 1

    # mid-run resume: truncate the manifest to its first iteration and
    # rerun — the closure completes from that state with the same labels
    manifest.write_text(json.dumps(lines1[0]) + "\n")
    labels3 = {
        r["record_id"]: r["component"]
        for r in connected_components(edges, checkpoint_dir=cc_dir).collect()
    }
    assert labels3 == labels1


def test_run_dir_refuses_different_inputs(spark, tmp_path):
    """Reusing a run_dir with different documents must refuse, not
    silently return the previous inputs' checkpointed decisions."""
    import pytest as _pytest

    from recordlinker_spark.config import dibbs_default
    from recordlinker_spark.plans.checkpoint import checkpointed_link_job

    run_dir = str(tmp_path / "run")
    docs1 = spark.createDataFrame(
        docs_to_rows([("r0", SIX_PATIENTS[0], [])]), DOCUMENTS_SCHEMA
    )
    docs2 = spark.createDataFrame(
        docs_to_rows([("r9", SIX_PATIENTS[1], [])]), DOCUMENTS_SCHEMA
    )
    from recordlinker_spark.sources.ingest import parse_documents

    mpi = parse_documents(docs1).withColumn("person_id", F.lit("p0"))
    alg = dibbs_default()
    checkpointed_link_job(spark, docs1, mpi, alg, run_dir).count()
    # same inputs: resume fine
    checkpointed_link_job(spark, docs1, mpi, alg, run_dir).count()
    # different documents: refused
    with _pytest.raises(ValueError, match="different inputs"):
        checkpointed_link_job(spark, docs2, mpi, alg, run_dir)


def test_pre_fingerprint_run_dir_refused(spark, tmp_path):
    """A run_dir holding completed stages but NO inputs fingerprint
    (written by pre-fingerprint code, or a hand-pruned manifest) must
    be refused: the guard cannot prove those stages match these inputs,
    and resuming them was exactly the wrong-results hazard it
    prevents."""
    import pytest

    run_dir = str(tmp_path / "legacy_run")
    r1 = StageRunner(spark, run_dir)
    r1.stage(
        "s1",
        lambda: spark.range(3).select(
            F.col("id").cast("string").alias("record_id")
        ),
    )
    # note: r1 never recorded an inputs fingerprint (legacy layout)

    r2 = StageRunner(spark, run_dir)
    assert r2.completed("s1")
    with pytest.raises(ValueError, match="no inputs fingerprint"):
        r2.validate_inputs({"documents": "path_a"})

    # a FRESH run_dir with no stages records the fingerprint quietly
    r3 = StageRunner(spark, str(tmp_path / "fresh_run"))
    r3.validate_inputs({"documents": "path_a"})
