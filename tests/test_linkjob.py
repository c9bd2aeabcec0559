"""link_batch's caches and column memo: every caller releases what it
cached, the streaming sink appends what its decisions committed, and
the per-context feature, key and scrub columns match a fresh build."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from recordlinker_spark.config import SkipValue, dibbs_default
from recordlinker_spark.functions import features
from recordlinker_spark.operators import linkjob, skipvalues
from recordlinker_spark.plans import jobs
from recordlinker_spark.plans.replay import mpi_projection
from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
from recordlinker_spark.sources.ingest import parse_documents
from recordlinker_spark.sources.spandoc import docs_to_rows
from recordlinker_spark.streaming import incremental

from fixtures_patients import SIX_PATIENTS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark, patients, prefix="r"):
    return spark.createDataFrame(
        docs_to_rows([(f"{prefix}{i}", p, []) for i, p in enumerate(patients)]),
        DOCUMENTS_SCHEMA,
    )


def _nothing_cached(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _sorted_rows(df):
    return sorted(str(r.asDict(recursive=True)) for r in df.collect())


@pytest.fixture
def no_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_link_batch_context_releases_every_cache(spark, no_cache):
    recs = parse_documents(_docs(spark, SIX_PATIENTS))
    mpi = recs.filter(F.col("record_id").isin("r0", "r2")).withColumn(
        "person_id", F.col("record_id")
    )
    incoming = recs.filter(~F.col("record_id").isin("r0", "r2"))
    with linkjob.link_batch(
        incoming, mpi, dibbs_default(), keep_pair_scores=True,
        cache_intermediate=True,
    ) as out:
        assert out.decisions.count() == 4
        out.new_patients.count()
        assert not _nothing_cached(spark)
    assert _nothing_cached(spark)


def test_job_link_releases_every_cache(spark, tmp_path, no_cache):
    docs_dir, mpi_dir = str(tmp_path / "docs"), str(tmp_path / "mpi")
    _docs(spark, SIX_PATIENTS[:3]).write.parquet(docs_dir)
    mpi_projection(
        parse_documents(_docs(spark, SIX_PATIENTS[3:], "m")).withColumn(
            "person_id", F.col("record_id")
        )
    ).write.parquet(mpi_dir)

    class Args:
        documents, mpi, out = docs_dir, mpi_dir, str(tmp_path / "out")

    jobs.job_link(spark, Args())
    assert spark.read.parquet(Args.out).count() == 3
    assert _nothing_cached(spark)


def _mpi_matches_decisions(spark, linker, mpi_dir, batch_id):
    """Every MPI row of the batch carries its decisions partition's
    person_id, once."""
    decided = {
        r["record_id"]: r["person_id"]
        for r in spark.read.parquet(linker._batch_dir(batch_id)).collect()
    }
    appended = [
        (r["record_id"], r["person_id"])
        for r in spark.read.parquet(mpi_dir).collect()
        if r["record_id"] in decided
    ]
    assert sorted(appended, key=str) == sorted(decided.items(), key=str)


def test_incremental_linker_releases_every_cache(spark, tmp_path, monkeypatch, no_cache):
    """The sink releases its caches, the parsed batch included, also when
    the MPI append raises; the append carries the committed decisions,
    and a replay of a batch whose append failed appends them once."""
    mpi_dir = str(tmp_path / "mpi")
    mpi_projection(
        parse_documents(_docs(spark, SIX_PATIENTS[:2], "m")).withColumn(
            "person_id", F.col("record_id")
        )
    ).write.parquet(mpi_dir)
    linker = incremental.IncrementalLinker(
        spark, mpi_dir, str(tmp_path / "decisions"), dibbs_default(), run_id="t"
    )
    linker(_docs(spark, SIX_PATIENTS[2:4]), 0)
    assert spark.read.parquet(mpi_dir).count() == 4
    _mpi_matches_decisions(spark, linker, mpi_dir, 0)
    assert _nothing_cached(spark)

    def failing_append(_df):
        raise RuntimeError("MPI append failed")

    batch = _docs(spark, SIX_PATIENTS[4:], "x")
    with monkeypatch.context() as m:
        m.setattr(incremental, "mpi_projection", failing_append)
        with pytest.raises(RuntimeError, match="MPI append failed"):
            linker(batch, 1)
    assert _nothing_cached(spark)
    # the decisions were committed, the append was not: the replay
    # links the batch again and appends it once
    assert spark.read.parquet(linker._batch_dir(1)).count() == 2
    assert spark.read.parquet(mpi_dir).count() == 4
    linker(batch, 1)
    assert spark.read.parquet(mpi_dir).count() == 6
    _mpi_matches_decisions(spark, linker, mpi_dir, 1)
    assert _nothing_cached(spark)


def test_memoized_columns_match_fresh_build(spark):
    """The per-context feature, key and skip-scrub columns are built once
    and give the rows a fresh build gives, over the raw and the scrubbed
    record."""
    alg = dibbs_default()
    recs = parse_documents(_docs(spark, SIX_PATIENTS)).select(*linkjob.PII_COLS)
    assert features.feature_exprs(["SS"]) is features.feature_exprs(["SS"])
    assert features.blocking_key_exprs() is features.blocking_key_exprs()

    # rules that hit the fixture in every scrubbed column
    skips = alg.context.skip_values + (
        SkipValue("GIVEN_NAME", ("tiberius",)),
        SkipValue("LAST_NAME", ("shepard",)),
        SkipValue("CITY", ("boston",)),
        SkipValue("PHONE", ("123-456-7890",)),
        SkipValue("SEX", ("female",)),
        SkipValue("IDENTIFIER:MR", ("1234567890::mr",)),
    )
    memo_scrub = linkjob.remove_skip_values(recs, skips)
    assert features._per_context(("skip", skips), lambda: None), "scrub not memoized"

    fresh_feats = [c.alias(n) for n, c in features._feature_trees(("SS",), True).items()]
    memo = features.blocking_key_columns(features.feature_columns(recs, ["SS"]))
    features._TREES.clear()
    fresh = features.blocking_key_columns(recs.select("*", *fresh_feats))
    assert _sorted_rows(memo) == _sorted_rows(fresh)
    fresh_scrub = recs.withColumns(skipvalues._scrub_columns(skips))
    assert _sorted_rows(memo_scrub) == _sorted_rows(fresh_scrub)
    assert _sorted_rows(memo_scrub) != _sorted_rows(recs)

    # the fused sides carry the same features and keys as separate
    # builds over the raw and the skip-scrubbed record
    cleaned = linkjob.remove_skip_values(recs, alg.context.skip_values)
    keys = [f"bk_{k}" for k in linkjob._all_blocking_keys(alg)]
    names = linkjob._feature_names(alg)
    ids = linkjob._identifier_types(alg)

    def pick(df, *cols):
        return _sorted_rows(df.select("record_id", *cols))

    inc = linkjob.incoming_side(recs, alg)
    assert pick(inc, *names) == pick(features.feature_columns(recs, ids), *names)
    assert pick(inc, *keys) == pick(
        features.blocking_key_columns(features.feature_columns(cleaned)), *keys
    )
    mpi = linkjob.mpi_side(recs.withColumn("person_id", F.col("record_id")), alg)
    assert pick(mpi, *names) == pick(features.feature_columns(cleaned, ids), *names)
    assert pick(mpi, *keys) == pick(
        features.blocking_key_columns(features.feature_columns(recs)), *keys
    )


NEW_CONTEXT_DRIVER = """
from pyspark.sql import SparkSession
from recordlinker_spark.functions import features
from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
from recordlinker_spark.sources.ingest import parse_documents
from recordlinker_spark.sources.spandoc import docs_to_rows
from fixtures_patients import SIX_PATIENTS


def link_columns():
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    recs = parse_documents(spark.createDataFrame(
        docs_to_rows([(f"r{i}", p, []) for i, p in enumerate(SIX_PATIENTS)]),
        DOCUMENTS_SCHEMA,
    ))
    exprs = features.feature_exprs()
    rows = sorted(str(r.asDict(recursive=True)) for r in
                  features.blocking_key_columns(features.feature_columns(recs))
                  .drop("spans").collect())
    spark.stop()
    return exprs, rows


first_exprs, first = link_columns()
second_exprs, second = link_columns()
assert second_exprs is not first_exprs, "memo outlived its SparkContext"
assert first == second and len(first) == 6
print("SAME")
"""


def test_memo_is_rebuilt_for_a_new_spark_context(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [REPO, os.path.join(REPO, "tests"), env.get("PYTHONPATH", "")]
    )
    proc = subprocess.run(
        [sys.executable, "-c", NEW_CONTEXT_DRIVER], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("SAME")
