"""The benchmark's workloads: seeded inputs, timed units, traced units, checks.

A workload object is built once per run.  ``setup`` generates its inputs
from the seed, ``unit`` runs one timed unit of work through the
package's public entry point (one micro-batch, or one job), ``check``
verifies that unit's outputs, and ``traced_unit`` runs the same work
layer by layer, materializing at each boundary, inside tracer spans.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import random
import shutil
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recordlinker_spark.config import FUNC_FUZZY, dibbs_default
from recordlinker_spark.operators.blocking import candidate_pairs, missingness_filter
from recordlinker_spark.operators.cluster import assign_persons
from recordlinker_spark.operators.decide import cluster_scores, decide, fold_passes
from recordlinker_spark.operators.linkjob import prepare_incoming, prepare_mpi
from recordlinker_spark.operators.scoring import attach_pair_features, score_pairs
from recordlinker_spark.plans import jobs
from recordlinker_spark.plans.replay import (
    MPI_SCHEMA,
    attach_external_person_id,
    mpi_projection,
)
from recordlinker_spark.sinks.catalog import TableTarget
from recordlinker_spark.sources.ingest import parse_documents
from recordlinker_spark.streaming.incremental import IncrementalLinker
from recordlinker_spark.synth import synth_documents

GRADES = ("certain", "possible", "certainly-not")

# Corpus shape shared by every workload: the scaling benchmark's
# hot-block share and duplicate fan-out (scripts/bench_scaling.py).
HOT_BLOCK_PROB = 0.02
MAX_DUPS = 6

# Synth persons per workload.  ``full`` is what BENCHMARK.json runs;
# ``smoke`` is the small size perfbench/smoke.py uses.  ``full`` is far
# below production sizes so that a run fits the benchmark's time budget;
# at these sizes a unit's time is fixed per-query latency in a fresh JVM,
# not rows (README "Budget").
SIZES = {
    "full": {"stream_microbatch": 2500, "bootstrap_cluster": 1500, "bulk_link": 2500},
    "smoke": {"stream_microbatch": 500, "bootstrap_cluster": 300, "bulk_link": 500},
}
# The incoming ~20 % of a stream corpus arrives in SLICES micro-batches
# of exactly BATCH_DOCS documents each (fewer only if a seed's incoming
# part is short), so a run's records do not vary with the seed.
SLICES = 4
BATCH_DOCS = {"full": 280, "smoke": 50}

# Lowest pairwise F1 each workload must reach on its own corpus.
F1_FLOOR = {"stream_microbatch": 0.8, "bootstrap_cluster": 0.8, "bulk_link": 0.8}


class CheckFailed(Exception):
    """An output of the engine broke one of the benchmark's invariants."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _mat(df: DataFrame) -> tuple[DataFrame, int]:
    """Cache and count: the materialization barrier the traced run puts
    at every layer boundary (as scripts/profile_link.py does)."""
    df = df.cache()
    return df, df.count()


def pair_f1(pred: dict, truth: dict, given: frozenset | set = frozenset()) -> float:
    """Pairwise F1 of a clustering against the ground truth.

    ``pred`` maps each record to its predicted cluster key, ``truth`` to
    its true one.  ``given`` holds the records whose cluster the workload
    was handed (the seeded MPI): only pairs with at least one record not
    given are scored, i.e. counts over all records minus counts over the
    given ones."""

    def pairs(key) -> int:
        every = Counter(key(r) for r in pred)
        handed = Counter(key(r) for r in pred if r in given)
        return sum(n * (n - 1) // 2 for n in every.values()) - sum(
            n * (n - 1) // 2 for n in handed.values()
        )

    tp = pairs(lambda r: (pred[r], truth[r]))
    denom = pairs(lambda r: pred[r]) + pairs(lambda r: truth[r])
    return 2 * tp / denom if denom else 1.0


def digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(tuple("" if v is None else str(v) for v in r) for r in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _fuzzy_columns(algorithm_pass) -> list[str]:
    cols = []
    for e in algorithm_pass.evaluators:
        if e.func == FUNC_FUZZY:
            key = e.feature.replace(":", "_")
            cols += ["fl_" + key, "fr_" + key]
    return cols


class Workload:
    """Shared inputs, checks and the traced link chain."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int, size: str, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.cores = cores
        self.persons = SIZES[size][self.name]
        self.batch_docs = BATCH_DOCS[size]
        self.algorithm = dibbs_default()
        self.details: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self, _unit: int) -> None:
        """Untimed state reset before a unit; most workloads need none."""

    # -- inputs ----------------------------------------------------------

    def write_corpus(self) -> None:
        """Synth corpus -> parquet, partitioned by ``split``: split 0 is
        the ~20 % that arrives as incoming documents, the rest seeds the
        MPI.  The ground truth, the seeded documents and the micro-batch
        cuts of the incoming part (a seeded shuffle) are kept in the
        driver."""
        docs = synth_documents(
            self.spark, self.persons, seed=self.seed, max_dups=MAX_DUPS,
            hot_block_prob=HOT_BLOCK_PROB, partitions=self.cores,
        )
        (
            docs.withColumn("split", F.abs(F.xxhash64("doc_id")) % 5)
            .write.partitionBy("split").parquet(self.path("corpus"))
        )
        self.corpus = self.spark.read.parquet(self.path("corpus"))
        rows = self.corpus.select("doc_id", "person_key", "split").collect()
        self.truth = {r["doc_id"]: r["person_key"] for r in rows}
        self.seeded = frozenset(r["doc_id"] for r in rows if r["split"] != 0)
        incoming = sorted(r["doc_id"] for r in rows if r["split"] == 0)
        random.Random(self.seed).shuffle(incoming)
        n = self.batch_docs
        self.slices = [incoming[s * n:(s + 1) * n] for s in range(SLICES)]

    def incoming(self) -> DataFrame:
        return self.spark.read.parquet(self.path("corpus", "split=0"))

    def seed_mpi(self) -> None:
        """Seed the pristine MPI (``mpi_seed``) with ground-truth persons,
        as the ``seed`` job does (plans/jobs.py job_seed)."""
        records = parse_documents(self.corpus.filter("split != 0"))
        labels = self.corpus.select(
            F.col("doc_id").alias("record_id"), F.col("person_key").alias("person_id")
        )
        TableTarget(self.path("mpi_seed")).append(
            mpi_projection(records.join(labels, "record_id"))
        )

    def restore_mpi(self) -> None:
        """Put the pristine seeded MPI back (never inside a timed window)."""
        shutil.rmtree(self.path("mpi"), ignore_errors=True)
        shutil.copytree(self.path("mpi_seed"), self.path("mpi"))

    def mpi_frame(self) -> DataFrame:
        return self.spark.read.schema(MPI_SCHEMA).parquet(self.path("mpi"))

    # -- checks ----------------------------------------------------------

    def check_link(
        self, decisions: DataFrame, docs: DataFrame, before: int, digest_key: str
    ) -> dict:
        """Checks of one link unit against the MPI it appended to.

        * every incoming record gets exactly one decision, with a known grade;
        * the MPI grew by exactly the new patients and holds no
          duplicate ``record_id`` (so dedup-on-read drops nothing);
        * every appended patient kept its input document's span
          sequence (the north-rule invariant; compared by hash).

        Each side is read by one small query and checked in the driver.
        Keeps the grade counts and the decisions digest in ``details``
        and returns the MPI's record -> person map."""
        sent = {
            r["doc_id"]: r["h"]
            for r in docs.select("doc_id", F.xxhash64("spans").alias("h")).collect()
        }
        rows = decisions.select(
            "record_id", "final_grade", "person_id", "matching_pass_label"
        ).collect()
        decided = Counter(r["record_id"] for r in rows)
        undecided = len(set(sent) - set(decided))
        _require(undecided == 0, f"{undecided} records got no decision")
        _require(max(decided.values(), default=1) == 1, "a record got several decisions")
        _require(set(decided) <= set(sent), "decisions name records that were not sent")
        grades = Counter(r["final_grade"] for r in rows)
        _require(set(grades) <= set(GRADES), f"unknown grades {set(grades) - set(GRADES)}")
        mpi = self.mpi_frame().select(
            "record_id", "person_id", F.xxhash64("spans").alias("h")
        ).collect()
        persons = {r["record_id"]: r["person_id"] for r in mpi}
        _require(len(persons) == before + len(sent), (
            f"MPI holds {len(persons)} records, expected {before} + {len(sent)}"
        ))
        _require(len(mpi) == len(persons), "MPI holds duplicate record_ids")
        appended = {r["record_id"]: r["h"] for r in mpi if r["record_id"] in sent}
        _require(len(appended) == len(sent), "appended patients missing from the MPI")
        changed = sum(appended[k] != h for k, h in sent.items())
        _require(changed == 0, f"{changed} appended patients changed spans")
        self.details["grades"] = {g: grades.get(g, 0) for g in GRADES}
        self.details[digest_key] = digest(rows)
        return persons

    def mpi_f1(self, persons: dict) -> float:
        """Pairwise F1 of the MPI's persons; seeded pairs are given, not
        found, and a possible-grade patient (no person yet) is its own
        cluster."""
        pred = {r: p if p is not None else f"unassigned:{r}" for r, p in persons.items()}
        return pair_f1(pred, self.truth, self.seeded)

    # -- the traced link chain -------------------------------------------

    def traced_link(self, tracer, docs: DataFrame, read_mpi, sink) -> dict:
        """link_batch's chain, one layer at a time, each materialized.

        ``read_mpi`` returns the MPI frame (its read gets a span of its
        own); ``sink`` writes (decisions, new patients) and returns the
        decisions written."""
        alg = self.algorithm
        m: dict = {}
        with tracer.span("ingest"):
            records, m["ingest.records_out"] = _mat(parse_documents(docs))
        with tracer.span("stream.mpi_read"):
            mpi_df, m["stream.mpi_rows"] = _mat(read_mpi())
        with tracer.span("features.incoming"):
            inc_feats, inc_bk = prepare_incoming(records, alg)
            inc_feats, _ = _mat(inc_feats)
            inc_bk, probe_count = _mat(inc_bk)
        with tracer.span("features.mpi"):
            mpi_feats, mpi_bk = prepare_mpi(mpi_df, alg)
            mpi_feats, _ = _mat(mpi_feats)
            mpi_bk, m["features.mpi_rows"] = _mat(mpi_bk)
        with tracer.span("blocking.subsets"):
            # link_batch works these out once for every pass, after its
            # cache warm-up (operators/linkjob.py); the row counts are
            # the ones the materialization above already took
            subsets = _subsets_by_pass(inc_bk, alg)
        per_pass, candidates, graded, tuples, rows = [], 0, 0, 0, 0
        for i, p in enumerate(alg.passes, 1):
            with tracer.span(f"blocking.p{i}"):
                pairs, m[f"blocking.p{i}_pairs"] = _mat(candidate_pairs(
                    inc_bk, mpi_bk, alg, p, mpi_count=m["features.mpi_rows"],
                    probe_count=probe_count, subsets=subsets[i - 1],
                ))
            with tracer.span(f"attach.p{i}"):
                feats, n_rows = _mat(attach_pair_features(pairs, inc_feats, mpi_feats, p))
            with tracer.span(f"scoring.p{i}"):
                scored, _ = _mat(score_pairs(feats, alg, p))
            with tracer.span(f"medians.p{i}"):
                clusters, m[f"medians.p{i}_clusters"] = _mat(cluster_scores(scored, alg, p))
            per_pass.append(clusters)
            # ratios, counted between spans
            candidates += pairs.select("record_id_l", "person_id").distinct().count()
            graded += m[f"medians.p{i}_clusters"]
            tuples += feats.select(*_fuzzy_columns(p)).distinct().count()
            rows += n_rows
        m["blocking.yield"] = graded / candidates if candidates else 0.0
        m["scoring.pairs"] = rows
        m["scoring.tuple_ratio"] = tuples / rows if rows else 0.0
        with tracer.span("decide"):
            decisions, _ = decide(
                fold_passes(per_pass), records, alg.context.include_multiple_matches
            )
            decisions, _ = _mat(decisions)
        grades = dict(decisions.groupBy("final_grade").count().collect())
        m["decide.certain"] = grades.get("certain", 0)
        m["decide.possible"] = grades.get("possible", 0)
        m["decide.certainly_not"] = grades.get("certainly-not", 0)
        new_patients = records.join(decisions.select("record_id", "person_id"), "record_id")
        with tracer.span("sink"):
            m["sink.rows"] = sink(decisions, new_patients)
        self.spark.catalog.clearCache()
        return m


def _subsets_by_pass(inc_bk: DataFrame, alg) -> list[list[tuple[str, ...]]]:
    """Every pass's present-key subsets in one job, as link_batch finds them."""
    frame = None
    for i, p in enumerate(alg.passes):
        mf = missingness_filter(inc_bk, alg, p).select(F.lit(i).alias("_p"), "_subset").distinct()
        frame = mf if frame is None else frame.unionByName(mf)
    out: list[list[tuple[str, ...]]] = [[] for _ in alg.passes]
    for r in frame.collect():
        if r["_subset"]:
            out[r["_p"]].append(tuple(r["_subset"].split(",")))
    return [sorted(s) for s in out]


class StreamMicrobatch(Workload):
    """Micro-batches through ``IncrementalLinker.__call__`` against a
    seeded MPI store; a batch's decisions and new patients are written
    before the next batch starts."""

    name = "stream_microbatch"

    def setup(self) -> None:
        self.write_corpus()
        self.seed_mpi()
        self.restore_mpi()
        self.linker = IncrementalLinker(
            self.spark, self.path("mpi"), self.path("decisions"), self.algorithm,
            run_id="perfbench",
        )
        self.mpi_rows = len(self.seeded)

    def batch(self, s: int) -> DataFrame:
        return self.incoming().filter(F.col("doc_id").isin(self.slices[s])).select(
            "doc_id", "spans"
        )

    def units(self) -> range:
        return range(SLICES)

    def unit(self, s: int) -> None:
        self.linker(self.batch(s), s)

    def records_in(self, s: int) -> int:
        return len(self.slices[s])

    def check(self, s: int) -> None:
        decisions = self.spark.read.parquet(
            self.path("decisions", "run_id=perfbench", f"batch_id={s}")
        )
        # every run links batch 0 first, so its digest is comparable
        persons = self.check_link(
            decisions, self.batch(s), self.mpi_rows, f"decisions_digest_batch{s}"
        )
        self.mpi_rows = len(persons)
        if s == 0:
            self.details["pair_f1"] = self.mpi_f1(persons)

    def traced_unit(self, tracer, s: int) -> dict:
        docs = self.batch(s)

        def sink(decisions, new_patients):
            decisions.write.mode("overwrite").parquet(
                self.path("decisions", "run_id=perfbench", f"batch_id={s}")
            )
            TableTarget(self.path("mpi")).append(
                mpi_projection(attach_external_person_id(new_patients, docs))
            )
            return decisions.count()

        return self.traced_link(tracer, docs, self.linker.current_mpi, sink)


class BulkLink(Workload):
    """The ``link`` job (plans.jobs.job_link, persist on): the incoming
    ~20 % of the corpus linked against an MPI seeded from the rest."""

    name = "bulk_link"

    def setup(self) -> None:
        self.write_corpus()
        self.seed_mpi()

    def units(self) -> range:
        return range(1 << 30)

    def prepare(self, _unit: int) -> None:
        self.restore_mpi()

    def unit(self, _unit: int) -> None:
        args = argparse.Namespace(
            documents=self.path("corpus", "split=0"), mpi=self.path("mpi"),
            out=self.path("decisions"), catalog=False, run_dir=None, fhir=False,
            algorithm=None, algorithm_label=None,
        )
        jobs.job_link(self.spark, args, persist=True)

    def records_in(self, _unit: int) -> int:
        return len(self.truth) - len(self.seeded)

    def check(self, _unit: int) -> None:
        decisions = self.spark.read.parquet(self.path("decisions"))
        persons = self.check_link(
            decisions, self.incoming(), len(self.seeded), "decisions_digest"
        )
        self.details["pair_f1"] = self.mpi_f1(persons)

    def traced_unit(self, tracer, unit: int) -> dict:
        self.prepare(unit)

        def sink(decisions, new_patients):
            decisions.write.mode("overwrite").parquet(self.path("decisions"))
            TableTarget(self.path("mpi")).append(mpi_projection(new_patients))
            return decisions.count()

        return self.traced_link(
            tracer, self.incoming(),
            lambda: self.mpi_frame().dropDuplicates(["record_id"]), sink,
        )


class BootstrapCluster(Workload):
    """The ``cluster`` job (plans.jobs.job_cluster): self-link a whole
    corpus and resolve persons with connected components."""

    name = "bootstrap_cluster"

    def setup(self) -> None:
        self.write_corpus()

    def units(self) -> range:
        return range(1 << 30)

    def unit(self, _unit: int) -> None:
        args = argparse.Namespace(
            documents=self.path("corpus"), out=self.path("labels"), labels=None,
            algorithm=None, algorithm_label=None,
        )
        jobs.job_cluster(self.spark, args)

    def records_in(self, _unit: int) -> int:
        return len(self.truth)

    def check(self, _unit: int) -> None:
        """Every record gets exactly one non-null person."""
        rows = self.spark.read.parquet(self.path("labels")).collect()
        pred = {r["record_id"]: r["person_id"] for r in rows}
        _require(len(pred) == len(rows), "a record got several labels")
        _require(set(pred) == set(self.truth), "labels and corpus records differ")
        _require(all(pred.values()), "a record got no person")
        self.details["labels_digest"] = digest(rows)
        self.details["persons_found"] = len(set(pred.values()))
        self.details["pair_f1"] = pair_f1(pred, self.truth)

    def traced_unit(self, tracer, _unit: int) -> dict:
        """job_cluster's chain, one layer at a time, each materialized.
        job_cluster gives candidate_pairs no precomputed counts or
        subsets, so neither does this chain."""
        alg = self.algorithm
        m: dict = {}
        with tracer.span("ingest"):
            records, m["ingest.records_out"] = _mat(parse_documents(self.corpus))
        with tracer.span("features.incoming"):
            inc_feats, inc_bk = prepare_incoming(records, alg)
            inc_feats, _ = _mat(inc_feats)
            inc_bk, _ = _mat(inc_bk)
        with tracer.span("features.mpi"):
            selfmpi = records.withColumn("person_id", F.col("record_id"))
            mpi_feats, mpi_bk = prepare_mpi(selfmpi, alg)
            mpi_feats, _ = _mat(mpi_feats)
            mpi_bk, m["features.mpi_rows"] = _mat(mpi_bk)
        edges, candidates, certain, tuples, rows = None, 0, 0, 0, 0
        for i, p in enumerate(alg.passes, 1):
            with tracer.span(f"blocking.p{i}"):
                pairs, m[f"blocking.p{i}_pairs"] = _mat(
                    candidate_pairs(inc_bk, mpi_bk, alg, p).filter(
                        F.col("record_id_l") != F.col("record_id_r")
                    )
                )
            with tracer.span(f"attach.p{i}"):
                feats, n_rows = _mat(attach_pair_features(pairs, inc_feats, mpi_feats, p))
            with tracer.span(f"scoring.p{i}"):
                scored, _ = _mat(score_pairs(feats, alg, p))
            _, cmt = p.possible_match_window
            cut = scored.filter(
                F.col("score") / F.lit(alg.max_points(p)) >= F.lit(cmt)
            ).select("record_id_l", "record_id_r")
            edges = cut if edges is None else edges.unionByName(cut)
            # in a self-link every record is its own person: the useful
            # outcomes are the pairs graded at or above the match cut
            candidates += n_rows
            certain += cut.count()
            tuples += feats.select(*_fuzzy_columns(p)).distinct().count()
            rows += n_rows
        m["blocking.yield"] = certain / candidates if candidates else 0.0
        m["scoring.pairs"] = rows
        m["scoring.tuple_ratio"] = tuples / rows if rows else 0.0
        m["cluster.edges_in"] = edges.count()
        with tracer.span("cluster"):
            labels, _ = _mat(assign_persons(records, edges))
        m["cluster.components"] = labels.select("person_id").distinct().count()
        with tracer.span("sink"):
            labels.write.mode("overwrite").parquet(self.path("labels"))
        m["sink.rows"] = m["ingest.records_out"]
        self.spark.catalog.clearCache()
        return m


WORKLOADS = {w.name: w for w in (StreamMicrobatch, BootstrapCluster, BulkLink)}
