"""Cluster aggregation, grading, cross-pass fold and final decision (A1-A5).

Reproduces the reference's per-cluster evaluation loop and LinkResult
score-tracking (reference: src/recordlinker/linking/link.py:34-93,
252-341) as windowed aggregations:

* A1 exact median of pair scores per (incoming record, person cluster)
  — ``percentile(score, 0.5)`` (exact, interpolating at even counts,
  matching Python's ``statistics.median``); per-feature medians too.
* A2 RMS = median / max_points (link.py:229-232,276-277).
* A3 grade: rms < mmt -> certainly-not, < cmt -> possible, else
  certain (link.py:171-181); clusters below mmt are not remembered
  (link.py:293-296).
* A4 cross-pass fold: per (record, person) keep the best result —
  certain beats possible, ties by higher RMS (LinkResult
  check-and-update, link.py:66-93; the sequential update rule is
  order-independent and equals max by (grade, rms)).
* A5 decision per record: any certain -> link to the top-RMS certain
  (all certains reported when ``include_multiple_matches``); only
  possibles -> manual-review grade, no link; none -> new person
  (link.py:316-341).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recordlinker_spark.config import Algorithm, AlgorithmPass
from recordlinker_spark.operators.scoring import fs_col

GRADE_RANK = {"certain": 2, "possible": 1}


def grade_rank(col: str = "grade"):
    """Grade -> sort rank (higher wins), driven by GRADE_RANK so the
    fold and decide windows cannot drift from the table."""
    expr = None
    for g, r in GRADE_RANK.items():
        expr = F.when(F.col(col) == g, r) if expr is None else expr.when(
            F.col(col) == g, r
        )
    return expr.otherwise(0)


def cluster_scores(
    scored_pairs: DataFrame, algorithm: Algorithm, algorithm_pass: AlgorithmPass
) -> DataFrame:
    """A1-A3 for one pass: per (record_id_l, person_id) median score,
    RMS, grade; rows below the minimum threshold are dropped."""
    max_points = algorithm.max_points(algorithm_pass)
    mmt, cmt = algorithm_pass.possible_match_window
    aggs = [
        F.expr("percentile(score, 0.5)").alias("median_points"),
        F.count(F.lit(1)).alias("patients_compared"),
    ]
    for ev in algorithm_pass.evaluators:
        c = fs_col(ev.feature)
        aggs.append(F.expr(f"percentile({c}, 0.5)").alias("median_" + c[3:]))
    # per-feature medians as a map so passes with different evaluator
    # sets union cleanly in fold_passes (LinkResult.median_features,
    # link.py:271-275)
    map_args = []
    for ev in algorithm_pass.evaluators:
        map_args.append(F.lit(ev.feature))
        map_args.append(F.col("median_" + fs_col(ev.feature)[3:]))
    # one projection after the aggregate, not a withColumn chain: each
    # withColumn analyses the whole pass plan again
    rms = F.col("median_points") / F.lit(max_points)
    return (
        scored_pairs.groupBy("record_id_l", "person_id")
        .agg(*aggs)
        .select(
            "*",
            F.create_map(*map_args).alias("median_features"),
            rms.alias("rms"),
            F.when(rms < F.lit(mmt), F.lit("certainly-not"))
            .when(rms < F.lit(cmt), F.lit("possible"))
            .otherwise(F.lit("certain"))
            .alias("grade"),
            F.lit(algorithm_pass.resolved_label).alias("pass_label"),
            F.lit(mmt).alias("mmt"),
            F.lit(cmt).alias("cmt"),
        )
        .filter(F.col("rms") >= F.lit(mmt))
    )


def fold_passes(per_pass_results: list[DataFrame]) -> DataFrame:
    """A4: union per-pass cluster results, keep the best row per
    (record_id_l, person_id) by (grade, rms)."""
    common = [
        "record_id_l",
        "person_id",
        "median_points",
        "patients_compared",
        "rms",
        "grade",
        "pass_label",
        "mmt",
        "cmt",
        "median_features",
    ]
    unioned = per_pass_results[0].select(*common)
    for df in per_pass_results[1:]:
        unioned = unioned.unionByName(df.select(*common))
    rank = grade_rank()
    w = Window.partitionBy("record_id_l", "person_id").orderBy(
        rank.desc(), F.col("rms").desc(), F.col("pass_label")
    )
    return (
        unioned.select(*common, F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .select(*common)
    )


def decide(
    folded: DataFrame, incoming: DataFrame, include_multiple_matches: bool = True
) -> tuple[DataFrame, DataFrame]:
    """A5: final per-record decision.

    :param folded: output of :func:`fold_passes`.
    :param incoming: the incoming records (for records with no
        candidates at all -> certainly-not / new person).
    :returns: (decisions, results) —
        decisions: one row per incoming record with ``final_grade`` in
        {certain, possible, certainly-not}, ``person_id`` (matched
        cluster, or a freshly minted deterministic id for
        certainly-not, or NULL for possible — the reference leaves
        possible-grade patients unassigned pending review,
        link.py:325-341);
        results: the reported LinkResults (all certains when any —
        every certain if ``include_multiple_matches`` else the top one
        — otherwise all possibles), reference link.py:316-341.
    """
    rank = grade_rank()
    w = Window.partitionBy("record_id_l").orderBy(
        rank.desc(), F.col("rms").desc(), F.col("person_id")
    )
    best = folded.select(
        F.col("record_id_l").alias("record_id"),
        F.col("grade").alias("final_grade"),
        F.col("person_id").alias("matched_person_id"),
        F.col("rms").alias("best_rms"),
        F.col("pass_label").alias("matching_pass_label"),
        F.row_number().over(w).alias("_rn"),
    ).filter(F.col("_rn") == 1)

    # deterministic new-person label (the reference mints an opaque uuid,
    # link.py:329-331; determinism here buys idempotent resume + oracles)
    mint = F.concat(F.lit("p-"), F.md5(F.concat(F.lit("person:"), F.col("record_id"))))
    grade = F.coalesce(F.col("final_grade"), F.lit("certainly-not"))
    decisions = (
        incoming.select(F.col("record_id"))
        .join(best, "record_id", "left")
        .select(
            "record_id",
            grade.alias("final_grade"),
            F.when(grade == "certain", F.col("matched_person_id"))
            .when(grade == "possible", F.lit(None).cast("string"))
            .otherwise(mint)
            .alias("person_id"),
            "best_rms",
            "matching_pass_label",
        )
    )

    any_certain = F.max(rank).over(Window.partitionBy("record_id_l"))
    results = folded.select("*", any_certain.alias("_best_rank")).filter(
        (F.col("grade") == "certain")
        | ((F.col("grade") == "possible") & (F.col("_best_rank") < 2))
    )
    if not include_multiple_matches:
        wres = Window.partitionBy("record_id_l").orderBy(
            rank.desc(), F.col("rms").desc(), F.col("person_id")
        )
        results = results.withColumn("_rn", F.row_number().over(wres)).filter(
            # keep all possibles for review, but only the top certain
            (F.col("grade") == "possible") | (F.col("_rn") == 1)
        ).drop("_rn")
    return decisions, results.drop("_best_rank")


def mint_person_id(record_id: str) -> str:
    """Driver-side twin of the md5 minting expression in :func:`decide`."""
    return "p-" + hashlib.md5(f"person:{record_id}".encode()).hexdigest()
