"""Pairwise log-odds scoring (C1-C4) as column builders over pair rows.

Reproduces the reference's evaluator dispatch + ``compare``
(reference: src/recordlinker/linking/link.py:96-168) and the two
matcher functions (linking/matchers.py:49-150) set-at-a-time:

* C1 exact: any equality across the value cross-product earns the full
  ``log_odds`` points — ``arrays_overlap``, pure codegen.
* C2 fuzzy: max normalized similarity across the cross-product; below
  the threshold earns 0, at/above earns ``sim * log_odds`` — the
  similarity is the only Python (Arrow-batched pandas UDF, see
  functions/similarity.py), the rest is codegen.
* missing rule (both): either side empty ->
  ``missing_field_points_proportion * log_odds`` and the field's odds
  count toward the missing tally (matchers.py:85-88,135-138).
* C4 gate: if the missing tally exceeds
  ``max_missing_allowed_proportion * max_points`` the pair total is 0
  (link.py:117-168) — per-feature scores are NOT zeroed (the reference
  keeps them, link.py:160-162).

The pair DataFrame carries the left (incoming, raw — link.py:260 scores
the uncleaned record) and right (MPI, skip-cleaned) feature arrays as
``fl_*`` / ``fr_*`` columns; one score column per evaluator comes out
as ``fs_<feature>`` plus the gated ``score`` total.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recordlinker_spark.config import (
    FUNC_EXACT,
    FUNC_FUZZY,
    Algorithm,
    AlgorithmPass,
    Evaluator,
)
from recordlinker_spark.functions.similarity import max_similarity_udf


def feature_col(feature: str) -> str:
    """Evaluator feature string -> feat_* column name
    (``IDENTIFIER:SS`` -> ``feat_IDENTIFIER_SS``)."""
    return "feat_" + feature.replace(":", "_")


def fs_col(feature: str) -> str:
    return "fs_" + feature.replace(":", "_")


def _empty(col: Column) -> Column:
    return F.coalesce(F.size(col), F.lit(0)) <= 0


def fuzzy_score_expr(ev: Evaluator, ctx, left: Column, right: Column, sim: Column) -> tuple[Column, Column]:
    """(score, missing) for one FUZZY evaluator given its similarity
    column — the SINGLE construction site for the threshold + missing
    semantics (matchers.py:135-150), consumed by both
    :func:`evaluator_score` (per-feature UDF path) and
    :func:`score_pairs` (fused-UDF path) so the two can't drift."""
    log_odds = ctx.get_log_odds(ev.feature) or 0.0
    threshold = (
        ev.fuzzy_match_threshold
        if ev.fuzzy_match_threshold is not None
        else ctx.fuzzy_match_threshold
    )
    missing = _empty(left) | _empty(right)
    score = (
        F.when(missing, F.lit(ctx.missing_field_points_proportion * log_odds))
        .when(sim >= F.lit(threshold), sim * F.lit(log_odds))
        .otherwise(F.lit(0.0))
    )
    return score, missing


def evaluator_score(
    ev: Evaluator, algorithm: Algorithm, left: Column, right: Column
) -> tuple[Column, Column]:
    """(score, missing) columns for one evaluator over a pair row."""
    ctx = algorithm.context
    log_odds = ctx.get_log_odds(ev.feature) or 0.0
    missing = _empty(left) | _empty(right)
    missing_pts = F.lit(ctx.missing_field_points_proportion * log_odds)
    if ev.func == FUNC_EXACT:
        score = (
            F.when(missing, missing_pts)
            .when(F.arrays_overlap(left, right), F.lit(log_odds))
            .otherwise(F.lit(0.0))
        )
        return score, missing
    if ev.func == FUNC_FUZZY:
        measure = ev.fuzzy_match_measure or ctx.fuzzy_match_measure
        sim = max_similarity_udf(measure)(left, right)
        return fuzzy_score_expr(ev, ctx, left, right, sim)
    raise ValueError(f"unknown evaluator func: {ev.func}")


def gated_total(
    scores: list[Column],
    missing_terms: list[Column],
    ctx,
    max_points: float,
) -> Column:
    """C4 missingness gate (reference link.py:117-168): the summed
    per-evaluator score, zeroed when the missing log-odds mass exceeds
    ``max_missing_allowed_proportion`` of the pass's max points.

    ONE construction site on purpose: production scoring
    (:func:`score_pairs`) and the tuning RMS estimator
    (operators/tuning.py pair_rms_scores) must gate identically, or the
    tuned windows would be calibrated against a different score
    distribution than the one production computes."""
    total = scores[0]
    for c in scores[1:]:
        total = total + c
    missing = missing_terms[0]
    for t in missing_terms[1:]:
        missing = missing + t
    return F.when(
        missing <= F.lit(ctx.max_missing_allowed_proportion * max_points),
        total,
    ).otherwise(F.lit(0.0))


def attach_pair_features(
    pairs: DataFrame,
    incoming_feats: DataFrame,
    mpi_feats: DataFrame,
    algorithm_pass: AlgorithmPass,
) -> DataFrame:
    """Join the per-side feature arrays needed by this pass onto the
    candidate pairs (fl_* = incoming/left, fr_* = MPI/right)."""
    feats = sorted({e.feature for e in algorithm_pass.evaluators})
    left = incoming_feats.select(
        F.col("record_id").alias("record_id_l"),
        *[F.col(feature_col(f)).alias("fl_" + f.replace(":", "_")) for f in feats],
    )
    right = mpi_feats.select(
        F.col("record_id").alias("record_id_r"),
        *[F.col(feature_col(f)).alias("fr_" + f.replace(":", "_")) for f in feats],
    )
    return pairs.join(left, "record_id_l").join(right, "record_id_r")


def score_pairs(
    pairs_with_feats: DataFrame,
    algorithm: Algorithm,
    algorithm_pass: AlgorithmPass,
) -> DataFrame:
    """C4: add ``fs_<feature>`` per-evaluator scores and the gated
    ``score`` total to each pair row.

    All fuzzy evaluators of the pass share ONE fused pandas UDF call
    (one Arrow round-trip per pair row, functions/similarity.py)."""
    from recordlinker_spark.functions.similarity import multi_max_similarity_udf

    ctx = algorithm.context
    max_points = algorithm.max_points(algorithm_pass)

    fuzzy = [e for e in algorithm_pass.evaluators if e.func == FUNC_FUZZY]
    sims: dict[str, Column] = {}
    out = pairs_with_feats
    if fuzzy:
        import os

        measures = tuple(
            e.fuzzy_match_measure or ctx.fuzzy_match_measure for e in fuzzy
        )
        udf = multi_max_similarity_udf(measures)
        argnames = []
        for e in fuzzy:
            key = e.feature.replace(":", "_")
            argnames += ["fl_" + key, "fr_" + key]

        if os.environ.get("SPARK_GRAFT_SIM_DISTINCT", "1") == "1":
            # Co-locate repeated value-tuples before the UDF: blocking
            # makes the same (left values, right values) tuples recur
            # across many candidate pairs, and the worker-global memo
            # (functions/similarity.py) dedupes kernel calls — but only
            # within one Python worker, so its hit rate falls as worker
            # count grows (each worker sees a thinner slice of the
            # repeats).  Hash-repartitioning the pair rows by the value
            # tuple routes every copy of a tuple to the same partition:
            # the kernel then runs O(|distinct tuples|) times total,
            # independent of cluster size — one extra exchange of
            # narrow rows buys back the scoring stage's scaling.
            # Skew guard: a pair row with at least one side empty for
            # EVERY fuzzy evaluator never invokes a kernel, yet such
            # rows share one degenerate value tuple (all NULL) and would
            # all hash to a single straggler partition — spread them by
            # a pair-id salt instead (kernel rows keep salt 0, so each
            # real tuple still lands whole on one partition).
            no_kernel = None
            for e in fuzzy:
                key = e.feature.replace(":", "_")
                m = _empty(F.col("fl_" + key)) | _empty(F.col("fr_" + key))
                no_kernel = m if no_kernel is None else (no_kernel & m)
            salt = F.when(
                no_kernel,
                F.pmod(
                    F.xxhash64(F.col("record_id_l"), F.col("record_id_r")),
                    F.lit(1024),
                ),
            ).otherwise(F.lit(0))
            out = out.repartition(*[F.col(c) for c in argnames], salt)
        out = out.withColumn("_sims", udf(*[F.col(c) for c in argnames]))
        for i, e in enumerate(fuzzy):
            sims[e.feature] = F.element_at(F.col("_sims"), i + 1)

    # one projection for every evaluator score and the gated total: a
    # withColumn per column would analyse the whole pair plan again each
    scores: dict[str, Column] = {}
    missing_terms: list[Column] = []
    for ev in algorithm_pass.evaluators:
        key = ev.feature.replace(":", "_")
        left, right = F.col("fl_" + key), F.col("fr_" + key)
        if ev.func == FUNC_FUZZY:
            s, m = fuzzy_score_expr(ev, ctx, left, right, sims[ev.feature])
        else:
            s, m = evaluator_score(ev, algorithm, left, right)
        scores[fs_col(ev.feature)] = s
        log_odds = ctx.get_log_odds(ev.feature) or 0.0
        missing_terms.append(F.when(m, F.lit(log_odds)).otherwise(F.lit(0.0)))

    names = [fs_col(e.feature) for e in algorithm_pass.evaluators]
    total = gated_total([scores[n] for n in names], missing_terms, ctx, max_points)
    return out.select(
        "record_id_l",
        "person_id",
        "record_id_r",
        total.alias("score"),
        *[scores[n].alias(n) for n in names],
    )
