"""The batch link job: §3.1 of the survey, set-at-a-time.

Re-expresses the reference's ``link_record_against_mpi``
(reference: src/recordlinker/linking/link.py:184-381) as one Spark
job over a whole batch of incoming records against an MPI table:

    documents -> pii records -> [skip-scrub] -> features/blocking keys
      -> per pass: candidate pairs (J1-J4) -> pair scores (C1-C4)
         -> cluster medians/RMS/grade (A1-A3)
      -> cross-pass fold (A4) -> decision (A5) -> MPI update

Faithful asymmetries preserved from the reference:

* blocking keys for the incoming side come from the skip-CLEANED
  record (link.py:224), the MPI side's from the RAW record as stored
  at insert time (mpi_service.py:183-221,314-350);
* scoring features for the incoming side come from the RAW record
  (link.py:260-267 passes ``record``, not ``cleaned_record``), the MPI
  side's from the CLEANED record (link.py:245-247);
* patients with a ``possible`` final grade persist with a NULL
  person_id (pending review) and are invisible to future blocking
  (link.py:325-341 leaves matched_person None).

Batch semantics: every record in the incoming batch is linked against
the *pre-existing* MPI (order-independent within the batch), matching
the reference's micro-batch deployment. For reference-exact sequential
semantics on small fixtures see plans/replay.py.
"""

from __future__ import annotations

import concurrent.futures
import dataclasses

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from recordlinker_spark.config import Algorithm
from recordlinker_spark.functions.features import blocking_key_exprs, feature_columns
from recordlinker_spark.operators.blocking import (
    candidate_pairs,
    missingness_keep,
    present_subset,
)
from recordlinker_spark.operators.decide import cluster_scores  # noqa: F401 (re-export)
from recordlinker_spark.operators.decide import decide, fold_passes
from recordlinker_spark.operators.scoring import (
    attach_pair_features,
    feature_col,
    score_pairs,
)
from recordlinker_spark.operators.skipvalues import remove_skip_values

PII_COLS = [
    "record_id",
    "external_id",
    "birth_date",
    "sex",
    "name",
    "address",
    "telecom",
    "race",
    "identifiers",
]


@dataclasses.dataclass
class LinkOutput:
    decisions: DataFrame  # record_id, final_grade, person_id, best_rms, matching_pass_label
    results: DataFrame  # reported LinkResults (certain/possible clusters)
    new_patients: DataFrame  # incoming records with assigned person_id + spans
    pair_scores: DataFrame | None = None  # per-pass scored pairs (debug/tuning)
    cached: list = dataclasses.field(default_factory=list, repr=False)

    def unpersist(self) -> None:
        """Release the projections link_batch cached for this call.
        Callers that invoke link_batch in a loop (replay harness) MUST
        call this after consuming the outputs, or cached frames
        accumulate in the block manager across iterations.

        Dependents go first: uncaching a frame makes Spark re-plan
        every still-cached plan built on it (seconds per cached
        decisions plan), while a frame with no cached dependents is
        dropped at once."""
        for df in reversed(self.cached):
            df.unpersist()
        self.cached.clear()

    # context-manager form: ``with link_batch(...) as out`` releases
    # the cached projections even when consuming an output raises —
    # loop callers (replay, the streaming sink) previously leaked
    # cached MPI-sized frames on any exception between link_batch and
    # the explicit unpersist()
    def __enter__(self) -> "LinkOutput":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.unpersist()


def _identifier_types(algorithm: Algorithm) -> list[str]:
    return sorted(
        {
            e.suffix
            for p in algorithm.passes
            for e in p.evaluators
            if e.suffix is not None
        }
    )


def _all_blocking_keys(algorithm: Algorithm) -> list[str]:
    seen: list[str] = []
    for p in algorithm.passes:
        for k in p.blocking_keys:
            if k not in seen:
                seen.append(k)
    return seen


def _feature_names(algorithm: Algorithm) -> list[str]:
    """The ``feat_*`` columns the algorithm's evaluators score."""
    return sorted(
        {feature_col(e.feature) for p in algorithm.passes for e in p.evaluators}
    )


def incoming_side(records: DataFrame, algorithm: Algorithm) -> DataFrame:
    """``record_id``, scoring features (``feat_*``) from the RAW record and
    blocking keys (``bk_*``) from the skip-CLEANED record, as one linear
    projection chain: features first, then the scrub rewrites the PII
    columns in place, then the keys are cut from the scrubbed ones."""
    raw = feature_columns(records.select(*PII_COLS), _identifier_types(algorithm))
    cleaned = remove_skip_values(raw, algorithm.context.skip_values)
    return cleaned.select(
        "record_id",
        *_feature_names(algorithm),
        *blocking_key_exprs(_all_blocking_keys(algorithm), from_pii=True),
    )


def mpi_side(patients: DataFrame, algorithm: Algorithm) -> DataFrame:
    """``record_id``, ``person_id``, blocking keys from the RAW record
    and scoring features from the skip-CLEANED record: the mirror image
    of :func:`incoming_side`, over linkable patients only.

    :param patients: pii columns + ``person_id`` (NULL = pending review,
        excluded from blocking).
    """
    keys = _all_blocking_keys(algorithm)
    raw = patients.filter(F.col("person_id").isNotNull()).select(
        *PII_COLS, "person_id", *blocking_key_exprs(keys, from_pii=True)
    )
    cleaned = remove_skip_values(raw, algorithm.context.skip_values)
    return feature_columns(cleaned, _identifier_types(algorithm)).select(
        "record_id", "person_id", *[f"bk_{k}" for k in keys], *_feature_names(algorithm)
    )


def _split(side: DataFrame, algorithm: Algorithm, *ids: str) -> tuple[DataFrame, DataFrame]:
    keys = _all_blocking_keys(algorithm)
    return (
        side.select("record_id", *_feature_names(algorithm)),
        side.select(*ids, *[f"bk_{k}" for k in keys]),
    )


def prepare_incoming(records: DataFrame, algorithm: Algorithm) -> tuple[DataFrame, DataFrame]:
    """(scoring features from RAW record, blocking keys from CLEANED
    record): two projections of :func:`incoming_side`."""
    return _split(incoming_side(records, algorithm), algorithm, "record_id")


def prepare_mpi(patients: DataFrame, algorithm: Algorithm) -> tuple[DataFrame, DataFrame]:
    """(scoring features from CLEANED record, blocking keys + ``person_id``
    from RAW record): two projections of :func:`mpi_side`."""
    return _split(mpi_side(patients, algorithm), algorithm, "record_id", "person_id")


def _subsets_and_rows(inc: DataFrame, algorithm: Algorithm):
    """Every pass's present-key subsets, the composite probe rows they
    explode to, and the incoming row count, from ONE driver job over
    ONE projection of the incoming keys.

    Each record explodes into a ``(pass, subset, rows)`` struct per pass
    whose missingness gate keeps it, plus one count row.  A record with
    present keys S yields prod(|bk_k|, k in S) composite rows; absent
    keys count 1.  Returns ({pass index: sorted subsets}, {pass index:
    probe rows}, incoming rows)."""
    entries = [F.struct(
        F.lit(-1).alias("_p"), F.lit("").alias("_subset"), F.lit(1).cast("long").alias("_rows")
    )]
    for i, p in enumerate(algorithm.passes):
        rows = None
        for k in p.blocking_keys:
            n = F.greatest(F.size(F.col(f"bk_{k}")), F.lit(1)).cast("long")
            rows = n if rows is None else rows * n
        entries.append(F.when(
            missingness_keep(algorithm, p),
            F.struct(
                F.lit(i).alias("_p"),
                present_subset(p.blocking_keys).alias("_subset"),
                rows.alias("_rows"),
            ),
        ))
    frame = inc.select(F.inline(F.array_compact(F.array(*entries))))
    subsets: dict[int, list] = {i: [] for i in range(len(algorithm.passes))}
    probe_rows: dict[int, int] = {i: 0 for i in subsets}
    total = 0
    for r in frame.groupBy("_p", "_subset").agg(F.sum("_rows").alias("_rows")).collect():
        if r["_p"] < 0:
            total = r["_rows"]
        elif r["_subset"]:
            subsets[r["_p"]].append(tuple(r["_subset"].split(",")))
            probe_rows[r["_p"]] += r["_rows"]
    for i in subsets:
        subsets[i].sort()
    return subsets, probe_rows, total


def link_batch(
    incoming: DataFrame,
    mpi_patients: DataFrame,
    algorithm: Algorithm,
    keep_pair_scores: bool = False,
    cache_intermediate: bool = False,
    **block_kwargs,
) -> LinkOutput:
    """Link a batch of incoming PII records against the MPI.

    :param incoming: output of sources.ingest.parse_documents (pii
        columns + untouched ``spans``).
    :param mpi_patients: pii columns + ``person_id`` (NULL = pending
        review, excluded from blocking).
    """
    inc = incoming_side(incoming, algorithm)
    mpi = mpi_side(mpi_patients, algorithm)
    cached: list = []
    probe_rows_by_pass: dict[int, int] = {}
    if len(algorithm.passes) > 1 or cache_intermediate:
        # every pass re-joins these projections; without a cache each
        # pass would re-run span parsing + feature extraction over the
        # whole MPI (the widest scan in the job)
        inc = inc.cache()
        mpi = mpi.cache()
        cached += [inc, mpi]
        # materialize the cached projections BEFORE the pass threads
        # fork: concurrent first-touch of an unmaterialized cache makes
        # every branch compute all partitions (in-flight cache work
        # doesn't dedupe), duplicating the widest scans of the job
        # exactly when parallelism is highest.  Two independent jobs,
        # submitted from threads so the warm-up uses the whole
        # cluster: the MPI count, and ONE job over the incoming keys
        # that finds every pass's present-key subsets, their exploded
        # probe rows and the incoming count — per pass, these would
        # each be a driver round-trip of fixed, non-scaling latency.
        # The known counts spare blocked_persons its counting jobs.
        with concurrent.futures.ThreadPoolExecutor(max_workers=2) as warm:
            mpi_count = warm.submit(mpi.count)
            if "subsets_by_pass" in block_kwargs:
                probe_count = warm.submit(inc.count).result()
            else:
                subsets, probe_rows_by_pass, probe_count = warm.submit(
                    _subsets_and_rows, inc, algorithm
                ).result()
                block_kwargs["subsets_by_pass"] = subsets
            block_kwargs.setdefault("mpi_count", mpi_count.result())
        block_kwargs.setdefault("probe_count", probe_count)

    subsets_by_pass = block_kwargs.pop("subsets_by_pass", None)
    pass_index = {id(p): i for i, p in enumerate(algorithm.passes)}

    def build_pass(algorithm_pass):
        kw = dict(block_kwargs)
        i = pass_index[id(algorithm_pass)]
        if subsets_by_pass is not None:
            kw["subsets"] = subsets_by_pass[i]
        if i in probe_rows_by_pass:
            kw["exploded_probe_rows"] = probe_rows_by_pass[i]
        pairs = candidate_pairs(inc, mpi, algorithm, algorithm_pass, **kw)
        with_feats = attach_pair_features(pairs, inc, mpi, algorithm_pass)
        scored = score_pairs(with_feats, algorithm, algorithm_pass)
        if cache_intermediate:
            # one blocking+scoring computation shared by the cluster
            # aggregation and any pair_scores consumer
            scored = scored.cache()
            cached.append(scored)
        return scored

    # passes are independent until the fold; their driver-side actions
    # (subset collect, skew census) are small serial jobs, so submit
    # them from concurrent threads — Spark schedules the jobs in
    # parallel and one pass's scoring overlaps the other's blocking.
    # (A merged all-pass blocking plan with a cache barrier was
    # measured SLOWER at 4N executors: the barrier serializes blocking
    # against scoring and costs more than the saved stages.)
    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        scored_per_pass = list(pool.map(build_pass, algorithm.passes))

    per_pass: list[DataFrame] = []
    all_scored: DataFrame | None = None
    for algorithm_pass, scored in zip(algorithm.passes, scored_per_pass):
        if keep_pair_scores:
            sel = scored.select(
                "record_id_l",
                "person_id",
                "record_id_r",
                F.lit(algorithm_pass.resolved_label).alias("pass_label"),
                "score",
            )
            all_scored = sel if all_scored is None else all_scored.unionByName(sel)
        per_pass.append(cluster_scores(scored, algorithm, algorithm_pass))

    folded = fold_passes(per_pass)
    # the record ids come from the cached side: ``incoming`` would be
    # parsed again for them
    decisions, results = decide(
        folded, inc, algorithm.context.include_multiple_matches
    )
    # decisions is ONE narrow row per incoming record, yet every other
    # output hangs off it — without this cache a caller consuming
    # decisions and then new_patients (replay does, per record)
    # re-executes the entire
    # blocking+scoring+fold+decide pipeline for the second action.
    # Caching the tiny end frame costs one materialization of rows the
    # first action computes anyway.
    decisions = decisions.cache()
    cached.append(decisions)

    new_patients = incoming.join(
        decisions.select("record_id", "person_id"), "record_id"
    )
    return LinkOutput(
        decisions=decisions,
        results=results,
        new_patients=new_patients,
        pair_scores=all_scored,
        cached=cached,
    )
