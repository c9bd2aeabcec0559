"""Candidate-pair generation: the blocking join family (J1-J4).

Reproduces the reference's ``BlockData.get``
(reference: src/recordlinker/database/mpi_service.py:114-180) set-at-a-time:

* J1 multi-key conjunctive blocking: a patient is a candidate iff for
  EVERY blocking key the incoming record has values for, the patient
  has an overlapping value (mpi_service.py:134-176, one self-join of
  the blocking-value table per key).
* J2 missingness gate: keys with no incoming values are skipped; if
  the skipped keys' log-odds exceed ``max_missing_allowed_proportion``
  of the pass total (or the total is 0), the record produces no
  candidates for the pass (mpi_service.py:46-70,147-157).
* J3 cluster expansion: candidates expand to ALL patients of the
  matched Person clusters (mpi_service.py:175-178).
* J4 agreement filter: expanded patients whose own blocking values
  conflict with the incoming record are dropped; a key agrees when
  either side is missing it or the value sets overlap
  (mpi_service.py:72-111).

Spark-first design, chosen for 100 TB scale
-------------------------------------------
A naive translation would join a long-format ``(key, value)`` table
once per key and intersect — but low-cardinality keys (SEX!) make
per-key joins quadratically hot.  Because J1 is a *conjunction*, we
instead join on a composite key tagged with the record's present-key
*subset*: the cross-product of the record's values over its present
keys, concatenated.  Selectivity is then the product of the key
selectivities (e.g. birthdate x identifier-last4 x sex), never a
single hot key.  The number of distinct subsets is bounded by
2^|keys| (<= 16 for every shipped config) and in practice 1-3; every
subset of a pass shares one equi-join Catalyst plans freely
(broadcast when the incoming batch is small, shuffle-hash otherwise,
AQE skew splitting on).

Residual skew (one birthdate shared by thousands of records) is
handled *explicitly* on top of AQE: a block-size census over the MPI
side finds composite values hotter than ``salt_threshold``; those
join through a salted path (MPI rows get ``pmod(xxhash64(id), n)``
salts, probe rows replicate over all salts), the rest through the
plain path.  Pathological blocks larger than ``max_block_size`` are
dropped and counted (the |block|^2 pair blowup is inherent to the
algorithm, not the engine — capping is the standard mitigation).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recordlinker_spark.config import Algorithm, AlgorithmPass

SEP = "\x1f"  # composite-key separator; blocking values are <=20 printable chars


def _bk(key: str) -> Column:
    return F.col(f"bk_{key}")


def _present(k: str) -> Column:
    # coalesce(size, 0): bk_* columns are contractually non-NULL
    # (features.py enforces it), but defend anyway — size(NULL) is NULL
    # under ANSI, which would charge no missing-odds for an absent key
    # while also omitting it from the subset (phantom candidate blocks)
    return F.coalesce(F.size(_bk(k)), F.lit(0)) > 0


def missingness_keep(algorithm: Algorithm, algorithm_pass: AlgorithmPass) -> Column:
    """J2's keep condition over the ``bk_*`` columns: the record's
    missing keys carry at most ``max_missing_allowed_proportion`` of the
    pass's log-odds (mpi_service.py:46-70); never true when the pass
    total is 0."""
    ctx = algorithm.context
    keys = algorithm_pass.blocking_keys
    odds = {k: ctx.get_log_odds(k) or 0.0 for k in keys}
    total = sum(odds.values())
    if total == 0:
        return F.lit(False)
    missing = None
    for k in keys:
        term = F.when(~_present(k), F.lit(odds[k])).otherwise(F.lit(0.0))
        missing = term if missing is None else missing + term
    return (missing / F.lit(total)) <= F.lit(ctx.max_missing_allowed_proportion)


def present_subset(keys: tuple[str, ...]) -> Column:
    """The record's present-key subset tag: the comma-joined sorted
    names of the keys it has values for."""
    return F.concat_ws(
        ",", F.array_compact(F.array(*[
            F.when(_present(k), F.lit(k)) for k in sorted(keys)
        ]))
    )


def missingness_filter(
    df: DataFrame, algorithm: Algorithm, algorithm_pass: AlgorithmPass
) -> DataFrame:
    """J2: drop records whose missing blocking keys carry too much
    log-odds weight (mpi_service.py:46-70). Adds ``_subset``: the
    comma-joined sorted list of present keys."""
    return df.filter(missingness_keep(algorithm, algorithm_pass)).withColumn(
        "_subset", present_subset(algorithm_pass.blocking_keys)
    )


def _composite_blocks(
    side: DataFrame, ids: list[Column | str], keys: tuple[str, ...],
    subsets: list[tuple[str, ...]],
) -> DataFrame:
    """``ids``, ``_sub`` and one ``_block`` row per combination of the
    row's values over the keys of its ``_sub`` subset.

    One ``explode`` per pass key: a key in the row's subset explodes
    its values, any other key explodes ``array(NULL)``, which
    ``concat_ws`` skips."""
    out = side
    for k in keys:
        in_subset = F.col("_sub").isin(*[",".join(s) for s in subsets if k in s])
        values = F.when(in_subset, _bk(k)).otherwise(
            F.array(F.lit(None).cast("string"))
        )
        out = out.select("*", F.explode(values).alias(f"_v_{k}"))
    block = F.concat_ws(SEP, *[F.col(f"_v_{k}") for k in keys])
    return out.select(*ids, "_sub", block.alias("_block"))


def blocked_persons(
    incoming: DataFrame,
    mpi: DataFrame,
    algorithm: Algorithm,
    algorithm_pass: AlgorithmPass,
    salt_threshold: int = 5000,
    num_salts: int = 32,
    max_block_size: int | None = None,
    census_fraction: float = 0.02,
    mpi_count: int | None = None,
    probe_count: int | None = None,
    broadcast_probe_rows: int = 250_000,
    subsets: list[tuple[str, ...]] | None = None,
    exploded_probe_rows: int | None = None,
) -> DataFrame:
    """J1+J2: distinct ``(record_id_l, person_id)`` candidate clusters.

    Plan shape: each side is ONE scan producing tagged ``(_sub, _block)``
    rows, so the whole pass is a single equi-join on ``(_sub, _block)``
    — one exchange, one dropDuplicates, one skew census — whatever the
    number of present-key subsets.  A probe row carries its own
    ``_subset`` tag; a build row is exploded into the tag of every
    subset whose keys it has.  Both sides then run one ``explode`` per
    pass key and one ``concat_ws``: a key outside the row's subset
    explodes as ``array(NULL)``, which ``concat_ws`` skips, so each
    row yields the cross-product of its values over its subset's keys.
    A union of one branch per subset (the earlier shape) re-ran the
    side's projection once per subset: the bootstrap's edges plan
    had 24 scans of its cached records instead of 12.

    :param incoming: records with ``record_id`` + ``bk_<KEY>`` columns
        (computed from the skip-cleaned record, link.py:224).
    :param mpi: patients with ``record_id``, ``person_id`` + ``bk_<KEY>``
        (raw, as stored at insert time, mpi_service.py:314-350).
    :param mpi_count: known MPI row count (skips a counting pass when
        the caller already materialized the projection).
    :param probe_count: known incoming row count (same caller shortcut).
    :param broadcast_probe_rows: incoming batches at or below this many
        records take the broadcast fast path — see below.
    :param subsets: precomputed present-key subsets for this pass, as
        sorted tuples (skips the per-pass driver collect — link_batch
        fuses every pass's subset discovery into ONE job over the
        cached keys).
    :param exploded_probe_rows: known composite probe row count over
        ``subsets`` (skips the broadcast gate's count; link_batch takes
        it in the same fused job).

    Broadcast fast path: an MPI-linkage batch is typically orders of
    magnitude smaller than the MPI, so the probe side's composite rows
    (short strings) fit in a broadcast.  ``build ⋈ broadcast(probe)``
    then streams the MPI side with NO exchange of either side and NO
    partition skew (there is no hash partitioning to skew — a hot
    block's members are spread uniformly across the MPI scan
    partitions), which makes the whole census/salting machinery moot;
    the census survives only to enforce ``max_block_size``.  The bound
    is the crossover physics: broadcast cost (driver collect +
    serialize + ship) grows with the probe and does NOT parallelize,
    while the salted shuffle join scales with executors — measured on
    the 1.6M-person protocol, an 809k-record probe broadcast added
    ~20s of non-scaling wall at every cluster size.  250k rows
    (~15 MB) covers micro-batch/streaming linkage; larger batches
    (and self-linkage bootstraps) take the salted path below.
    """
    keys = algorithm_pass.blocking_keys
    spark = incoming.sparkSession
    inc = missingness_filter(incoming, algorithm, algorithm_pass)
    inc = inc.select("record_id", "_subset", *[f"bk_{k}" for k in keys])

    if subsets is None:
        subsets = [
            tuple(s["_subset"].split(","))
            for s in inc.select("_subset").distinct().collect()
            if s["_subset"]
        ]
    if not subsets:
        return spark.createDataFrame([], "record_id_l string, person_id string")

    mpi_bk = mpi.select("record_id", "person_id", *[f"bk_{k}" for k in keys])

    # one composite scan per side: a probe row keeps its own subset tag,
    # a build row takes the tag of every subset whose keys it has
    tags = [",".join(s) for s in subsets]
    exploded_keys = tuple(k for k in sorted(keys) if any(k in s for s in subsets))
    probe = _composite_blocks(
        inc.filter(F.col("_subset").isin(*tags)).withColumnRenamed("_subset", "_sub"),
        [F.col("record_id").alias("record_id_l")], exploded_keys, subsets,
    )
    build_tags = F.array_compact(F.array(*[
        F.when(reduce(operator.and_, [_present(k) for k in s]), F.lit(tag))
        for s, tag in zip(subsets, tags)
    ]))
    build = _composite_blocks(
        mpi_bk.select("person_id", *[_bk(k) for k in exploded_keys],
                      F.explode(build_tags).alias("_sub")),
        ["person_id"], exploded_keys, subsets,
    )

    # ---- small-probe fast path: broadcast-hash join, exchange-free.
    if probe_count is None:
        probe_count = incoming.count()
    # What actually ships is the EXPLODED probe — the cross-product of
    # blocking values per present-key subset — which multi-valued keys
    # (identifiers, given names) can inflate several-fold past the
    # raw-row gate.  Count it directly (cheap: derived from a
    # ≤ broadcast_probe_rows batch) and bail to the salted path when
    # the explosion breaches 2x the bound, so the driver never collects
    # a broadcast the ~15 MB estimate didn't cover.
    exploded_rows = None
    if probe_count <= broadcast_probe_rows:
        exploded_rows = (
            probe.count() if exploded_probe_rows is None else exploded_probe_rows
        )
    if exploded_rows is not None and exploded_rows <= 2 * broadcast_probe_rows:
        if max_block_size is not None:
            if mpi_count is None:
                mpi_count = mpi_bk.count()
            if mpi_count > max_block_size:
                frac = min(1.0, max(census_fraction, 200.0 / max_block_size))
                census = (
                    build.sample(fraction=frac, seed=42)
                    .groupBy("_sub", "_block")
                    .count()
                )
                # over-limit keys stay a DataFrame (anti-join, broadcast
                # hint) rather than a driver collect: their count is
                # bounded by mpi_count / max_block_size, which can dwarf
                # the driver at 100 TB even though each row is tiny
                capped_keys = census.filter(
                    (F.col("count") / F.lit(frac)) > max_block_size
                ).select("_sub", "_block")
                build = build.join(
                    F.broadcast(capped_keys), ["_sub", "_block"], "left_anti"
                )
        matched = build.join(F.broadcast(probe), ["_sub", "_block"])
        return matched.select("record_id_l", "person_id").dropDuplicates(
            ["record_id_l", "person_id"]
        )

    # ---- explicit skew handling: census -> hot/cold split + salting.
    # One sampled census job covers every subset: a hot block
    # (> threshold members) is huge by definition, so a small Bernoulli
    # sample sees it with overwhelming probability (expected 100+
    # sampled rows at the default threshold) at a fraction of the
    # shuffle cost.  A census can't find a hot block in an MPI smaller
    # than the threshold — skipped entirely (tests/replay fast path).
    if mpi_count is None:
        mpi_count = mpi_bk.count()
    hot_rows = []
    # the census must fire whenever EITHER bound can bite: capping at
    # max_block_size applies on this path too (a batch that bails off
    # the broadcast fast path must see identical capped candidates)
    census_trigger = salt_threshold
    collect_above = salt_threshold // 2
    if max_block_size is not None:
        census_trigger = min(census_trigger, max_block_size)
        collect_above = min(collect_above, max_block_size)
    census = None
    if mpi_count > census_trigger:
        frac = min(1.0, max(census_fraction, 200.0 / census_trigger))
        census = (
            build.sample(fraction=frac, seed=42)
            .groupBy("_sub", "_block")
            .count()
            .withColumn("count", (F.col("count") / F.lit(frac)).cast("long"))
        )
        if max_block_size is not None:
            # materialize ONCE: the hot collect below and the capped
            # anti-joins all read this census.  Without it the sampled
            # census is lazily re-evaluated inside the final action —
            # sample() is only deterministic for stable partition
            # contents, so an uncached shuffled MPI could yield a
            # DIFFERENT census there, letting a block land in the salt
            # list by one estimate and be anti-joined out by the other
            # (silently dropping its candidates) — and the widest scan
            # of the pass would run 3x instead of once.
            census = census.localCheckpoint(eager=True)
        # the top-4096 limit bounds only the SALT list (a driver-side
        # collect; only the hottest blocks need salting).  Capping is
        # complete: every over-limit block is removed by the anti-join
        # below, unlimited, so a batch that bails off the broadcast
        # fast path sees the identical capped candidate set regardless
        # of how many blocks breach the limit.
        hot_query = census.filter(F.col("count") > collect_above)
        if max_block_size is not None:
            hot_query = hot_query.filter(F.col("count") <= max_block_size)
        hot_rows = hot_query.orderBy(F.desc("count")).limit(4096).collect()
    hot = [(r["_sub"], r["_block"]) for r in hot_rows]
    if census is not None and max_block_size is not None:
        capped_keys = census.filter(
            F.col("count") > max_block_size
        ).select("_sub", "_block")
        probe = probe.join(
            F.broadcast(capped_keys), ["_sub", "_block"], "left_anti"
        )
        build = build.join(
            F.broadcast(capped_keys), ["_sub", "_block"], "left_anti"
        )

    if hot:
        hot_df = F.broadcast(
            spark.createDataFrame(sorted(hot), "_sub string, _block string")
        )
        cold = probe.join(hot_df, ["_sub", "_block"], "left_anti").join(
            build.join(hot_df, ["_sub", "_block"], "left_anti"),
            ["_sub", "_block"],
        )
        salt = F.pmod(F.xxhash64("person_id"), F.lit(num_salts)).cast("int")
        hot_build = build.join(hot_df, ["_sub", "_block"]).withColumn("_salt", salt)
        hot_probe = probe.join(hot_df, ["_sub", "_block"]).withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
        )
        salted = hot_probe.join(hot_build, ["_sub", "_block", "_salt"]).drop("_salt")
        matched = cold.unionByName(salted)
    else:
        matched = probe.join(build, ["_sub", "_block"])
    return matched.select("record_id_l", "person_id").dropDuplicates(
        ["record_id_l", "person_id"]
    )


def candidate_pairs(
    incoming: DataFrame,
    mpi: DataFrame,
    algorithm: Algorithm,
    algorithm_pass: AlgorithmPass,
    **block_kwargs,
) -> DataFrame:
    """J1-J4 end to end: one row per (incoming record, cluster member).

    Returns columns ``record_id_l``, ``person_id``, ``record_id_r`` —
    feature/score columns are joined on by the scoring stage.
    """
    keys = algorithm_pass.blocking_keys
    persons = blocked_persons(incoming, mpi, algorithm, algorithm_pass, **block_kwargs)

    # J3: expand to all cluster members (semi-join shape; person dim is
    # the small side after DISTINCT, so Catalyst/AQE can broadcast it)
    members = persons.join(
        mpi.select(
            F.col("record_id").alias("record_id_r"),
            "person_id",
            *[F.col(f"bk_{k}").alias(f"bk_r_{k}") for k in keys],
        ),
        "person_id",
    )

    # J4: agreement filter against the incoming record's blocking values
    inc_bk = incoming.select(
        F.col("record_id").alias("record_id_l"),
        *[F.col(f"bk_{k}").alias(f"bk_l_{k}") for k in keys],
    )
    pairs = members.join(inc_bk, "record_id_l")
    agree = F.lit(True)
    for k in keys:
        l, r = F.col(f"bk_l_{k}"), F.col(f"bk_r_{k}")
        # coalesce(size, 0): under ANSI size(NULL) is NULL, which would
        # make the whole predicate NULL and silently DROP the pair —
        # J4's contract is the opposite (a key agrees when either side
        # is missing); same defense as missingness_filter above
        agree = agree & (
            (F.coalesce(F.size(l), F.lit(0)) <= 0)
            | (F.coalesce(F.size(r), F.lit(0)) <= 0)
            | F.arrays_overlap(l, r)
        )
    return pairs.filter(agree).select("record_id_l", "person_id", "record_id_r")
