"""Regression tests for round-4 fixes: minhash permutation wrapping,
broadcast-gate explosion bail, parquet dynamic-overwrite contract."""

import math

import pytest
from pyspark.sql import functions as F

from recordlinker_spark.sinks.catalog import TableTarget


def test_minhash_agreement_tracks_jaccard(spark):
    """Signature agreement must estimate Jaccard, NOT be bimodal.

    Regression for the degenerate-permutation bug: with a modulus the
    products never wrapped, every hash picked the same argmin shingle,
    so two docs agreed on either 0 or ALL minima.  With a real
    universal hash, a ~0.5-Jaccard pair must agree on an intermediate
    fraction of 64 hashes (binomial: 32 +- ~4 sd 12)."""
    from recordlinker_spark.operators.dedup import minhash_signatures

    # two texts sharing roughly half their 5-shingles
    words_a = " ".join(f"tok{i:03d}" for i in range(60))
    words_b = " ".join(f"tok{i:03d}" for i in range(30, 90))
    docs = spark.createDataFrame(
        [(1, words_a), (2, words_b)], "doc_id long, text string"
    )
    sig = {r["doc_id"]: r["sig"] for r in
           minhash_signatures(docs, num_hashes=64).collect()}
    agree = sum(1 for x, y in zip(sig[1], sig[2]) if x == y)
    # exact-Jaccard of the shingle sets is ~0.45; binomial(64, .45)
    # lies in [10, 48] with overwhelming probability — the broken
    # implementation returns exactly 0 or exactly 64
    assert 10 <= agree <= 48, f"bimodal signature agreement: {agree}/64"


def test_broadcast_gate_bails_on_exploded_probe(spark):
    """A small-row-count batch whose multi-valued keys explode past the
    broadcast bound must fall back to the salted path and still produce
    identical candidates."""
    from recordlinker_spark.config import dibbs_default
    from recordlinker_spark.operators.blocking import blocked_persons
    from recordlinker_spark.operators.linkjob import prepare_incoming, prepare_mpi

    import sys
    sys.path.insert(0, "tests")
    from fixtures_patients import SIX_PATIENTS

    from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
    from recordlinker_spark.sources.ingest import parse_documents
    from recordlinker_spark.sources.spandoc import docs_to_rows

    alg = dibbs_default()
    # 4 given names -> 4 FIRST_NAME blocking values per record: 6 raw
    # rows explode to 24 composite probe rows for pass 2
    patients = [
        {
            "birth_date": f"1980-01-{i + 1:02d}",
            "sex": "male",
            "name": [
                {
                    "family": "Smith",
                    "given": ["Aaaa", "Bbbb", "Cccc", "Dddd"],
                    "use": "official",
                }
            ],
            "address": [{"line": ["1 Main"], "postal_code": f"0210{i}"}],
        }
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        docs_to_rows([(f"r{i}", p, []) for i, p in enumerate(patients)]),
        DOCUMENTS_SCHEMA,
    )
    recs = parse_documents(docs)
    _, inc_bk = prepare_incoming(recs, alg)
    mpi = recs.withColumn("person_id", F.col("record_id"))
    _, mpi_bk = prepare_mpi(mpi, alg)

    p = alg.passes[1]  # ZIP/FIRST_NAME/LAST_NAME/SEX
    fast = blocked_persons(inc_bk, mpi_bk, alg, p, broadcast_probe_rows=250_000)
    # raw gate passes (6 <= 6) but the exploded probe (24 rows) breaches
    # 2x the bound -> must bail to the salted path, same result
    exploded_blocked = blocked_persons(
        inc_bk, mpi_bk, alg, p, broadcast_probe_rows=6, salt_threshold=2
    )
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, exploded_blocked.collect())
    )


def test_bail_path_honors_max_block_size(spark):
    """The salted path a bailed batch lands on must cap oversized
    blocks exactly like the fast path would have — even when the MPI is
    smaller than salt_threshold, where the old census never fired."""
    from recordlinker_spark.config import dibbs_default
    from recordlinker_spark.operators.blocking import blocked_persons
    from recordlinker_spark.operators.linkjob import prepare_incoming, prepare_mpi
    from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
    from recordlinker_spark.sources.ingest import parse_documents
    from recordlinker_spark.sources.spandoc import docs_to_rows

    alg = dibbs_default()

    def patient(family, given, zip5, bd):
        return {
            "birth_date": bd,
            "sex": "male",
            "name": [{"family": family,
                      "given": [given, "Bbbb", "Cccc", "Dddd"],
                      "use": "official"}],
            "address": [{"line": ["1 Main"], "postal_code": zip5}],
        }

    # one 20-member block (identical pass-2 keys) + one 3-member block
    patients = [patient("Smith", "Aaaa", "02101", "1980-01-01")] * 20
    patients += [patient("Jones", "Eeee", "03105", "1990-05-05")] * 3
    docs = spark.createDataFrame(
        docs_to_rows([(f"r{i}", p, []) for i, p in enumerate(patients)]),
        DOCUMENTS_SCHEMA,
    )
    recs = parse_documents(docs)
    _, inc_bk = prepare_incoming(recs, alg)
    mpi = recs.withColumn("person_id", F.col("record_id"))
    _, mpi_bk = prepare_mpi(mpi, alg)

    p = alg.passes[1]  # ZIP/FIRST_NAME/LAST_NAME/SEX
    kw = dict(max_block_size=10)
    fast = blocked_persons(
        inc_bk, mpi_bk, alg, p, broadcast_probe_rows=250_000, **kw
    )
    # raw gate passes (23 <= 23) but the exploded probe (4 values per
    # record) breaches 2x the bound -> bails to the salted path
    bailed = blocked_persons(
        inc_bk, mpi_bk, alg, p, broadcast_probe_rows=23, **kw
    )
    fast_rows = sorted(map(tuple, fast.collect()))
    assert fast_rows == sorted(map(tuple, bailed.collect()))
    # the 20-member block is over the cap on BOTH paths
    big_block = {f"r{i}" for i in range(20)}
    assert fast_rows and not {pid for _, pid in fast_rows} & big_block


def test_overwrite_partitions_parquet_contract(spark, tmp_path):
    """Parquet fallback honors 'replace only the partitions present':
    requires explicit partition columns, refuses without them."""
    path = str(tmp_path / "t")
    t = TableTarget(path, catalog=False)
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "part string, v int")
    t.overwrite_partitions(df1, partition_by=["part"])
    df2 = spark.createDataFrame([("b", 99)], "part string, v int")
    t.overwrite_partitions(df2, partition_by=["part"])
    got = {(r["part"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1), ("b", 99)}  # 'a' survived, 'b' replaced

    with pytest.raises(ValueError, match="partition_by"):
        t.overwrite_partitions(df2)


def test_subsets_precomputed_matches_discovered(spark):
    """blocked_persons(subsets=...) equals the self-discovered path, and
    link_batch's fused discovery finds those subsets, probe rows and the
    incoming count."""
    from recordlinker_spark.config import dibbs_default
    from recordlinker_spark.operators.blocking import (
        blocked_persons,
        missingness_filter,
    )
    from recordlinker_spark.operators.linkjob import (
        _subsets_and_rows,
        prepare_incoming,
        prepare_mpi,
    )
    from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
    from recordlinker_spark.sources.ingest import parse_documents
    from recordlinker_spark.sources.spandoc import docs_to_rows

    import sys
    sys.path.insert(0, "tests")
    from fixtures_patients import SIX_PATIENTS

    alg = dibbs_default()
    docs = spark.createDataFrame(
        docs_to_rows([(f"r{i}", p, []) for i, p in enumerate(SIX_PATIENTS)]),
        DOCUMENTS_SCHEMA,
    )
    recs = parse_documents(docs)
    _, inc_bk = prepare_incoming(recs, alg)
    mpi = recs.withColumn("person_id", F.col("record_id"))
    _, mpi_bk = prepare_mpi(mpi, alg)

    fused_subsets, fused_rows, fused_total = _subsets_and_rows(inc_bk, alg)
    assert fused_total == inc_bk.count() == len(SIX_PATIENTS)
    for p in alg.passes:
        discovered = blocked_persons(inc_bk, mpi_bk, alg, p)
        subs = sorted(
            {
                tuple(r["_subset"].split(","))
                for r in missingness_filter(inc_bk, alg, p)
                .select("_subset")
                .distinct()
                .collect()
                if r["_subset"]
            }
        )
        pre = blocked_persons(inc_bk, mpi_bk, alg, p, subsets=subs)
        assert sorted(map(tuple, discovered.collect())) == sorted(
            map(tuple, pre.collect())
        )
        # link_batch's fused job finds the same subsets, the
        # composite probe rows the broadcast gate would count, and the
        # incoming row count
        i = alg.passes.index(p)
        assert fused_subsets[i] == subs
        # a record's composite probe rows: the product of its key-array
        # sizes over its present-key subset
        expected = 0
        for r in missingness_filter(inc_bk, alg, p).collect():
            if r["_subset"]:
                expected += math.prod(
                    len(r[f"bk_{k}"]) for k in r["_subset"].split(",")
                )
        assert fused_rows[i] == expected


def test_race_scrub_keeps_null_elements(spark):
    """A RACE skip rule removes only MATCHING elements; NULL elements
    survive (the reference deletes matches, never nulls)."""
    from recordlinker_spark.config import SkipValue
    from recordlinker_spark.operators.skipvalues import remove_skip_values

    df = spark.createDataFrame(
        [("r1", ["WHITE", None, "UNKNOWN"], "1980-01-01", "M")],
        "record_id string, race array<string>, birth_date string, sex string",
    )
    (row,) = remove_skip_values(
        df, (SkipValue(feature="RACE", values=("unknown",)),)
    ).collect()
    assert row["race"] == ["WHITE", None]


def test_cosine_zero_vector_is_zero(spark):
    """An all-zero embedding gets cosine 0.0 instead of a DIVIDE_BY_ZERO
    under ANSI mode / NULL rank pollution otherwise."""
    from recordlinker_spark.operators.simsearch import brute_force_topk

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.filter("vec_id = 0").selectExpr(
        "vec_id as query_id", "embedding"
    )
    rows = brute_force_topk(corpus, queries, k=3).collect()
    by_vec = {r["vec_id"]: r["cos"] for r in rows}
    assert by_vec[1] == 0.0
    assert by_vec[0] > by_vec[2] > by_vec[1]


def test_media_null_ref_and_short_payload(spark):
    """NULL media_ref -> NULL payload -> NULL feature row; a payload
    shorter than dim decodes without NaNs."""
    from recordlinker_spark.operators.media import decode_features, fetch_payloads

    refs = spark.createDataFrame(
        [("d1", 0, None, "binary")],
        "doc_id string, media_idx int, media_ref string, media_type string",
    )
    (row,) = decode_features(fetch_payloads(refs), dim=4).collect()
    assert row["feature"] is None and row["width"] is None

    short = spark.createDataFrame(
        [("d2", 0, "binary", bytearray(b"\x07"))],
        "doc_id string, media_idx int, media_type string, payload binary",
    )
    (r2,) = decode_features(short, dim=4).collect()
    assert r2["width"] == 8 and r2["height"] == 1
    assert len(r2["feature"]) == 4
    assert all(f is not None and 0.0 <= f <= 1.0 for f in r2["feature"])
