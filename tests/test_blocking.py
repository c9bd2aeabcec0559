"""Blocking-semantics parity with the reference's BlockData tests.

Ports the 9-patient ``prime_index`` fixture and the candidate-count
assertions of tests/unit/database/test_mpi_service.py:396-780 onto the
batch blocking operator (J1-J4).
"""

import itertools

import pytest
from pyspark.sql import functions as F

from recordlinker_spark.config import (
    Algorithm,
    AlgorithmContext,
    AlgorithmPass,
)
from recordlinker_spark.functions.features import (
    blocking_key_columns,
    feature_columns,
)
from recordlinker_spark.operators.blocking import candidate_pairs
from recordlinker_spark.schemas import DOCUMENTS_SCHEMA
from recordlinker_spark.sources.ingest import parse_documents
from recordlinker_spark.sources.spandoc import docs_to_rows

# (record, person_label) — reference test_mpi_service.py:398-536
PRIME_INDEX = [
    ({"name": [{"given": ["Johnathon", "Bill"], "family": "Smith"}],
      "birth_date": "01/01/1980"}, "person_1"),
    ({"name": [{"given": ["George"], "family": "Harrison"}],
      "birth_date": "1943-2-25"}, "p_harrison"),
    ({"name": [{"given": ["John"], "family": "Doe"},
               {"given": ["John"], "family": "Lewis"}],
      "birth_date": "1980-01-01"}, "p_doe"),
    ({"name": [{"given": ["Bill"], "family": "Smith"}],
      "birth_date": "1980-01-01"}, "person_1"),
    ({"name": [{"given": ["John"], "family": "Smith"}],
      "birth_date": "1980-01-01"}, "person_1"),
    ({"name": [{"given": ["John"], "family": "Smith"}],
      "birth_date": "1985-11-12"}, "p_smith85"),
    ({"name": [{"given": ["Ferris"], "family": "Bueller"}],
      "birth_date": ""}, "person_2"),
    ({"name": [{"given": ["Ferris"], "family": "Bueller"}],
      "birth_date": "1974-11-07"}, "person_2"),
    ({"name": [{"given": ["Ferris"], "family": "Bueller"}],
      "birth_date": "1983-08-17"}, "person_2"),
]

KEYS = ["BIRTHDATE", "FIRST_NAME", "LAST_NAME"]


def _records(spark, data):
    docs = [(f"m{i}", rec, []) for i, (rec, _) in enumerate(data)]
    df = spark.createDataFrame(docs_to_rows(docs), DOCUMENTS_SCHEMA)
    return parse_documents(df)


@pytest.fixture(scope="module")
def mpi_bk(spark):
    recs = _records(spark, PRIME_INDEX)
    labels = spark.createDataFrame(
        [(f"m{i}", p) for i, (_, p) in enumerate(PRIME_INDEX)],
        "record_id string, person_id string",
    )
    bk = blocking_key_columns(feature_columns(recs), KEYS)
    return bk.select("record_id", *[f"bk_{k}" for k in KEYS]).join(
        labels, "record_id"
    ).cache()


def _incoming_bk(spark, record):
    df = spark.createDataFrame(
        docs_to_rows([("probe", record, [])]), DOCUMENTS_SCHEMA
    )
    recs = parse_documents(df)
    return blocking_key_columns(feature_columns(recs), KEYS).select(
        "record_id", *[f"bk_{k}" for k in KEYS]
    )


def _block(spark, mpi_bk, record, keys, odds, max_missing=0.3):
    alg = Algorithm(
        label="t",
        passes=(
            AlgorithmPass(
                label="pass",
                blocking_keys=tuple(keys),
                evaluators=(),
                possible_match_window=(0.0, 1.0),
            ),
        ),
        context=AlgorithmContext(
            log_odds=odds, max_missing_allowed_proportion=max_missing
        ),
    )
    pairs = candidate_pairs(
        _incoming_bk(spark, record), mpi_bk, alg, alg.passes[0]
    )
    return pairs.select("record_id_r").collect()


SMITH_PROBE = {
    "name": [{"given": ["Johnathon", "Bill"], "family": "Smith"}],
    "birth_date": "01/01/1980",
}


def test_block_missing_data(spark, mpi_bk):
    """missing BIRTHDATE + max_missing 0.3 -> no candidates (:538-564)"""
    probe = {"name": [{"given": ["Johnathon", "Bill"], "family": "Smith"}]}
    out = _block(spark, mpi_bk, probe, ["BIRTHDATE"], {"BIRTHDATE": 10.1})
    assert len(out) == 0


def test_block_empty_block_key(spark, mpi_bk):
    """empty birthdate string -> missing key -> abort (:566-591)"""
    probe = {
        "name": [{"given": ["Ferris"], "family": "Bueller"}],
        "birth_date": "",
    }
    out = _block(
        spark, mpi_bk, probe, ["BIRTHDATE", "FIRST_NAME"],
        {"BIRTHDATE": 10.1, "FIRST_NAME": 6.8},
    )
    assert len(out) == 0


def test_block_filter_mpi_candidates(spark, mpi_bk):
    """cluster expansion + conflict filter: 3 Buellers pulled, the one
    with a conflicting birthdate dropped -> 2 (:593-628)"""
    probe = {
        "name": [{"given": ["Ferris"], "family": "Bueller"}],
        "birth_date": "1974-11-07",
    }
    out = _block(
        spark, mpi_bk, probe, ["BIRTHDATE", "FIRST_NAME"],
        {"BIRTHDATE": 10.1, "FIRST_NAME": 6.8},
    )
    assert len(out) == 2


def test_block_on_birthdate(spark, mpi_bk):
    out = _block(spark, mpi_bk, SMITH_PROBE, ["BIRTHDATE"], {"BIRTHDATE": 10.1})
    assert len(out) == 4
    probe85 = dict(SMITH_PROBE, birth_date="11/12/1985")
    out = _block(spark, mpi_bk, probe85, ["BIRTHDATE"], {"BIRTHDATE": 10.1})
    assert len(out) == 1


def test_block_on_first_name(spark, mpi_bk):
    out = _block(spark, mpi_bk, SMITH_PROBE, ["FIRST_NAME"], {"FIRST_NAME": 6.8})
    assert len(out) == 4


def test_block_on_birthdate_and_first_name(spark, mpi_bk):
    out = _block(
        spark, mpi_bk, SMITH_PROBE, ["BIRTHDATE", "FIRST_NAME"],
        {"BIRTHDATE": 10.1, "FIRST_NAME": 6.8},
    )
    assert len(out) == 3


def test_block_on_birthdate_first_last(spark, mpi_bk):
    odds = {"BIRTHDATE": 10.1, "FIRST_NAME": 6.8, "LAST_NAME": 6.3}
    out = _block(spark, mpi_bk, SMITH_PROBE, KEYS, odds)
    assert len(out) == 2
    probe = {
        "name": [{"given": ["Billy"], "family": "Smitty"}],
        "birth_date": "Jan 1 1980",
    }
    out = _block(spark, mpi_bk, probe, KEYS, odds)
    assert len(out) == 1


def test_salted_capped_and_broadcast_paths_agree(spark):
    """The broadcast fast path, the census+salted path, and the
    max_block_size cap produce identical candidate sets — the path
    choice is a physical-plan decision only."""
    from recordlinker_spark.operators.blocking import blocked_persons

    alg = Algorithm(
        label="t",
        passes=(
            AlgorithmPass(
                label="p",
                blocking_keys=("BIRTHDATE",),
                evaluators=(),
                possible_match_window=(0.0, 1.0),
            ),
        ),
        context=AlgorithmContext(log_odds={"BIRTHDATE": 10.0}),
    )
    p = alg.passes[0]
    # 120 patients share one hot birthdate; 30 cold distinct ones
    mpi_rows = [(f"h{i}", ["1980-01-01"], f"ph{i}") for i in range(120)] + [
        (f"c{i}", [f"19{i:02d}-05-05"], f"pc{i}") for i in range(30)
    ]
    mpi = spark.createDataFrame(
        mpi_rows, "record_id string, bk_BIRTHDATE array<string>, person_id string"
    )
    inc = spark.createDataFrame(
        [("q1", ["1980-01-01"]), ("q2", ["1905-05-05"]), ("q3", ["2000-01-01"])],
        "record_id string, bk_BIRTHDATE array<string>",
    )

    def got(**kw):
        return {
            (r["record_id_l"], r["person_id"])
            for r in blocked_persons(inc, mpi, alg, p, **kw).collect()
        }

    bcast = got()
    salted = got(
        broadcast_probe_rows=0, salt_threshold=50, num_salts=4,
        census_fraction=1.0,
    )
    assert bcast == salted
    assert len(bcast) == 121  # q1 -> 120 hot persons, q2 -> pc5, q3 -> none

    # the cap drops the pathological block identically on both paths
    capped_b = got(max_block_size=50)
    capped_s = got(
        broadcast_probe_rows=0, salt_threshold=50, num_salts=4,
        census_fraction=1.0, max_block_size=50,
    )
    assert capped_b == capped_s == {("q2", "pc5")}


# (record_id, person_id, BIRTHDATE, FIRST_NAME, IDENTIFIER) blocking
# values: m0 has every key, so its build rows fall in every subset;
# m6-m9 share one (BIRTHDATE, FIRST_NAME) block of four rows, which a
# cap of 3 drops while q5 keeps its other block, through m10
PARITY_KEYS = ("BIRTHDATE", "FIRST_NAME", "IDENTIFIER")
PARITY_ODDS = {"BIRTHDATE": 10.0, "FIRST_NAME": 6.0, "IDENTIFIER": 8.0}
PARITY_MPI = [
    ("m0", "p1", ["1980-01-01"], ["JOHN", "BILL"], ["1234:MR", "9999:SS"]),
    ("m1", "p1", ["1980-01-01"], ["JOHN"], []),
    ("m2", "p2", ["1980-01-01"], ["JOHN"], ["5555:MR"]),
    ("m3", "p3", [], ["BILL"], ["9999:SS"]),
    ("m4", "p4", ["1975-02-02"], ["JOHN", "TALI"], ["1234:MR"]),
    ("m5", "p5", ["1980-01-01"], [], []),
] + [(f"m{i}", f"p{i}", ["1990-09-09"], ["ANNA"], []) for i in range(6, 10)] + [
    ("m10", "p10", ["1990-09-09"], ["JOHN"], []),
]
PARITY_INCOMING = [
    ("q0", ["1980-01-01"], ["JOHN", "BILL"], ["1234:MR", "9999:SS"]),
    ("q1", ["1980-01-01"], ["JOHN"], []),
    ("q2", [], ["BILL", "TALI"], ["9999:SS", "1234:MR"]),
    ("q3", [], [], ["1234:MR"]),  # missing odds 16/24: the gate drops it
    ("q4", ["1990-09-09"], ["ANNA"], []),
    ("q5", ["1990-09-09"], ["ANNA", "JOHN"], []),
    ("q6", [], [], []),
]


def _reference_blocked(max_missing, cap=None):
    """Brute-force J1+J2: a kept record's candidates are the persons of
    every MPI row holding, for each key the record has, one of its
    values — per combination of the record's values, dropping a
    combination matched by more than ``cap`` MPI rows."""
    total = sum(PARITY_ODDS.values())
    out = set()
    for rid, *vals in PARITY_INCOMING:
        rec = dict(zip(PARITY_KEYS, vals))
        present = [k for k in PARITY_KEYS if rec[k]]
        missing = sum(PARITY_ODDS[k] for k in PARITY_KEYS if not rec[k])
        if not present or missing / total > max_missing:
            continue
        for combo in itertools.product(*[rec[k] for k in present]):
            members = [
                m for m in PARITY_MPI
                if all(v in dict(zip(PARITY_KEYS, m[2:]))[k] for k, v in zip(present, combo))
            ]
            if cap is None or len(members) <= cap:
                out |= {(rid, m[1]) for m in members}
    return out


@pytest.mark.parametrize(
    "kwargs",
    [
        {},
        {"broadcast_probe_rows": 0},
        {"broadcast_probe_rows": 0, "salt_threshold": 2, "num_salts": 3,
         "census_fraction": 1.0},
        {"max_block_size": 3},
        {"broadcast_probe_rows": 0, "max_block_size": 3},
    ],
    ids=["broadcast", "shuffle", "salted", "capped", "salted-capped"],
)
def test_blocked_persons_matches_brute_force(spark, kwargs):
    """Every physical path of blocked_persons gives the brute-force J1+J2
    candidates over multi-valued keys."""
    from recordlinker_spark.operators.blocking import blocked_persons

    alg = Algorithm(
        label="t",
        passes=(
            AlgorithmPass(
                label="p",
                blocking_keys=PARITY_KEYS,
                evaluators=(),
                possible_match_window=(0.0, 1.0),
            ),
        ),
        context=AlgorithmContext(
            log_odds=PARITY_ODDS, max_missing_allowed_proportion=0.5
        ),
    )
    bk = ", ".join(f"bk_{k} array<string>" for k in PARITY_KEYS)
    mpi = spark.createDataFrame(PARITY_MPI, f"record_id string, person_id string, {bk}")
    inc = spark.createDataFrame(PARITY_INCOMING, f"record_id string, {bk}")
    got = {
        (r["record_id_l"], r["person_id"])
        for r in blocked_persons(inc, mpi, alg, alg.passes[0], **kwargs).collect()
    }
    expected = _reference_blocked(0.5, kwargs.get("max_block_size"))
    assert got == expected
    # the fixture reaches what it is for: a multi-subset build row, the
    # gate's drop, and (capped) a dropped block beside a kept one
    assert {r for r, _ in expected} == {"q0", "q1", "q2", "q4", "q5"} - (
        {"q4"} if "max_block_size" in kwargs else set()
    )
