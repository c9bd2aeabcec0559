"""Per-feature value extraction + blocking-key derivation as column builders.

Reproduces the reference's ``PIIRecord.feature_iter`` (P3, reference
src/recordlinker/schemas/pii.py:467-568) and ``PIIRecord.blocking_keys``
(P4, pii.py:570-621) as DataFrame columns: each feature becomes one
``array<string>`` column (empty array == missing field), computed ONCE per
record at ingest, never per candidate pair.

``normalize_text`` (NFKD -> ASCII -> alnum -> lower) runs as a pure
Catalyst expression: one ``translate`` over a precomputed BMP table
for single-char NFKD decompositions (see textnorm.nfkd_translate_table)
followed by ``regexp_replace('[^0-9A-Za-z]','')`` + ``lower``.  A
pandas-UDF variant (``norm_text_array``) is kept for exact-unicode
parity testing, but the distributed path is UDF-free: this keeps the
whole feature/blocking projection inside whole-stage codegen AND
avoids a Spark 4.1 limitation where a Python UDF inlined into a
pushed-down filter condition under a higher-order function argument
fails extraction ("Cannot evaluate expression: norm_text_array(...)").

Note on IDENTIFIER blocking: the reference docs claim the authority is
part of the key, but the code uses ``value[-4:]:type``
(pii.py:584-587) — code wins, and we match the code.
"""

from __future__ import annotations

import weakref

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from recordlinker_spark.config import BLOCKING_KEY_IDS
from recordlinker_spark.functions.assets import CANONICAL_NAME_SUFFIXES
from recordlinker_spark.functions.textnorm import (
    nfkd_translate_table,
    normalize_text,
)

# Features whose extracted values pass through normalize_text.
FEATURE_ATTRIBUTES = [
    "BIRTHDATE",
    "SEX",
    "ADDRESS",
    "CITY",
    "STATE",
    "ZIP",
    "GIVEN_NAME",
    "FIRST_NAME",
    "LAST_NAME",
    "NAME",
    "RACE",
    "TELECOM",
    "PHONE",
    "EMAIL",
    "SUFFIX",
    "COUNTY",
    "IDENTIFIER",
]


from pyspark.sql import types as T


@pandas_udf(T.ArrayType(T.StringType()))
def norm_text_array(arrs: pd.Series) -> pd.Series:
    """Apply normalize_text element-wise over array<string> columns.

    Parity-reference implementation only — the pipeline uses
    :func:`norm_text_expr` (codegen) instead."""
    return arrs.map(
        lambda vals: None if vals is None else [normalize_text(v) for v in vals]
    )


def norm_text_expr(col: Column) -> Column:
    """normalize_text as a whole-stage-codegen expression (see module
    docstring for the documented divergence on 273 exotic codepoints)."""
    src, dst, _ = nfkd_translate_table()
    return F.lower(
        F.regexp_replace(F.translate(col, src, dst), "[^0-9A-Za-z]", "")
    )


# unit separator: survives the [^0-9A-Za-z\x1f] scrub, never appears in
# normalized-text inputs (control chars are not PII text)
_SEP = "\x1f"


def norm_text_array_expr(arr: Column) -> Column:
    """normalize_text element-wise over array<string>.

    Joins the array, normalizes ONCE at the top level, splits back —
    NOT ``transform(arr, norm_text_expr)``: a regexp inside a
    higher-order-function lambda degrades with executor-thread count
    (see sources/ingest.py perf note), while top-level regexp stays in
    codegen.  Null elements normalize to '' — callers filter raw-falsy
    values FIRST (``_nonempty``), mirroring the reference's raw-value
    guards (pii.py:486-560 ``if value:``); a raw-truthy value that
    normalizes to '' (e.g. a CJK name under the ASCII scrub) is KEPT,
    exactly like the reference yielding ``normalize_text(value)``
    unconditionally after its raw guard."""
    src, dst, _ = nfkd_translate_table()
    joined = F.array_join(arr, _SEP, "")  # null elements -> ''
    cleaned = F.lower(
        F.regexp_replace(
            F.translate(joined, src, dst), "[^0-9A-Za-z\x1f]", ""
        )
    )
    fast = F.split(cleaned, _SEP, -1)
    # a RAW \x1f inside a value (corrupt binary in source data) would
    # survive the scrub as a bogus separator and desync the round-trip
    # — every later element of the record would be misaligned (e.g.
    # identifier values zipped against the wrong types).  Detect by
    # element count and fall back to the per-element normalize for
    # exactly those rows: the HOF branch is interpreted, but WHEN only
    # evaluates it on corrupt rows, so the common path stays codegen.
    slow = F.transform(
        arr,
        lambda x: F.lower(
            F.regexp_replace(
                F.translate(F.coalesce(x, F.lit("")), src, dst),
                "[^0-9A-Za-z]",
                "",
            )
        ),
    )
    return F.when(arr.isNull(), F.lit(None).cast("array<string>")).otherwise(
        F.when(F.size(arr) == 0, F.array().cast("array<string>")).otherwise(
            F.when(F.size(fast) == F.size(arr), fast).otherwise(slow)
        )
    )


def _nonempty(arr: Column) -> Column:
    return F.filter(arr, lambda x: x.isNotNull() & (x != ""))


def _first_name_raw(prepend_suffix: bool) -> Column:
    """FIRST_NAME values pre-normalization (pii.py:516-529): first given
    name per name group, optionally prefixed by a canonical suffix."""

    def per_name(n: Column) -> Column:
        suffix = F.try_element_at(n["suffix"], F.lit(1))
        suffix = F.when(
            suffix.isin(*sorted(CANONICAL_NAME_SUFFIXES)), suffix
        ).otherwise(F.lit(""))
        given = F.try_element_at(n["given"], F.lit(1))
        if prepend_suffix:
            return F.when(
                given.isNotNull() & (given != ""), F.concat(suffix, given)
            )
        return F.when(given.isNotNull() & (given != ""), given)

    return _nonempty(F.transform(F.col("name"), per_name))


# Column trees are JVM objects built through the active SparkContext's
# gateway, hundreds of Py4J calls per tree set; every link builds the
# same ones several times, so they are built once per context.  Keyed
# weakly by the context: a stopped context's trees go with it, and the
# next context builds its own.
_TREES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _per_context(key: tuple, build):
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()  # raises like any column builder without a context
    memo = _TREES.setdefault(sc, {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


def _feature_trees(
    identifier_types: tuple[str, ...], prepend_suffix: bool
) -> dict[str, Column]:
    """``feat_<ATTRIBUTE>`` name -> its array<string> column over the PII
    columns (unaliased)."""
    name, address, telecom = F.col("name"), F.col("address"), F.col("telecom")

    raw: dict[str, Column] = {}
    # ---- scalar features: TRUTHY guard, not just non-null — the
    # reference's ``if value:`` (pii.py:486-497) yields nothing for an
    # empty string, and without it every empty-birthdate record would
    # share the '' blocking value in one giant cross-matching block
    raw["BIRTHDATE"] = F.when(
        F.col("birth_date").isNotNull() & (F.col("birth_date") != ""),
        F.array(F.col("birth_date")),
    ).otherwise(F.array().cast("array<string>"))
    raw["SEX"] = F.when(
        F.col("sex").isNotNull() & (F.col("sex") != ""), F.array(F.col("sex"))
    ).otherwise(F.array().cast("array<string>"))
    # ---- address-derived (ADDRESS/CITY/COUNTY normalized later)
    raw["ADDRESS"] = _nonempty(F.transform(address, lambda a: F.try_element_at(a["line"], F.lit(1))))
    raw["CITY"] = _nonempty(F.transform(address, lambda a: a["city"]))
    raw["STATE"] = _nonempty(F.transform(address, lambda a: a["state"]))
    raw["ZIP"] = _nonempty(
        F.transform(address, lambda a: F.substring(a["postal_code"], 1, 5))
    )
    raw["COUNTY"] = _nonempty(F.transform(address, lambda a: a["county"]))
    # ---- name-derived
    raw["GIVEN_NAME"] = _nonempty(
        F.transform(name, lambda n: F.array_join(n["given"], ""))
    )
    raw["FIRST_NAME"] = _first_name_raw(prepend_suffix=prepend_suffix)
    raw["LAST_NAME"] = _nonempty(F.transform(name, lambda n: n["family"]))
    # NAME concatenates first given + family unconditionally (pii.py:534-536)
    raw["NAME"] = F.transform(
        name,
        lambda n: F.concat(
            F.coalesce(F.try_element_at(n["given"], F.lit(1)), F.lit("")),
            F.coalesce(n["family"], F.lit("")),
        ),
    )
    # coalesce each name's suffix array: flatten() returns NULL when ANY
    # nested array is NULL, which would wipe the feature for the record
    raw["SUFFIX"] = _nonempty(
        F.flatten(
            F.transform(
                name,
                lambda n: F.coalesce(n["suffix"], F.array().cast("array<string>")),
            )
        )
    )
    # ---- race / telecom
    raw["RACE"] = F.filter(
        F.col("race"), lambda r: ~r.isin("UNKNOWN", "ASKED_UNKNOWN")
    )
    raw["PHONE"] = F.transform(
        F.filter(telecom, lambda t: t["system"] == "phone"), lambda t: t["value"]
    )
    raw["EMAIL"] = F.transform(
        F.filter(telecom, lambda t: t["system"] == "email"), lambda t: t["value"]
    )

    # normalize_text application per pii.py:467-568
    normalized = {
        "ADDRESS",
        "CITY",
        "GIVEN_NAME",
        "FIRST_NAME",
        "LAST_NAME",
        "NAME",
        "SUFFIX",
        "COUNTY",
        "PHONE",
    }
    cols: dict[str, Column] = {}
    for attr in FEATURE_ATTRIBUTES:
        if attr == "IDENTIFIER":
            continue
        col = raw.get(attr)  # TELECOM is built whole in its branch
        if attr in normalized:
            col = norm_text_array_expr(col)
        elif attr == "TELECOM":
            # phone telecoms are normalized, others pass through
            # (pii.py:541-546); the phone side reuses raw["PHONE"] so
            # the two expressions cannot drift
            others = F.transform(
                F.filter(
                    telecom, lambda t: (t["system"].isNull()) | (t["system"] != "phone")
                ),
                lambda t: t["value"],
            )
            col = F.concat(norm_text_array_expr(raw["PHONE"]), others)
        # contract enforcement: every feat_* is an ARRAY, empty ==
        # missing — a NULL source column (schema-legal in external
        # parquet) would otherwise propagate NULL through transform()
        # and bypass the missingness gate (size(NULL) is NULL, so
        # blocking's when(size <= 0) charges no missing-odds yet omits
        # the key from the subset)
        cols[f"feat_{attr}"] = F.coalesce(col, F.array().cast("array<string>"))

    # IDENTIFIER composite: norm(value):norm(authority):type (pii.py:564-568)
    idents = F.col("identifiers")
    ident_composite = F.zip_with(
        norm_text_array_expr(F.transform(idents, lambda i: i["value"])),
        F.zip_with(
            norm_text_array_expr(
                F.transform(idents, lambda i: F.coalesce(i["authority"], F.lit("")))
            ),
            F.transform(idents, lambda i: i["type"]),
            lambda auth, typ: F.concat(auth, F.lit(":"), typ),
        ),
        lambda val, rest: F.concat(val, F.lit(":"), rest),
    )
    cols["feat_IDENTIFIER"] = F.coalesce(
        ident_composite, F.array().cast("array<string>")
    )
    # per-type columns: align the composite with the (parallel) type
    # array — equality in the lambda, never split()/regexp (HOF perf
    # note in sources/ingest.py)
    types_arr = F.transform(idents, lambda i: i["type"])
    for typ in identifier_types:
        cols[f"feat_IDENTIFIER_{typ}"] = F.coalesce(
            F.array_compact(
                F.zip_with(
                    ident_composite,
                    types_arr,
                    lambda c, t: F.when(t == typ, c),
                )
            ),
            F.array().cast("array<string>"),
        )
    return cols


def _trees(identifier_types: tuple[str, ...], prepend_suffix: bool) -> dict[str, Column]:
    return _per_context(
        ("trees", identifier_types, prepend_suffix),
        lambda: _feature_trees(identifier_types, prepend_suffix),
    )


def feature_exprs(
    identifier_types: list[str] | tuple[str, ...] | None = None,
    prepend_suffix: bool = True,
) -> list[Column]:
    """The aliased ``feat_*`` columns over the PII columns, built once
    per SparkContext (see :func:`feature_columns` for the parameters)."""
    types = tuple(identifier_types or ())
    return _per_context(
        ("feat", types, prepend_suffix),
        lambda: [c.alias(n) for n, c in _trees(types, prepend_suffix).items()],
    )


def feature_columns(
    records: DataFrame,
    identifier_types: list[str] | None = None,
    prepend_suffix: bool = True,
) -> DataFrame:
    """Add one ``feat_<ATTRIBUTE>`` array<string> column per feature.

    :param identifier_types: extra ``feat_IDENTIFIER_<TYPE>`` columns for
        identifier-suffix evaluators (e.g. ``IDENTIFIER:SS``).
    :param prepend_suffix: FIRST_NAME suffix-prepending (pii.py:516-529);
        the tuning exact matcher disables it (tuning/prob_calc.py:45-46).
    """
    return records.select(
        records["*"], *feature_exprs(identifier_types, prepend_suffix)
    )


# --------------------------------------------------------------------------
# blocking keys (P4, pii.py:570-621)
# --------------------------------------------------------------------------

def _bk_identifier() -> Column:
    """IDENTIFIER blocking value ``norm(value)[-4:]:type`` (pii.py:584-587)
    built from the identifiers struct directly — re-splitting the
    feat_IDENTIFIER composite would put split() (regex) inside a lambda."""
    idents = F.col("identifiers")
    norm_values = norm_text_array_expr(F.transform(idents, lambda i: i["value"]))
    types_arr = F.transform(idents, lambda i: i["type"])
    def last4(v: Column) -> Column:  # right(v, 4) incl. short-string case
        return F.when(F.length(v) <= 4, v).otherwise(
            F.substring(v, F.length(v) - 3, 4)
        )

    return F.zip_with(
        norm_values,
        types_arr,
        lambda v, t: F.concat(last4(v), F.lit(":"), F.coalesce(t, F.lit(""))),
    )


def _left4(x: Column) -> Column:
    return F.left(x, F.lit(4))


# key -> (the feature it is cut from, per-value cut; None = whole value)
BLOCKING_KEY_CUTS: dict[str, tuple] = {
    "BIRTHDATE": ("BIRTHDATE", None),
    "SEX": ("SEX", None),
    "ZIP": ("ZIP", None),
    "FIRST_NAME": ("FIRST_NAME", _left4),
    "LAST_NAME": ("LAST_NAME", _left4),
    "ADDRESS": ("ADDRESS", _left4),
    "PHONE": ("PHONE", lambda x: F.right(x, F.lit(4))),
    "EMAIL": ("EMAIL", _left4),
}
ALL_BLOCKING_KEYS = (*BLOCKING_KEY_CUTS, "IDENTIFIER")


def blocking_key_exprs(keys: list[str] | None = None, from_pii: bool = False) -> list[Column]:
    """The aliased ``bk_<KEY>`` columns, built once per SparkContext.

    :param from_pii: derive each key straight from the PII columns
        (inlining its feature) instead of from the ``feat_*`` columns,
        so a projection can carry features of one record version and
        keys of another."""
    keys = tuple(keys or ALL_BLOCKING_KEYS)

    def build() -> list[Column]:
        feature = _trees((), True).__getitem__ if from_pii else F.col
        cols = []
        for key in keys:
            if key == "IDENTIFIER":
                col = _bk_identifier()
            else:
                attr, cut = BLOCKING_KEY_CUTS[key]
                col = feature(f"feat_{attr}")
                if cut is not None:
                    col = F.transform(col, cut)
            # same array-contract enforcement as feature_columns: bk_* is
            # never NULL, so the missingness gate's size() test is sound
            cols.append(
                F.coalesce(
                    F.array_distinct(col), F.array().cast("array<string>")
                ).alias(f"bk_{key}")
            )
        return cols

    return _per_context(("bk", keys, from_pii), build)


def blocking_key_columns(feats: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Add one ``bk_<KEY>`` array<string> (distinct values) per blocking key."""
    return feats.select(feats["*"], *blocking_key_exprs(keys))


def explode_blocking_values(df: DataFrame, keys: list[str]) -> DataFrame:
    """Materialize (record_id, key_id, value) rows — the Spark analog of the
    reference's mpi_blocking_value table (S5, mpi_service.py:314-350)."""
    pieces = []
    for key in keys:
        pieces.append(
            df.select(
                "record_id",
                F.lit(BLOCKING_KEY_IDS[key]).alias("key_id"),
                F.explode(F.col(f"bk_{key}")).alias("value"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
