"""Distributed entry points for the string-similarity kernels (C2).

The reference scores fuzzy feature agreement with
``rapidfuzz.distance.<Measure>.normalized_similarity``
(reference: src/recordlinker/linking/matchers.py:98-150).  rapidfuzz
is not available here; the scalar kernels live in
functions/textnorm.py (implemented from the published metric
definitions, verified against DuckDB's jaro_winkler_similarity /
levenshtein / damerau_levenshtein on random corpora and against the
reference's own unit-test values).

This module wraps them for Spark: :func:`max_similarity_udf` is an
Arrow-batched pandas UDF over two ``array<string>`` columns returning
the max similarity over the value cross-product — exactly the
reference's double loop in ``compare_probabilistic_fuzzy_match``
(matchers.py:140-147), with per-batch memoization (blocking makes the
same value pairs recur across candidate rows).  This is the ONLY
Python in the pair-scoring hot path; everything around it
(thresholding, log-odds weighting, missingness) is codegen'd.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from recordlinker_spark.functions.textnorm import (
    SIMILARITY_FUNCS,
    damerau_levenshtein_similarity,
    jaro_winkler_similarity,
    levenshtein_similarity,
    max_similarity,
)

__all__ = [
    "jaro_winkler_similarity",
    "levenshtein_similarity",
    "damerau_levenshtein_similarity",
    "max_similarity",
    "max_similarity_udf",
]


# Worker-global memo for (measure, left, right) -> similarity.  Python
# workers are long-lived (spark.python.worker.reuse default): blocking
# makes the same value pairs recur across batches, not just within one,
# so a per-batch cache re-pays the kernel cost every Arrow batch.
# Bounded: reset when it outgrows the cap (names are short; 2M entries
# is ~200MB worst case per worker).
_PAIR_MEMO: dict = {}
_PAIR_MEMO_CAP = 2_000_000


@functools.lru_cache(maxsize=16)
def multi_max_similarity_udf(measures: tuple[str, ...]):
    """One Arrow round-trip for a whole pass: 2N array<string> columns
    (left/right per fuzzy evaluator) -> array<double> of max
    cross-product similarities (NULL element = missing side).

    A pass with N fuzzy evaluators would otherwise pay N pandas-UDF
    transfers of the same pair rows; this fuses them into one."""
    fns = [SIMILARITY_FUNCS[m] for m in measures]
    n = len(measures)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _udf(*cols: pd.Series) -> pd.Series:
        caches: list[dict] = []
        for m in measures:
            cache = _PAIR_MEMO.setdefault(m, {})
            if len(cache) > _PAIR_MEMO_CAP:
                cache.clear()
            caches.append(cache)

        def one(row):
            sims = []
            for k in range(n):
                vals_l, vals_r = row[2 * k], row[2 * k + 1]
                # NULL elements (feat_EMAIL/feat_TELECOM carry raw
                # telecom values, which can be null) are MISSING, not
                # comparable strings: None==None would score 1.0 for
                # two records with no email at all, and None<=str
                # TypeErrors out of the whole job
                if vals_l is not None:
                    vals_l = [x for x in vals_l if x is not None]
                if vals_r is not None:
                    vals_r = [x for x in vals_r if x is not None]
                if (
                    vals_l is None
                    or vals_r is None
                    or len(vals_l) == 0
                    or len(vals_r) == 0
                ):
                    sims.append(None)
                    continue
                fn, cache = fns[k], caches[k]
                best = 0.0
                for x in vals_l:
                    hit = False
                    for y in vals_r:
                        if x == y:
                            best = 1.0
                            hit = True
                            break
                        key = (x, y) if x <= y else (y, x)
                        s = cache.get(key)
                        if s is None:
                            s = fn(x, y)
                            cache[key] = s
                        if s > best:
                            best = s
                    if hit:
                        break
                sims.append(best)
            return sims

        return pd.Series(map(one, zip(*cols)))

    return _udf


@functools.lru_cache(maxsize=8)
def max_similarity_udf(measure: str):
    """Arrow-batched pandas UDF: (array<string>, array<string>) -> double
    max cross-product similarity; NULL when either side is empty."""
    fn = SIMILARITY_FUNCS[measure]

    @pandas_udf(T.DoubleType())
    def _udf(left: pd.Series, right: pd.Series) -> pd.Series:
        cache: dict[tuple[str, str], float] = {}

        def one(pair):
            vals_l, vals_r = pair
            if vals_l is not None:
                vals_l = [x for x in vals_l if x is not None]
            if vals_r is not None:
                vals_r = [x for x in vals_r if x is not None]
            if vals_l is None or vals_r is None or len(vals_l) == 0 or len(vals_r) == 0:
                return None
            best = 0.0
            for x in vals_l:
                for y in vals_r:
                    if x == y:
                        return 1.0  # cross-product max cannot beat equality
                    key = (x, y) if x <= y else (y, x)  # all measures symmetric
                    s = cache.get(key)
                    if s is None:
                        s = fn(x, y)
                        cache[key] = s
                    if s > best:
                        best = s
            return best

        return pd.Series(map(one, zip(left, right)), dtype="float64")

    return _udf
