"""Round-11 pair-verification pack: exact Levenshtein edit distance
over the near-duplicate candidate pairs — the second, independent
similarity metric a dedup pipeline uses to adjudicate what token-set
Jaccard cannot see (reorderings score high on Jaccard but far on edit
distance; small in-place edits score high on both).

* ``edit_distance_dup_pairs`` — candidate pairs from the dedup
  family's inverted-index generator (``ngram_jaccard_pairs`` at the
  0.5 floor, hot-gram-capped — never all-pairs), each scored with the
  EXACT Levenshtein distance between the documents' first
  ``ED_MAX_CHARS`` characters: the full (la+1)×(lb+1) integer DP as
  nested array folds (outer fold carries the previous DP row — the
  ``dtw_month_shape_distance`` shape, zero iteration jobs, zero
  floats).  Output per pair: both prefix lengths, the token-set
  Jaccard it was generated with, the edit distance, the normalized
  similarity ``1000 − ed*1000 div max(la,lb)`` in millis, and the
  two classical bound witnesses ``|la−lb| ≤ ed ≤ max(la,lb)`` checked
  in-band per row.

The DuckDB twin replays the identical DP with ``list_reduce`` over
BIGINT[] rows and singleton-list indexes — the safe single-expression
accumulator path (round-10's ``list_reduce`` struct hazard), exactly
the ``round10_dp`` DTW oracle mechanism.

100-TB shape: the pair set is bounded by the LSH/inverted-index
discipline (hot-gram cutoff), the per-pair DP is a constant
``ED_MAX_CHARS²`` fold independent of corpus size, and the text
lookup joins broadcast the small pair side into the documents scan.

Identity properties (tests/test_properties.py): the fold equals the
textbook two-row Levenshtein on random strings; symmetry; the
triangle inequality on random triples; ed = 0 iff equal; both bound
witnesses.

No reference counterpart (dedup-verification extension alongside
operators/dedup.py); public algorithm only (Levenshtein 1966,
Wagner-Fischer 1974).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import ED_MAX_CHARS, SQL_EDIT_PAIRS, dup_pair_prefixes


def _ed_fold(a: str, b: str, la: str, lb: str) -> str:
    """Spark: full Levenshtein DP as nested folds (outer row carry)."""
    cost = (
        f"IF(substring({a}, i, 1) = substring({b}, j, 1), "
        "CAST(0 AS BIGINT), CAST(1 AS BIGINT))"
    )
    inner = f"""aggregate(
      sequence(1, CAST({lb} AS INT)),
      array(CAST(i AS BIGINT)),
      (row, j) -> row || array(least(
        element_at(prev, j + 1) + 1,
        element_at(row, j) + 1,
        element_at(prev, j) + {cost})))"""
    return f"""element_at(aggregate(
      sequence(1, CAST({la} AS INT)),
      transform(sequence(0, CAST({lb} AS INT)), x -> CAST(x AS BIGINT)),
      (prev, i) -> {inner}), CAST({lb} AS INT) + 1)"""


def _q_edit_distance_dup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    joined = dup_pair_prefixes(
        load_table(spark, sf_dir, "documents"), ED_MAX_CHARS
    )
    return _with_edit_bounds(
        joined.select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            # r11 optimization (guide §4.1): the nested aggregate()
            # fold spelled out in _ed_fold is the SPECIFICATION, but
            # executing it costs O(la*lb) Catalyst lambda invocations
            # each allocating a row-array copy (~20s at sf0.1 for 256
            # pairs).  Spark's JVM-native levenshtein() computes the
            # identical unit-cost Wagner-Fischer integers over code
            # points (UTF8String.levenshteinDistance) — equality with
            # the fold is pinned by tests/test_plans.py::
            # test_levenshtein_builtin_equals_fold_expression.
            F.levenshtein("pa", "pb").cast("bigint").alias("edit_distance"),
        )
    )


def _q_edit_distance_dup_pairs_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow fast path: the SAME integers as the expression fold (an
    integer DP has one answer), computed per pair in NumPy via the
    prefix-min row recurrence — the Wagner-Fischer row
    row[j] = min(prev[j]+1, prev[j-1]+cost_j, row[j-1]+1) carries an
    in-row dependency, but m[j] = min(prev[j]+1, prev[j-1]+cost_j)
    (vectorized) turns it into row[j] = min_{k<=j}(m[k] + j - k)
    = j + running-min(m[k] - k) — one ``np.minimum.accumulate`` per
    row, no per-cell Python.  ~20x the fold's throughput at sf0.1
    (the fold stays as the oracle-matched specification and the twin
    both queries hash against)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    joined = dup_pair_prefixes(
        load_table(spark, sf_dir, "documents"), ED_MAX_CHARS
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("la", T.LongType()),
            T.StructField("lb", T.LongType()),
            T.StructField("edit_distance", T.LongType()),
        ]
    )

    def _lev_np(a: str, b: str) -> int:
        # CODE-POINT arrays, not utf-8 bytes: the fold compares
        # substring() characters, and byte-level DP would differ on
        # multi-byte text
        bb = np.fromiter(map(ord, b), dtype=np.int64, count=len(b))
        prev = np.arange(len(bb) + 1, dtype=np.int64)
        idx = np.arange(len(bb) + 1, dtype=np.int64)
        for i, ca in enumerate(map(ord, a), 1):
            cost = (bb != ca).astype(np.int64)
            m = np.empty(len(bb) + 1, dtype=np.int64)
            m[0] = i
            np.minimum(prev[1:] + 1, prev[:-1] + cost, out=m[1:])
            prev = np.minimum.accumulate(m - idx) + idx
        return int(prev[-1])

    def _batch(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "doc_b": pdf["doc_b"],
                    "jaccard": pdf["jaccard"],
                    "la": pdf["la"],
                    "lb": pdf["lb"],
                    "edit_distance": [
                        _lev_np(a, b) for a, b in zip(pdf["pa"], pdf["pb"])
                    ],
                }
            )

    return _with_edit_bounds(joined.mapInPandas(_batch, out_schema))


def _with_edit_bounds(scored: DataFrame) -> DataFrame:
    """Per scored pair: the normalized similarity
    ``1000 − ed*1000 div max(la,lb)`` in millis and the two classical
    bound witnesses ``|la−lb| ≤ ed ≤ max(la,lb)``."""
    return (
        scored.select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            "edit_distance",
            F.expr(
                "1000 - edit_distance * 1000 div greatest(la, lb)"
            ).alias("edit_sim_milli"),
            F.expr("edit_distance >= abs(la - lb)").alias("lower_bound_ok"),
            F.expr(
                "edit_distance <= greatest(la, lb)"
            ).alias("upper_bound_ok"),
        )
        .orderBy("doc_a", "doc_b")
    )


SPECS: dict[str, QuerySpec] = {
    "edit_distance_dup_pairs": QuerySpec(
        _q_edit_distance_dup_pairs,
        SQL_EDIT_PAIRS,
        "exact Levenshtein on the inverted-index near-dup candidate "
        "pairs (128-char prefixes, full integer DP as nested folds): "
        "the independent second metric beside token Jaccard, with "
        "both classical bounds witnessed per row",
    ),
    "edit_distance_dup_pairs_fast": QuerySpec(
        _q_edit_distance_dup_pairs_fast,
        SQL_EDIT_PAIRS,
        "Arrow fast path for the same pairs: NumPy prefix-min row "
        "recurrence (np.minimum.accumulate) per pair — bit-identical "
        "integers against the identical oracle, ~20x the fold",
    ),
}
