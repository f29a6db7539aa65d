"""Round-11 record-linkage metric pack, part 2: Jaro and Jaro-Winkler
similarity over the near-duplicate candidate pairs — the third
independent lens beside token-set Jaccard and Levenshtein (Jaccard
sees shared vocabulary, Levenshtein sees edit cost, Jaro sees
windowed character matches with transposition discounts and is the
census-linkage standard for short noisy strings).

* ``jaro_winkler_dup_pairs`` — for each inverted-index candidate pair
  (the ``round11_edit`` generator, ≥ 0.5 trigram Jaccard), the
  classical Jaro algorithm on ``JARO_MAX_CHARS``-char prefixes:
  greedy first-free windowed matching (window =
  max(len)/2 − 1), matched sequences compared for transpositions,
  jaro = (m/la + m/lb + (m − t)/m)/3 with t = half the mismatched
  matched-positions; Jaro-Winkler adds the ≤4-char common-prefix
  boost at p = 0.1.  The Spark side is one array fold per pair
  carrying (matched-b-positions list, matched-a string); the DuckDB
  twin replays the identical greedy walk as a lockstep recursive CTE
  (all pairs advance one a-position per iteration).  Output per pair:
  m, the doubled transposition count (kept integer), jaro and
  jaro-winkler in micro-units, the common-prefix length, and the
  token Jaccard for cross-metric context.

100-TB shape: candidate pairs are bounded by the inverted-index
hot-gram discipline; per-pair work is ``JARO_MAX_CHARS × window``
character probes — constant, corpus-independent; the text lookups
broadcast the small pair side (the edit-pack shape).

Identity properties (tests/test_properties.py): the pure-Python
replica reproduces the textbook values (MARTHA/MARHTA = 0.944...,
DWAYNE/DUANE, DIXON/DICKSONX), is symmetric on random inputs, equals
1 exactly iff the strings are equal, and respects jaro ≤ jw ≤ 1 with
the prefix boost monotone in the shared prefix.

No reference counterpart (record-linkage extension alongside
plans/round11_edit.py); public algorithm only (Jaro 1989,
Winkler 1990).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import dup_pair_prefixes, sql_dup_pair_prefix_ctes

#: prefix cap — bounds the per-pair fold (window probes included)
JARO_MAX_CHARS = 64
#: Winkler prefix boost factor (the classical 0.1)
_WP_MICRO = 100_000  # 0.1 in micro-units


# greedy first-free windowed matcher: js = matched b positions in
# a-scan order, ma = the matched a characters in order.  The window
# guard keeps sequence() ascending (i - w > min(lb, i + w) would
# otherwise build a DESCENDING range — the round-10 huffman hazard).
_JARO_FOLD = """aggregate(
  sequence(1, CAST(la AS INT)),
  named_struct('js', CAST(array() AS ARRAY<INT>),
               'ma', CAST('' AS STRING)),
  (acc, i) -> transform(array(
      aggregate(
        IF(i - CAST(w AS INT) > least(CAST(lb AS INT), i + CAST(w AS INT)),
           CAST(array() AS ARRAY<INT>),
           sequence(greatest(1, i - CAST(w AS INT)),
                    least(CAST(lb AS INT), i + CAST(w AS INT)))),
        0,
        (best, j) -> IF(best != 0, best,
          IF(NOT array_contains(acc.js, j)
             AND substring(pb, j, 1) = substring(pa, i, 1), j, 0)))),
    bj -> IF(bj = 0, acc,
      named_struct('js', concat(acc.js, array(bj)),
                   'ma', concat(acc.ma, substring(pa, i, 1)))))[0])"""


def _jaro_match_counts(pa: str, pb: str) -> tuple[int, int, int]:
    """The greedy windowed matcher of ``_JARO_FOLD``, verbatim, at
    C-speed: (m, doubled transpositions, Winkler prefix length).
    Python strings index by CODE POINT exactly like Spark's
    substring(), so the walk is position-identical — equality with the
    fold expression is pinned by tests/test_operators.py::
    test_jaro_batch_matcher_equals_fold_expression."""
    la, lb = len(pa), len(pb)
    w = max(0, max(la, lb) // 2 - 1)
    js: list[int] = []
    ma: list[str] = []
    for i in range(1, la + 1):
        for j in range(max(1, i - w), min(lb, i + w) + 1):
            if j not in js and pb[j - 1] == pa[i - 1]:
                js.append(j)
                ma.append(pa[i - 1])
                break
    m = len(js)
    mb = [pb[j - 1] for j in sorted(js)]
    t2 = sum(1 for x, y in zip(ma, mb) if x != y)
    pl = 0
    for k in range(min(4, la, lb)):
        if pa[k] != pb[k]:
            break
        pl += 1
    return m, t2, pl


def _q_jaro_winkler_dup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # r11 optimization (guide §4.2, the lz78/edit-fast pattern): the
    # _JARO_FOLD Catalyst expression stays above as the SPECIFICATION,
    # but executing it costs ~64 × window interpreted lambda
    # invocations per pair, each with an O(m) array_contains probe and
    # a string concat (~1.2 s of the query at sf0.1 for 256 pairs).
    # The batch path ships only the candidate pairs' 64-char prefixes
    # across the Arrow boundary and runs the identical greedy walk
    # with C-speed indexing; the micro-unit jaro/winkler arithmetic
    # stays in the SAME Spark expressions below, so quantization is
    # untouched.
    import pandas as pd

    joined = dup_pair_prefixes(
        load_table(spark, sf_dir, "documents"), JARO_MAX_CHARS
    )
    # (the fold's window bound `w` lives in _JARO_FOLD / the test spec
    # path only — the Arrow matcher recomputes it internally, so the
    # query plan no longer carries the unused expression; r11 ADVICE)

    def _batch(it):
        for pdf in it:
            counts = [
                _jaro_match_counts(a, b)
                for a, b in zip(pdf["pa"], pdf["pb"])
            ]
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "doc_b": pdf["doc_b"],
                    "jaccard": pdf["jaccard"],
                    "la": pdf["la"],
                    "lb": pdf["lb"],
                    "m": [c[0] for c in counts],
                    "t2": [c[1] for c in counts],
                    "prefix_len": [c[2] for c in counts],
                }
            )

    matched = joined.select(
        "doc_a", "doc_b", "jaccard", "la", "lb", "pa", "pb"
    ).mapInPandas(
        _batch,
        "doc_a bigint, doc_b bigint, jaccard double, la bigint, "
        "lb bigint, m bigint, t2 bigint, prefix_len bigint",
    )
    return (
        matched.select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            "m",
            "t2",
            "prefix_len",
            F.expr(
                "CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE "
                "CAST(round((CAST(m AS DOUBLE) / la"
                " + CAST(m AS DOUBLE) / lb"
                " + (2.0 * m - t2) / (2.0 * m)) / 3.0 * 1000000.0, 0)"
                " AS BIGINT) END"
            ).alias("jaro_micro"),
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            "m",
            "t2",
            "prefix_len",
            "jaro_micro",
            F.expr(
                f"""CAST(jaro_micro + prefix_len * {_WP_MICRO}
                     * (1000000 - jaro_micro) div 1000000 AS BIGINT)"""
            ).alias("jw_micro"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SQL_JARO = f"""
WITH RECURSIVE {sql_dup_pair_prefix_ctes(JARO_MAX_CHARS)}, base AS MATERIALIZED (
  SELECT j.doc_a, j.doc_b, j.jaccard,
         a.p AS pa, a.l AS la, b.p AS pb, b.l AS lb,
         greatest(0, greatest(a.l, b.l) // 2 - 1) AS w
  FROM jacc j
  JOIN pref a ON a.doc_id = j.doc_a
  JOIN pref b ON b.doc_id = j.doc_b
), walk AS (
  -- lockstep greedy matcher: all pairs advance one a-position per
  -- iteration; js carries matched b positions (a-scan order), ma the
  -- matched a characters
  SELECT doc_a, doc_b, CAST(0 AS BIGINT) AS i,
         CAST([] AS BIGINT[]) AS js, '' AS ma
  FROM base
  UNION ALL
  SELECT w2.doc_a, w2.doc_b, w2.i + 1,
         CASE WHEN bj IS NULL THEN w2.js ELSE list_append(w2.js, bj) END,
         CASE WHEN bj IS NULL THEN w2.ma
              ELSE w2.ma || substr(b.pa, CAST(w2.i + 1 AS INT), 1) END
  FROM (
    SELECT w1.*,
           (SELECT list_min(list_filter(
              range(greatest(1, w1.i + 1 - b1.w),
                    least(b1.lb, w1.i + 1 + b1.w) + 1),
              j -> NOT list_contains(w1.js, j)
                   AND substr(b1.pb, CAST(j AS INT), 1)
                       = substr(b1.pa, CAST(w1.i + 1 AS INT), 1)))
            FROM base b1
            WHERE b1.doc_a = w1.doc_a AND b1.doc_b = w1.doc_b) AS bj
    FROM walk w1
  ) w2
  JOIN base b ON b.doc_a = w2.doc_a AND b.doc_b = w2.doc_b
  WHERE w2.i < b.la
), fin AS MATERIALIZED (
  SELECT w.doc_a, w.doc_b, w.js, w.ma
  FROM walk w JOIN base b
    ON b.doc_a = w.doc_a AND b.doc_b = w.doc_b AND w.i = b.la
), scored AS MATERIALIZED (
  SELECT b.doc_a, b.doc_b, b.jaccard, b.la, b.lb,
         CAST(len(f.js) AS BIGINT) AS m,
         CAST(len(list_filter(range(1, len(f.js) + 1), k ->
              substr(f.ma, CAST(k AS INT), 1) !=
              substr(list_aggregate(list_transform(list_sort(f.js),
                       j -> substr(b.pb, CAST(j AS INT), 1)),
                     'string_agg', ''), CAST(k AS INT), 1)))
           AS BIGINT) AS t2,
         CAST(len(list_filter(range(1, 5), k ->
              k <= least(b.la, b.lb) AND
              substr(b.pa, 1, CAST(k AS INT))
                = substr(b.pb, 1, CAST(k AS INT))))
           AS BIGINT) AS prefix_len
  FROM base b JOIN fin f ON f.doc_a = b.doc_a AND f.doc_b = b.doc_b
)
SELECT doc_a, doc_b, jaccard, la, lb, m, t2, prefix_len,
       CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE
         CAST(round((CAST(m AS DOUBLE) / la + CAST(m AS DOUBLE) / lb
              + (2.0 * m - t2) / (2.0 * m)) / 3.0 * 1000000.0, 0)
           AS BIGINT) END AS jaro_micro,
       CAST(CASE WHEN m = 0 THEN 0 ELSE
         CAST(round((CAST(m AS DOUBLE) / la + CAST(m AS DOUBLE) / lb
              + (2.0 * m - t2) / (2.0 * m)) / 3.0 * 1000000.0, 0)
           AS BIGINT) END
         + prefix_len * {_WP_MICRO}
           * (1000000 - CASE WHEN m = 0 THEN 0 ELSE
               CAST(round((CAST(m AS DOUBLE) / la + CAST(m AS DOUBLE) / lb
                    + (2.0 * m - t2) / (2.0 * m)) / 3.0 * 1000000.0, 0)
                 AS BIGINT) END) // 1000000
         AS BIGINT) AS jw_micro
FROM scored
ORDER BY doc_a, doc_b
"""


SPECS: dict[str, QuerySpec] = {
    "jaro_winkler_dup_pairs": QuerySpec(
        _q_jaro_winkler_dup_pairs,
        _SQL_JARO,
        "Jaro / Jaro-Winkler on the near-dup candidate pairs (greedy "
        "windowed matcher as one fold vs the lockstep recursive-CTE "
        "replay): the census-linkage third lens beside Jaccard and "
        "Levenshtein, micro-units, transpositions kept integer",
    ),
}
