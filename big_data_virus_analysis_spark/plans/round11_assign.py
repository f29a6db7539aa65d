"""Round-11 assignment pack: the max-revenue perfect assignment of
market segments to regions — the EFFICIENCY counterpart of round-10's
Gale-Shapley STABILITY matching on the same 5×5 revenue grid.  Stable
and optimal are different objectives; this query computes the optimal
one to proven optimality with the classical bound chain in-band.

* ``assignment_max_revenue_segments_regions`` — the 25-cell
  (segment × region) revenue grid (identical construction to
  ``round10_match``), solved by the Held-Karp SUBSET dynamic program:
  dp[mask] = best revenue assigning the first popcount(mask) segments
  to exactly the region set ``mask`` — one array fold over segments
  with the 32-entry dp vector as the accumulator (``bit_count`` /
  ``shiftleft`` arithmetic, zero iteration jobs).  The DuckDB oracle
  is ALGORITHMICALLY INDEPENDENT: it enumerates all 5! = 120 perfect
  matchings relationally (the ``round10_match`` perms mechanism) and
  takes the max — the hash match certifies the subset DP against
  brute force on real data.  Beside the optimum: the row-greedy
  assignment (segments in order pick their best free region —
  a feasible solution, so a LOWER bound) and the sum of per-segment
  row maxima (relaxing the permutation constraint — an UPPER bound),
  with ``greedy ≤ opt ≤ rowmax`` witnessed in-band, plus the
  ``n_cells`` grid-completeness premise (the round-10 ADVICE
  convention).

100-TB shape: the grid is dimension-bounded (5 segments × 5 regions
at any SF — the corpus-sized work is the one orders→customer→nation→
region rollup); everything after is a 1-row fold over 25 values.

Identity properties (tests/test_properties.py): the subset DP equals
brute-force permutation enumeration on random n×n grids (n ≤ 5);
greedy ≤ opt ≤ rowmax always; opt is permutation-invariant under row
relabeling.

No reference counterpart (decision-support extension alongside
plans/round10_match.py); public algorithms only (Held-Karp 1962
subset DP; the assignment-problem LP bounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from .catalog import QuerySpec
from .fragments import SQL_RC_PERMUTATIONS, SQL_SEGMENT_REGION_REV, segment_region_cells

#: subset-DP over segments 1..5 with the 32-entry dp vector carried;
#: v is the row-major 25-value grid (index (s-1)*5 + r + 1)
_DP_FOLD = """aggregate(
  sequence(1, 5),
  transform(sequence(0, 31), m -> CAST(0 AS BIGINT)),
  (dp, s) -> transform(dp, (x, m) -> IF(bit_count(m) = s,
    aggregate(
      filter(sequence(0, 4), r -> (m div shiftleft(1, r)) % 2 = 1),
      CAST(-1 AS BIGINT),
      (best, r) -> greatest(best,
        element_at(dp, m - shiftleft(1, r) + 1)
        + element_at(v, (s - 1) * 5 + r + 1))),
    x)),
  dp -> element_at(dp, 32))"""

#: row-greedy: segment s takes its best FREE region (ties -> lowest
#: region code); the argmax rides a struct max, the chosen bit joins
#: the used mask.  The singleton-transform binds the struct once (the
#: round-10 let idiom).
_GREEDY_FOLD = """aggregate(
  sequence(1, 5),
  named_struct('used', 0, 'tot', CAST(0 AS BIGINT)),
  (acc, s) -> transform(array(
      array_max(transform(
        filter(sequence(0, 4),
               r -> (acc.used div shiftleft(1, r)) % 2 = 0),
        r -> named_struct(
          'cv', element_at(v, (s - 1) * 5 + r + 1),
          'negr', -r)))),
    mx -> named_struct(
      'used', acc.used + shiftleft(1, -mx.negr),
      'tot', acc.tot + mx.cv))[0],
  acc -> acc.tot)"""


def _q_assignment_max_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = tracked_cache(segment_region_cells(spark, sf_dir))
    one = cells.agg(
        F.expr(
            "transform(sort_array(collect_list(struct("
            "sc AS sc, rc AS rc, cents AS cents))), s -> s.cents)"
        ).alias("v"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    rowmax = (
        cells.groupBy("sc")
        .agg(F.max("cents").alias("mx"))
        .agg(F.sum("mx").alias("rowmax_bound"))
    )
    return (
        one.select(
            "n_cells",
            F.expr(_DP_FOLD).alias("opt_value"),
            F.expr(_GREEDY_FOLD).alias("greedy_value"),
        )
        .crossJoin(F.broadcast(rowmax))
        .select(
            "n_cells",
            "opt_value",
            "greedy_value",
            "rowmax_bound",
            (F.col("greedy_value") <= F.col("opt_value")).alias(
                "greedy_le_opt"
            ),
            (F.col("opt_value") <= F.col("rowmax_bound")).alias(
                "opt_le_rowmax"
            ),
        )
    )


_SQL_ASSIGNMENT = f"""
{SQL_SEGMENT_REGION_REV}, cells AS MATERIALIZED (
  SELECT segment, region, cents,
         CAST(dense_rank() OVER (ORDER BY segment) AS INT) AS sc,
         CAST(dense_rank() OVER (ORDER BY region) AS INT) AS rc
  FROM rev
), rcodes AS MATERIALIZED (SELECT DISTINCT rc FROM cells),
perms AS MATERIALIZED (
  -- brute force over all 5! = 120 perfect matchings: the
  -- algorithmically independent check on the Spark subset DP
{SQL_RC_PERMUTATIONS}, ptot AS MATERIALIZED (
  SELECT a.pid, CAST(sum(k.cents) AS BIGINT) AS tot
  FROM assigned a JOIN cells k ON k.sc = a.sc AND k.rc = a.rc
  GROUP BY a.pid
), opt AS MATERIALIZED (
  SELECT CAST(max(tot) AS BIGINT) AS opt_value FROM ptot
),
-- row-greedy via five chained picks (best free region per segment)
g1 AS (SELECT rc AS u1, cents AS c1 FROM cells WHERE sc = 1
       ORDER BY cents DESC, rc LIMIT 1),
g2 AS (SELECT rc AS u2, cents AS c2 FROM cells, g1
       WHERE sc = 2 AND rc != u1 ORDER BY cents DESC, rc LIMIT 1),
g3 AS (SELECT rc AS u3, cents AS c3 FROM cells, g1, g2
       WHERE sc = 3 AND rc != u1 AND rc != u2
       ORDER BY cents DESC, rc LIMIT 1),
g4 AS (SELECT rc AS u4, cents AS c4 FROM cells, g1, g2, g3
       WHERE sc = 4 AND rc != u1 AND rc != u2 AND rc != u3
       ORDER BY cents DESC, rc LIMIT 1),
g5 AS (SELECT rc AS u5, cents AS c5 FROM cells, g1, g2, g3, g4
       WHERE sc = 5 AND rc != u1 AND rc != u2 AND rc != u3 AND rc != u4
       ORDER BY cents DESC, rc LIMIT 1),
greedy AS MATERIALIZED (
  SELECT CAST(c1 + c2 + c3 + c4 + c5 AS BIGINT) AS greedy_value
  FROM g1, g2, g3, g4, g5
), rowmax AS MATERIALIZED (
  SELECT CAST(sum(mx) AS BIGINT) AS rowmax_bound
  FROM (SELECT max(cents) AS mx FROM cells GROUP BY sc)
), nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM cells)
SELECT nc.n_cells, o.opt_value, g.greedy_value, rm.rowmax_bound,
       g.greedy_value <= o.opt_value AS greedy_le_opt,
       o.opt_value <= rm.rowmax_bound AS opt_le_rowmax
FROM nc CROSS JOIN opt o CROSS JOIN greedy g CROSS JOIN rowmax rm
"""


SPECS: dict[str, QuerySpec] = {
    "assignment_max_revenue_segments_regions": QuerySpec(
        _q_assignment_max_revenue,
        _SQL_ASSIGNMENT,
        "max-revenue perfect assignment of segments to regions: "
        "Held-Karp subset DP as one 32-entry array fold vs the "
        "oracle's independent 120-permutation brute force, with the "
        "greedy lower and row-maxima upper bounds proven in-band",
    ),
}
