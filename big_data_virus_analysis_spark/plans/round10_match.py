"""Round-10 two-sided matching pack: Gale–Shapley deferred acceptance
between market segments and regions, with the stability certificate
computed in-band and an oracle that uses a GENUINELY different
algorithm (stable-lattice brute force) — the strongest cross-check
shape in the catalog.

* ``stable_matching_segments_regions`` — preferences come from the
  data: score(s, r) = total order revenue (cents) from segment-s
  customers in region r (orders ⋈ customer ⋈ nation ⋈ region);
  each side ranks the other by score desc with name-asc tie-breaks.
  The Spark side runs SEQUENTIAL Gale–Shapley (McVitie–Wilson 1971:
  the lowest-coded free segment proposes next) as ONE bounded
  ``aggregate()`` fold over a 1-row frame — n(n−1)+1 = 21 proposals
  upper-bound the run for n = 5 (each segment proposes to each
  region at most once, and the last proposal must close the
  matching), so the fixed 21-step unroll provably suffices.
  Intermediates inside the fold step (the proposer, the target
  region, the incumbent, the accept verdict) are LET-BOUND via the
  singleton-``transform`` idiom — ``transform(array(x), v -> …)``
  binds each subexpression exactly once, keeping the step readable
  and single-evaluation.  The emitted rows carry each side's rank of
  its partner, ``blocking_pairs`` (a relational no-blocking-pair
  join over the 25 cells — stability PROVEN in-band, must be 0) and
  the all-matched flag.  The DuckDB oracle never folds: it
  enumerates all 5! = 120 perfect matchings relationally, filters to
  the stable set with the same blocking predicate, and assigns each
  segment its BEST stable partner — by the lattice theorem (Knuth
  1976) the proposer-optimal assignment is itself a stable matching
  and is EXACTLY the G-S outcome, so the hash match verifies the
  fold against an algorithm that shares no code path with it.

100-TB shape: one orders⋈customer⋈nation⋈region pass collapsing to
the 25-cell (segment × region) frame; everything after — ranks, the
21-step fold, the blocking check, the oracle's 120-row enumeration —
is constant-size.  All integer cents.

Identity properties (tests/test_properties.py): the sequential G-S
replay equals the brute-force segment-optimal stable matching on
random preference matrices (the lattice theorem exercised
end-to-end); it always terminates within n(n−1)+1 proposals; its
outcome has zero blocking pairs.

No reference counterpart (matching-theory extension); public
algorithms only (Gale–Shapley 1962, McVitie–Wilson 1971).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from .catalog import QuerySpec
from .fragments import SQL_RC_PERMUTATIONS, SQL_SEGMENT_REGION_REV, segment_region_cells

#: side size (5 market segments x 5 regions) and the proposal bound
N_SIDE = 5
GS_STEPS = N_SIDE * (N_SIDE - 1) + 1

#: the McVitie-Wilson step, LET-BOUND via singleton transforms:
#: w = proposer (lowest-coded free segment; NULL when matching done),
#: x = (proposer, target region), y = incumbent at that region,
#: z = the accept verdict.  State: sm seg->region, rm region->seg,
#: pt proposals made per segment (all 0 = unset).
_GS_FOLD = f"""aggregate(
  sequence(1, {GS_STEPS}),
  named_struct('sm', array_repeat(CAST(0 AS BIGINT), {N_SIDE}),
               'rm', array_repeat(CAST(0 AS BIGINT), {N_SIDE}),
               'pt', array_repeat(CAST(0 AS BIGINT), {N_SIDE})),
  (acc, step) -> element_at(transform(array(
      try_element_at(filter(sequence(1, {N_SIDE}), j ->
        element_at(acc.sm, j) = 0 AND element_at(acc.pt, j) < {N_SIDE}),
        1)
    ), w -> IF(w IS NULL, acc,
      element_at(transform(array(named_struct(
          's', w,
          'r', CAST(element_at(element_at(pref, w),
                 CAST(element_at(acc.pt, w) + 1 AS INT)) AS INT)
        )), x ->
        element_at(transform(array(
            CAST(element_at(acc.rm, x.r) AS INT)
          ), y ->
          element_at(transform(array(
              y = 0 OR element_at(element_at(rrank, x.r), x.s)
                       < element_at(element_at(rrank, x.r), y)
            ), z ->
            named_struct(
              'sm', transform(acc.sm, (v, j0) -> CASE
                      WHEN z AND j0 = x.s - 1
                        THEN CAST(x.r AS BIGINT)
                      WHEN z AND y > 0 AND j0 = y - 1
                        THEN CAST(0 AS BIGINT)
                      ELSE v END),
              'rm', IF(z,
                      transform(acc.rm, (v, j0) ->
                        IF(j0 = x.r - 1, CAST(x.s AS BIGINT), v)),
                      acc.rm),
              'pt', transform(acc.pt, (v, j0) ->
                      IF(j0 = x.s - 1, v + 1, v)))), 1)), 1)), 1))),
    1))"""


def _q_stable_matching_segments_regions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = tracked_cache(segment_region_cells(spark, sf_dir))
    one = cells.agg(
        # pref[s][k] = region code of segment s's k-th choice (rank
        # ascending via the struct sort key)
        F.expr(
            """transform(sequence(1, 5), s ->
                 transform(sort_array(filter(
                   collect_list(named_struct(
                     'sc', sc, 'seg_rank', seg_rank,
                     'rc', CAST(rc AS BIGINT))),
                   x -> x.sc = s)), x -> x.rc))"""
        ).alias("pref"),
        # rrank[r][s] = region r's rank of segment s (index = s via
        # the sc sort key)
        F.expr(
            """transform(sequence(1, 5), r ->
                 transform(sort_array(filter(
                   collect_list(named_struct(
                     'rc', rc, 'sc', sc, 'reg_rank', reg_rank)),
                   x -> x.rc = r)), x -> x.reg_rank))"""
        ).alias("rrank"),
    )
    matched = (
        one.select(F.expr(_GS_FOLD).alias("k"))
        .select(
            F.expr(
                """inline(transform(sequence(1, 5), s ->
                     named_struct(
                       'sc', s,
                       'rc', CAST(element_at(k.sm, s) AS INT))))"""
            ),
            F.expr(
                "CAST(size(filter(k.sm, v -> v > 0)) = 5 AS BOOLEAN)"
            ).alias("all_matched"),
        )
    )
    pairs = matched.join(cells, ["sc", "rc"]).select(
        "sc",
        "rc",
        "segment",
        "region",
        "seg_rank",
        "reg_rank",
        "all_matched",
    )
    # in-band stability certificate: a cell (s, r) blocks iff both
    # sides strictly prefer it to their assigned partners
    ms = pairs.select(
        F.col("sc").alias("b_sc"), F.col("seg_rank").alias("ms_rank")
    )
    mr = pairs.select(
        F.col("rc").alias("b_rc"), F.col("reg_rank").alias("mr_rank")
    )
    blocking = (
        cells.join(F.broadcast(ms), F.col("sc") == F.col("b_sc"))
        .join(F.broadcast(mr), F.col("rc") == F.col("b_rc"))
        .filter(
            (F.col("seg_rank") < F.col("ms_rank"))
            & (F.col("reg_rank") < F.col("mr_rank"))
        )
        .agg(F.count(F.lit(1)).alias("blocking_pairs"))
    )
    # auditable premise (r10 ADVICE #3): the G-S fold positionally
    # indexes 5-element pref/rrank arrays, which is only sound when all
    # 25 (segment x region) cells are non-empty — emit the cell count
    # in-band so a sparse grid at some scale factor reads as data
    # (n_cells != 25) instead of a silent rank misalignment
    n_cells = cells.agg(F.count(F.lit(1)).alias("n_cells"))
    return (
        pairs.crossJoin(F.broadcast(blocking))
        .crossJoin(F.broadcast(n_cells))
        .select(
            "segment",
            "region",
            F.col("seg_rank").alias("seg_rank_of_match"),
            F.col("reg_rank").alias("reg_rank_of_match"),
            "blocking_pairs",
            "all_matched",
            "n_cells",
        )
        .orderBy("segment")
    )


_SQL_STABLE_MATCHING = f"""
{SQL_SEGMENT_REGION_REV}, cells AS MATERIALIZED (
  SELECT segment, region, cents,
         CAST(dense_rank() OVER (ORDER BY segment) AS INT) AS sc,
         CAST(dense_rank() OVER (ORDER BY region) AS INT) AS rc,
         CAST(row_number() OVER (
           PARTITION BY segment ORDER BY cents DESC, region
         ) AS BIGINT) AS seg_rank,
         CAST(row_number() OVER (
           PARTITION BY region ORDER BY cents DESC, segment
         ) AS BIGINT) AS reg_rank
  FROM rev
), rcodes AS MATERIALIZED (SELECT DISTINCT rc FROM cells),
perms AS MATERIALIZED (
  -- all 5! = 120 perfect matchings, relationally
{SQL_RC_PERMUTATIONS}, ranked_assign AS MATERIALIZED (
  SELECT a.pid, a.sc, a.rc, k.seg_rank, k.reg_rank
  FROM assigned a JOIN cells k ON k.sc = a.sc AND k.rc = a.rc
), blocking AS MATERIALIZED (
  -- a cell blocks matching pid iff both sides strictly prefer it
  SELECT ms.pid, CAST(count(*) AS BIGINT) AS n_blocking
  FROM cells c
  JOIN ranked_assign ms ON ms.sc = c.sc
  JOIN ranked_assign mr ON mr.pid = ms.pid AND mr.rc = c.rc
  WHERE c.seg_rank < ms.seg_rank AND c.reg_rank < mr.reg_rank
  GROUP BY ms.pid
), stable AS MATERIALIZED (
  SELECT p.pid FROM perms p
  LEFT JOIN blocking b ON b.pid = p.pid
  WHERE coalesce(b.n_blocking, 0) = 0
), best AS MATERIALIZED (
  -- lattice theorem: each segment's best stable partner, jointly,
  -- IS the proposer-optimal stable matching = the G-S outcome
  SELECT sc, min(seg_rank) AS best_rank
  FROM ranked_assign ra JOIN stable s ON s.pid = ra.pid
  GROUP BY sc
), chosen AS MATERIALIZED (
  SELECT DISTINCT ra.sc, ra.rc, ra.seg_rank, ra.reg_rank
  FROM ranked_assign ra
  JOIN stable s ON s.pid = ra.pid
  JOIN best b ON b.sc = ra.sc AND b.best_rank = ra.seg_rank
), cert AS MATERIALIZED (
  SELECT CAST(coalesce(sum(CASE WHEN c.seg_rank < ms.seg_rank
                                 AND c.reg_rank < mr.reg_rank
                            THEN 1 END), 0) AS BIGINT)
           AS blocking_pairs
  FROM cells c
  JOIN chosen ms ON ms.sc = c.sc
  JOIN chosen mr ON mr.rc = c.rc
)
SELECT k.segment, k.region,
       ch.seg_rank AS seg_rank_of_match,
       ch.reg_rank AS reg_rank_of_match,
       (SELECT blocking_pairs FROM cert) AS blocking_pairs,
       (SELECT count(DISTINCT rc) FROM chosen) = 5 AS all_matched,
       -- auditable premise: all 25 grid cells populated (see Spark twin)
       (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells
FROM chosen ch
JOIN cells k ON k.sc = ch.sc AND k.rc = ch.rc
ORDER BY k.segment
"""


SPECS: dict[str, QuerySpec] = {
    "stable_matching_segments_regions": QuerySpec(
        _q_stable_matching_segments_regions,
        _SQL_STABLE_MATCHING,
        "Gale-Shapley deferred acceptance between market segments and "
        "regions on revenue-derived preferences: 21-step McVitie-"
        "Wilson fold vs the oracle's independent stable-lattice brute "
        "force (120 matchings); blocking-pair certificate in-band",
    ),
}
