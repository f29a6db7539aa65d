"""Round-10 computational-geometry pack, part 2: the diameter
(farthest pair) of the monthly scatter — with the hull-restriction
THEOREM itself as the cross-check between the engines.

* ``farthest_pair_diameter`` — the diameter of a finite point set is
  attained at two CONVEX HULL vertices (the farthest pair lies on the
  hull; rotating-calipers' premise).  The Spark side exploits it:
  reuse round10_geo's all-witness hull-edge predicate on the ≤ ~84-row
  month frame, take the hull VERTEX set (edge sources), and max the
  pairwise squared distance over hull vertices only.  The DuckDB
  oracle maxes over ALL point pairs with no hull anywhere — so the
  hash match doesn't just check arithmetic, it exercises the theorem
  end-to-end on real data.  Output: the pair (lexicographic-smallest
  among maximizers), the exact squared diameter as its canonical
  digit string (cents² passes BIGINT already at sf0.01, and wide
  decimals render differently per engine on the driver channel — the
  r12 driver-parity discipline; internal algebra stays DECIMAL(38,0)/
  HUGEINT), hull-vertex count, and the candidate-pair counts on both
  paths (the prune factor as data).

100-TB shape: identical to ``convex_hull_monthly`` — one lineitem
scan collapsing to the calendar-bounded month frame; every join after
is ≤ 84 rows a side.

Identity properties (tests/test_properties.py): hull-restricted max
distance equals the all-pairs max on random integer sets including
collinear/duplicate plants (the diameter-on-hull theorem, pure
Python), and the tie rule (smallest pair lexicographically) matches
between spellings.

No reference counterpart (geometry extension alongside
plans/round10_geo.py); public algorithms only (Shamos 1978).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from .catalog import QuerySpec
from .fragments import HULL_NOT_PQ, HULL_OK, SQL_MONTHLY_POINTS, monthly_points


def _q_farthest_pair_diameter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pts = tracked_cache(monthly_points(spark, sf_dir))
    p = pts.select(F.col("x").alias("px"), F.col("y").alias("py"))
    q = pts.select(F.col("x").alias("qx"), F.col("y").alias("qy"))
    r = pts.select(F.col("x").alias("rx"), F.col("y").alias("ry"))
    pairs = p.join(
        F.broadcast(q),
        (F.col("px") != F.col("qx")) | (F.col("py") != F.col("qy")),
    )
    hull_vertices = (
        pairs.join(F.broadcast(r), F.expr(HULL_NOT_PQ), "left")
        .groupBy("px", "py", "qx", "qy")
        .agg(
            F.sum(
                F.when(F.expr(f"rx IS NOT NULL AND NOT {HULL_OK}"), 1).otherwise(0)
            ).alias("violations")
        )
        .filter(F.col("violations") == 0)
        .select(F.col("px").alias("hx"), F.col("py").alias("hy"))
        .distinct()
    )
    hv = tracked_cache(hull_vertices)
    a = hv.select(F.col("hx").alias("ax"), F.col("hy").alias("ay"))
    b = hv.select(F.col("hx").alias("bx"), F.col("hy").alias("by_"))
    d2 = (
        "CAST(ax - bx AS DECIMAL(38,0)) * CAST(ax - bx AS DECIMAL(38,0))"
        " + CAST(ay - by_ AS DECIMAL(38,0)) * CAST(ay - by_ AS DECIMAL(38,0))"
    )
    cand = a.join(
        F.broadcast(b),
        F.expr("ax < bx OR (ax = bx AND ay < by_)"),
    ).select("ax", "ay", "bx", "by_", F.expr(d2).alias("dd"))
    stats = cand.agg(
        F.max("dd").alias("max_d2"), F.count(F.lit(1)).alias("n_hull_pairs")
    )
    n_hull = hv.agg(F.count(F.lit(1)).alias("n_hull_vertices"))
    n_pts = pts.agg(F.count(F.lit(1)).alias("n_points"))
    best = (
        cand.crossJoin(F.broadcast(stats))
        .filter(F.col("dd") == F.col("max_d2"))
        .orderBy("ax", "ay", "bx", "by_")
        .limit(1)
    )
    return (
        best.crossJoin(F.broadcast(n_hull))
        .crossJoin(F.broadcast(n_pts))
        .select(
            "ax",
            "ay",
            "bx",
            F.col("by_").alias("by"),
            # r12 driver-parity fix (r11 VERDICT #1): ~1e19 at sf0.01
            # (past int64) — emit the exact squared diameter as its
            # canonical digit string (see round10_geo.edge_len2)
            F.col("max_d2").cast("decimal(38,0)").cast("string").alias(
                "diameter_d2"
            ),
            "n_hull_vertices",
            "n_hull_pairs",
            "n_points",
        )
    )


_SQL_FARTHEST_PAIR = f"""
{SQL_MONTHLY_POINTS}, pairs AS MATERIALIZED (
  -- the oracle never builds a hull: all-pairs max (the theorem is
  -- what the hash match verifies)
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by_,
         CAST(a.x - b.x AS HUGEINT) * CAST(a.x - b.x AS HUGEINT)
         + CAST(a.y - b.y AS HUGEINT) * CAST(a.y - b.y AS HUGEINT) AS dd
  FROM pts a, pts b
  WHERE a.x < b.x OR (a.x = b.x AND a.y < b.y)
), hull_edges AS MATERIALIZED (
  SELECT p.x AS px, p.y AS py, q.x AS qx, q.y AS qy
  FROM pts p, pts q
  WHERE (p.x != q.x OR p.y != q.y)
    AND NOT EXISTS (
      SELECT 1 FROM pts r
      WHERE (r.x != p.x OR r.y != p.y) AND (r.x != q.x OR r.y != q.y)
        AND NOT (
          (CAST(q.x - p.x AS HUGEINT) * CAST(r.y - p.y AS HUGEINT)
           - CAST(q.y - p.y AS HUGEINT) * CAST(r.x - p.x AS HUGEINT)) > 0
          OR (
            (CAST(q.x - p.x AS HUGEINT) * CAST(r.y - p.y AS HUGEINT)
             - CAST(q.y - p.y AS HUGEINT) * CAST(r.x - p.x AS HUGEINT)) = 0
            AND (CAST(q.x - p.x AS HUGEINT) * CAST(r.x - p.x AS HUGEINT)
                 + CAST(q.y - p.y AS HUGEINT) * CAST(r.y - p.y AS HUGEINT))
                > 0
            AND (CAST(q.x - p.x AS HUGEINT) * CAST(r.x - p.x AS HUGEINT)
                 + CAST(q.y - p.y AS HUGEINT) * CAST(r.y - p.y AS HUGEINT))
                < (CAST(q.x - p.x AS HUGEINT) * CAST(q.x - p.x AS HUGEINT)
                   + CAST(q.y - p.y AS HUGEINT) * CAST(q.y - p.y AS HUGEINT))
          ))
    )
), hv AS MATERIALIZED (
  SELECT DISTINCT px AS hx, py AS hy FROM hull_edges
)
SELECT ax, ay, bx, by_ AS "by",
       -- canonical digit string (driver-parity, past int64 at sf0.01)
       CAST(dd AS VARCHAR) AS diameter_d2,
       (SELECT CAST(count(*) AS BIGINT) FROM hv) AS n_hull_vertices,
       (SELECT CAST(count(*) AS BIGINT)
        FROM hv a, hv b
        WHERE a.hx < b.hx OR (a.hx = b.hx AND a.hy < b.hy))
         AS n_hull_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points
FROM pairs
WHERE dd = (SELECT max(dd) FROM pairs)
ORDER BY ax, ay, bx, by_
LIMIT 1
"""


SPECS: dict[str, QuerySpec] = {
    "farthest_pair_diameter": QuerySpec(
        _q_farthest_pair_diameter,
        _SQL_FARTHEST_PAIR,
        "exact diameter of the monthly (quantity, cents) scatter: the "
        "Spark side maxes over HULL VERTICES only (diameter-on-hull "
        "theorem), the oracle over all pairs — the hash match "
        "exercises the theorem on real data; prune factor in-band",
    ),
}
