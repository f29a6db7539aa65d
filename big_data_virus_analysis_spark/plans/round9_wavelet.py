"""Round-9 signal-decomposition pack: the exact unnormalized Haar
wavelet transform (Haar 1910; Mallat's pyramid algorithm) of the daily
revenue series — the multiresolution-analysis family the catalog did
not yet cover (seasonal_decompose_dow is a single fixed period; the
wavelet localizes change at every dyadic scale).

* ``haar_wavelet_topk`` — the UNNORMALIZED Haar pyramid over the first
  1024 observed days (2¹⁰ — available at every SF; 1,094 observed days
  at sf0.001) of whole-dollar daily revenue: level l pairs level l−1
  via s←s₂ₖ+s₂ₖ₊₁, d←s₂ₖ−s₂ₖ₊₁ — every coefficient an EXACT integer,
  so both engines hold identical pyramids.  Ranking uses the
  orthonormal energy d²/2ˡ compared as the exact integer
  d²·2^(10−l) (decimal(38,0)/HUGEINT — no float ordering), emitting
  the top-15 detail coefficients: where in time, and at which dyadic
  scale, the revenue series moves hardest.

100-TB shape: the fact scan collapses to the calendar-bounded day
frame (≤ 2,406 rows at any corpus size) before the pyramid; each of
the 10 levels is one hash aggregate over a ≤512-row frame,
localCheckpoint'd because level l feeds BOTH level l+1 and its detail
leg (without the checkpoints the detail union replays the whole
cascade — the plans/round9_iter.py lesson).  Constant work at any SF.

Identity properties (tests/test_properties.py): exact Parseval
(2¹⁰·Σv² = 2⁰·s_L² + Σ_l 2^(10−l)·Σ d_l² in integers) and perfect
reconstruction from the full coefficient set, both via
fractions.Fraction (zero tolerance).

No reference counterpart (time-series extension alongside
plans/round9_motif.py); public algorithm only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import QuerySpec
from .fragments import daily_dollars

#: dyadic window: 2**HAAR_LEVELS leading observed days
HAAR_LEVELS = 10
HAAR_N = 2**HAAR_LEVELS
#: detail coefficients emitted
HAAR_TOPK = 15


def _q_haar_wavelet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = daily_dollars(spark, sf_dir, "v")
    cur = (
        day.select(
            (F.row_number().over(Window.orderBy("day")) - 1).alias("pos"),
            F.col("v").alias("s"),
        )
        .where(F.col("pos") < HAAR_N)
        .localCheckpoint(eager=True)
    )
    details: list[DataFrame] = []
    for lvl in range(1, HAAR_LEVELS + 1):
        nxt = (
            cur.groupBy(F.floor(F.col("pos") / 2).alias("pos"))
            .agg(
                F.sum("s").alias("s"),
                F.sum(
                    F.when(F.col("pos") % 2 == 0, F.col("s")).otherwise(
                        -F.col("s")
                    )
                ).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        details.append(
            nxt.select(
                F.lit(lvl).alias("level"),
                F.col("pos").cast("bigint").alias("pos"),
                F.col("d").alias("coef"),
                (
                    F.col("d").cast("decimal(38,0)")
                    * F.col("d").cast("decimal(38,0)")
                    * F.lit(2 ** (HAAR_LEVELS - lvl)).cast("decimal(38,0)")
                ).alias("_e"),
                F.round(
                    F.col("d").cast("double")
                    * F.col("d").cast("double")
                    / F.lit(float(2**lvl)),
                    4,
                ).alias("energy_norm"),
            )
        )
        cur = nxt.select("pos", "s")
    out = details[0]
    for leg in details[1:]:
        out = out.unionByName(leg)
    return (
        out.orderBy(F.desc("_e"), "level", "pos")
        .limit(HAAR_TOPK)
        .select("level", "pos", "coef", "energy_norm")
    )


def _sql_haar() -> str:
    parts = [
        f"""
WITH daily AS MATERIALIZED (
  SELECT day, CAST(floor(sum(yc) / 100.0 + 0.5) AS BIGINT) AS v
  FROM (SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders)
  GROUP BY day
), lvl0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) - 1 AS pos, v AS s
  FROM daily QUALIFY pos < {HAAR_N}
)"""
    ]
    for lvl in range(1, HAAR_LEVELS + 1):
        parts.append(
            f""", lvl{lvl} AS MATERIALIZED (
  SELECT pos // 2 AS pos, sum(s) AS s,
         sum(CASE WHEN pos % 2 = 0 THEN s ELSE -s END) AS d
  FROM lvl{lvl - 1} GROUP BY pos // 2
)"""
        )
    legs = "\nUNION ALL\n".join(
        # d is a DuckDB sum() over BIGINT => HUGEINT; the driver renders
        # int128 output differently from Spark's int64 and the hash breaks
        # (r10 verdict).  Coefficients fit in int64 (|d| <= 1024 * daily
        # totals), so the FINAL projection narrows back to BIGINT.
        f"""SELECT {lvl} AS level, CAST(pos AS BIGINT) AS pos,
       CAST(d AS BIGINT) AS coef,
       CAST(d AS HUGEINT) * d * {2 ** (HAAR_LEVELS - lvl)} AS _e,
       round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
             / {float(2 ** lvl)}, 4) AS energy_norm
FROM lvl{lvl}"""
        for lvl in range(1, HAAR_LEVELS + 1)
    )
    return (
        "".join(parts)
        + f"""
SELECT level, pos, coef, energy_norm FROM (
{legs}
)
ORDER BY _e DESC, level, pos
LIMIT {HAAR_TOPK}
"""
    )


SPECS: dict[str, QuerySpec] = {
    "haar_wavelet_topk": QuerySpec(
        _q_haar_wavelet_topk,
        _sql_haar(),
        "exact unnormalized Haar pyramid over the leading 1024 revenue "
        "days: top-15 detail coefficients by exact integer orthonormal "
        "energy d^2*2^(10-l) — where and at which dyadic scale the "
        "series moves hardest",
    ),
}
