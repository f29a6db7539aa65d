"""Round-8 time-series / multiple-testing pack.

* ``jarque_bera_daily`` — Jarque–Bera normality test of daily revenue:
  skewness and excess kurtosis from EXACT integer moments of the
  $1000-quantized daily series (yq⁴ headroom: |yq| ~ 1e3 at sf0.1 →
  Σyq⁴ ~ 2.4e15; even at 1000× revenue ~2.4e27, far under
  decimal(38,0)/HUGEINT — the same quantize-before-powering discipline
  as ``breusch_pagan_daily``), JB = n/6·(S² + K²/4) with the χ²(2)
  5% critical value 5.99.  The normality gate in front of the
  t/F-based family (Welch, Granger).
* ``pacf_lag2_daily`` — partial autocorrelation at lag 2 via the
  Durbin–Levinson closed form φ₂₂ = (r₂ − r₁²)/(1 − r₁²) over exact
  lag-product sums (full-series autocovariance convention: deviations
  from the GLOBAL mean, lag pairs from the two-phase
  ``global_row_number`` rank self-join — no global window).  Completes
  the identification toolkit next to ``acf``/``ljung_box``: ACF says
  "MA order", PACF says "AR order".
* ``holm_bonferroni_segments`` — the Holm step-DOWN multiple-testing
  rule on the per-segment urgent-share z-tests (the step-up BH twin is
  ``bh_fdr_segments``): reject p₍ᵢ₎ while p₍ⱼ₎ ≤ α/(m−j+1) for ALL
  j ≤ i.  Implemented as a 1-row broadcast of the smallest failing
  rank (no unpartitioned window); the same logistic Φ approximation as
  BH — identical closed form both engines, and Holm consumes only the
  p-RANKING plus per-rank thresholds, which the approximation
  preserves.

100 TB shape: all three collapse the fact scan to a bounded frame
(calendar days / 5 segments) in the first partial aggregation.

No reference counterpart; stats extensions alongside
plans/round7_stats.py (file:line cites there for the shared shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import segment_urgent_counts

# --------------------------------------------------------------------------
# jarque_bera_daily
# --------------------------------------------------------------------------

#: cents per quantization unit ($1000) for 4th-power moment headroom
_JB_UNIT = 100_000


def _day_revenue_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(
            F.floor(F.sum("yc") / F.lit(float(_JB_UNIT)) + 0.5)
            .cast("bigint")
            .alias("yq")
        )
    )


_SQL_DAY_REVENUE_QUANTIZED = f"""
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(floor(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    / {float(_JB_UNIT)} + 0.5) AS BIGINT) AS yq
  FROM orders GROUP BY 1
"""


def _q_jarque_bera_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = _day_revenue_quantized(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = day.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yq").alias("s1"),
        F.sum(dec("yq") * dec("yq")).alias("s2"),
        F.sum((dec("yq") * dec("yq")).cast("decimal(38,0)") * dec("yq")).alias("s3"),
        F.sum(
            (dec("yq") * dec("yq")).cast("decimal(38,0)")
            * (dec("yq") * dec("yq")).cast("decimal(38,0)")
        ).alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    # central moments from raw moments (exact sums, one double combine)
    m2 = F.col("s2").cast("double") / n - m1 * m1
    m3 = F.col("s3").cast("double") / n - 3.0 * m1 * (F.col("s2").cast("double") / n) + 2.0 * m1 * m1 * m1
    m4 = (
        F.col("s4").cast("double") / n
        - 4.0 * m1 * (F.col("s3").cast("double") / n)
        + 6.0 * m1 * m1 * (F.col("s2").cast("double") / n)
        - 3.0 * m1 * m1 * m1 * m1
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exkurt = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + exkurt * exkurt / 4.0)
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(skew, 6).alias("skewness"),
        F.round(exkurt, 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jarque_bera"),
        (jb > 5.99).alias("rejects_normality_5pct"),
    )


_SQL_JARQUE_BERA_DAILY = f"""
WITH day AS ({_SQL_DAY_REVENUE_QUANTIZED}),
mom AS (
  SELECT count(*) AS n, sum(yq) AS s1,
         sum(CAST(yq AS HUGEINT) * yq) AS s2,
         sum(CAST(yq AS HUGEINT) * yq * yq) AS s3,
         sum(CAST(yq AS HUGEINT) * yq * yq * yq) AS s4
  FROM day
), c AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM mom
), g AS (
  SELECT n, r2 - m1 * m1 AS m2,
         r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
         r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
            - 3.0 * m1 * m1 * m1 * m1 AS m4
  FROM c
), h AS (
  SELECT n, m3 / (m2 * sqrt(m2)) AS skew, m4 / (m2 * m2) - 3.0 AS exkurt
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(skew, 6) AS skewness,
       round(exkurt, 6) AS excess_kurtosis,
       round(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 6)
         AS jarque_bera,
       n / 6.0 * (skew * skew + exkurt * exkurt / 4.0) > 5.99
         AS rejects_normality_5pct
FROM h
"""


# --------------------------------------------------------------------------
# pacf_lag2_daily
# --------------------------------------------------------------------------


def _q_pacf_lag2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = _day_revenue_quantized(spark, sf_dir)
    ranked = global_row_number(day, [F.asc("day")], out_col="rk")
    base = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yq").alias("s1"),
        F.sum(F.col("yq").cast("decimal(19,0)") * F.col("yq").cast("decimal(19,0)")).alias("s2"),
    )
    cur = ranked.select("rk", F.col("yq").alias("y0"))
    lag_prod = lambda k: (  # noqa: E731
        cur.join(
            ranked.select((F.col("rk") - k).alias("rk"), F.col("yq").alias("yk")),
            "rk",
        ).agg(
            F.sum(
                F.col("y0").cast("decimal(19,0)") * F.col("yk").cast("decimal(19,0)")
            ).alias(f"p{k}"),
            F.sum("y0").alias(f"a{k}"),
            F.sum("yk").alias(f"b{k}"),
            F.count(F.lit(1)).alias(f"m{k}"),
        )
    )
    mom = base.crossJoin(F.broadcast(lag_prod(1))).crossJoin(
        F.broadcast(lag_prod(2))
    )
    n = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / n
    # autocovariance convention: gamma_k = (1/n) * sum over the n-k lag
    # pairs of (y_t - ybar)(y_{t+k} - ybar), ybar the GLOBAL mean
    gam = lambda k: (  # noqa: E731
        F.col(f"p{k}").cast("double")
        - mean * F.col(f"a{k}").cast("double")
        - mean * F.col(f"b{k}").cast("double")
        + F.col(f"m{k}").cast("double") * mean * mean
    ) / n
    g0 = (F.col("s2").cast("double") - n * mean * mean) / n
    r1 = gam(1) / g0
    r2 = gam(2) / g0
    pacf2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(r1, 6).alias("acf_lag1"),
        F.round(r2, 6).alias("acf_lag2"),
        F.round(pacf2, 6).alias("pacf_lag2"),
    )


_SQL_PACF_LAG2_DAILY = f"""
WITH day AS ({_SQL_DAY_REVENUE_QUANTIZED}),
ranked AS (
  SELECT yq, row_number() OVER (ORDER BY day) AS rk FROM day
), base AS (
  SELECT count(*) AS n, sum(yq) AS s1, sum(CAST(yq AS HUGEINT) * yq) AS s2
  FROM ranked
), l1 AS (
  SELECT sum(CAST(a.yq AS HUGEINT) * b.yq) AS p1, sum(a.yq) AS a1,
         sum(b.yq) AS b1, count(*) AS m1
  FROM ranked a JOIN ranked b ON b.rk = a.rk + 1
), l2 AS (
  SELECT sum(CAST(a.yq AS HUGEINT) * b.yq) AS p2, sum(a.yq) AS a2,
         sum(b.yq) AS b2, count(*) AS m2
  FROM ranked a JOIN ranked b ON b.rk = a.rk + 2
), c AS (
  SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
         (CAST(s2 AS DOUBLE) - n * (CAST(s1 AS DOUBLE) / n)
                                 * (CAST(s1 AS DOUBLE) / n)) / n AS g0,
         (CAST(p1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * a1
          - (CAST(s1 AS DOUBLE) / n) * b1
          + m1 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / n AS g1,
         (CAST(p2 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n) * a2
          - (CAST(s1 AS DOUBLE) / n) * b2
          + m2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / n AS g2
  FROM base CROSS JOIN l1 CROSS JOIN l2
), r AS (
  SELECT n, g1 / g0 AS r1, g2 / g0 AS r2 FROM c
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(r1, 6) AS acf_lag1,
       round(r2, 6) AS acf_lag2,
       round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS pacf_lag2
FROM r
"""


# --------------------------------------------------------------------------
# holm_bonferroni_segments
# --------------------------------------------------------------------------

_HOLM_ALPHA = 0.10


def _q_holm_bonferroni_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg, tot = segment_urgent_counts(spark, sf_dir)
    p0 = F.col("utot").cast("double") / F.col("ntot").cast("double")
    z = F.round(
        (F.col("nu").cast("double") / F.col("n").cast("double") - p0)
        / F.sqrt(p0 * (1.0 - p0) / F.col("n").cast("double")),
        6,
    )
    scored = seg.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n",
        "nu",
        "m",
        z.alias("z"),
        F.round(2.0 / (1.0 + F.exp(1.702 * F.abs(z))), 6).alias("p_approx"),
    )
    ranked = global_row_number(
        scored, [F.asc("p_approx"), F.asc("segment")], out_col="p_rank"
    )
    # Holm step-down: reject ranks strictly below the FIRST rank whose
    # p exceeds its alpha/(m - rank + 1) threshold (all ranks if none
    # fails) — the smallest failing rank is a 1-row broadcast
    first_fail = ranked.agg(
        F.min(
            F.when(
                F.col("p_approx")
                > F.lit(_HOLM_ALPHA)
                / (F.col("m") - F.col("p_rank") + 1).cast("double"),
                F.col("p_rank"),
            )
        ).alias("first_fail")
    )
    return (
        ranked.crossJoin(F.broadcast(first_fail))
        .select(
            "segment",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("nu").cast("double") / F.col("n").cast("double"), 6).alias(
                "urgent_share"
            ),
            "z",
            "p_approx",
            F.col("p_rank").cast("int").alias("p_rank"),
            F.round(
                F.lit(_HOLM_ALPHA) / (F.col("m") - F.col("p_rank") + 1).cast("double"),
                6,
            ).alias("holm_threshold"),
            (
                F.col("p_rank")
                < F.coalesce(F.col("first_fail"), F.col("m") + 1)
            ).alias("holm_significant"),
        )
        .orderBy("p_rank")
    )


_SQL_HOLM_BONFERRONI_SEGMENTS = f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), seg AS (
  SELECT segment, count(*) AS n, sum(u) AS nu FROM base GROUP BY segment
), tot AS (
  SELECT sum(n) AS ntot, sum(nu) AS utot, count(*) AS m FROM seg
), scored AS (
  SELECT segment, n, nu, m,
         round((CAST(nu AS DOUBLE) / n - CAST(utot AS DOUBLE) / ntot)
               / sqrt((CAST(utot AS DOUBLE) / ntot)
                      * (1.0 - CAST(utot AS DOUBLE) / ntot) / n), 6) AS z
  FROM seg CROSS JOIN tot
), withp AS (
  SELECT segment, n, nu, m, z,
         round(2.0 / (1.0 + exp(1.702 * abs(z))), 6) AS p_approx
  FROM scored
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY p_approx ASC, segment ASC) AS p_rank
  FROM withp
), ff AS (
  SELECT min(CASE WHEN p_approx > {_HOLM_ALPHA} / (m - p_rank + 1)
                  THEN p_rank END) AS first_fail
  FROM ranked
)
SELECT segment, CAST(n AS BIGINT) AS n,
       round(CAST(nu AS DOUBLE) / n, 6) AS urgent_share,
       z, p_approx, CAST(p_rank AS INT) AS p_rank,
       round({_HOLM_ALPHA} / (m - p_rank + 1), 6) AS holm_threshold,
       p_rank < coalesce(first_fail, m + 1) AS holm_significant
FROM ranked CROSS JOIN ff
ORDER BY p_rank
"""


SPECS: dict[str, QuerySpec] = {
    "jarque_bera_daily": QuerySpec(
        _q_jarque_bera_daily,
        _SQL_JARQUE_BERA_DAILY,
        "Jarque-Bera normality test of daily revenue from exact "
        "$1000-quantized integer moments (skew, excess kurtosis, "
        "chi2(2) gate)",
    ),
    "pacf_lag2_daily": QuerySpec(
        _q_pacf_lag2_daily,
        _SQL_PACF_LAG2_DAILY,
        "partial autocorrelation at lag 2 via Durbin-Levinson closed "
        "form over exact lag-product sums (two-phase rank self-join)",
    ),
    "holm_bonferroni_segments": QuerySpec(
        _q_holm_bonferroni_segments,
        _SQL_HOLM_BONFERRONI_SEGMENTS,
        "Holm step-down multiple-testing control on per-segment "
        "urgent-share z-tests (1-row first-failing-rank broadcast, "
        "step-up BH twin in bh_fdr_segments)",
    ),
}
