"""Round-8 inference pack 2 — influence diagnostics, information-
criterion model selection, count-model fitting, and a deterministic
bootstrap.

* ``cooks_distance_daily`` — Cook's distance for every day of the
  daily-revenue-on-time OLS (the influence half of the regression-
  diagnostics family next to DW/Breusch–Pagan): leverage has the
  simple-regression closed form hᵢ = 1/n + (tᵢ−t̄)²/Sₜₜ, and
  Dᵢ = eᵢ²·hᵢ / (p·s²·(1−hᵢ)²) with p=2.  Residuals are the SHARED
  exact integer frame of round7_stats (`fragments.residual_day_frame`); top 10
  most influential days.
* ``aic_bic_granger_compare`` — AIC/BIC comparison of the restricted
  (y ~ y_lag) vs unrestricted (y ~ y_lag + x_lag) Granger models over
  the same exact moment algebra as ``granger_causality_daily``:
  IC = n·ln(SSR/n) + penalty·k.  The F-test says "significant"; the
  information criteria say "worth the parameter" — ship both.
* ``negbin_fit_segments`` — method-of-moments negative-binomial fit of
  per-segment daily order counts (r̂ = m²/(v−m), p̂ = m/v), the
  follow-through on ``overdispersion_daily_counts``'s Poisson-vs-NB
  verdict, with the Poisson-plausible case (v ≤ m) surfaced as NULL
  fits rather than a negative r̂.
* ``bootstrap_mean_ci_det`` — a DETERMINISTIC 32-resample bootstrap of
  mean daily revenue: resample k draws day index
  ((i·2654435761 + k·2246822519) mod 2³¹) mod n + 1 for every position
  i (with replacement, engine-free hash — the full resampling
  distribution is oracle-checkable), CI = the 2nd-smallest /
  2nd-largest resample mean (~94% coverage at B=32).  The
  with-replacement sibling of ``subsample_ci_det`` (round6_more).

100 TB shape: every query collapses to the calendar day frame first;
the bootstrap joins a 32× index scaffold against the ranked day frame
(77k rows at any corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import (
    M31,
    SQL_GRANGER_LAG_MOMENTS,
    SQL_RESIDUAL_DAY_FRAME,
    granger_lag_fit,
    granger_lag_moments,
    residual_day_frame,
)

# --------------------------------------------------------------------------
# cooks_distance_daily
# --------------------------------------------------------------------------

_COOKS_TOPK = 10


def _q_cooks_distance_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    resid = residual_day_frame(spark, sf_dir)  # (i, ec) exact integers
    mom = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").alias("si"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("i").cast("decimal(19,0)")).alias(
            "sii"
        ),
        F.sum(
            F.col("ec").cast("decimal(19,0)") * F.col("ec").cast("decimal(19,0)")
        ).alias("ssr"),
    )
    nd = F.col("n").cast("double")
    tbar = F.col("si").cast("double") / nd
    stt = F.col("sii").cast("double") - nd * tbar * tbar
    s2 = F.col("ssr").cast("double") / (nd - 2.0)
    scaf = mom.select(
        "n",
        tbar.alias("tbar"),
        stt.alias("stt"),
        s2.alias("s2"),
    )
    joined = resid.crossJoin(F.broadcast(scaf))
    h = 1.0 / F.col("n").cast("double") + (
        (F.col("i").cast("double") - F.col("tbar")) ** 2
    ) / F.col("stt")
    e2 = F.col("ec").cast("double") * F.col("ec").cast("double")
    d = e2 * F.col("h") / (2.0 * F.col("s2") * (1.0 - F.col("h")) ** 2)
    return (
        joined.withColumn("h", h)
        .select(
            F.col("i").cast("int").alias("day_index"),
            F.round((F.col("ec").cast("double")) / 100.0, 2).alias(
                "residual_dollars"
            ),
            F.round(F.col("h"), 9).alias("leverage"),
            F.round(d, 9).alias("cooks_d"),
        )
        .orderBy(F.desc("cooks_d"), F.asc("day_index"))
        .limit(_COOKS_TOPK)
    )


_SQL_COOKS_DISTANCE_DAILY = (
    SQL_RESIDUAL_DAY_FRAME
    + f"""
, mom3 AS (
  SELECT count(*) AS n, sum(i) AS si,
         sum(CAST(i AS HUGEINT) * i) AS sii,
         sum(CAST(ec AS HUGEINT) * ec) AS ssr
  FROM resid
), scaf AS (
  SELECT n,
         CAST(si AS DOUBLE) / n AS tbar,
         CAST(sii AS DOUBLE) - n * (CAST(si AS DOUBLE) / n)
                                 * (CAST(si AS DOUBLE) / n) AS stt,
         CAST(ssr AS DOUBLE) / (n - 2.0) AS s2
  FROM mom3
), lev AS (
  SELECT r.i, r.ec, s.s2,
         1.0 / s.n + (r.i - s.tbar) * (r.i - s.tbar) / s.stt AS h
  FROM resid r CROSS JOIN scaf s
)
SELECT CAST(i AS INT) AS day_index,
       round(CAST(ec AS DOUBLE) / 100.0, 2) AS residual_dollars,
       round(h, 9) AS leverage,
       round(CAST(ec AS DOUBLE) * ec * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)),
             9) AS cooks_d
FROM lev
ORDER BY cooks_d DESC, day_index ASC
LIMIT {_COOKS_TOPK}
"""
)


# --------------------------------------------------------------------------
# aic_bic_granger_compare
# --------------------------------------------------------------------------


def _q_aic_bic_granger_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = granger_lag_moments(spark, sf_dir)
    nd, ssr_r, beta, gamma, ssr_u = granger_lag_fit()
    # SSRs are in cents^2; IC differences are scale-invariant (the
    # n*ln(scale) terms cancel between models)
    ic = lambda ssr, k, pen: nd * F.log(ssr / nd) + pen * k  # noqa: E731
    aic_r, aic_u = ic(ssr_r, 2, F.lit(2.0)), ic(ssr_u, 3, F.lit(2.0))
    bic_r, bic_u = ic(ssr_r, 2, F.log(nd)), ic(ssr_u, 3, F.log(nd))
    return mom.select(
        F.col("n").alias("n_obs"),
        F.round(aic_r, 6).alias("aic_restricted"),
        F.round(aic_u, 6).alias("aic_unrestricted"),
        F.round(bic_r, 6).alias("bic_restricted"),
        F.round(bic_u, 6).alias("bic_unrestricted"),
        (aic_u < aic_r).alias("aic_prefers_lag_orders"),
        (bic_u < bic_r).alias("bic_prefers_lag_orders"),
    )


_SQL_AIC_BIC_GRANGER_COMPARE = SQL_GRANGER_LAG_MOMENTS + """, g AS (
  SELECT n, cyy - cay * cay / caa AS ssr_r,
         cyy - ((cay * cbb - cby * cab) / (caa * cbb - cab * cab)) * cay
             - ((caa * cby - cab * cay) / (caa * cbb - cab * cab)) * cby
           AS ssr_u
  FROM c
), ic AS (
  SELECT n,
         n * ln(ssr_r / n) + 2.0 * 2 AS aic_r,
         n * ln(ssr_u / n) + 2.0 * 3 AS aic_u,
         n * ln(ssr_r / n) + ln(CAST(n AS DOUBLE)) * 2 AS bic_r,
         n * ln(ssr_u / n) + ln(CAST(n AS DOUBLE)) * 3 AS bic_u
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(aic_r, 6) AS aic_restricted,
       round(aic_u, 6) AS aic_unrestricted,
       round(bic_r, 6) AS bic_restricted,
       round(bic_u, 6) AS bic_unrestricted,
       aic_u < aic_r AS aic_prefers_lag_orders,
       bic_u < bic_r AS bic_prefers_lag_orders
FROM ic
"""


# --------------------------------------------------------------------------
# negbin_fit_segments
# --------------------------------------------------------------------------


def _q_negbin_fit_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    daily = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.to_date("o_orderdate").alias("day"),
        )
        .groupBy("segment", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mom = daily.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")).alias(
            "s2"
        ),
    )
    nd = F.col("n_days").cast("double")
    m = F.col("s1").cast("double") / nd
    v = F.col("s2").cast("double") / nd - m * m  # population variance
    over = v > m
    return mom.select(
        "segment",
        F.col("n_days").alias("n_days"),
        F.round(m, 6).alias("mean_daily"),
        F.round(v, 6).alias("var_daily"),
        F.when(over, F.round(m * m / (v - m), 6)).alias("nb_r"),
        F.when(over, F.round(m / v, 6)).alias("nb_p"),
        (~over).alias("poisson_plausible"),
    ).orderBy("segment")


_SQL_NEGBIN_FIT_SEGMENTS = """
WITH daily AS (
  SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
         count(*) AS c
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), mom AS (
  SELECT segment, count(*) AS n_days, sum(c) AS s1,
         sum(CAST(c AS HUGEINT) * c) AS s2
  FROM daily GROUP BY 1
), g AS (
  SELECT segment, n_days,
         CAST(s1 AS DOUBLE) / n_days AS m,
         CAST(s2 AS DOUBLE) / n_days
           - (CAST(s1 AS DOUBLE) / n_days) * (CAST(s1 AS DOUBLE) / n_days)
           AS v
  FROM mom
)
SELECT segment, CAST(n_days AS BIGINT) AS n_days,
       round(m, 6) AS mean_daily,
       round(v, 6) AS var_daily,
       CASE WHEN v > m THEN round(m * m / (v - m), 6) END AS nb_r,
       CASE WHEN v > m THEN round(m / v, 6) END AS nb_p,
       NOT (v > m) AS poisson_plausible
FROM g
ORDER BY segment
"""


# --------------------------------------------------------------------------
# bootstrap_mean_ci_det
# --------------------------------------------------------------------------

_BOOT_B = 32


def _q_bootstrap_mean_ci_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(F.sum("yc").alias("yc"))
    )
    ranked = global_row_number(day, [F.asc("day")], out_col="rk", n_col="n")
    ks = spark.range(1, _BOOT_B + 1).select(F.col("id").alias("k"))
    # position i of resample k draws day index hash(i, k) mod n + 1 —
    # with replacement, engine-free
    draws = ranked.select("rk", "n").crossJoin(F.broadcast(ks)).select(
        "k",
        (
            (
                (F.col("rk") * F.lit(2654435761) + F.col("k") * F.lit(2246822519))
                % M31
            )
            % F.col("n")
            + 1
        ).alias("idx"),
    )
    vals = ranked.select(F.col("rk").alias("idx"), "yc")
    means = (
        draws.join(vals, "idx")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("yc").alias("s"),
        )
        .select(
            "k",
            F.round(
                F.col("s").cast("double") / F.col("m").cast("double") / 100.0, 6
            ).alias("mean_k"),
        )
    )
    full = ranked.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum("yc").cast("double") / F.count(F.lit(1)).cast("double") / 100.0,
            6,
        ).alias("full_mean"),
    )
    # order stats of the 32 resample means: 2nd smallest / 2nd largest
    # (~94% interval at B=32); 32-row frame, two conditional aggregates
    # over the two-phase rank — no global window
    mr = global_row_number(means, [F.asc("mean_k"), F.asc("k")], out_col="r")
    ci = mr.agg(
        F.max(F.when(F.col("r") == 2, F.col("mean_k"))).alias("boot_lo"),
        F.max(F.when(F.col("r") == _BOOT_B - 1, F.col("mean_k"))).alias(
            "boot_hi"
        ),
        F.count(F.lit(1)).alias("n_resamples"),
    )
    return full.crossJoin(F.broadcast(ci)).select(
        "n_days",
        "full_mean",
        F.col("n_resamples").cast("int").alias("n_resamples"),
        "boot_lo",
        "boot_hi",
        ((F.col("full_mean") >= F.col("boot_lo")) & (F.col("full_mean") <= F.col("boot_hi"))).alias(
            "full_mean_inside_ci"
        ),
    )


_SQL_BOOTSTRAP_MEAN_CI_DET = f"""
WITH day AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS yc
  FROM orders GROUP BY 1
), ranked AS (
  SELECT yc, row_number() OVER (ORDER BY day) AS rk,
         count(*) OVER () AS n
  FROM day
), draws AS (
  SELECT k.k,
         ((r.rk * 2654435761 + k.k * 2246822519) % {M31}) % r.n + 1 AS idx
  FROM ranked r
  CROSS JOIN (SELECT unnest(generate_series(1, {_BOOT_B})) AS k) k
), means AS (
  SELECT d.k,
         round(CAST(sum(v.yc) AS DOUBLE) / count(*) / 100.0, 6) AS mean_k
  FROM draws d JOIN ranked v ON v.rk = d.idx
  GROUP BY d.k
), mr AS (
  SELECT mean_k, row_number() OVER (ORDER BY mean_k, k) AS r FROM means
), ci AS (
  SELECT max(CASE WHEN r = 2 THEN mean_k END) AS boot_lo,
         max(CASE WHEN r = {_BOOT_B - 1} THEN mean_k END) AS boot_hi,
         count(*) AS n_resamples
  FROM mr
), full_f AS (
  SELECT count(*) AS n_days,
         round(CAST(sum(yc) AS DOUBLE) / count(*) / 100.0, 6) AS full_mean
  FROM day
)
SELECT CAST(n_days AS BIGINT) AS n_days, full_mean,
       CAST(n_resamples AS INT) AS n_resamples,
       boot_lo, boot_hi,
       full_mean >= boot_lo AND full_mean <= boot_hi AS full_mean_inside_ci
FROM full_f CROSS JOIN ci
"""


SPECS: dict[str, QuerySpec] = {
    "cooks_distance_daily": QuerySpec(
        _q_cooks_distance_daily,
        _SQL_COOKS_DISTANCE_DAILY,
        "Cook's distance of every day in the daily-revenue OLS "
        "(closed-form simple-regression leverage over the shared exact "
        "residual frame), top-10 influential days",
    ),
    "aic_bic_granger_compare": QuerySpec(
        _q_aic_bic_granger_compare,
        _SQL_AIC_BIC_GRANGER_COMPARE,
        "AIC/BIC comparison of the restricted vs unrestricted Granger "
        "models over the same exact moment algebra (information-"
        "criterion model selection)",
    ),
    "negbin_fit_segments": QuerySpec(
        _q_negbin_fit_segments,
        _SQL_NEGBIN_FIT_SEGMENTS,
        "method-of-moments negative-binomial fit of per-segment daily "
        "order counts (r, p), Poisson-plausible case NULL-guarded",
    ),
    "bootstrap_mean_ci_det": QuerySpec(
        _q_bootstrap_mean_ci_det,
        _SQL_BOOTSTRAP_MEAN_CI_DET,
        "deterministic 32-resample hash bootstrap CI of mean daily "
        "revenue (with-replacement draws, order-statistic interval, "
        "fully oracle-checkable)",
    ),
}
