"""Round-7 Granger-causality test — does yesterday's order COUNT help
predict today's revenue beyond yesterday's revenue?

``granger_causality_daily`` — the 1-lag Granger test (Granger 1969):

* restricted model:    y_t = α + β·y_{t−1}
* unrestricted model:  y_t = α + β·y_{t−1} + γ·x_{t−1}
* F = (SSR_r − SSR_u) / (SSR_u / (n − 3)), rejecting at the
  F(1, n−3) ≈ 3.84 large-sample critical value.

with y = daily revenue (cents) and x = daily order count.  The
unrestricted two-regressor fit solves the CENTERED 2×2 normal
equations by Cramer's rule (the ``ridge_closed_form_by_flag``
precedent) over exact integer moments; both SSRs are algebraic in
those same moments, so the whole test is a fixed closed form over one
moment aggregate — no iteration, no matrix library.

Adjacency via the two-phase ``global_row_number`` rank self-join over
the calendar-bounded day frame (same shape as ``durbin_watson_daily``
/ ``dickey_fuller_daily``); completes the temporal-dependence family
(ACF → Ljung–Box → DW → DF → Granger).

100 TB shape: fact scan collapses to the day frame; one rank pass, one
self-join at lag 1, one 9-moment aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import QuerySpec
from .fragments import SQL_GRANGER_LAG_MOMENTS, granger_lag_fit, granger_lag_moments


def _q_granger_causality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    mom = granger_lag_moments(spark, sf_dir)
    nd, ssr_r, beta, gamma, ssr_u = granger_lag_fit()
    f_stat = (ssr_r - ssr_u) / (ssr_u / (nd - 3.0))
    return mom.select(
        F.col("n").alias("n_obs"),
        F.round(beta, 6).alias("beta_lag_revenue"),
        F.round(gamma / 100.0, 6).alias("gamma_lag_orders_dollars"),
        F.round(f_stat, 6).alias("granger_f"),
        (f_stat > 3.84).alias("x_granger_causes_y_5pct"),
    )


_SQL_GRANGER_CAUSALITY_DAILY = SQL_GRANGER_LAG_MOMENTS + """, g AS (
  SELECT n, caa, cbb, cab, cay, cby, cyy,
         cyy - cay * cay / caa AS ssr_r,
         (cay * cbb - cby * cab) / (caa * cbb - cab * cab) AS beta,
         (caa * cby - cab * cay) / (caa * cbb - cab * cab) AS gamma
  FROM c
), h AS (
  SELECT n, beta, gamma, ssr_r,
         cyy - beta * cay - gamma * cby AS ssr_u
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(beta, 6) AS beta_lag_revenue,
       round(gamma / 100.0, 6) AS gamma_lag_orders_dollars,
       round((ssr_r - ssr_u) / (ssr_u / (n - 3.0)), 6) AS granger_f,
       (ssr_r - ssr_u) / (ssr_u / (n - 3.0)) > 3.84
         AS x_granger_causes_y_5pct
FROM h
"""


SPECS: dict[str, QuerySpec] = {
    "granger_causality_daily": QuerySpec(
        _q_granger_causality_daily,
        _SQL_GRANGER_CAUSALITY_DAILY,
        "1-lag Granger causality (order count -> revenue): restricted "
        "vs unrestricted SSR F-test, Cramer closed form over exact "
        "moments",
    ),
}
