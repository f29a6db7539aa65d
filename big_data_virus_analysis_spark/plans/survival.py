"""Survival-analysis pack: Kaplan–Meier time-to-event estimation.

Time from each user's first signup to their first subsequent purchase,
right-censored at the user's last observed event when no purchase
follows — the canonical incomplete-observation estimator (retention,
time-to-convert, hardware-failure curves all take this shape).

KM estimate at event time t: S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with dᵢ
events and nᵢ at-risk at tᵢ.  The product is computed as
exp(Σ ln(1 − dᵢ/nᵢ)) — a running-sum window over the (tiny) distinct-
event-time frame, so the heavy work is just two aggregations over the
event log.  Both engines evaluate the identical ln/exp pipeline on
identical rationals, rounded to 6.

Scale shape: per-user first-signup/first-purchase come from one
struct-min aggregation pass (user_id shuffle); the KM frame is
|distinct durations| rows; at-risk counts are a descending cumulative
sum over that frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from .catalog import QuerySpec
from .fragments import (
    SQL_COHORT_TIMES,
    SQL_SIGNUP_PURCHASE_USERS,
    signup_purchase_risk_set,
)


def _q_km_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_risk = signup_purchase_risk_set(spark, sf_dir)
    events_only = with_risk.where(F.col("d") > 0).withColumn(
        "logterm", F.log(1.0 - F.col("d") / F.col("n_risk").cast("double"))
    )
    return (
        global_prefix_sum(events_only, "duration", "logterm", "cumlog")
        .withColumn("surv", F.round(F.exp(F.col("cumlog")), 6))
        .select("duration", "d", "n_risk", "surv")
        .orderBy("duration")
    )


_SQL_KM_SIGNUP_TO_PURCHASE = f"""
{SQL_SIGNUP_PURCHASE_USERS}, cohort AS (
  SELECT p.user_id,
         {SQL_COHORT_TIMES}, with_risk AS (
  SELECT duration, d, c,
         sum(c) OVER (ORDER BY duration DESC ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM times
)
SELECT duration, CAST(d AS BIGINT) AS d, CAST(n_risk AS BIGINT) AS n_risk,
       round(exp(sum(ln(1.0 - d / CAST(n_risk AS DOUBLE)))
                 OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 6) AS surv
FROM with_risk
WHERE d > 0
ORDER BY duration
"""


SPECS: dict[str, QuerySpec] = {
    "km_signup_to_purchase": QuerySpec(
        _q_km_signup_to_purchase,
        _SQL_KM_SIGNUP_TO_PURCHASE,
        "Kaplan–Meier survival curve with right-censoring (exp-sum-log product)",
    ),
}
