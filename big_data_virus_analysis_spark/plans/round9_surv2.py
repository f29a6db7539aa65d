"""Round-9 competing-risks pack: the Aalen–Johansen cumulative
incidence estimator (Aalen & Johansen, Scand. J. Statist. 1978) —
the competing-risks generalization of Kaplan–Meier the catalog did
not yet cover (``km_signup_to_purchase`` treats purchase as the only
event; here purchase and error COMPETE for each user's first
post-signup outcome, and naive 1−KM per cause would overstate both).

* ``aalen_johansen_signup_outcomes`` — cohort: users with a signup;
  duration to their FIRST subsequent purchase or error (whichever
  comes first; ties broken purchase-first, documented), censored at
  their last observed day otherwise.  Per duration t:

      CIF_k(t) = Σ_{s ≤ t}  S(s−) · d_k(s) / n(s)

  with S(s−) the all-cause Kaplan–Meier survival just before s.  The
  cumulative log-survival and both CIF prefix sums run through the
  repo's two-phase ``global_prefix_sum`` (never a single-task global
  window — the plans/survival.py discipline); S(s−) is recovered
  algebraically as exp(cumlog − logterm) with the d = n absorbing
  row clamped (ln(max(1−d/n, 1e−300)) — identical expression both
  engines, and the clamp only fires where S is exactly 0).  The
  Aalen–Johansen identity S(t) + CIF₁(t) + CIF₂(t) = 1 is emitted as
  a per-row residual (×10⁶, rounded) — the estimator's own audit.

100-TB shape: one events scan → per-user aggregates → the bounded
duration frame (distinct day-gaps); everything after is prefix-sum
arithmetic on that frame.

Identity property (tests/test_properties.py): on random cohorts the
closed-form column recursion equals a pure-Python Aalen–Johansen in
exact fractions.Fraction, and S + ΣCIF = 1 holds exactly at every
event time (the float pipeline's residual is bounded by 1e-9).

No reference counterpart (survival extension alongside
plans/survival.py); public estimator only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import DAY_US


def _q_aalen_johansen_signup_outcomes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts")) / DAY_US).cast("long").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("day"))
        ).alias("s0"),
        F.max("day").alias("last_day"),
    )
    firsts = ev.where(
        F.col("event_type").isin("purchase", "error")
    ).groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("day"))).alias(
            "p0"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("day"))).alias(
            "e0"
        ),
    )
    joined = per_user.join(firsts, "user_id", "left").where(
        F.col("s0").isNotNull()
    )
    # first competing outcome at/after signup; purchase wins day ties
    p_ok = F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0"))
    e_ok = F.col("e0").isNotNull() & (F.col("e0") >= F.col("s0"))
    cause = (
        F.when(p_ok & (~e_ok | (F.col("p0") <= F.col("e0"))), F.lit(1))
        .when(e_ok, F.lit(2))
        .otherwise(F.lit(0))
    )
    tevent = (
        F.when(p_ok & (~e_ok | (F.col("p0") <= F.col("e0"))), F.col("p0"))
        .when(e_ok, F.col("e0"))
        .otherwise(F.col("last_day"))
    )
    cohort = joined.select(
        (tevent - F.col("s0")).alias("duration"), cause.alias("cause")
    )
    times = cohort.groupBy("duration").agg(
        F.sum((F.col("cause") == 1).cast("long")).alias("d1"),
        F.sum((F.col("cause") == 2).cast("long")).alias("d2"),
        F.count(F.lit(1)).alias("c"),
    )
    with_risk = global_prefix_sum(
        times,
        "duration",
        "c",
        "n_risk",
        order_exprs=[F.col("duration").desc()],
    )
    ev_rows = with_risk.where(F.col("d1") + F.col("d2") > 0).withColumn(
        "logterm",
        F.log(
            F.greatest(
                F.lit(1.0)
                - (F.col("d1") + F.col("d2")).cast("double")
                / F.col("n_risk").cast("double"),
                F.lit(1e-300),
            )
        ),
    )
    cum = global_prefix_sum(ev_rows, "duration", "logterm", "cumlog")
    terms = cum.select(
        "duration",
        "d1",
        "d2",
        "n_risk",
        F.exp(F.col("cumlog")).alias("surv"),
        (
            F.exp(F.col("cumlog") - F.col("logterm"))
            * F.col("d1").cast("double")
            / F.col("n_risk").cast("double")
        ).alias("t1"),
        (
            F.exp(F.col("cumlog") - F.col("logterm"))
            * F.col("d2").cast("double")
            / F.col("n_risk").cast("double")
        ).alias("t2"),
    )
    cif1 = global_prefix_sum(terms, "duration", "t1", "cif1")
    out = global_prefix_sum(cif1, "duration", "t2", "cif2")
    return out.select(
        "duration",
        "d1",
        "d2",
        "n_risk",
        F.round(F.col("surv"), 6).alias("surv"),
        F.round(F.col("cif1"), 6).alias("cif_purchase"),
        F.round(F.col("cif2"), 6).alias("cif_error"),
        (
            F.round(
                (F.col("surv") + F.col("cif1") + F.col("cif2") - F.lit(1.0))
                * 1e6,
                2,
            )
            + F.lit(0.0)  # -0.0 -> +0.0 (hash-serialization, see catalog)
        ).alias("identity_residual_micro"),
    ).orderBy("duration")


_SQL_AALEN_JOHANSEN = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events
), per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN day END) AS s0,
         max(day) AS last_day
  FROM ev GROUP BY user_id
), firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN day END) AS p0,
         min(CASE WHEN event_type = 'error' THEN day END) AS e0
  FROM ev WHERE event_type IN ('purchase', 'error') GROUP BY user_id
), cohort AS (
  SELECT CASE
           WHEN p0 IS NOT NULL AND p0 >= s0
                AND (e0 IS NULL OR e0 < s0 OR p0 <= e0) THEN p0 - s0
           WHEN e0 IS NOT NULL AND e0 >= s0 THEN e0 - s0
           ELSE last_day - s0
         END AS duration,
         CASE
           WHEN p0 IS NOT NULL AND p0 >= s0
                AND (e0 IS NULL OR e0 < s0 OR p0 <= e0) THEN 1
           WHEN e0 IS NOT NULL AND e0 >= s0 THEN 2
           ELSE 0
         END AS cause
  FROM per_user LEFT JOIN firsts USING (user_id)
  WHERE s0 IS NOT NULL
), times AS (
  SELECT duration,
         sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d1,
         sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d2,
         count(*) AS c
  FROM cohort GROUP BY duration
), with_risk AS (
  SELECT duration, d1, d2, c,
         sum(c) OVER (ORDER BY duration DESC
                      ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM times
), ev_rows AS (
  SELECT duration, d1, d2, n_risk,
         ln(greatest(1.0 - CAST(d1 + d2 AS DOUBLE)
                           / CAST(n_risk AS DOUBLE), 1e-300)) AS logterm
  FROM with_risk WHERE d1 + d2 > 0
), cum AS (
  SELECT duration, d1, d2, n_risk, logterm,
         sum(logterm) OVER (ORDER BY duration
                            ROWS UNBOUNDED PRECEDING) AS cumlog
  FROM ev_rows
), terms AS (
  SELECT duration, d1, d2, n_risk,
         exp(cumlog) AS surv,
         exp(cumlog - logterm) * CAST(d1 AS DOUBLE)
           / CAST(n_risk AS DOUBLE) AS t1,
         exp(cumlog - logterm) * CAST(d2 AS DOUBLE)
           / CAST(n_risk AS DOUBLE) AS t2
  FROM cum
)
SELECT duration, CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
       CAST(n_risk AS BIGINT) AS n_risk,
       round(surv, 6) AS surv,
       round(sum(t1) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING), 6)
         AS cif_purchase,
       round(sum(t2) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING), 6)
         AS cif_error,
       round((surv
              + sum(t1) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)
              + sum(t2) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)
              - 1.0) * 1e6, 2) + 0.0 AS identity_residual_micro
FROM terms
ORDER BY duration
"""


SPECS: dict[str, QuerySpec] = {
    "aalen_johansen_signup_outcomes": QuerySpec(
        _q_aalen_johansen_signup_outcomes,
        _SQL_AALEN_JOHANSEN,
        "Aalen-Johansen cumulative incidence of first purchase vs "
        "first error after signup (competing risks): all-cause KM "
        "survival, per-cause CIFs via two-phase prefix sums, and the "
        "S + CIF1 + CIF2 = 1 identity residual emitted per row",
    ),
}
