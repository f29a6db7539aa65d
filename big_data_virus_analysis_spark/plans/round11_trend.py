"""Round-11 robust-trend pack: Mann-Kendall trend test and Theil-Sen
slope over the daily revenue series — the two standard nonparametric
answers to "is this metric drifting?", exact where exactness is
possible.

* ``mann_kendall_daily_trend`` — the Mann-Kendall S statistic
  S = Σ_{i<j} sgn(y_j − y_i) over the calendar-ordered daily totals,
  as EXACT integers: S, the pair count, the tie-corrected variance
  numerator n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the classical Var(S) is
  that over 18 — emitted unscaled so it stays integer), the
  continuity-corrected z = (S − sgn(S)) / sqrt(var) as the only
  double, the trend sign, and the |z| > 1.96 significance flag.
* ``theil_sen_slope_daily`` — the Theil-Sen estimator: the median of
  all pairwise slopes (y_j − y_i)/(x_j − x_i) in micro-cents/day
  (integer micro-units; lower AND upper order-statistic medians
  emitted so the even-count convention is explicit), the matching
  median intercept in micro-cents, and the OLS slope beside it — the
  robust-vs-least-squares gap IS the outlier story.  Both slope
  medians are order statistics picked from ONE sorted-array aggregate
  over the CALENDAR-BOUNDED pair frame (map-side partial lists, one
  JVM sort) — no single-partition window ever sees unbounded data.

100-TB shape: the day frame is CALENDAR-BOUNDED (~2.4k rows at every
SF — the corpus-sized work is the one groupBy building it), so the
pair self-join is a bounded ~3M-row product independent of corpus
size; both sides broadcast.  All aggregates are hash aggs; the only
window sits in the ORACLE (clarity over speed) — on the Spark side
both medians (slope and intercept) are sorted-array aggregates over
frames bounded by the calendar, not the corpus.

Identity properties (tests/test_properties.py): S, the tie-corrected
variance, and both Theil-Sen medians equal a pure-Python reference on
random series (ties planted); S is antisymmetric under series
reversal; the Theil-Sen slope of an exact linear series equals its
slope with zero spread.

No reference counterpart (statistics extension alongside
plans/round7_ts.py); public algorithms only (Mann 1945, Kendall 1975,
Theil 1950, Sen 1968).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from .catalog import QuerySpec
from .fragments import daily_revenue_points


def _pairs(days: DataFrame) -> DataFrame:
    # r11 optimization (guide §2.5/§2.6): the day frame arrives in one
    # tiny post-agg partition, so without the explicit repartition the
    # broadcast nested-loop pair generation — and everything fused into
    # its stage — ran as ONE task (~2.9M output rows built and
    # hash-agged single-threaded, GC-bound).  Spreading the streamed
    # side over the default parallelism makes pair generation and the
    # map-side partials parallel; 2.4k rows shuffled, nothing else.
    spark = days.sparkSession
    a = days.repartition(
        spark.sparkContext.defaultParallelism
    ).select(F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = days.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    return a.join(F.broadcast(b), F.col("xi") < F.col("xj"))


def _q_mann_kendall_daily_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    days = tracked_cache(daily_revenue_points(spark, sf_dir))
    s_agg = _pairs(days).agg(
        F.sum(
            F.when(F.col("yj") > F.col("yi"), 1)
            .when(F.col("yj") < F.col("yi"), -1)
            .otherwise(0)
        ).alias("s"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    n_agg = days.agg(F.count(F.lit(1)).alias("n_days"))
    tie_agg = (
        days.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0).cast("bigint"),
            ).alias("tie_term")
        )
    )
    return (
        s_agg.crossJoin(F.broadcast(n_agg))
        .crossJoin(F.broadcast(tie_agg))
        .select(
            "n_days",
            "n_pairs",
            F.col("s").cast("bigint").alias("s"),
            # classical Var(S) = var_num / 18, kept integer
            (
                F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            ).alias("var_num"),
            F.col("tie_term").cast("bigint").alias("tie_term"),
        )
        .select(
            "n_days",
            "n_pairs",
            "s",
            "var_num",
            "tie_term",
            F.round(
                (
                    F.col("s")
                    - F.when(F.col("s") > 0, 1)
                    .when(F.col("s") < 0, -1)
                    .otherwise(0)
                ).cast("double")
                / F.sqrt(F.col("var_num").cast("double") / 18.0),
                6,
            ).alias("z"),
            F.when(F.col("s") > 0, 1)
            .when(F.col("s") < 0, -1)
            .otherwise(0)
            .cast("int")
            .alias("trend_sign"),
            (
                F.abs(
                    (
                        F.col("s")
                        - F.when(F.col("s") > 0, 1)
                        .when(F.col("s") < 0, -1)
                        .otherwise(0)
                    ).cast("double")
                    / F.sqrt(F.col("var_num").cast("double") / 18.0)
                )
                > 1.96
            ).alias("significant_95"),
        )
    )


def _q_theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = tracked_cache(daily_revenue_points(spark, sf_dir))
    # r11 optimization (guide §2.3/§1.2): the old shape ranked the
    # FULL ~n²/2 pair-slope frame with global_row_number (eager
    # localCheckpoint of 2.9M rows + driver collect) and then scanned
    # that checkpoint twice more for the lower/upper medians, plus a
    # SECOND two-phase rank over the residual frame — ~9 jobs, 8.2s at
    # sf0.1.  An intermediate rewrite hash-agged to distinct slopes +
    # prefix sum (3.3s), but the slopes are near-unique (2.89M distinct
    # of 2.89M at sf0.1), so the groupBy + range shuffle + driver
    # offsets reduced nothing.  The pair frame is CALENDAR-BOUNDED
    # (~3M rows at EVERY corpus scale — the docstring's standing
    # argument, the same one the intercept median below already uses),
    # so both slope medians are ONE sorted-array aggregate: map-side
    # partial collect_lists merge into a single ≤3M-element bounded
    # array, sorted once in the JVM; element_at picks both order
    # statistics.  Bit-identical by the definition of an order
    # statistic.
    slopes = _pairs(days).select(
        F.expr(
            "CAST(round((yj - yi) * 1000000.0 / (xj - xi), 0) AS BIGINT)"
        ).alias("sm")
    )
    lo = (
        slopes.agg(
            F.sort_array(F.collect_list("sm")).alias("arr"),
            F.count(F.lit(1)).alias("m"),
        )
        .select(
            F.element_at(
                "arr", F.expr("CAST((m + 1) div 2 AS INT)")
            ).alias("slope_micro_lower"),
            F.element_at(
                "arr", F.expr("CAST(m div 2 + 1 AS INT)")
            ).alias("slope_micro_upper"),
            F.col("m").alias("n_pairs"),
        )
    )
    # intercept: median over the DAY frame of y*1e6 - slope_lower*x.
    # The day frame is CALENDAR-BOUNDED (~2.4k rows at every SF), so
    # the exact median is one sorted-array aggregate — no second
    # two-phase rank, no checkpoint (guide §1.2: remove whole passes).
    icept = (
        days.crossJoin(F.broadcast(lo.select("slope_micro_lower")))
        .select(
            (
                F.col("y") * F.lit(1_000_000)
                - F.col("slope_micro_lower") * F.col("x")
            ).alias("im")
        )
        .agg(
            F.sort_array(F.collect_list("im")).alias("arr"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            F.element_at(
                "arr", F.expr("CAST((n_days + 1) div 2 AS INT)")
            ).alias("intercept_micro"),
            "n_days",
        )
    )
    # OLS slope beside the robust one (exact sums, one double division)
    ols = days.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).select(
        # n*sxy and sx*sy can exceed int64 at large SF (Spark wraps
        # SILENTLY with ANSI off) — promote each factor to double FIRST;
        # the oracle does the same, so any precision loss is identical
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            * 1_000_000.0
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            ),
            0,
        )
        .cast("bigint")
        .alias("ols_slope_micro")
    )
    return (
        lo.crossJoin(F.broadcast(icept))
        .crossJoin(F.broadcast(ols))
        .select(
            "n_days",
            "n_pairs",
            "slope_micro_lower",
            "slope_micro_upper",
            "intercept_micro",
            "ols_slope_micro",
            (F.col("ols_slope_micro") - F.col("slope_micro_lower")).alias(
                "ols_minus_robust_micro"
            ),
        )
    )


_SQL_DAILY = """
WITH days AS MATERIALIZED (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), pairs AS MATERIALIZED (
  SELECT a.x AS xi, a.y AS yi, b.x AS xj, b.y AS yj
  FROM days a JOIN days b ON a.x < b.x
)
"""

_SQL_MANN_KENDALL = _SQL_DAILY + """
, s_agg AS (
  SELECT CAST(sum(CASE WHEN yj > yi THEN 1
                       WHEN yj < yi THEN -1 ELSE 0 END) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs
), n_agg AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM days),
ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT count(*) AS t FROM days GROUP BY y HAVING count(*) > 1)
), base AS (
  SELECT n_days, n_pairs, s,
         CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
              AS BIGINT) AS var_num,
         tie_term
  FROM s_agg CROSS JOIN n_agg CROSS JOIN ties
)
SELECT n_days, n_pairs, s, var_num, tie_term,
       round(CAST(s - sign(s) AS DOUBLE)
             / sqrt(CAST(var_num AS DOUBLE) / 18.0), 6) AS z,
       CAST(sign(s) AS INT) AS trend_sign,
       abs(CAST(s - sign(s) AS DOUBLE)
           / sqrt(CAST(var_num AS DOUBLE) / 18.0)) > 1.96
         AS significant_95
FROM base
"""

_SQL_THEIL_SEN = _SQL_DAILY + """
, slopes AS MATERIALIZED (
  SELECT CAST(round((yj - yi) * 1000000.0 / (xj - xi), 0) AS BIGINT) AS sm
  FROM pairs
), ranked AS (
  SELECT sm, row_number() OVER (ORDER BY sm) AS rn,
         count(*) OVER () AS m
  FROM slopes
), lo AS (
  SELECT sm AS slope_micro_lower, m AS n_pairs
  FROM ranked WHERE rn = (m + 1) // 2
), hi AS (
  SELECT sm AS slope_micro_upper FROM ranked WHERE rn = m // 2 + 1
), resid AS (
  SELECT d.y * 1000000 - l.slope_micro_lower * d.x AS im
  FROM days d CROSS JOIN lo l
), r_ranked AS (
  SELECT im, row_number() OVER (ORDER BY im) AS rn,
         count(*) OVER () AS n
  FROM resid
), icept AS (
  SELECT CAST(im AS BIGINT) AS intercept_micro, n AS n_days
  FROM r_ranked WHERE rn = (n + 1) // 2
), ols AS (
  -- factors promoted to DOUBLE before multiplying (int64 would
  -- overflow at large SF; Spark wraps silently, so both engines use
  -- the identical double path)
  SELECT CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * 1000000.0
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 0)
         AS BIGINT) AS ols_slope_micro
  FROM (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM days)
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       slope_micro_lower, slope_micro_upper, intercept_micro,
       ols_slope_micro,
       ols_slope_micro - slope_micro_lower AS ols_minus_robust_micro
FROM lo CROSS JOIN hi CROSS JOIN icept CROSS JOIN ols
"""


SPECS: dict[str, QuerySpec] = {
    "mann_kendall_daily_trend": QuerySpec(
        _q_mann_kendall_daily_trend,
        _SQL_MANN_KENDALL,
        "Mann-Kendall trend test on daily revenue: exact integer S, "
        "pair count, tie-corrected variance numerator (x18), "
        "continuity-corrected z, trend sign, 95% significance flag",
    ),
    "theil_sen_slope_daily": QuerySpec(
        _q_theil_sen_slope_daily,
        _SQL_THEIL_SEN,
        "Theil-Sen robust slope of daily revenue (micro-cents/day, "
        "lower+upper medians via the two-phase global rank, no global "
        "window), median intercept, OLS slope and the robust-vs-OLS gap",
    ),
}
