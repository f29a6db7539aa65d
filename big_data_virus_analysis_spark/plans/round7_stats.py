"""Round-7 stats pack — classical inference the catalog still lacked:
unequal-variance testing, regression diagnostics, multiple-testing
control, and a deterministic randomization test.

* ``welch_t_segments`` — Welch's unequal-variance t between the
  AUTOMOBILE and HOUSEHOLD segments on order value, with the
  Welch–Satterthwaite df.  The two-sample companion to
  ``brown_forsythe_f`` (which tests the variances themselves).
* ``durbin_watson_daily`` — Durbin–Watson first-order autocorrelation
  statistic of the residuals from the OLS fit of daily revenue on day
  index.  The residual-whiteness companion to ``ljung_box_daily``
  (which tests the raw series).
* ``breusch_pagan_daily`` — Breusch–Pagan LM heteroscedasticity test:
  n·R² of squared residuals regressed on the day index.
* ``bh_fdr_segments`` — per-segment one-sample proportion z-tests
  (urgent-order share vs the global share) with Benjamini–Hochberg
  step-up control at α=0.10.  The p-value uses the logistic
  approximation of the normal CDF, p ≈ 2/(1+exp(1.702·|z|)) — an
  APPROXIMATION of Φ, but the SAME closed form in both engines, so
  the oracle pins it exactly; BH only consumes the p-ranking, which
  the approximation preserves (it is monotone in |z|).
* ``permutation_test_det`` — deterministic randomization test for the
  AUTOMOBILE-vs-HOUSEHOLD mean difference: 64 DISTINCT hash-derived
  re-labelings of the pooled orders (hash-balanced ~50/50 allocation
  via bit 16 of an additive odd-multiplier hash of (order key,
  permutation index) — engine-RNG-free, so the full null distribution
  is oracle-checkable; the low bit would be degenerate, see
  _q_permutation_test_det), p = (1 + #{k : stat_k ≥ stat_obs}) / 65.

Determinism contract (the repo-wide rule): every data-dependent sum is
an exact integer/decimal aggregate (order values in cents, residuals
quantized); doubles appear only in final closed-form combinations of
those exact aggregates, which are bit-identical cross-engine; round 6
at the output edge.

100 TB shape: welch/bh/permutation are hash aggregates over (segment)
/ (segment) / (perm × arm) keys — partial aggregation does the work
map-side; the two regression diagnostics run on the CALENDAR-BOUNDED
day frame (~2.4k rows after the fact scan collapses), with the lag
adjacency via ``global_row_number`` + rank self-join, not a global
window.

No reference counterpart (the reference has no stats tests);
engine-infrastructure extension alongside plans/round6_stats4.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import (
    M31,
    SQL_RESIDUAL_DAY_FRAME,
    residual_day_frame,
    segment_urgent_counts,
    welch_arm_stats,
)

_SEG_A = "AUTOMOBILE"
_SEG_B = "HOUSEHOLD"


def _seg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, yc) order values in exact cents for the two test
    segments — one broadcast dim join, values integer from here on."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .where(F.col("c_mktsegment").isin(_SEG_A, _SEG_B))
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("yc"),
        )
    )


_SQL_SEG_ORDERS = f"""
  SELECT o.o_orderkey, c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('{_SEG_A}', '{_SEG_B}')
"""


# --------------------------------------------------------------------------
# welch_t_segments
# --------------------------------------------------------------------------


def _q_welch_t_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _seg_orders(spark, sf_dir)
    # exact per-segment moments: S in cents, Q in cents² (decimal(19,0)
    # squares keep the product representable at 38 digits — BIGINT
    # would overflow Q at sf0.1)
    stats = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yc").alias("s"),
        F.sum(
            F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
        ).alias("q"),
    )
    wide = stats.groupBy().agg(
        F.sum(F.when(F.col("segment") == _SEG_A, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("segment") == _SEG_A, F.col("s"))).alias("s1"),
        F.sum(F.when(F.col("segment") == _SEG_A, F.col("q"))).alias("q1"),
        F.sum(F.when(F.col("segment") == _SEG_B, F.col("n"))).alias("n2"),
        F.sum(F.when(F.col("segment") == _SEG_B, F.col("s"))).alias("s2"),
        F.sum(F.when(F.col("segment") == _SEG_B, F.col("q"))).alias("q2"),
    )
    # closed-form Welch from the exact moments (dollars)
    n1, n2, m1, m2, v1, v2 = welch_arm_stats()
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1.0) + (v2 / n2) * (v2 / n2) / (n2 - 1.0)
    )
    return wide.select(
        F.col("n1").cast("bigint").alias("n_auto"),
        F.col("n2").cast("bigint").alias("n_house"),
        F.round(m1 - m2, 6).alias("mean_diff"),
        F.round(t, 6).alias("welch_t"),
        F.round(df, 6).alias("welch_df"),
    )


_SQL_WELCH_T_SEGMENTS = f"""
WITH base AS ({_SQL_SEG_ORDERS}),
stats AS (
  SELECT segment, count(*) AS n, sum(yc) AS s,
         sum(CAST(yc AS HUGEINT) * yc) AS q
  FROM base GROUP BY segment
), wide AS (
  SELECT sum(CASE WHEN segment = '{_SEG_A}' THEN n END) AS n1,
         sum(CASE WHEN segment = '{_SEG_A}' THEN s END) AS s1,
         sum(CASE WHEN segment = '{_SEG_A}' THEN q END) AS q1,
         sum(CASE WHEN segment = '{_SEG_B}' THEN n END) AS n2,
         sum(CASE WHEN segment = '{_SEG_B}' THEN s END) AS s2,
         sum(CASE WHEN segment = '{_SEG_B}' THEN q END) AS q2
  FROM stats
), f AS (
  SELECT CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
         CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d,
         n1, n2
  FROM wide
), g AS (
  SELECT n1, n2,
         s1d / (100.0 * n1d) AS m1, s2d / (100.0 * n2d) AS m2,
         (q1d - s1d * s1d / n1d) / ((n1d - 1.0) * 10000.0) AS v1,
         (q2d - s2d * s2d / n2d) / ((n2d - 1.0) * 10000.0) AS v2,
         n1d, n2d
  FROM f
)
SELECT CAST(n1 AS BIGINT) AS n_auto, CAST(n2 AS BIGINT) AS n_house,
       round(m1 - m2, 6) AS mean_diff,
       round((m1 - m2) / sqrt(v1 / n1d + v2 / n2d), 6) AS welch_t,
       round(((v1 / n1d + v2 / n2d) * (v1 / n1d + v2 / n2d))
             / ((v1 / n1d) * (v1 / n1d) / (n1d - 1.0)
                + (v2 / n2d) * (v2 / n2d) / (n2d - 1.0)), 6) AS welch_df
FROM g
"""


# --------------------------------------------------------------------------
# durbin_watson_daily / breusch_pagan_daily (shared residual frame)
# --------------------------------------------------------------------------


def _q_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    resid = residual_day_frame(spark, sf_dir)
    ranked = global_row_number(resid, [F.asc("i")], out_col="rk")
    cur = ranked.select("rk", F.col("ec").alias("e1"))
    prv = ranked.select((F.col("rk") + 1).alias("rk"), F.col("ec").alias("e0"))
    diffs = cur.join(prv, "rk")
    num = diffs.agg(
        F.sum(
            (F.col("e1") - F.col("e0")).cast("decimal(19,0)")
            * (F.col("e1") - F.col("e0")).cast("decimal(19,0)")
        ).alias("num")
    )
    den = ranked.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            F.col("ec").cast("decimal(19,0)") * F.col("ec").cast("decimal(19,0)")
        ).alias("den"),
    )
    return den.crossJoin(F.broadcast(num)).select(
        "n_days",
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
            "durbin_watson"
        ),
    )


_SQL_DURBIN_WATSON_DAILY = (
    SQL_RESIDUAL_DAY_FRAME
    + """
, ranked AS (
  SELECT ec, row_number() OVER (ORDER BY i) AS rk FROM resid
), diffs AS (
  SELECT a.ec - b.ec AS d
  FROM ranked a JOIN ranked b ON a.rk = b.rk + 1
), num AS (
  SELECT sum(CAST(d AS HUGEINT) * d) AS num FROM diffs
), den AS (
  SELECT count(*) AS n_days, sum(CAST(ec AS HUGEINT) * ec) AS den FROM ranked
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS durbin_watson
FROM den CROSS JOIN num
"""
)


def _q_breusch_pagan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    resid = residual_day_frame(spark, sf_dir)
    # Residuals are quantized from cents to $10-units (ecq =
    # round(ec/1000)) BEFORE squaring twice: syy sums ecq^4 terms, so
    # the headroom bound is n * max|ecq|^4 — at sf0.1 (|ec| ~ 1e8
    # cents => |ecq| ~ 1e5) that is ~2.4e3 * 1e20 = 2.4e23, and even
    # at 1000x daily revenue (~1e8 units^4 -> 1e32 * n) it stays under
    # decimal(38,0)/HUGEINT, where raw cents^4 would silently null
    # (Spark non-ANSI) / raise (DuckDB) at ~10x.  The division runs in
    # IEEE double with floor(x+0.5) half-up — bit-identical across
    # engines.  y = ecq² exact; R² of y on i from exact moments; the
    # final combination runs in double.
    staged = resid.select(
        "i",
        F.floor(F.col("ec") / F.lit(1000.0) + 0.5).cast("bigint").alias("ecq"),
    ).select(
        "i",
        (
            F.col("ecq").cast("decimal(19,0)") * F.col("ecq").cast("decimal(19,0)")
        ).alias("y"),
    )
    mom = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").alias("sx"),
        F.sum(F.col("i") * F.col("i")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    r2 = (num * num) / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(nd * r2, 6).alias("bp_lm"),
    )


_SQL_BREUSCH_PAGAN_DAILY = (
    SQL_RESIDUAL_DAY_FRAME
    + """
, stagedq AS (
  SELECT i, CAST(floor(ec / 1000.0 + 0.5) AS BIGINT) AS ecq FROM resid
), staged AS (
  SELECT i, CAST(ecq AS HUGEINT) * ecq AS y FROM stagedq
), mom2 AS (
  SELECT count(*) AS n, sum(i) AS sx, sum(i * i) AS sxx, sum(y) AS sy,
         sum(CAST(i AS HUGEINT) * y) AS sxy, sum(y * y) AS syy
  FROM staged
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2_aux,
       round(CAST(n AS DOUBLE)
             * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS bp_lm
FROM mom2
"""
)


# --------------------------------------------------------------------------
# bh_fdr_segments
# --------------------------------------------------------------------------

_BH_ALPHA = 0.10


def _q_bh_fdr_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg, tot = segment_urgent_counts(spark, sf_dir)
    z_expr = (
        F.col("nu").cast("double") / F.col("n").cast("double")
        - F.col("p0")
    ) / F.sqrt(F.col("p0") * (1.0 - F.col("p0")) / F.col("n").cast("double"))
    scored = (
        seg.crossJoin(F.broadcast(tot))
        .withColumn(
            "p0", F.col("utot").cast("double") / F.col("ntot").cast("double")
        )
        .withColumn("z", F.round(z_expr, 6))
        .withColumn(
            "p_approx",
            F.round(2.0 / (1.0 + F.exp(1.702 * F.abs(F.col("z")))), 6),
        )
    )
    # the frame is |segments| = 5 rows — the unpartitioned windows
    # below sort/scan a constant-size frame (allowlisted in the lint)
    w = Window.orderBy(F.asc("p_approx"), F.asc("segment"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).withColumn(
        "qualifies",
        F.col("p_approx")
        <= F.col("rank").cast("double") * _BH_ALPHA / F.col("m").cast("double"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = ranked.withColumn(
        "maxk",
        F.coalesce(
            F.max(F.when(F.col("qualifies"), F.col("rank"))).over(wall), F.lit(0)
        ),
    )
    return stepped.select(
        "segment",
        "n",
        F.round(F.col("nu").cast("double") / F.col("n").cast("double"), 6).alias(
            "urgent_share"
        ),
        "z",
        "p_approx",
        F.col("rank").cast("int").alias("p_rank"),
        (F.col("rank") <= F.col("maxk")).alias("bh_significant"),
    ).orderBy("p_rank")


_SQL_BH_FDR_SEGMENTS = f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), seg AS (
  SELECT segment, count(*) AS n, sum(u) AS nu FROM base GROUP BY segment
), tot AS (
  SELECT sum(n) AS ntot, sum(nu) AS utot, count(*) AS m FROM seg
), scored AS (
  SELECT segment, n, nu,
         round((CAST(nu AS DOUBLE) / n - CAST(utot AS DOUBLE) / ntot)
               / sqrt((CAST(utot AS DOUBLE) / ntot)
                      * (1.0 - CAST(utot AS DOUBLE) / ntot) / n), 6) AS z,
         m
  FROM seg CROSS JOIN tot
), withp AS (
  SELECT segment, n, nu, z, m,
         round(2.0 / (1.0 + exp(1.702 * abs(z))), 6) AS p_approx
  FROM scored
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY p_approx ASC, segment ASC) AS rank
  FROM withp
), stepped AS (
  SELECT *,
         coalesce(max(CASE WHEN p_approx <= rank * {_BH_ALPHA} / m
                           THEN rank END) OVER (), 0) AS maxk
  FROM ranked
)
SELECT segment, CAST(n AS BIGINT) AS n,
       round(CAST(nu AS DOUBLE) / n, 6) AS urgent_share,
       z, p_approx, CAST(rank AS INT) AS p_rank,
       rank <= maxk AS bh_significant
FROM stepped
ORDER BY p_rank
"""


# --------------------------------------------------------------------------
# permutation_test_det
# --------------------------------------------------------------------------

_N_PERMS = 64


def _q_permutation_test_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _seg_orders(spark, sf_dir)
    obs = base.groupBy().agg(
        F.sum(F.when(F.col("segment") == _SEG_A, F.col("yc"))).alias("sa"),
        F.sum(F.when(F.col("segment") == _SEG_A, F.lit(1))).alias("na"),
        F.sum(F.when(F.col("segment") == _SEG_B, F.col("yc"))).alias("sb"),
        F.sum(F.when(F.col("segment") == _SEG_B, F.lit(1))).alias("nb"),
    )
    stat = lambda sa, na, sb, nb: F.round(  # noqa: E731
        F.abs(
            sa.cast("double") / (100.0 * na.cast("double"))
            - sb.cast("double") / (100.0 * nb.cast("double"))
        ),
        6,
    )
    obs1 = obs.select(stat(F.col("sa"), F.col("na"), F.col("sb"), F.col("nb")).alias("stat_obs"))
    perms = spark.range(1, _N_PERMS + 1).select(F.col("id").alias("k"))
    # hash re-labeling: order o goes to arm A in permutation k iff BIT 16
    # of h(o, k) = (o*2654435761 + k*2246822519) mod 2^31 is clear.  The
    # LOW bit of any additive odd-multiplier hash is degenerate (it
    # equals (o + k) mod 2 — every even-k labeling identical, odd-k its
    # complement), and xor-mixing is equally degenerate under a single-
    # bit extract (no carry propagation: bit16(a^c)=bit16(a)^bit16(c)).
    # Additive mixing DOES carry-propagate into bit 16, giving 64
    # distinct ~50/50 labelings (test_permutation_labelings_distinct).
    # Allocation is hash-balanced, not exactly equal-n.  Products stay
    # < 2^63 on both engines (no wraparound either side).
    h = (F.col("o_orderkey") * F.lit(2654435761) + F.col("k") * F.lit(2246822519)) % M31
    permed = base.crossJoin(F.broadcast(perms)).select(
        "k", "yc", (h.bitwiseAND(F.lit(65536)) == 0).alias("to_a")
    )
    per_k = permed.groupBy("k").agg(
        F.sum(F.when(F.col("to_a"), F.col("yc"))).alias("sa"),
        F.sum(F.when(F.col("to_a"), F.lit(1))).alias("na"),
        F.sum(F.when(~F.col("to_a"), F.col("yc"))).alias("sb"),
        F.sum(F.when(~F.col("to_a"), F.lit(1))).alias("nb"),
    )
    per_k_stat = per_k.select(
        stat(F.col("sa"), F.col("na"), F.col("sb"), F.col("nb")).alias("stat_k")
    )
    agg = per_k_stat.crossJoin(F.broadcast(obs1)).agg(
        F.first("stat_obs").alias("stat_obs"),
        F.count(F.lit(1)).alias("n_perm"),
        F.sum((F.col("stat_k") >= F.col("stat_obs")).cast("bigint")).alias("n_ge"),
    )
    return agg.select(
        "stat_obs",
        F.col("n_perm").cast("int").alias("n_perm"),
        F.col("n_ge").cast("int").alias("n_ge"),
        F.round(
            (1.0 + F.col("n_ge").cast("double"))
            / (1.0 + F.col("n_perm").cast("double")),
            6,
        ).alias("p_value"),
    )


_SQL_PERMUTATION_TEST_DET = f"""
WITH base AS ({_SQL_SEG_ORDERS}),
obs AS (
  SELECT round(abs(CAST(sum(CASE WHEN segment = '{_SEG_A}' THEN yc END) AS DOUBLE)
                   / (100.0 * sum(CASE WHEN segment = '{_SEG_A}' THEN 1 END))
                   - CAST(sum(CASE WHEN segment = '{_SEG_B}' THEN yc END) AS DOUBLE)
                   / (100.0 * sum(CASE WHEN segment = '{_SEG_B}' THEN 1 END))), 6)
           AS stat_obs
  FROM base
), permed AS (
  SELECT k.k, b.yc,
         ((b.o_orderkey * 2654435761 + k.k * 2246822519) % {M31})
          & 65536 = 0 AS to_a
  FROM base b CROSS JOIN (SELECT unnest(generate_series(1, {_N_PERMS})) AS k) k
), per_k AS (
  SELECT k,
         round(abs(CAST(sum(CASE WHEN to_a THEN yc END) AS DOUBLE)
                   / (100.0 * sum(CASE WHEN to_a THEN 1 END))
                   - CAST(sum(CASE WHEN NOT to_a THEN yc END) AS DOUBLE)
                   / (100.0 * sum(CASE WHEN NOT to_a THEN 1 END))), 6) AS stat_k
  FROM permed GROUP BY k
)
SELECT o.stat_obs,
       CAST(count(*) AS INT) AS n_perm,
       CAST(sum(CASE WHEN p.stat_k >= o.stat_obs THEN 1 ELSE 0 END) AS INT)
         AS n_ge,
       round((1.0 + sum(CASE WHEN p.stat_k >= o.stat_obs THEN 1 ELSE 0 END))
             / (1.0 + count(*)), 6) AS p_value
FROM per_k p CROSS JOIN obs o
GROUP BY o.stat_obs
"""


SPECS: dict[str, QuerySpec] = {
    "welch_t_segments": QuerySpec(
        _q_welch_t_segments,
        _SQL_WELCH_T_SEGMENTS,
        "Welch's unequal-variance t (and Welch-Satterthwaite df) between "
        "two segments on order value, from exact cents/cents-squared moments",
    ),
    "durbin_watson_daily": QuerySpec(
        _q_durbin_watson_daily,
        _SQL_DURBIN_WATSON_DAILY,
        "Durbin-Watson statistic of daily-revenue OLS residuals "
        "(quantized-integer residuals, rank self-join adjacency)",
    ),
    "breusch_pagan_daily": QuerySpec(
        _q_breusch_pagan_daily,
        _SQL_BREUSCH_PAGAN_DAILY,
        "Breusch-Pagan LM heteroscedasticity test: n*R^2 of squared "
        "$10-quantized residuals on day index from exact integer "
        "moments (ecq^4 headroom documented)",
    ),
    "bh_fdr_segments": QuerySpec(
        _q_bh_fdr_segments,
        _SQL_BH_FDR_SEGMENTS,
        "per-segment urgent-share proportion z-tests with Benjamini-"
        "Hochberg step-up control (shared logistic Phi approximation)",
    ),
    "permutation_test_det": QuerySpec(
        _q_permutation_test_det,
        _SQL_PERMUTATION_TEST_DET,
        "deterministic 64-permutation randomization test for the two-"
        "segment mean difference (additive-mixed middle-bit hash re-labeling, "
        "64 distinct labelings, full null distribution oracle-checked)",
    ),
}
