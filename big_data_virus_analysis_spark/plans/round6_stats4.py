"""Round-6 stats pack 4 — classical multi-group inference, each exact.

Complements the existing two-sample tests (``mann_whitney_u_test``,
``brown_forsythe_f``, ``ks_price_periods``) with the multi-group and
effect-size families:

* ``anova_f_by_segment`` — one-way ANOVA F of order value across the
  five market segments, plus eta-squared.  Per-group sums/sumsq are
  decimal-exact; doubles appear only in the final 5-row combine, and
  SSB uses the centered ``n_g*(mean_g - grand)^2`` form (no
  difference-of-big-squares cancellation).
* ``kruskal_wallis_segments`` — the rank-based analogue with tie
  correction.  Tied average ranks come from the same
  2x-average-rank-is-an-integer trick as ``mann_whitney_u_test``
  (rank2 = min_rank + max_rank), accumulated as decimal(38,0) so the
  rank-product sums cannot overflow at any corpus size; the ordered
  pass is the two-phase ``global_prefix_sum`` over the per-value
  frame (one row per DISTINCT price, never per order).
* ``wilson_ci_by_segment`` — per-segment P(status='F') with the
  Wilson 95% score interval (z = 1.96 fixed), pure closed form.
* ``spearman_price_quantity`` — Spearman rank correlation between
  lineitem quantity and extended price.  Average ranks per distinct
  value (two prefix-sum passes), joined back to the fact rows by
  value; all cross-moments are decimal(38,0)-exact on the doubled
  ranks (Pearson is scale-invariant, so rank2 = 2*avg-rank needs no
  /2 anywhere).
* ``cohens_d_segment_pairs`` — pairwise Cohen's d between all 10
  segment pairs from the same exact per-group moment frame (5-row
  self-join; the nested-loop there is over a 5-row broadcast).

100 TB shape: every entry collapses the fact scan to one hash
aggregate (per group / per distinct value) before any ordered or
pairwise step; the only global order is the repo's range-shuffle
prefix sum; the quantity rank frame is 50 rows (bounded domain) and
broadcasts, the price rank frame shuffles on value like any equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from .catalog import QuerySpec

_Z95 = 1.96


def _segment_price_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: order count ``n_g``, exact DECIMAL price sum
    ``s_g`` and sum of squares ``q_g``."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("y").alias("s_g"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias("q_g"),
        )
    )


# --------------------------------------------------------------------------
# anova_f_by_segment
# --------------------------------------------------------------------------


def _q_anova_f_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = _segment_price_moments(spark, sf_dir)
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("g_sum"),
        F.sum("q_g").alias("q_sum"),
    )
    gm = F.col("g_sum").cast("double") / F.col("n").cast("double")
    # centered SSB: per-group double terms are ~n_g*dev^2 (no 1e14-scale
    # cancellation), summed over the bounded 5-row group frame
    ssb_terms = grp.crossJoin(F.broadcast(tot)).select(
        "k",
        "n",
        "q_sum",
        "g_sum",
        (
            F.col("n_g").cast("double")
            * (F.col("s_g").cast("double") / F.col("n_g").cast("double") - gm)
            * (F.col("s_g").cast("double") / F.col("n_g").cast("double") - gm)
        ).alias("ssb_term"),
    )
    agg = ssb_terms.groupBy("k", "n", "q_sum", "g_sum").agg(
        F.sum("ssb_term").alias("ssb")
    )
    sst = agg.select(
        "k",
        "n",
        "ssb",
        (
            F.col("q_sum").cast("double")
            - F.col("n").cast("double")
            * (F.col("g_sum").cast("double") / F.col("n").cast("double"))
            * (F.col("g_sum").cast("double") / F.col("n").cast("double"))
        ).alias("sst"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    f_stat = (F.col("ssb") / (kd - 1)) / ((F.col("sst") - F.col("ssb")) / (nd - kd))
    return sst.select(
        "k",
        "n",
        F.round(f_stat, 6).alias("f_stat"),
        F.round(F.col("ssb") / F.col("sst"), 6).alias("eta_sq"),
    )


_SQL_ANOVA_F_BY_SEGMENT = """
WITH grp AS (
  SELECT c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
         sum(s_g) AS g_sum, sum(q_g) AS q_sum
  FROM grp
), terms AS (
  SELECT k, n, q_sum, g_sum,
         CAST(n_g AS DOUBLE)
           * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
              - CAST(g_sum AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
              - CAST(g_sum AS DOUBLE) / CAST(n AS DOUBLE)) AS ssb_term
  FROM grp CROSS JOIN tot
), agg AS (
  SELECT k, n, q_sum, g_sum, sum(ssb_term) AS ssb
  FROM terms GROUP BY 1, 2, 3, 4
), sst AS (
  SELECT k, n, ssb,
         CAST(q_sum AS DOUBLE)
           - CAST(n AS DOUBLE)
             * (CAST(g_sum AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(g_sum AS DOUBLE) / CAST(n AS DOUBLE)) AS sst
  FROM agg
)
SELECT k, n,
       round((ssb / (CAST(k AS DOUBLE) - 1))
             / ((sst - ssb) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
         AS f_stat,
       round(ssb / sst, 6) AS eta_sq
FROM sst
"""


# --------------------------------------------------------------------------
# kruskal_wallis_segments
# --------------------------------------------------------------------------

_KW_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _q_kruskal_wallis_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    src = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("o_totalprice").alias("y"), F.col("c_mktsegment").alias("seg")
    )
    by_val = src.groupBy("y").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[
            F.sum((F.col("seg") == s).cast("bigint")).alias(f"c{i}")
            for i, s in enumerate(_KW_SEGS)
        ],
    )
    cum = global_prefix_sum(by_val, order_col="y", value_col="cnt", out_col="cum_cnt")
    rank2 = ((F.col("cum_cnt") - F.col("cnt") + 1) + F.col("cum_cnt")).cast(
        "decimal(38,0)"
    )
    ranked = cum.select(
        "cnt", *[f"c{i}" for i in range(len(_KW_SEGS))], rank2.alias("rank2")
    )
    sums = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(
            (F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt"))
            - F.col("cnt")
        ).alias("tie_t"),
        *[
            F.sum(F.col(f"c{i}").cast("decimal(38,0)") * F.col("rank2")).alias(
                f"r2_{i}"
            )
            for i in range(len(_KW_SEGS))
        ],
        *[F.sum(f"c{i}").alias(f"n_{i}") for i in range(len(_KW_SEGS))],
    )
    nd = F.col("n").cast("double")
    # sum_g R_g^2/n_g with R_g = r2_g/2
    h_sum = None
    for i in range(len(_KW_SEGS)):
        term = (
            (F.col(f"r2_{i}").cast("double") / 2.0)
            * (F.col(f"r2_{i}").cast("double") / 2.0)
            / F.col(f"n_{i}").cast("double")
        )
        h_sum = term if h_sum is None else h_sum + term
    h_raw = 12.0 / (nd * (nd + 1)) * h_sum - 3.0 * (nd + 1)
    tie_c = 1.0 - F.col("tie_t").cast("double") / (nd * nd * nd - nd)
    return sums.select(
        F.col("n"),
        F.lit(len(_KW_SEGS)).alias("k"),
        F.round(h_raw / tie_c, 6).alias("h_stat"),
    )


_KW_CNT_COLS = ",\n         ".join(
    f"CAST(sum(CASE WHEN seg = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
    for i, s in enumerate(_KW_SEGS)
)
_KW_R2_COLS = ",\n         ".join(
    f"sum(CAST(c{i} AS DECIMAL(38,0)) * rank2) AS r2_{i},\n"
    f"         CAST(sum(c{i}) AS BIGINT) AS n_{i}"
    for i in range(len(_KW_SEGS))
)
_KW_H_SUM = " + ".join(
    f"(CAST(r2_{i} AS DOUBLE) / 2.0) * (CAST(r2_{i} AS DOUBLE) / 2.0)"
    f" / CAST(n_{i} AS DOUBLE)"
    for i in range(len(_KW_SEGS))
)

_SQL_KRUSKAL_WALLIS_SEGMENTS = f"""
WITH src AS (
  SELECT o_totalprice AS y, c_mktsegment AS seg
  FROM orders JOIN customer ON o_custkey = c_custkey
), by_val AS (
  SELECT y, count(*) AS cnt,
         {_KW_CNT_COLS}
  FROM src GROUP BY y
), ranked AS (
  SELECT cnt, c0, c1, c2, c3, c4,
         CAST((sum(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - cnt + 1)
              + sum(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
              AS DECIMAL(38,0)) AS rank2
  FROM by_val
), sums AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         sum(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt) AS tie_t,
         {_KW_R2_COLS}
  FROM ranked
)
SELECT n, {len(_KW_SEGS)} AS k,
       round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
              * ({_KW_H_SUM})
              - 3.0 * (CAST(n AS DOUBLE) + 1))
             / (1.0 - CAST(tie_t AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(n AS DOUBLE))), 6) AS h_stat
FROM sums
"""


# --------------------------------------------------------------------------
# wilson_ci_by_segment
# --------------------------------------------------------------------------


def _q_wilson_ci_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    grp = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            (F.col("o_orderstatus") == "F").cast("bigint").alias("pos"),
        )
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("pos"))
    )
    nd = F.col("n").cast("double")
    p = F.col("pos").cast("double") / nd
    z2 = F.lit(_Z95 * _Z95)
    denom = 1.0 + z2 / nd
    center = (p + z2 / (2.0 * nd)) / denom
    half = (
        F.lit(_Z95)
        * F.sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
        / denom
    )
    return grp.select(
        "seg",
        "n",
        F.round(p, 6).alias("p_hat"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


_SQL_WILSON_CI_BY_SEGMENT = f"""
WITH grp AS (
  SELECT c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
)
SELECT seg, n,
       round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
       round(((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
               + {_Z95 * _Z95!r} / (2.0 * CAST(n AS DOUBLE)))
              - {_Z95!r} * sqrt(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                    * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n AS DOUBLE)
                  + {_Z95 * _Z95!r}
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + {_Z95 * _Z95!r} / CAST(n AS DOUBLE)), 6) AS wilson_lo,
       round(((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
               + {_Z95 * _Z95!r} / (2.0 * CAST(n AS DOUBLE)))
              + {_Z95!r} * sqrt(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                    * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n AS DOUBLE)
                  + {_Z95 * _Z95!r}
                    / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + {_Z95 * _Z95!r} / CAST(n AS DOUBLE)), 6) AS wilson_hi
FROM grp
"""


# --------------------------------------------------------------------------
# spearman_price_quantity
# --------------------------------------------------------------------------


def _q_spearman_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    # r11 optimization (guide §2.3/§2.4, "aggregate before you shuffle"):
    # the old shape joined the near-unique y rank frame BACK to lineitem
    # by value — a corpus×corpus sort-merge join shuffling both sides —
    # before one big moment aggregate.  But every moment is a sum over
    # regroupable integers: x-only moments (n, sxx) come straight off
    # the 50-row x rank frame weighted by cnt; the cross moment
    # sxy = Σ_y ry_y·(Σ rx over rows with that y) and the y-only moments
    # (sy, syy) need only the y-GROUPED frame (cnt, Σrx per y) — which
    # is also exactly the frame the y prefix-sum ranks are computed on.
    # One broadcast join + one hash agg + one prefix sum replace the
    # fat join; integer decimal sums regroup associatively, so every
    # moment is bit-identical.
    by_x = lineitem.groupBy(F.col("x").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # x = l_quantity is DOMAIN-BOUNDED (~50 distinct values at every
    # SF), so its rank frame needs no two-phase machinery (3 jobs of
    # range-shuffle + checkpoint + driver offsets for 50 rows): one
    # sorted-array aggregate + an O(k²) in-array prefix fold is a
    # single tiny stage (r11; the y side below keeps the two-phase
    # scan — extendedprice is corpus-cardinality, not domain-bounded)
    rx = (
        by_x.agg(
            F.sort_array(F.collect_list(F.struct("v", "cnt"))).alias("a")
        )
        .select(
            F.explode(
                F.expr(
                    "transform(a, (s, i) -> struct("
                    "s.v AS v, s.cnt AS cnt, "
                    "aggregate(slice(a, 1, i + 1), CAST(0 AS BIGINT),"
                    " (acc, x) -> acc + x.cnt) AS cum))"
                )
            ).alias("s")
        )
        .select(
            F.col("s.v").alias("v"),
            F.col("s.cnt").alias("cnt"),
            ((F.col("s.cum") - F.col("s.cnt") + 1) + F.col("s.cum"))
            .cast("decimal(38,0)")
            .alias("rx"),
        )
    )
    x_sums = rx.agg(
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("rx") * F.col("rx")
        ).alias("sxx"),
    )
    ygrp = (
        lineitem.join(
            F.broadcast(rx.select("v", "rx")), lineitem["x"] == F.col("v")
        )
        .groupBy(F.col("y").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("rx").alias("srx"))
    )
    cy = global_prefix_sum(ygrp, order_col="w", value_col="cnt", out_col="cum")
    withry = cy.select(
        "cnt",
        "srx",
        ((F.col("cum") - F.col("cnt") + 1) + F.col("cum"))
        .cast("decimal(38,0)")
        .alias("ry"),
    )
    # precondition (r11 ADVICE): n = sum(cnt) is NULL over an EMPTY
    # input (the pre-r11 count(lit(1)) spelled 0), so rho degrades to
    # NULL instead of 0-count arithmetic on an empty frame — vacuous
    # for TPC-H lineitem (never empty at any SF), and the oracle's
    # sum() has the identical NULL convention, so the engines agree
    y_sums = withry.agg(
        F.sum("cnt").alias("n"),
        F.sum("srx").alias("sx"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("ry")).alias("sy"),
        F.sum(F.col("ry") * F.col("srx")).alias("sxy"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("ry") * F.col("ry")
        ).alias("syy"),
    )
    sums = y_sums.crossJoin(F.broadcast(x_sums))
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sums.select(
        "n", F.round(num / F.sqrt(dx * dy), 6).alias("spearman_rho")
    )


_SQL_SPEARMAN_PRICE_QUANTITY = """
WITH rx AS (
  SELECT v, CAST((cum - cnt + 1) + cum AS DECIMAL(38,0)) AS rx
  FROM (
    SELECT v, cnt, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
    FROM (SELECT l_quantity AS v, count(*) AS cnt FROM lineitem GROUP BY 1)
  )
), ry AS (
  SELECT v, CAST((cum - cnt + 1) + cum AS DECIMAL(38,0)) AS ry
  FROM (
    SELECT v, cnt, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
    FROM (SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1)
  )
), joined AS (
  SELECT rx.rx, ry.ry
  FROM lineitem l
  JOIN rx ON l.l_quantity = rx.v
  JOIN ry ON l.l_extendedprice = ry.v
), sums AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
  FROM joined
)
SELECT CAST(n AS BIGINT) AS n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
FROM sums
"""


# --------------------------------------------------------------------------
# cohens_d_segment_pairs
# --------------------------------------------------------------------------


def _q_cohens_d_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = _segment_price_moments(spark, sf_dir)
    a = grp.select(
        F.col("seg").alias("seg_a"),
        F.col("n_g").alias("na"),
        F.col("s_g").alias("sa"),
        F.col("q_g").alias("qa"),
    )
    b = grp.select(
        F.col("seg").alias("seg_b"),
        F.col("n_g").alias("nb"),
        F.col("s_g").alias("sb"),
        F.col("q_g").alias("qb"),
    )
    # 5-row x 5-row self-join; the nested loop is over a broadcast of 5 rows
    pairs = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / nad
    mb = F.col("sb").cast("double") / nbd
    va = (F.col("qa").cast("double") - nad * ma * ma) / (nad - 1)
    vb = (F.col("qb").cast("double") - nbd * mb * mb) / (nbd - 1)
    sp = F.sqrt(((nad - 1) * va + (nbd - 1) * vb) / (nad + nbd - 2))
    return pairs.select(
        "seg_a",
        "seg_b",
        F.round(ma - mb, 4).alias("mean_diff"),
        F.round((ma - mb) / sp, 6).alias("cohens_d"),
    )


_SQL_COHENS_D_SEGMENT_PAIRS = """
WITH grp AS (
  SELECT c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
), pairs AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b,
         CAST(a.n_g AS DOUBLE) AS na, CAST(b.n_g AS DOUBLE) AS nb,
         CAST(a.s_g AS DOUBLE) / CAST(a.n_g AS DOUBLE) AS ma,
         CAST(b.s_g AS DOUBLE) / CAST(b.n_g AS DOUBLE) AS mb,
         (CAST(a.q_g AS DOUBLE)
          - CAST(a.n_g AS DOUBLE)
            * (CAST(a.s_g AS DOUBLE) / CAST(a.n_g AS DOUBLE))
            * (CAST(a.s_g AS DOUBLE) / CAST(a.n_g AS DOUBLE)))
           / (CAST(a.n_g AS DOUBLE) - 1) AS va,
         (CAST(b.q_g AS DOUBLE)
          - CAST(b.n_g AS DOUBLE)
            * (CAST(b.s_g AS DOUBLE) / CAST(b.n_g AS DOUBLE))
            * (CAST(b.s_g AS DOUBLE) / CAST(b.n_g AS DOUBLE)))
           / (CAST(b.n_g AS DOUBLE) - 1) AS vb
  FROM grp a JOIN grp b ON a.seg < b.seg
)
SELECT seg_a, seg_b,
       round(ma - mb, 4) AS mean_diff,
       round((ma - mb)
             / sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)), 6)
         AS cohens_d
FROM pairs
"""


SPECS: dict[str, QuerySpec] = {
    "anova_f_by_segment": QuerySpec(
        _q_anova_f_by_segment,
        _SQL_ANOVA_F_BY_SEGMENT,
        "one-way ANOVA F + eta-squared of order value across market "
        "segments from decimal-exact per-group moments (centered SSB, "
        "no cancellation)",
    ),
    "kruskal_wallis_segments": QuerySpec(
        _q_kruskal_wallis_segments,
        _SQL_KRUSKAL_WALLIS_SEGMENTS,
        "Kruskal-Wallis H across the five market segments with tie "
        "correction; tied ranks via the exact 2x-average-rank integers "
        "and the two-phase global prefix sum",
    ),
    "wilson_ci_by_segment": QuerySpec(
        _q_wilson_ci_by_segment,
        _SQL_WILSON_CI_BY_SEGMENT,
        "per-segment finished-order rate with the Wilson 95% score "
        "interval (closed form, one hash aggregate)",
    ),
    "spearman_price_quantity": QuerySpec(
        _q_spearman_price_quantity,
        _SQL_SPEARMAN_PRICE_QUANTITY,
        "Spearman rank correlation of lineitem quantity vs extended "
        "price; average ranks per distinct value joined back by value, "
        "decimal(38,0)-exact cross moments on doubled ranks",
    ),
    "cohens_d_segment_pairs": QuerySpec(
        _q_cohens_d_segment_pairs,
        _SQL_COHENS_D_SEGMENT_PAIRS,
        "pairwise Cohen's d between all segment pairs from one exact "
        "per-group moment frame (5-row broadcast self-join)",
    ),
}
