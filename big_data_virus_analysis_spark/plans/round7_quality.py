"""Round-7 quality/profiling pack — categorical-association strength,
aggregation-paradox detection, robust outlier fences, and split
hygiene.

* ``mutual_information_priority_segment`` — mutual information (and
  the entropy-normalized variant) between market segment and order
  priority from the 5×5 contingency table: the information-theoretic
  association measure beside ``chisq_priority_segment`` (significance)
  and ``js_divergence_priorities`` (distribution distance).  Every
  per-cell log term is quantized to integer 1e-6 units before the
  weighted sum, so MI is exact in both engines.
* ``cramers_v_priority_segment`` — Cramér's V effect size from the
  same table (chi-square per-cell terms quantized before summing —
  25 doubles summed in engine-dependent order would otherwise wobble
  at the 1e-6 edge).
* ``simpson_direction_audit`` — Simpson's-paradox detector: the OLS
  slope of line price on quantity computed overall AND within each
  segment, with a per-row flag for slope-sign disagreement with the
  pooled slope.  Slopes come from exact integer/decimal moments via
  the fixed closed form.
* ``tukey_fences_by_brand`` — Tukey IQR outlier fences per part brand
  (Q1/Q3 via the exact interpolated-percentile convention whose
  cross-engine match is pinned by ``percentile_cont_vs_disc_audit``),
  with outlier counts per brand.  The quartile member of the robust-
  outlier family (``mad_outlier_orders``, ``zscore_outlier_orders``,
  ``grubbs_statistic_orders``).
* ``stratified_kfold_balance_audit`` — split hygiene for the k-fold
  family: deterministic hash assignment of vectors to 5 folds, then a
  per-fold chi-square of the label distribution against the pooled
  one.  The "are my folds actually stratified" gate in front of
  ``kfold_auc_fixed_scorer`` (answer on this hash: no — the audit
  quantifies how far plain hashing drifts from stratification).

100 TB shape: all five collapse to bounded aggregates immediately
(25-cell / 25-brand / 5×10 fold-label frames); the only full scans are
single hash aggregates with map-side partials; quantile passes are
per-brand ordered scans over the brand partition, never global.

No reference counterpart; profiling extensions alongside
plans/round6_quality2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import M31


def _seg_priority_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("nij"))
    )


_SQL_SEG_PRIORITY_CELLS = """
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
         count(*) AS nij
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# mutual_information_priority_segment
# --------------------------------------------------------------------------


def _q_mutual_information_priority_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = _seg_priority_cells(spark, sf_dir)
    margins = cells.groupBy("seg").agg(F.sum("nij").alias("ri"))
    cmargins = cells.groupBy("prio").agg(F.sum("nij").alias("cj"))
    tot = cells.agg(F.sum("nij").alias("n"))
    staged = (
        cells.join(F.broadcast(margins), "seg")
        .join(F.broadcast(cmargins), "prio")
        .crossJoin(F.broadcast(tot))
    )
    ln6 = lambda expr: F.floor(F.log(expr) * 1e6 + 0.5).cast("bigint")  # noqa: E731
    terms = staged.select(
        "n",
        "nij",
        "ri",
        "cj",
        (
            F.col("nij")
            * ln6(
                (F.col("nij") * F.col("n")).cast("double")
                / (F.col("ri") * F.col("cj")).cast("double")
            )
        ).alias("mi_t"),
    )
    mi = terms.groupBy("n").agg(F.sum("mi_t").alias("mi_sum"))
    hr = (
        margins.crossJoin(F.broadcast(tot))
        .select((F.col("ri") * ln6(F.col("n").cast("double") / F.col("ri").cast("double"))).alias("t"))
        .agg(F.sum("t").alias("hr_sum"))
    )
    hc = (
        cmargins.crossJoin(F.broadcast(tot))
        .select((F.col("cj") * ln6(F.col("n").cast("double") / F.col("cj").cast("double"))).alias("t"))
        .agg(F.sum("t").alias("hc_sum"))
    )
    out = mi.crossJoin(F.broadcast(hr)).crossJoin(F.broadcast(hc))
    nd = F.col("n").cast("double") * 1e6
    return out.select(
        "n",
        F.round(F.col("mi_sum").cast("double") / nd, 6).alias("mi_nats"),
        F.round(
            F.col("mi_sum").cast("double")
            / F.sqrt(
                F.col("hr_sum").cast("double") * F.col("hc_sum").cast("double")
            ),
            6,
        ).alias("normalized_mi"),
    )


_SQL_MUTUAL_INFORMATION_PRIORITY_SEGMENT = f"""
WITH cells AS ({_SQL_SEG_PRIORITY_CELLS}),
margins AS (SELECT seg, sum(nij) AS ri FROM cells GROUP BY seg),
cmargins AS (SELECT prio, sum(nij) AS cj FROM cells GROUP BY prio),
tot AS (SELECT sum(nij) AS n FROM cells),
terms AS (
  SELECT t.n, c.nij,
         c.nij * CAST(floor(ln(CAST(c.nij * t.n AS DOUBLE)
                               / CAST(m.ri * cm.cj AS DOUBLE)) * 1e6 + 0.5)
                      AS BIGINT) AS mi_t
  FROM cells c
  JOIN margins m USING (seg)
  JOIN cmargins cm USING (prio)
  CROSS JOIN tot t
), mi AS (
  SELECT n, sum(mi_t) AS mi_sum FROM terms GROUP BY n
), hr AS (
  SELECT sum(ri * CAST(floor(ln(CAST(t.n AS DOUBLE) / ri) * 1e6 + 0.5)
                       AS BIGINT)) AS hr_sum
  FROM margins CROSS JOIN tot t
), hc AS (
  SELECT sum(cj * CAST(floor(ln(CAST(t.n AS DOUBLE) / cj) * 1e6 + 0.5)
                       AS BIGINT)) AS hc_sum
  FROM cmargins CROSS JOIN tot t
)
SELECT CAST(n AS BIGINT) AS n,
       round(CAST(mi_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6) AS mi_nats,
       round(CAST(mi_sum AS DOUBLE)
             / sqrt(CAST(hr_sum AS DOUBLE) * CAST(hc_sum AS DOUBLE)), 6)
         AS normalized_mi
FROM mi CROSS JOIN hr CROSS JOIN hc
"""


# --------------------------------------------------------------------------
# cramers_v_priority_segment
# --------------------------------------------------------------------------


def _q_cramers_v_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _seg_priority_cells(spark, sf_dir)
    margins = cells.groupBy("seg").agg(F.sum("nij").alias("ri"))
    cmargins = cells.groupBy("prio").agg(F.sum("nij").alias("cj"))
    tot = cells.agg(F.sum("nij").alias("n"))
    staged = (
        cells.join(F.broadcast(margins), "seg")
        .join(F.broadcast(cmargins), "prio")
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("ri") * F.col("cj")).cast("double") / F.col("n").cast("double")
    term6 = F.floor(
        (F.col("nij").cast("double") - e) * (F.col("nij").cast("double") - e) / e * 1e6
        + 0.5
    ).cast("bigint")
    agg = staged.select("n", term6.alias("t6")).groupBy("n").agg(
        F.sum("t6").alias("chi6")
    )
    chi2 = F.col("chi6").cast("double") / 1e6
    # min(r-1, c-1) = 4 for the 5x5 table
    return agg.select(
        "n",
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / (F.col("n").cast("double") * 4.0)), 6).alias(
            "cramers_v"
        ),
    )


_SQL_CRAMERS_V_PRIORITY_SEGMENT = f"""
WITH cells AS ({_SQL_SEG_PRIORITY_CELLS}),
margins AS (SELECT seg, sum(nij) AS ri FROM cells GROUP BY seg),
cmargins AS (SELECT prio, sum(nij) AS cj FROM cells GROUP BY prio),
tot AS (SELECT sum(nij) AS n FROM cells),
staged AS (
  SELECT t.n, c.nij,
         CAST(m.ri * cm.cj AS DOUBLE) / t.n AS e
  FROM cells c
  JOIN margins m USING (seg)
  JOIN cmargins cm USING (prio)
  CROSS JOIN tot t
), agg AS (
  SELECT n,
         sum(CAST(floor((nij - e) * (nij - e) / e * 1e6 + 0.5) AS BIGINT))
           AS chi6
  FROM staged GROUP BY n
)
SELECT CAST(n AS BIGINT) AS n,
       round(CAST(chi6 AS DOUBLE) / 1e6, 6) AS chi2,
       round(sqrt(CAST(chi6 AS DOUBLE) / 1e6 / (CAST(n AS DOUBLE) * 4.0)), 6)
         AS cramers_v
FROM agg
"""


# --------------------------------------------------------------------------
# simpson_direction_audit
# --------------------------------------------------------------------------


def _q_simpson_direction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = (
        li.select("l_orderkey", F.col("l_quantity").cast("bigint").alias("q"),
                  F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_mktsegment").alias("scope"), "q", "pc")
    )
    both = base.unionByName(
        base.select(F.lit("ALL").alias("scope"), "q", "pc")
    )
    mom = both.groupBy("scope").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sx"),
        F.sum(F.col("q") * F.col("q")).alias("sxx"),
        F.sum("pc").alias("sy"),
        F.sum(
            F.col("q").cast("decimal(19,0)") * F.col("pc").cast("decimal(19,0)")
        ).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    scored = mom.select(
        "scope", "n", F.round(slope / 100.0, 6).alias("slope_dollars_per_unit")
    )
    overall = scored.where(F.col("scope") == "ALL").select(
        F.col("slope_dollars_per_unit").alias("overall_slope")
    )
    return (
        scored.crossJoin(F.broadcast(overall))
        .select(
            "scope",
            "n",
            "slope_dollars_per_unit",
            (
                F.signum("slope_dollars_per_unit") == F.signum("overall_slope")
            ).alias("sign_agrees_with_pooled"),
        )
        .orderBy("scope")
    )


_SQL_SIMPSON_DIRECTION_AUDIT = """
WITH base AS (
  SELECT c.c_mktsegment AS scope,
         CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS pc
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
), pooled AS (
  SELECT scope, q, pc FROM base
  UNION ALL
  SELECT 'ALL' AS scope, q, pc FROM base
), mom AS (
  SELECT scope, count(*) AS n, sum(q) AS sx, sum(q * q) AS sxx,
         sum(pc) AS sy, sum(CAST(q AS HUGEINT) * pc) AS sxy
  FROM pooled GROUP BY scope
), scored AS (
  SELECT scope, CAST(n AS BIGINT) AS n,
         round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6)
           AS slope_dollars_per_unit
  FROM mom
), overall AS (
  SELECT slope_dollars_per_unit AS overall_slope FROM scored
  WHERE scope = 'ALL'
)
SELECT s.scope, s.n, s.slope_dollars_per_unit,
       sign(s.slope_dollars_per_unit) = sign(o.overall_slope)
         AS sign_agrees_with_pooled
FROM scored s CROSS JOIN overall o
ORDER BY s.scope
"""


# --------------------------------------------------------------------------
# tukey_fences_by_brand
# --------------------------------------------------------------------------


def _q_tukey_fences_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", F.col("p_retailprice").cast("double").alias("price")
    )
    q = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("price", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("price", F.lit(0.75)), 6).alias("q3"),
    )
    fenced = part.join(F.broadcast(q), "p_brand").select(
        "p_brand",
        "n",
        "q1",
        "q3",
        (
            (F.col("price") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
            | (F.col("price") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
        )
        .cast("bigint")
        .alias("is_out"),
    )
    return (
        fenced.groupBy("p_brand")
        .agg(
            F.first("n").alias("n"),
            F.first("q1").alias("q1"),
            F.first("q3").alias("q3"),
            F.sum("is_out").alias("n_outliers"),
        )
        .orderBy("p_brand")
    )


_SQL_TUKEY_FENCES_BY_BRAND = """
WITH part_p AS (
  SELECT p_brand, CAST(p_retailprice AS DOUBLE) AS price FROM part
), q AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
         round(quantile_cont(price, 0.25), 6) AS q1,
         round(quantile_cont(price, 0.75), 6) AS q3
  FROM part_p GROUP BY p_brand
)
SELECT p.p_brand, any_value(q.n) AS n,
       any_value(q.q1) AS q1, any_value(q.q3) AS q3,
       CAST(sum(CASE WHEN p.price < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR p.price > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM part_p p JOIN q USING (p_brand)
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


# --------------------------------------------------------------------------
# stratified_kfold_balance_audit
# --------------------------------------------------------------------------

_KFOLDS = 5


def _q_stratified_kfold_balance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        ((F.col("vec_id") * 2654435761) % M31 % _KFOLDS).alias("fold"),
        "label",
    )
    cells = emb.groupBy("fold", "label").agg(F.count(F.lit(1)).alias("nij"))
    fold_n = cells.groupBy("fold").agg(F.sum("nij").alias("nf"))
    label_n = cells.groupBy("label").agg(F.sum("nij").alias("nl"))
    tot = cells.agg(F.sum("nij").alias("n"))
    staged = (
        cells.join(F.broadcast(fold_n), "fold")
        .join(F.broadcast(label_n), "label")
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("nf") * F.col("nl")).cast("double") / F.col("n").cast("double")
    term6 = F.floor(
        (F.col("nij").cast("double") - e) * (F.col("nij").cast("double") - e)
        / e
        * 1e6
        + 0.5
    ).cast("bigint")
    per_fold = staged.select("fold", "nf", term6.alias("t6")).groupBy(
        "fold"
    ).agg(F.first("nf").alias("n"), F.sum("t6").alias("chi6"))
    return per_fold.select(
        "fold",
        "n",
        F.round(F.col("chi6").cast("double") / 1e6, 6).alias("label_chi2"),
    ).orderBy("fold")


_SQL_STRATIFIED_KFOLD_BALANCE_AUDIT = f"""
WITH emb AS (
  SELECT ((vec_id * 2654435761) % {M31}) % {_KFOLDS} AS fold, label
  FROM embeddings
), cells AS (
  SELECT fold, label, count(*) AS nij FROM emb GROUP BY 1, 2
), fold_n AS (SELECT fold, sum(nij) AS nf FROM cells GROUP BY fold),
label_n AS (SELECT label, sum(nij) AS nl FROM cells GROUP BY label),
tot AS (SELECT sum(nij) AS n FROM cells),
staged AS (
  SELECT c.fold, f.nf, c.nij,
         CAST(f.nf * l.nl AS DOUBLE) / t.n AS e
  FROM cells c
  JOIN fold_n f USING (fold)
  JOIN label_n l USING (label)
  CROSS JOIN tot t
), per_fold AS (
  SELECT fold, any_value(nf) AS n,
         sum(CAST(floor((nij - e) * (nij - e) / e * 1e6 + 0.5) AS BIGINT))
           AS chi6
  FROM staged GROUP BY fold
)
SELECT CAST(fold AS BIGINT) AS fold, CAST(n AS BIGINT) AS n,
       round(CAST(chi6 AS DOUBLE) / 1e6, 6) AS label_chi2
FROM per_fold
ORDER BY fold
"""


SPECS: dict[str, QuerySpec] = {
    "mutual_information_priority_segment": QuerySpec(
        _q_mutual_information_priority_segment,
        _SQL_MUTUAL_INFORMATION_PRIORITY_SEGMENT,
        "mutual information + entropy-normalized MI between segment and "
        "priority (1e-6-quantized log terms, exact weighted sums)",
    ),
    "cramers_v_priority_segment": QuerySpec(
        _q_cramers_v_priority_segment,
        _SQL_CRAMERS_V_PRIORITY_SEGMENT,
        "Cramér's V effect size from the 5x5 contingency table "
        "(quantized per-cell chi-square terms)",
    ),
    "simpson_direction_audit": QuerySpec(
        _q_simpson_direction_audit,
        _SQL_SIMPSON_DIRECTION_AUDIT,
        "Simpson's-paradox detector: price-on-quantity OLS slope per "
        "segment vs pooled, sign-agreement flags",
    ),
    "tukey_fences_by_brand": QuerySpec(
        _q_tukey_fences_by_brand,
        _SQL_TUKEY_FENCES_BY_BRAND,
        "Tukey 1.5-IQR outlier fences + counts per part brand (pinned "
        "interpolated-percentile convention)",
    ),
    "stratified_kfold_balance_audit": QuerySpec(
        _q_stratified_kfold_balance_audit,
        _SQL_STRATIFIED_KFOLD_BALANCE_AUDIT,
        "per-fold label-distribution chi-square of the deterministic "
        "hash 5-fold split — the stratification gate for the k-fold family",
    ),
}
