"""Drift & statistical-testing pack: chi-square independence,
population stability index (PSI), and the two-sample
Kolmogorov–Smirnov statistic.

The monitoring tier of an ML data pipeline: is a categorical
association real (chi-square), has a feature's distribution shifted
between training and serving windows (PSI), and how far apart are two
empirical distributions at their worst point (KS).

All three reduce to aggregations over bounded frames:

* chi-square: contingency counts (one shuffle) → expected values from
  row/column margins (windows over the |cells| frame) → one scalar.
* PSI: fixed-bucket shares per period (one shuffle) → per-bucket
  penalty → one scalar.  Buckets are FIXED-WIDTH by design — quantile
  buckets would make the reference period's sort a prerequisite;
  fixed edges keep drift monitoring a pure streaming-able aggregation.
* KS: pooled sort with per-sample running CDFs (the one total-order
  stage — at 100 TB the sketch twin is a t-digest comparison) → max
  gap.

Conventions as in catalog.py; scalars rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec


# --------------------------------------------------------------------------
# Chi-square test of independence (priority × market segment)
# --------------------------------------------------------------------------

def _q_chisq_priority_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic for order priority vs customer market
    segment: contingency counts from the broadcast-enriched join, row
    and column margins via windows over the 25-cell frame, Σ(O−E)²/E
    plus degrees of freedom in one output row."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority", "c_mktsegment")
        .agg(F.count("*").alias("o"))
    )
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("c_mktsegment")
    wall = Window.orderBy(F.lit(1))
    with_e = cells.select(
        "o_orderpriority",
        "c_mktsegment",
        "o",
        (
            F.sum("o").over(wr)
            * F.sum("o").over(wc)
            / F.sum("o").over(wall).cast("double")
        ).alias("e"),
    )
    # distinct counts live in the final aggregate (DISTINCT window
    # functions are unsupported in Spark)
    return with_e.agg(
        F.round(F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")), 6).alias("chi2"),
        (
            (F.count_distinct("o_orderpriority") - 1)
            * (F.count_distinct("c_mktsegment") - 1)
        ).alias("dof"),
        F.sum("o").alias("n_obs"),
    )


_SQL_CHISQ_PRIORITY_SEGMENT = """
WITH cells AS (
  SELECT o_orderpriority, c_mktsegment, count(*) AS o
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), with_e AS (
  SELECT o_orderpriority, c_mktsegment, o,
         sum(o) OVER (PARTITION BY o_orderpriority)
           * sum(o) OVER (PARTITION BY c_mktsegment)
           / CAST(sum(o) OVER () AS DOUBLE) AS e
  FROM cells
)
SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
       (count(DISTINCT o_orderpriority) - 1)
         * (count(DISTINCT c_mktsegment) - 1) AS dof,
       CAST(sum(o) AS BIGINT) AS n_obs
FROM with_e
"""


# --------------------------------------------------------------------------
# Population stability index (price drift across periods)
# --------------------------------------------------------------------------

def _q_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of order total price between the 1995-1997 (reference) and
    1998-2001 (current) periods over 10 fixed-width 50k buckets:
    Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ).  Fixed edges (not quantiles) keep this a
    single aggregation — the standard serving-drift monitor.  A 0.5
    Laplace count-smoothing guards empty buckets exactly the same way
    in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50_000).cast("int"), F.lit(9))
    period = F.when(F.col("o_orderdate") < "1998-01-01", "ref").otherwise("cur")
    counts = (
        orders.select(bucket.alias("bucket"), period.alias("period"))
        .groupBy("bucket", "period")
        .agg(F.count("*").alias("n"))
    )
    pivoted = (
        counts.groupBy("bucket")
        .pivot("period", ["ref", "cur"])
        .agg(F.first("n"))
        .select(
            "bucket",
            (F.coalesce(F.col("ref"), F.lit(0)) + F.lit(0.5)).alias("nref"),
            (F.coalesce(F.col("cur"), F.lit(0)) + F.lit(0.5)).alias("ncur"),
        )
    )
    w = Window.orderBy(F.lit(1))
    shares = pivoted.select(
        "bucket",
        (F.col("nref") / F.sum("nref").over(w)).alias("p"),
        (F.col("ncur") / F.sum("ncur").over(w)).alias("q"),
    )
    return shares.agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi"),
        F.count("*").alias("n_buckets"),
    )


_SQL_PSI_PRICE_DRIFT = """
WITH counts AS (
  SELECT least(CAST(floor(o_totalprice / 50000) AS INT), 9) AS bucket,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'ref' ELSE 'cur' END
           AS period,
         count(*) AS n
  FROM orders GROUP BY 1, 2
), pivoted AS (
  SELECT bucket,
         coalesce(sum(n) FILTER (WHERE period = 'ref'), 0) + 0.5 AS nref,
         coalesce(sum(n) FILTER (WHERE period = 'cur'), 0) + 0.5 AS ncur
  FROM counts GROUP BY bucket
), shares AS (
  SELECT bucket,
         nref / sum(nref) OVER () AS p,
         ncur / sum(ncur) OVER () AS q
  FROM pivoted
)
SELECT round(sum((p - q) * ln(p / q)), 6) AS psi,
       count(*) AS n_buckets
FROM shares
"""


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov statistic
# --------------------------------------------------------------------------

def _q_ks_price_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (max CDF gap) for order totals
    between the same two periods: pool both samples, running per-sample
    counts over the value order give both empirical CDFs at every
    support point, the answer is the max |difference| — EVALUATED AT
    upper step edges (ties grouped by value so both engines see
    identical step functions).  Both running counts ride ONE two-phase
    distributed scan (operators/prefix_sum.py::global_prefix_sum with
    two value columns — one range shuffle, no single-task window even
    over the distinct-value frame, which is O(rows) at scale); the
    denominators are the scan's own driver-summed grand totals
    (``total_col``) — no second pass, no cross join.  Fixed-grid scale
    twin: `ks_price_periods_grid`."""
    from ..operators.prefix_sum import global_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    sample = orders.select(
        F.round("o_totalprice", 4).alias("v"),
        F.when(F.col("o_orderdate") < "1998-01-01", 1).otherwise(0).alias("is_ref"),
    )
    per_value = sample.groupBy("v").agg(
        F.sum("is_ref").alias("nr"), F.sum(1 - F.col("is_ref")).alias("nc")
    )
    cum = global_prefix_sum(
        per_value,
        "v",
        ["nr", "nc"],
        out_col=["cum_nr", "cum_nc"],
        total_col=["tot_nr", "tot_nc"],
    )
    cdfs = cum.select(
        (F.col("cum_nr") / F.col("tot_nr").cast("double")).alias("cdf_ref"),
        (F.col("cum_nc") / F.col("tot_nc").cast("double")).alias("cdf_cur"),
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("cdf_ref") - F.col("cdf_cur"))), 6).alias("ks_stat")
    )


_SQL_KS_PRICE_PERIODS = """
WITH per_value AS (
  SELECT round(o_totalprice, 4) AS v,
         sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END)
           AS nr,
         sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END)
           AS nc
  FROM orders GROUP BY 1
), cdfs AS (
  SELECT v,
         sum(nr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           / CAST(sum(nr) OVER () AS DOUBLE) AS cdf_ref,
         sum(nc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
           / CAST(sum(nc) OVER () AS DOUBLE) AS cdf_cur
  FROM per_value
)
SELECT round(max(abs(cdf_ref - cdf_cur)), 6) AS ks_stat
FROM cdfs
"""


def _q_ks_price_periods_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid KS — the 100 TB twin of `ks_price_periods`: evaluate
    both empirical CDFs only at 1024 fixed bucket edges (600-wide, the
    same fixed-edge philosophy that keeps PSI a pure aggregation), so
    the whole statistic is ONE hash aggregation over the fact table
    plus a window over the <=1024-row bucket frame — no ordered stage
    touches data rows at all, and the aggregation is streaming-able.
    Grid KS is a lower bound on the exact KS (the grid evaluates a
    subset of the step points), within one bucket's pooled probability
    mass; bound-tested against the exact query in
    tests/test_operators.py."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 600).cast("int"), F.lit(1023))
    is_ref = F.when(F.col("o_orderdate") < "1998-01-01", 1).otherwise(0)
    per_bucket = (
        orders.select(bucket.alias("bucket"), is_ref.alias("is_ref"))
        .groupBy("bucket")
        .agg(F.sum("is_ref").alias("nr"), F.sum(1 - F.col("is_ref")).alias("nc"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1))
    cdfs = per_bucket.select(
        (F.sum("nr").over(w) / F.sum("nr").over(wall).cast("double")).alias("cdf_ref"),
        (F.sum("nc").over(w) / F.sum("nc").over(wall).cast("double")).alias("cdf_cur"),
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("cdf_ref") - F.col("cdf_cur"))), 6).alias(
            "ks_stat_grid"
        ),
        F.count("*").alias("n_buckets"),
    )


_SQL_KS_PRICE_PERIODS_GRID = """
WITH per_bucket AS (
  SELECT least(CAST(floor(o_totalprice / 600) AS INT), 1023) AS bucket,
         sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END)
           AS nr,
         sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END)
           AS nc
  FROM orders GROUP BY 1
), cdfs AS (
  SELECT sum(nr) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
           / CAST(sum(nr) OVER () AS DOUBLE) AS cdf_ref,
         sum(nc) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
           / CAST(sum(nc) OVER () AS DOUBLE) AS cdf_cur
  FROM per_bucket
)
SELECT round(max(abs(cdf_ref - cdf_cur)), 6) AS ks_stat_grid,
       count(*) AS n_buckets
FROM cdfs
"""


# --------------------------------------------------------------------------
# Exact AUC via rank statistics (Mann–Whitney with midranks)
# --------------------------------------------------------------------------

def _norm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, score, pos)``: the embedding's squared-L2 norm as the
    score (per-row array fold, rounded to 6); task ``label < 5``."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = "CAST(x AS DOUBLE)"
    score = F.round(
        F.expr(f"aggregate(embedding, 0D, (acc, x) -> acc + {xd} * {xd})"), 6
    )
    return emb.select(
        "vec_id",
        score.alias("score"),
        (F.col("label") < 5).cast("int").alias("pos"),
    )


def _q_auc_rank_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC computed distributed from rank statistics — the
    Mann–Whitney identity: AUC = (Σ midranks of positives − n₊(n₊+1)/2)
    / (n₊·n₋).  Scorer: embedding squared-L2 norm (per-row array fold);
    task: label < 5.  Midranks (average rank over score ties) make the
    result independent of tie-break order, so both engines agree
    exactly.  Global ranks come from the two-phase distributed scan
    (operators/prefix_sum.py::global_row_number — no single-partition
    window); midranks are a per-score window over the ranked rows.
    This is what `BinaryClassificationEvaluator` computes, as a
    transparent relational plan with an exact oracle."""
    from ..operators.prefix_sum import global_row_number

    scored = _norm_scored(spark, sf_dir)
    wt = Window.partitionBy("score")
    ranked = global_row_number(
        scored, [F.col("score"), F.col("vec_id")]
    ).withColumn("midrank", F.avg("rn").over(wt))
    return ranked.agg(
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
        F.round(
            (
                F.sum(F.col("pos") * F.col("midrank"))
                - F.sum("pos") * (F.sum("pos") + 1) / 2.0
            )
            / (F.sum("pos") * F.sum(1 - F.col("pos"))).cast("double"),
            6,
        ).alias("auc"),
    )


_SQL_AUC_RANK_BASED = """
WITH scored AS (
  SELECT vec_id,
         round(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS score,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
), ranked AS (
  SELECT pos,
         avg(rn) OVER (PARTITION BY score) AS midrank
  FROM (
    SELECT pos, score, row_number() OVER (ORDER BY score, vec_id) AS rn
    FROM scored
  )
)
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(1 - pos) AS BIGINT) AS n_neg,
       round((sum(pos * midrank) - sum(pos) * (sum(pos) + 1) / 2.0)
             / CAST(sum(pos) * sum(1 - pos) AS DOUBLE), 6) AS auc
FROM ranked
"""


# --------------------------------------------------------------------------
# Gains / lift table (model-eval companion to AUC)
# --------------------------------------------------------------------------

def _q_gains_by_score_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table: rank by score descending, cut into deciles, report
    each decile's positive count, cumulative capture rate (share of all
    positives found so far) and lift vs the base rate — how model
    scores are actually consumed by targeting campaigns.  Same scorer
    and task as `auc_rank_based`; the decile cut is deterministic with
    the vec_id tiebreak and runs as the rank-derived ntile over the
    two-phase distributed scan (operators/prefix_sum.py) — no
    single-partition window over the scored table; cumulative/global
    stats are windows over the 10-row decile aggregate."""
    from ..operators.prefix_sum import ntile_from_rank, with_global_rank_and_count

    scored = _norm_scored(spark, sf_dir)
    ranked = with_global_rank_and_count(
        scored, [F.col("score").desc(), F.col("vec_id").asc()]
    )
    deciles = (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("rn"), F.col("_n"), 10).cast("int")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.sum("pos").alias("n_pos"))
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1))
    return (
        deciles.select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.sum("n_pos").over(wcum) / F.sum("n_pos").over(wall).cast("double"),
                6,
            ).alias("cum_capture"),
            F.round(
                (F.col("n_pos") / F.col("n").cast("double"))
                / (
                    F.sum("n_pos").over(wall) / F.sum("n").over(wall).cast("double")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


_SQL_GAINS_BY_SCORE_DECILE = """
WITH scored AS (
  SELECT vec_id,
         round(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS score,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
), deciles AS (
  SELECT decile, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
  FROM (
    SELECT pos, ntile(10) OVER (ORDER BY score DESC, vec_id) AS decile
    FROM scored
  ) GROUP BY decile
)
SELECT CAST(decile AS INT) AS decile, n, n_pos,
       round(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             / CAST(sum(n_pos) OVER () AS DOUBLE), 6) AS cum_capture,
       round((n_pos / CAST(n AS DOUBLE))
             / (sum(n_pos) OVER () / CAST(sum(n) OVER () AS DOUBLE)), 6) AS lift
FROM deciles
ORDER BY decile
"""


SPECS: dict[str, QuerySpec] = {
    "chisq_priority_segment": QuerySpec(
        _q_chisq_priority_segment,
        _SQL_CHISQ_PRIORITY_SEGMENT,
        "chi-square independence test from contingency margins",
    ),
    "psi_price_drift": QuerySpec(
        _q_psi_price_drift,
        _SQL_PSI_PRICE_DRIFT,
        "population stability index over fixed buckets (serving-drift monitor)",
    ),
    "ks_price_periods": QuerySpec(
        _q_ks_price_periods,
        _SQL_KS_PRICE_PERIODS,
        "exact two-sample KS statistic via pooled running CDFs "
        "(two-phase distributed scan, no single-task window)",
    ),
    "ks_price_periods_grid": QuerySpec(
        _q_ks_price_periods_grid,
        _SQL_KS_PRICE_PERIODS_GRID,
        "fixed-grid KS scale twin: one aggregation, bucket-frame window only",
    ),
    "auc_rank_based": QuerySpec(
        _q_auc_rank_based,
        _SQL_AUC_RANK_BASED,
        "exact distributed ROC-AUC via Mann–Whitney midranks",
    ),
    "gains_by_score_decile": QuerySpec(
        _q_gains_by_score_decile,
        _SQL_GAINS_BY_SCORE_DECILE,
        "gains/lift table: cumulative capture rate per score decile",
    ),
}
