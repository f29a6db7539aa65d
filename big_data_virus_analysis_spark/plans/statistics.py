"""Statistics pack: exact order statistics, argmax aggregation,
bivariate statistics (correlation / covariance / OLS regression),
deterministic mode, and a Benford first-digit audit.

These are the column-statistics operators a profiling / data-quality
layer needs beyond simple min/max/count (catalog.py's
``column_profile_orders``).  Conventions follow the catalog module
docstring: identical aliases on both sides, doubles rounded before
hashing, deterministic tie-breaks by construction.

Scale notes: every query here is a single hash-aggregation pass over
the fact table (partial map-side aggregation, one shuffle on the group
key).  The exact-percentile query is the one deliberate exception —
``percentile`` needs the group's values together, which Spark handles
with a sort-based aggregate per group; at 100 TB the approx sketch
variant (``approx_percentile_prices``) is the scale path and sits right
next to this exact one in the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import DAY_US

#: epoch-day anchor inside the events fixture's span (2024-01) so the
#: regression's x values are O(10) instead of O(20 000) — keeps the
#: normal-equation sums well-conditioned in both engines.
_DAY_ANCHOR = 19_723


# --------------------------------------------------------------------------
# Exact percentiles per group (median / IQR)
# --------------------------------------------------------------------------

def _q_exact_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of part retail price per brand.
    ``percentile(col, q)`` is Spark's exact continuous-quantile
    aggregate (sort-per-group); DuckDB's ``quantile_cont`` computes the
    same linear interpolation.  The approx-sketch twin
    (`approx_percentile_prices`) is the 100 TB path; this exact variant
    is for the modest-cardinality profiling tier."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.expr("percentile(p_retailprice, 0.25)"), 4).alias("q1"),
            F.round(F.expr("percentile(p_retailprice, 0.5)"), 4).alias("median"),
            F.round(F.expr("percentile(p_retailprice, 0.75)"), 4).alias("q3"),
        )
        .orderBy("p_brand")
    )


_SQL_EXACT_PRICE_QUARTILES = """
SELECT p_brand,
       count(*) AS n_parts,
       round(quantile_cont(p_retailprice, 0.25), 4) AS q1,
       round(quantile_cont(p_retailprice, 0.5), 4) AS median,
       round(quantile_cont(p_retailprice, 0.75), 4) AS q3
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


# --------------------------------------------------------------------------
# Argmax aggregation (struct-max, deterministic under ties)
# --------------------------------------------------------------------------

def _q_argmax_order_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order carrying each priority class's highest total price —
    argmax as ONE aggregation pass via lexicographic struct-max
    (price, key): no window, no self-join, and deterministic under
    price ties because the key participates in the ordering.  This is
    the scalable argmax shape — `max_by` alone leaves tie resolution
    engine-defined."""
    orders = load_table(spark, sf_dir, "orders")
    top = F.max(
        F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            top.getField("k").alias("top_orderkey"),
            F.round(top.getField("p"), 4).alias("top_price"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_ARGMAX_ORDER_BY_PRIORITY = """
SELECT o_orderpriority,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS top_orderkey,
       round((max(struct_pack(p := o_totalprice, k := o_orderkey))).p, 4) AS top_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Bivariate statistics (Pearson correlation / sample covariance)
# --------------------------------------------------------------------------

def _q_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and sample covariance between extended price
    and quantity per return flag — builtin one-pass aggregates
    (`corr`, `covar_samp`), partial-aggregated map-side exactly like a
    sum.  Both engines use the sample (n-1) convention; results rounded
    to 6 before hashing."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
            F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias(
                "covar_price_qty"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("stddev_price"),
        )
        .orderBy("l_returnflag")
    )


_SQL_CORR_PRICE_QUANTITY = """
SELECT l_returnflag,
       count(*) AS n,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_quantity), 4) AS covar_price_qty,
       round(stddev_samp(l_extendedprice), 4) AS stddev_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# Per-group OLS regression (linear trend per user)
# --------------------------------------------------------------------------

def _q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time: builtin OLS
    aggregates `regr_slope` / `regr_intercept` / `regr_r2` with x =
    epoch-day offset from an in-span anchor (small, well-conditioned
    x).  One hash-agg pass per user — the 100 TB shape for fitting
    millions of tiny per-key models without any ML library."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    x = (F.unix_micros(F.col("ts")) / DAY_US).cast("long") - _DAY_ANCHOR
    y = F.col("value")
    return (
        ev.select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
        )
    )


_SQL_USER_VALUE_TREND = """
SELECT user_id,
       count(*) AS n,
       round(regr_slope(value, x), 6) AS slope,
       round(regr_intercept(value, x), 6) AS intercept,
       round(regr_r2(value, x), 6) AS r2
FROM (
  SELECT user_id, value, epoch_us(ts) // 86400000000 - 19723 AS x
  FROM events WHERE user_id < 300
)
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------

def _q_benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: leading-digit frequencies
    vs the log10(1 + 1/d) expectation — the classic fraud/aberration
    screen for monetary columns.  Digit extraction is pure string/math
    expression (no UDF); the share denominator is a whole-frame window
    over the 9-row aggregate, so the second pass is trivially cheap."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = orders.groupBy(digit.alias("digit")).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.lit(1))
    return (
        counts.withColumn("total", F.sum("n").over(w))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("observed_share"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("expected_share"),
        )
        .orderBy("digit")
    )


_SQL_BENFORD_ORDER_TOTALS = """
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
           AS digit,
         count(*) AS n
  FROM orders GROUP BY 1
)
SELECT digit, n,
       round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS observed_share,
       round(log10(1.0 + 1.0 / digit), 6) AS expected_share
FROM counts
ORDER BY digit
"""


# --------------------------------------------------------------------------
# Deterministic per-group mode
# --------------------------------------------------------------------------

def _q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most frequent event type — mode with a DETERMINISTIC
    tie-break (highest count, then lexicographically smallest type) via
    count-then-row_number, because builtin `mode()` leaves ties
    engine-defined.  Two shuffles on user_id-rooted keys; the window
    runs over per-(user, type) counts, never raw events."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("n").alias("mode_n"))
    )


_SQL_MODE_EVENT_TYPE = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE user_id < 300
  GROUP BY 1, 2
)
SELECT user_id, event_type AS mode_type, n AS mode_n
FROM counts
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) = 1
"""


# --------------------------------------------------------------------------
# Per-dimension embedding standardization (feature scaling)
# --------------------------------------------------------------------------

def _q_standardize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization of every embedding dimension — the
    feature-scaling step before distance-based ML.  posexplode →
    per-dimension moment sums (cast to DECIMAL before summing, so both
    engines accumulate exactly and the derived mean/std are
    bit-identical) → broadcast the dim-sized stats back onto the grid.
    Output is the exploded (vec_id, pos, z) grid: cardinality rows×dim
    regardless of corpus size, stats frame is dim-sized regardless of
    corpus size — both bounded at 100 TB.  (For serving, the same
    stats frame zips back array-natively via zip_with with no
    re-grouping shuffle.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    grid = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("xd", F.col("x").cast("double"))
    dec = "decimal(28,12)"
    stats = grid.groupBy("pos").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("xd").cast(dec)).alias("s1"),
        F.sum((F.col("xd") * F.col("xd")).cast(dec)).alias("s2"),
    )
    m = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("n") * m * m) / (F.col("n") - 1)
    dimstats = stats.select("pos", m.alias("m"), F.sqrt(var).alias("s"))
    return (
        grid.join(F.broadcast(dimstats), "pos")
        .select(
            "vec_id",
            "pos",
            # + 0.0 folds IEEE −0.0 (a possible round() output) to +0.0
            # so both engines serialize identically
            (F.round((F.col("xd") - F.col("m")) / F.col("s"), 4) + F.lit(0.0)).alias(
                "z"
            ),
        )
    )


_SQL_STANDARDIZE_EMBEDDINGS = """
WITH grid AS (
  SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS xd
  FROM embeddings, UNNEST(range(0, len(embedding))) t(i)
), stats AS (
  SELECT pos,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(xd AS DECIMAL(28,12))) AS s1,
         sum(CAST(xd * xd AS DECIMAL(28,12))) AS s2
  FROM grid GROUP BY pos
), dimstats AS (
  SELECT pos,
         CAST(s1 AS DOUBLE) / n AS m,
         sqrt((CAST(s2 AS DOUBLE) - n * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n)) / (n - 1)) AS s
  FROM stats
)
SELECT vec_id, pos, round((xd - m) / s, 4) + 0.0 AS z
FROM grid JOIN dimstats USING (pos)
"""


SPECS: dict[str, QuerySpec] = {
    "exact_price_quartiles": QuerySpec(
        _q_exact_price_quartiles,
        _SQL_EXACT_PRICE_QUARTILES,
        "exact interpolated per-group quartiles (approx sketch twin is the scale path)",
    ),
    "argmax_order_by_priority": QuerySpec(
        _q_argmax_order_by_priority,
        _SQL_ARGMAX_ORDER_BY_PRIORITY,
        "single-pass argmax via lexicographic struct-max, tie-deterministic",
    ),
    "corr_price_quantity": QuerySpec(
        _q_corr_price_quantity,
        _SQL_CORR_PRICE_QUANTITY,
        "one-pass Pearson corr / sample covariance per group",
    ),
    "user_value_trend": QuerySpec(
        _q_user_value_trend,
        _SQL_USER_VALUE_TREND,
        "per-key OLS trend via regr_slope/intercept/r2 aggregates",
    ),
    "benford_order_totals": QuerySpec(
        _q_benford_order_totals,
        _SQL_BENFORD_ORDER_TOTALS,
        "Benford first-digit audit of a monetary column",
    ),
    "mode_event_type": QuerySpec(
        _q_mode_event_type,
        _SQL_MODE_EVENT_TYPE,
        "deterministic per-group mode (count + ordered row_number)",
    ),
    "standardize_embeddings": QuerySpec(
        _q_standardize_embeddings,
        _SQL_STANDARDIZE_EMBEDDINGS,
        "per-dimension z-score scaling via exact decimal moments + broadcast stats",
    ),
}
