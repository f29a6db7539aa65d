"""Integrity & incremental-maintenance pack: bucketed table checksums
and incremental rollup merging.

Two operational primitives of a pipeline engine:

* **checksum buckets** — order-independent table fingerprints for
  cross-system migration validation (the chunked-checksum technique of
  data-diff tools): rows serialize canonically, bucket by key hash,
  each bucket's md5 covers its sorted row serializations.  Two tables
  are equal iff all bucket checksums match, and a mismatch localizes
  the diff to one bucket.
* **incremental rollup** — a materialized daily rollup maintained by
  MERGING a delta aggregate into a base aggregate instead of
  recomputing: valid for any mergeable (commutative-monoid) aggregate
  — here count and an exact decimal sum.  The oracle recomputes from
  scratch; equality demonstrates the maintenance identity.

Conventions as in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import DAY_US

_N_BUCKETS = 64
#: events-fixture split day (2024-01-20): ~2/3 base, ~1/3 delta
_SPLIT_DAY = 19_742


# --------------------------------------------------------------------------
# Bucketed order-independent table checksums
# --------------------------------------------------------------------------

def _q_checksum_orders_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64 bucketed checksums over the orders table's key columns.
    Rows serialize to a canonical '|'-joined string (integer and date
    columns only — float-to-string formatting is engine-defined, so
    doubles are excluded from the canonical form by design); buckets
    key on orderkey mod 64; each bucket md5s its SORTED row strings, so
    the checksum is independent of scan/partition order.

    Scale: the per-bucket collect is the bounded part — pick the bucket
    count so buckets hold ~a few thousand rows (bucket count grows with
    the table; it is a layout parameter exactly like shuffle
    partitions).  Each bucket is one agg buffer; buckets are
    independent and spread across the cluster."""
    orders = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    return (
        orders.select(
            (F.col("o_orderkey") % _N_BUCKETS).alias("bucket"),
            row_str.alias("row_str"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.md5(
                F.array_join(F.sort_array(F.collect_list("row_str")), ",")
            ).alias("checksum"),
        )
        .orderBy("bucket")
    )


_SQL_CHECKSUM_ORDERS_BUCKETS = """
SELECT o_orderkey % 64 AS bucket,
       count(*) AS n_rows,
       md5(string_agg(row_str, ',' ORDER BY row_str)) AS checksum
FROM (
  SELECT o_orderkey,
         concat_ws('|', o_orderkey, o_custkey,
                   strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)
           AS row_str
  FROM orders
)
GROUP BY bucket
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Incremental rollup maintenance (base ⊕ delta = full recompute)
# --------------------------------------------------------------------------

def _q_incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event rollup maintained incrementally: the pre-split BASE
    aggregate and the post-split DELTA aggregate merge with a
    full-outer join + coalesced monoid merge (count: +, sum: decimal
    +).  The oracle recomputes the rollup from the full table — their
    equality is the incremental-view-maintenance identity that lets a
    100 TB rollup absorb a daily delta without rescanning history.
    Both partial aggregates shuffle on day_num; the merge join is
    day-cardinality-sized."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts")) / DAY_US).cast("long").alias("day_num"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day_num").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )

    base = rollup(ev.where(F.col("day_num") < _SPLIT_DAY))
    delta = rollup(ev.where(F.col("day_num") >= _SPLIT_DAY))
    b, d = base.alias("b"), delta.alias("d")
    zero_n = F.lit(0).cast("long")
    zero_s = F.lit("0").cast("decimal(18,6)")
    return (
        b.join(d, F.col("b.day_num").eqNullSafe(F.col("d.day_num")), "full_outer")
        .select(
            F.coalesce(F.col("b.day_num"), F.col("d.day_num")).alias("day_num"),
            (
                F.coalesce(F.col("b.n"), zero_n) + F.coalesce(F.col("d.n"), zero_n)
            ).alias("n_events"),
            F.round(
                (
                    F.coalesce(F.col("b.s"), zero_s)
                    + F.coalesce(F.col("d.s"), zero_s)
                ).cast("double"),
                4,
            ).alias("sum_value"),
        )
        .orderBy("day_num")
    )


_SQL_INCREMENTAL_DAILY_ROLLUP = """
SELECT epoch_us(ts) // 86400000000 AS day_num,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY day_num
ORDER BY day_num
"""


# --------------------------------------------------------------------------
# Row-level table diff (the drill-down after a checksum mismatch)
# --------------------------------------------------------------------------

def _q_table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between the orders table and a deterministically
    perturbed copy (every 97th key re-priced, every 89th dropped —
    standing in for yesterday's snapshot): full-outer join on the key,
    canonical row strings compared, one row per difference with status
    only_left / only_right / changed.  This is the drill-down a
    checksum-bucket mismatch (``checksum_orders_buckets``) localizes
    to; the join shuffles both sides once on the key."""
    orders = load_table(spark, sf_dir, "orders")
    left = orders.select(
        "o_orderkey",
        F.concat_ws(
            "|",
            F.col("o_custkey"),
            # integer-scaled price: engine-neutral canonical form (float
            # FORMATTING differs between engines; scaled integers don't)
            F.round(F.col("o_totalprice") * 10000).cast("bigint"),
        ).alias("row_l"),
    )
    perturbed = (
        orders.where(F.col("o_orderkey") % 89 != 0)
        .select(
            "o_orderkey",
            F.col("o_custkey"),
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
    )
    right = perturbed.select(
        F.col("o_orderkey").alias("rk"),
        F.concat_ws(
            "|",
            F.col("o_custkey"),
            F.round(F.col("o_totalprice") * 10000).cast("bigint"),
        ).alias("row_r"),
    )
    joined = left.join(right, left["o_orderkey"] == right["rk"], "full_outer")
    return (
        joined.select(
            F.coalesce(F.col("o_orderkey"), F.col("rk")).alias("key"),
            F.when(F.col("rk").isNull(), "only_left")
            .when(F.col("o_orderkey").isNull(), "only_right")
            .when(F.col("row_l") != F.col("row_r"), "changed")
            .otherwise("same")
            .alias("status"),
        )
        .where(F.col("status") != "same")
        .orderBy("key")
    )


_SQL_TABLE_DIFF_ORDERS = """
WITH l AS (
  SELECT o_orderkey,
         concat_ws('|', o_custkey,
                   CAST(round(o_totalprice * 10000) AS BIGINT)) AS row_l
  FROM orders
), r AS (
  SELECT o_orderkey AS rk,
         concat_ws('|', o_custkey,
                   CAST(round((CASE WHEN o_orderkey % 97 = 0
                                    THEN o_totalprice + 1.0
                                    ELSE o_totalprice END) * 10000) AS BIGINT))
           AS row_r
  FROM orders WHERE o_orderkey % 89 <> 0
)
SELECT coalesce(o_orderkey, rk) AS key,
       CASE WHEN rk IS NULL THEN 'only_left'
            WHEN o_orderkey IS NULL THEN 'only_right'
            WHEN row_l <> row_r THEN 'changed'
            ELSE 'same' END AS status
FROM l FULL OUTER JOIN r ON o_orderkey = rk
WHERE (CASE WHEN rk IS NULL THEN 'only_left'
            WHEN o_orderkey IS NULL THEN 'only_right'
            WHEN row_l <> row_r THEN 'changed'
            ELSE 'same' END) <> 'same'
ORDER BY key
"""


SPECS: dict[str, QuerySpec] = {
    "checksum_orders_buckets": QuerySpec(
        _q_checksum_orders_buckets,
        _SQL_CHECKSUM_ORDERS_BUCKETS,
        "order-independent bucketed md5 checksums for migration validation",
    ),
    "incremental_daily_rollup": QuerySpec(
        _q_incremental_daily_rollup,
        _SQL_INCREMENTAL_DAILY_ROLLUP,
        "incremental view maintenance: base ⊕ delta equals full recompute",
    ),
    "table_diff_orders": QuerySpec(
        _q_table_diff_orders,
        _SQL_TABLE_DIFF_ORDERS,
        "row-level snapshot diff (only_left/only_right/changed) via full outer join",
    ),
}
