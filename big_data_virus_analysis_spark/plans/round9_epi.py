"""Round-9 stratified-categorical pack: pooled-association and
multi-rater tests over fixed deterministic scorers — the 2×2-family
members (chi-square, McNemar, Simpson-direction, kappa) lacked a
STRATIFIED pooled effect and a k>2 rater test.

* ``mantel_haenszel_or`` — Mantel–Haenszel pooled odds ratio across the
  5 market-segment strata for exposure = urgent priority, outcome =
  order contains a returned line (``l_returnflag = 'R'``):
  OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ).  Per-stratum terms are computed as
  ``(a·d·10⁶) div n`` — exact integer division on both engines — so the
  pooled ratio never sums engine-ordered doubles.  Per-stratum ORs ride
  alongside; the pooled row is a 1-row-agg broadcast.  The Simpson's-
  paradox-proof pooling the marginal 2×2 (chisq_priority_segment
  family) cannot give.
* ``cochrans_q_scorers`` — Cochran's Q for k=3 FIXED deterministic
  binary scorers of the urgent label (the McNemar pair — custkey hash
  bit, price threshold — plus an orderkey middle-bit hash): does any
  scorer differ in marginal success rate?  Q = (k−1)[kΣC_j² − T²] /
  [kT − ΣR_i²], every term an exact integer until the final division.
  McNemar is the k=2 special case; Q is its k-rater generalization on
  identical cases.

100 TB shape: one orders⋈customer(broadcast) scan (+ one
lineitem→order partial agg for the outcome flag), per-stratum counts
are hash aggs, the pooled scalar is a 1-row broadcast; Cochran's Q is
one scan → one 1-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import M31

#: price threshold shared with mcnemar_fixed_scorers (round8_ml)
_EPI_PRICE_CENTS = 15_000_000


def _q_mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    returned = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        (F.max((F.col("l_returnflag") == "R").cast("int")) == 1).alias("outc")
    )
    base = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(returned, "o_orderkey")
        .select(
            F.col("c_mktsegment").alias("segment"),
            (F.col("o_orderpriority") == "1-URGENT").alias("exp"),
            "outc",
        )
    )
    cells = base.groupBy("segment").agg(
        F.sum((F.col("exp") & F.col("outc")).cast("bigint")).alias("a"),
        F.sum((F.col("exp") & ~F.col("outc")).cast("bigint")).alias("b"),
        F.sum((~F.col("exp") & F.col("outc")).cast("bigint")).alias("c"),
        F.sum((~F.col("exp") & ~F.col("outc")).cast("bigint")).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.select(
        "segment",
        "a",
        "b",
        "c",
        "d",
        F.expr("(a * d * 1000000) div (a + b + c + d)").alias("num6"),
        F.expr("(b * c * 1000000) div (a + b + c + d)").alias("den6"),
        F.round(
            (F.col("a") * F.col("d")).cast("double")
            / (F.col("b") * F.col("c")).cast("double"),
            6,
        ).alias("or_stratum"),
    )
    pooled = terms.agg(
        F.round(
            F.sum("num6").cast("double") / F.sum("den6").cast("double"), 6
        ).alias("mh_or")
    )
    return (
        terms.select("segment", "a", "b", "c", "d", "or_stratum")
        .crossJoin(F.broadcast(pooled))
        .orderBy("segment")
    )


_SQL_MANTEL_HAENSZEL_OR = """
WITH ret AS (
  SELECT l_orderkey AS o_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1 AS outc
  FROM lineitem GROUP BY 1
), base AS (
  SELECT c.c_mktsegment AS segment,
         o.o_orderpriority = '1-URGENT' AS exp,
         r.outc
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN ret r USING (o_orderkey)
), cells AS (
  SELECT segment,
         sum(CASE WHEN exp AND outc THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN exp AND NOT outc THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN NOT exp AND outc THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN NOT exp AND NOT outc THEN 1 ELSE 0 END) AS d
  FROM base GROUP BY 1
), terms AS (
  SELECT segment, a, b, c, d,
         (a * d * 1000000) // (a + b + c + d) AS num6,
         (b * c * 1000000) // (a + b + c + d) AS den6,
         round(CAST(a * d AS DOUBLE) / (b * c), 6) AS or_stratum
  FROM cells
), pooled AS (
  SELECT round(CAST(sum(num6) AS DOUBLE) / sum(den6), 6) AS mh_or FROM terms
)
SELECT segment, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d, or_stratum, mh_or
FROM terms CROSS JOIN pooled
ORDER BY segment
"""


def _q_cochrans_q_scorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h_cust = (F.col("o_custkey") * F.lit(2654435761)) % M31
    h_ord = (F.col("o_orderkey") * F.lit(2654435761)) % M31
    base = orders.select(
        (F.col("o_orderpriority") == "1-URGENT").alias("label"),
        (h_cust.bitwiseAND(F.lit(65536)) == 0).alias("p1"),
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            < _EPI_PRICE_CENTS
        ).alias("p2"),
        (h_ord.bitwiseAND(F.lit(65536)) == 0).alias("p3"),
    ).select(
        (F.col("p1") == F.col("label")).cast("bigint").alias("x1"),
        (F.col("p2") == F.col("label")).cast("bigint").alias("x2"),
        (F.col("p3") == F.col("label")).cast("bigint").alias("x3"),
    )
    per_item = base.select(
        "x1", "x2", "x3", (F.col("x1") + F.col("x2") + F.col("x3")).alias("r")
    )
    mom = per_item.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("c1"),
        F.sum("x2").alias("c2"),
        F.sum("x3").alias("c3"),
        F.sum(F.col("r") * F.col("r")).alias("sum_r2"),
        F.sum("r").alias("t"),
    )
    k = 3
    num = (k - 1) * (
        k
        * (
            F.col("c1") * F.col("c1")
            + F.col("c2") * F.col("c2")
            + F.col("c3") * F.col("c3")
        )
        - F.col("t") * F.col("t")
    )
    den = k * F.col("t") - F.col("sum_r2")
    return mom.select(
        F.col("n").alias("n_cases"),
        "c1",
        "c2",
        "c3",
        F.lit(k - 1).alias("df"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("cochran_q"),
    )


_SQL_COCHRANS_Q_SCORERS = f"""
WITH base AS (
  SELECT (o_orderpriority = '1-URGENT') AS label,
         (((o_custkey * 2654435761) % {M31}) & 65536) = 0 AS p1,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) < {_EPI_PRICE_CENTS} AS p2,
         (((o_orderkey * 2654435761) % {M31}) & 65536) = 0 AS p3
  FROM orders
), xs AS (
  SELECT CASE WHEN p1 = label THEN 1 ELSE 0 END AS x1,
         CASE WHEN p2 = label THEN 1 ELSE 0 END AS x2,
         CASE WHEN p3 = label THEN 1 ELSE 0 END AS x3
  FROM base
), mom AS (
  SELECT count(*) AS n, sum(x1) AS c1, sum(x2) AS c2, sum(x3) AS c3,
         sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS sum_r2,
         sum(x1 + x2 + x3) AS t
  FROM xs
)
SELECT CAST(n AS BIGINT) AS n_cases,
       CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
       CAST(c3 AS BIGINT) AS c3,
       2 AS df,
       round(CAST(2 * (3 * (c1*c1 + c2*c2 + c3*c3) - t*t) AS DOUBLE)
             / (3 * t - sum_r2), 6) AS cochran_q
FROM mom
"""


SPECS: dict[str, QuerySpec] = {
    "mantel_haenszel_or": QuerySpec(
        _q_mantel_haenszel_or,
        _SQL_MANTEL_HAENSZEL_OR,
        "Mantel-Haenszel pooled odds ratio (urgent -> returned-line) "
        "across the 5 segment strata, integer-division stratum terms, "
        "per-stratum ORs alongside",
    ),
    "cochrans_q_scorers": QuerySpec(
        _q_cochrans_q_scorers,
        _SQL_COCHRANS_Q_SCORERS,
        "Cochran's Q across 3 fixed deterministic urgent-label scorers "
        "(the McNemar pair + an orderkey hash bit) — integer terms to "
        "the final division",
    ),
}
