"""Round-6 graph pack 2 — link prediction and core decomposition over
the min-support co-purchase graph.

Both queries run on the *weight-thresholded* co-purchase graph: part
pairs that share **>= 2 orders** (``MIN_COORDERS``).  The raw
share-an-order graph is dense (at sf0.01: 231k edges over 2k parts,
27.8M wedges — measured), so every neighborhood algorithm on it
explodes on hub parts.  The min-support threshold is the standard
production fix (it is also what makes the association-rule family
tractable): at sf0.01 it leaves 3.4k edges with max degree 13 and 13.4k
wedges.  At 100 TB the same knob holds — the first aggregation is a
partial-agg ``(order, part)`` pair count whose output shrinks with the
threshold, and the wedge pivot additionally carries an explicit
degree cap (``_AA_HUB_CAP``) for adversarial hubs the threshold alone
cannot stop — excluded hub mass is reported in the output's audit
columns so the approximation is observable, not silent.

* ``adamic_adar_linkpred`` — Adamic–Adar link prediction scores for
  NON-adjacent pairs: AA(x,y) = sum over common neighbors z of
  1/ln(deg(z)) (Adamic & Adar 2003, "Friends and neighbors on the
  Web").  Wedge generation is the z-centered adjacency self-join (the
  same inverted-index shape as dedup's shingle join), existing edges
  are removed with a left-anti join, and the top-20 survives via
  ``orderBy().limit()`` (TakeOrderedAndProject — no global window).
  Per-wedge contributions go through DECIMAL(28,12) before the sum so
  accumulation is exact and order-independent in both engines (the
  same determinism contract as operators/graph.py::pagerank).

* ``kcore_peel_rounds`` — three unrolled rounds of k-core peeling
  (k=3): each round drops nodes of degree < k and keeps only edges
  with both endpoints surviving; the output is the (round, n_nodes,
  n_edges) trajectory.  This is the exact per-iteration body of the
  distributed k-core algorithm (Montresor et al. 2013) expressed as
  joins + hash aggs — the honest way to oracle an iterative algorithm
  (same policy as the PageRank/Lloyd exact twins).  Each round's edge
  frame is tracked-cached: round r+1 and round r's summary both
  consume it, and without the cache the lineage replays the full
  peeling prefix.

No reference counterpart (the reference has no graph analytics);
engine-infrastructure extension alongside operators/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from .catalog import QuerySpec
from .fragments import SQL_SUPPORT_EDGES, sql_support_edge_rounds, support_edges

_AA_TOPK = 20
#: hub-degree cap on the wedge pivot: a common neighbor z with
#: deg(z) > _AA_HUB_CAP would emit deg(z)^2 wedges while contributing
#: only 1/ln(deg(z)) <= 1/ln(65) ~ 0.24 per pair — negligible mass for
#: quadratic cost, and under adversarial skew (a part co-ordered with
#: everything) the min-support threshold alone does not stop the
#: densification.  Same df-cap discipline as ``_PR_DF_CAP = 64`` in
#: plans/round6_ops.py.  The excluded mass is reported in the output's
#: ``capped_hubs`` / ``capped_mass_ub`` audit columns (a 1-row
#: broadcast), so a consumer can see exactly what the cap dropped.
_AA_HUB_CAP = 64
_KCORE_K = 3
_KCORE_ROUNDS = 3

#: exact-accumulation type for per-wedge AA contributions (same
#: contract as operators/graph.py::_CONTRIB_DEC)
_AA_DEC = "decimal(28,12)"


# --------------------------------------------------------------------------
# adamic_adar_linkpred
# --------------------------------------------------------------------------


def _q_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tracked_cache(support_edges(spark, sf_dir))
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).transform(tracked_cache)
    # deg is consumed twice (pivot filter + cap audit) and tracked-
    # cached: without the cache each consumer repeats the groupBy
    # shuffle over adj (measured 3.9s vs 3.2s at sf0.1).  The cap +
    # audit cost ~0.7s over the uncapped r6 plan at sf0.1 — the
    # insurance premium for bounded wedge work under adversarial hubs.
    deg = tracked_cache(adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # z-centered wedge join: (z -> x) x (z -> y), x < y; contribution
    # 1/ln(deg(z)) rides along as exact decimal.  Hub pivots
    # (deg > _AA_HUB_CAP) are excluded BEFORE pairing — they cost
    # deg^2 wedges for <=1/ln(cap+1) mass each — and their total mass
    # is surfaced as an audit column instead.
    pivot = adj.join(deg, "node").where(F.col("deg") <= _AA_HUB_CAP).select(
        "node",
        "nbr",
        (F.lit(1.0) / F.log(F.col("deg").cast("double"))).cast(_AA_DEC).alias("contrib"),
    )
    # 1-row audit: how many pivots the cap removed and the max score
    # mass (upper bound) any single pair could have lost
    cap_audit = deg.agg(
        F.coalesce(
            F.sum(F.when(F.col("deg") > _AA_HUB_CAP, F.lit(1))), F.lit(0)
        ).alias("capped_hubs"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("deg") > _AA_HUB_CAP,
                        (F.lit(1.0) / F.log(F.col("deg").cast("double"))).cast(
                            _AA_DEC
                        ),
                    )
                ).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("capped_mass_ub"),
    )
    wedges = (
        pivot.alias("a")
        .join(adj.alias("b"), F.col("a.node") == F.col("b.node"))
        .where(F.col("a.nbr") < F.col("b.nbr"))
        .select(
            F.col("a.nbr").alias("x"),
            F.col("b.nbr").alias("y"),
            F.col("a.contrib").alias("contrib"),
        )
    )
    cand = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("n_common"), F.sum("contrib").alias("score_dec")
    )
    # link prediction scores only NON-edges: drop already-connected pairs
    non_edges = cand.join(
        edges,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    return (
        non_edges.orderBy(F.col("score_dec").desc(), F.asc("x"), F.asc("y"))
        .limit(_AA_TOPK)
        .crossJoin(F.broadcast(cap_audit))
        .select(
            "x",
            "y",
            "n_common",
            F.round(F.col("score_dec").cast("double"), 6).alias("aa_score"),
            "capped_hubs",
            "capped_mass_ub",
        )
    )


_SQL_ADAMIC_ADAR_LINKPRED = (
    SQL_SUPPORT_EDGES
    + f""", adj AS (
  SELECT u AS node, v AS nbr FROM e
  UNION ALL
  SELECT v AS node, u AS nbr FROM e
), deg AS (
  SELECT node, count(*) AS deg FROM adj GROUP BY node
), cap_audit AS (
  -- pivots the hub cap removed + the max per-pair mass they carried
  SELECT CAST(coalesce(sum(CASE WHEN deg > {_AA_HUB_CAP} THEN 1 END), 0)
              AS BIGINT) AS capped_hubs,
         round(coalesce(CAST(sum(CASE WHEN deg > {_AA_HUB_CAP} THEN
                 CAST(1.0 / ln(CAST(deg AS DOUBLE)) AS DECIMAL(28,12))
               END) AS DOUBLE), 0.0), 6) AS capped_mass_ub
  FROM deg
), piv AS (
  SELECT adj.node, adj.nbr,
         CAST(1.0 / ln(CAST(deg.deg AS DOUBLE)) AS DECIMAL(28,12)) AS contrib
  FROM adj JOIN deg USING (node)
  WHERE deg.deg <= {_AA_HUB_CAP}
), wedges AS (
  SELECT a.nbr AS x, b.nbr AS y, a.contrib
  FROM piv a JOIN adj b ON a.node = b.node
  WHERE a.nbr < b.nbr
), cand AS (
  SELECT x, y, count(*) AS n_common, sum(contrib) AS score_dec
  FROM wedges GROUP BY x, y
), non_edges AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.x AND e.v = c.y)
)
SELECT x, y, CAST(n_common AS BIGINT) AS n_common,
       round(CAST(score_dec AS DOUBLE), 6) AS aa_score,
       capped_hubs, capped_mass_ub
FROM non_edges CROSS JOIN cap_audit
ORDER BY score_dec DESC, x ASC, y ASC
LIMIT {_AA_TOPK}
"""
)


# --------------------------------------------------------------------------
# kcore_peel_rounds
# --------------------------------------------------------------------------


def _q_kcore_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tracked_cache(support_edges(spark, sf_dir))
    k = _KCORE_K
    summaries: list[DataFrame] = []
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        both = cur.select(F.col("u").alias("node")).unionByName(
            cur.select(F.col("v").alias("node"))
        )
        keep = (
            both.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("node")
        )
        cur = tracked_cache(
            cur.join(keep.withColumnRenamed("node", "u"), "u").join(
                keep.withColumnRenamed("node", "v"), "v"
            ).select("u", "v")
        )
        n_nodes = keep.agg(F.count(F.lit(1)).alias("n_nodes"))
        n_edges = cur.agg(F.count(F.lit(1)).alias("n_edges"))
        summaries.append(
            n_nodes.crossJoin(n_edges).select(
                F.lit(r).alias("round"), "n_nodes", "n_edges"
            )
        )
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out


def _kcore_sql() -> str:
    k, parts = _KCORE_K, []
    prev = "e"
    ctes = []
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""keep{r} AS (
  SELECT node FROM (
    SELECT node, count(*) AS deg FROM (
      SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev}
    ) GROUP BY node
  ) WHERE deg >= {k}
), e{r} AS (
  SELECT p.u, p.v FROM {prev} p
  JOIN keep{r} ku ON p.u = ku.node
  JOIN keep{r} kv ON p.v = kv.node
)"""
        )
        parts.append(
            f"SELECT {r} AS round, (SELECT count(*) FROM keep{r}) AS n_nodes,"
            f" (SELECT count(*) FROM e{r}) AS n_edges"
        )
        prev = f"e{r}"
    return sql_support_edge_rounds(ctes, parts)


_SQL_KCORE_PEEL_ROUNDS = _kcore_sql()


SPECS: dict[str, QuerySpec] = {
    "adamic_adar_linkpred": QuerySpec(
        _q_adamic_adar_linkpred,
        _SQL_ADAMIC_ADAR_LINKPRED,
        "Adamic-Adar link prediction top-20 over the min-support "
        "co-purchase graph (non-edges only; decimal-exact wedge sums)",
    ),
    "kcore_peel_rounds": QuerySpec(
        _q_kcore_peel_rounds,
        _SQL_KCORE_PEEL_ROUNDS,
        "three exact unrolled k-core peeling rounds (k=3): per-round "
        "surviving node and edge counts",
    ),
}
