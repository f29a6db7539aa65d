"""Round-6 graph pack 3 — clustering structure of the near-dup graph.

Builds on the shared shingle-overlap edge list from
``round6_ir._dup_edges`` (hot-gram-capped inverted-index join, the
same edges the triangle/degree/k-core entries use).

* ``local_clustering_topk`` — per-node local clustering coefficient
  c(v) = triangles_at(v) / C(deg(v), 2) for deg ≥ 2, top-10 by
  (rounded c desc, deg desc, node asc).  Triangle incidence comes from
  the degree-ordered oriented wedge join (each closed triangle charges
  its three corners), so no hub node can explode the join at scale.
* ``global_transitivity`` — the graph-level ratio 3·triangles/wedges
  (plus raw wedge/triangle counts) — the one-number cohesion summary
  next to the per-node view.

100 TB shape: identical to the triangle entry — O(sqrt(m)) oriented
out-degrees bound the wedge join; per-node aggregates are one
hash-agg; the top-k is ``TakeOrderedAndProject``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from .catalog import QuerySpec
from .fragments import orient_by_degree
from ..operators.graph_edges import dup_graph_edges as _dup_edges
from ..operators.graph_edges import dup_graph_edges_ctes

_SQL_DUP_EDGES = dup_graph_edges_ctes()

_LC_TOPK = 10

#: the near-dup graph's degree-oriented edges ``oriented(s, t, dt)`` and
#: degrees ``deg(u, deg)`` — the oracle twin of ``orient_by_degree``
_SQL_ORIENTED = _SQL_DUP_EDGES + """
, both_dir AS (
  SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM both_dir GROUP BY u
), oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN p.u ELSE p.v END AS s,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN p.v ELSE p.u END AS t,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
              THEN dv.deg ELSE du.deg END AS dt
  FROM pr p JOIN deg du ON p.u = du.u JOIN deg dv ON p.v = dv.u
)"""


def _oriented_and_deg(spark: SparkSession, sf_dir: str):
    return orient_by_degree(tracked_cache(_dup_edges(spark, sf_dir)))


def _triangles(oriented: DataFrame) -> DataFrame:
    """Closed triangles as (s, w1, w2) corner rows.  The wedge pair is
    ordered by the SAME (deg, id) rank the orientation uses — id-only
    ordering loses triangles whose closing edge runs rank-upward but
    id-downward (tests/test_properties.py caught the original bug)."""
    a = oriented.select(F.col("s"), F.col("t").alias("w1"), F.col("dt").alias("d1"))
    b = oriented.select(F.col("s"), F.col("t").alias("w2"), F.col("dt").alias("d2"))
    wedges = a.join(b, "s").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(F.col("s").alias("w1"), F.col("t").alias("w2"))
    return wedges.join(closing, ["w1", "w2"])


# --------------------------------------------------------------------------
# local_clustering_topk
# --------------------------------------------------------------------------


def _q_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    oriented, deg = _oriented_and_deg(spark, sf_dir)
    tri = _triangles(oriented)
    corners = (
        tri.select(F.col("s").alias("node"))
        .unionByName(tri.select(F.col("w1").alias("node")))
        .unionByName(tri.select(F.col("w2").alias("node")))
    )
    tri_per_node = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    scored = (
        deg.where(F.col("deg") >= 2)
        .join(tri_per_node, deg["u"] == tri_per_node["node"], "left")
        .select(
            F.col("u").alias("node"),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri"),
            F.round(
                F.coalesce(F.col("n_tri"), F.lit(0)).cast("double") * 2.0
                / (F.col("deg").cast("double") * (F.col("deg").cast("double") - 1)),
                6,
            ).alias("local_cc"),
        )
    )
    return scored.orderBy(
        F.desc("local_cc"), F.desc("deg"), F.asc("node")
    ).limit(_LC_TOPK)


_SQL_LOCAL_CLUSTERING_TOPK = _SQL_ORIENTED + f""", tri AS (
  SELECT a.s, a.t AS w1, b.t AS w2
  FROM oriented a
  JOIN oriented b ON a.s = b.s
    AND (a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t))
  JOIN oriented o ON o.s = a.t AND o.t = b.t
), corners AS (
  SELECT s AS node FROM tri
  UNION ALL SELECT w1 FROM tri
  UNION ALL SELECT w2 FROM tri
), tpn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM corners GROUP BY node
)
SELECT d.u AS node, d.deg,
       COALESCE(t.n_tri, 0) AS n_tri,
       round(CAST(COALESCE(t.n_tri, 0) AS DOUBLE) * 2.0
             / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1)), 6)
         AS local_cc
FROM deg d LEFT JOIN tpn t ON d.u = t.node
WHERE d.deg >= 2
ORDER BY local_cc DESC, d.deg DESC, node
LIMIT {_LC_TOPK}
"""


# --------------------------------------------------------------------------
# global_transitivity
# --------------------------------------------------------------------------


def _q_global_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    oriented, deg = _oriented_and_deg(spark, sf_dir)
    tri = _triangles(oriented).agg(F.count(F.lit(1)).alias("n_triangles"))
    wedges = deg.agg(
        F.sum(
            (F.col("deg").cast("decimal(38,0)") * (F.col("deg") - 1)) / 2
        )
        .cast("bigint")
        .alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        "n_wedges",
        "n_triangles",
        F.round(
            F.col("n_triangles").cast("double") * 3.0
            / F.col("n_wedges").cast("double"),
            6,
        ).alias("transitivity"),
    )


_SQL_GLOBAL_TRANSITIVITY = _SQL_ORIENTED + """, tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM oriented a
  JOIN oriented b ON a.s = b.s
    AND (a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t))
  JOIN oriented o ON o.s = a.t AND o.t = b.t
), wedges AS (
  SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT n_wedges, n_triangles,
       round(CAST(n_triangles AS DOUBLE) * 3.0 / CAST(n_wedges AS DOUBLE), 6)
         AS transitivity
FROM tri CROSS JOIN wedges
"""


SPECS: dict[str, QuerySpec] = {
    "local_clustering_topk": QuerySpec(
        _q_local_clustering_topk,
        _SQL_LOCAL_CLUSTERING_TOPK,
        "per-node local clustering coefficient over the near-dup "
        "graph (degree-ordered oriented triangles), top-10 with full "
        "tiebreak",
    ),
    "global_transitivity": QuerySpec(
        _q_global_transitivity,
        _SQL_GLOBAL_TRANSITIVITY,
        "graph transitivity 3*triangles/wedges with raw counts over "
        "the near-dup graph",
    ),
}
