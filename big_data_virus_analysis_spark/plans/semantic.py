"""SemDeDup pack: cluster-scoped semantic deduplication over the
embedding column.

The SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication" — public): assign
every embedding to a coarse cluster, then search for near-duplicate
pairs ONLY within a cluster, keeping one representative per duplicate
group.  Clustering bounds the pair search: with C balanced clusters the
candidate volume drops from n²/2 to n²/(2C) — at web scale C is ~10⁵,
so the per-cluster blocks are small enough for exact scoring.

Here the coarse quantizer is the deterministic per-label nearest-
centroid assignment shared with the RAG pack
(plans/fragments.py::assign_nearest_centroid) — no ML training, so both
queries carry exact DuckDB oracles end-to-end (the trained-quantizer
variant of the same shape is ivf_ann_topk).

Plan shape at 100 TB: the centroid table broadcasts (C × dim doubles);
the corpus streams once to get (vec_id, cluster); the pair join
shuffles on the cluster id — a plain equi-join key.  Cluster-size skew
is the scale risk (one mega-cluster re-creates the quadratic blowup),
handled the same way the text near-dup stack handles hot shingles:
raise C so clusters stay bounded, and AQE skew-join splits stragglers.

* ``semantic_dedup_pairs`` — within-cluster cosine pairs at/above the
  rounded threshold, ``vec_a < vec_b``.
* ``semantic_dedup_survivors`` — the greedy keep-lowest-id rule: a
  vector is dropped iff it has a smaller-id near-duplicate in its
  cluster; output is the deduplicated corpus (vec_id, cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity
from ..operators.similarity import lsh_bucket
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import (
    SQL_CENTROID_ASSIGN_BODY,
    assign_nearest_centroid,
    sql_lsh_bucket_ctes,
)
from ..operators.caching import tracked_cache

_TAU = 0.4  # rounded-cosine threshold (matches embedding_near_dup's)
_FINE_PLANES = 4  # sub-bucket planes for the fine-grained variant


def _clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return assign_nearest_centroid(emb).select(
        "vec_id", "embedding", F.col("clabel").alias("cluster")
    )


def _pairs(clustered: DataFrame) -> DataFrame:
    # materialize the (narrow) assignment once: both self-join branches
    # would otherwise replay the centroid argmin (AQE defeats
    # ReusedExchange matching — see operators/dedup.py)
    clustered = clustered.transform(tracked_cache)
    a = clustered.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        "cluster",
    )
    b = clustered.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        "cluster",
    )
    return (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6))
        .where(F.col("sim") >= _TAU)
        .select("cluster", "vec_a", "vec_b", "sim")
    )


def _q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pairs(_clustered(spark, sf_dir))


#: the within-cluster cosine pairs at the 0.4 floor, over ``dots`` and
#: ``norms``
_SQL_PAIRS_CTE = """), pairs AS (
  SELECT cluster, vec_a, vec_b,
         round(dot / (na.nrm * nb.nrm), 6) AS sim
  FROM dots
  JOIN norms na ON vec_a = na.vec_id
  JOIN norms nb ON vec_b = nb.vec_id
  WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.4
)"""

#: cluster assignment + within-cluster cosine pairs — ends with a
#: ``pairs(cluster, vec_a, vec_b, sim)`` CTE
_SQL_PAIRS_BODY = SQL_CENTROID_ASSIGN_BODY + f"""
, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
), dots AS (
  SELECT ba.clabel AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(a.x * b.x) AS dot
  FROM elems a
  JOIN best ba ON a.vec_id = ba.vec_id
  JOIN best bb ON ba.clabel = bb.clabel
  JOIN elems b ON b.vec_id = bb.vec_id AND b.i = a.i
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
{_SQL_PAIRS_CTE}
"""

_SQL_SEMANTIC_DEDUP_PAIRS = _SQL_PAIRS_BODY + """
SELECT cluster, vec_a, vec_b, sim FROM pairs
"""


def _q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    clustered = _clustered(spark, sf_dir)
    dropped = _pairs(clustered).select(F.col("vec_b").alias("vec_id")).distinct()
    return (
        clustered.join(dropped, "vec_id", "left_anti")
        .select("vec_id", "cluster")
    )


_SQL_SEMANTIC_DEDUP_SURVIVORS = _SQL_PAIRS_BODY + """
SELECT b.vec_id, b.clabel AS cluster
FROM best b
WHERE b.vec_id NOT IN (SELECT vec_b FROM pairs)
"""


# --------------------------------------------------------------------------
# fine-grained variant: the "raise C" scale knob made concrete
# --------------------------------------------------------------------------

def _q_semantic_dedup_pairs_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same SemDeDup pair search with C multiplied 16×: cluster =
    (label centroid, 4-plane sign-LSH sub-bucket) — the deterministic
    stand-in for training more centroids.  Per-cluster blocks shrink
    16×, so candidate volume drops to ~n²/(16·C); the price is recall
    (a near-dup pair split across sub-buckets is missed — by
    construction a SUBSET of the coarse variant's pairs, asserted in
    tests).  Both the sub-bucket hash and the centroid assignment are
    exact SQL, so this variant keeps a full value-hash oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = assign_nearest_centroid(emb)
    fine = assigned.select(
        "vec_id",
        "embedding",
        (
            F.col("clabel").cast("bigint") * (1 << _FINE_PLANES)
            + lsh_bucket(F.col("embedding"), n_planes=_FINE_PLANES)
        ).alias("cluster"),
    )
    return _pairs(fine)


_SQL_SEMANTIC_DEDUP_PAIRS_FINE = SQL_CENTROID_ASSIGN_BODY + f"""
, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
{sql_lsh_bucket_ctes(4)}), fine AS (
  SELECT b.vec_id, b.clabel * 16 + bk.bucket AS cluster
  FROM best b JOIN buckets bk ON b.vec_id = bk.vec_id
), dots AS (
  SELECT fa.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(a.x * b.x) AS dot
  FROM elems a
  JOIN fine fa ON a.vec_id = fa.vec_id
  JOIN fine fb ON fa.cluster = fb.cluster
  JOIN elems b ON b.vec_id = fb.vec_id AND b.i = a.i
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2, 3
{_SQL_PAIRS_CTE}
SELECT cluster, vec_a, vec_b, sim FROM pairs
"""


SPECS: dict[str, QuerySpec] = {
    "semantic_dedup_pairs": QuerySpec(
        _q_semantic_dedup_pairs,
        _SQL_SEMANTIC_DEDUP_PAIRS,
        "SemDeDup: within-cluster cosine near-dup pairs (broadcast "
        "centroids, equi-join on cluster id — n²/C candidate volume)",
    ),
    "semantic_dedup_survivors": QuerySpec(
        _q_semantic_dedup_survivors,
        _SQL_SEMANTIC_DEDUP_SURVIVORS,
        "SemDeDup survivors: greedy keep-lowest-id within each cluster "
        "(anti-join on the dropped side)",
    ),
    "semantic_dedup_pairs_fine": QuerySpec(
        _q_semantic_dedup_pairs_fine,
        _SQL_SEMANTIC_DEDUP_PAIRS_FINE,
        "SemDeDup with 16x more clusters (label x 4-plane sign-LSH "
        "sub-bucket): the raise-C scale knob as code — candidate volume "
        "n²/(16·C), pairs a strict subset of the coarse variant",
    ),
}
