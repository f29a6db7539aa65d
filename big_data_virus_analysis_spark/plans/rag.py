"""RAG-pipeline pack: chunking, hybrid retrieval fusion, and
nearest-centroid assignment.

Three operations a retrieval-augmented / curriculum pipeline runs over
the corpus before anything reaches a model:

* ``rag_chunk_windows`` — split every document into overlapping
  fixed-size token windows (size 32, stride 16, tail chunk kept).  The
  chunk table is the unit of embedding + indexing downstream.  Pure
  per-row array math (``transform`` over a computed chunk count, one
  ``explode``): a MAP over the scan, zero shuffles, embarrassingly
  parallel at any corpus size.
* ``rrf_hybrid_fusion`` — reciprocal-rank fusion (k=60) of a lexical
  BM25 ranking and a semantic cosine ranking, the standard hybrid
  search scorer.  Both input lists are cut to top-50 with
  ``orderBy().limit()`` FIRST (TakeOrderedAndProject — no global
  row-number window ever sees more than 50 rows), then fused with a
  full-outer join on the doc id.
* ``nearest_centroid_assign`` — assign every embedding to its nearest
  per-label centroid (squared L2) and emit the label-vs-assigned
  confusion counts: the relational core of SemDeDup-style semantic
  clustering and prototype classification.  Centroids are a
  labels×dim aggregate (tiny), carried as arrays on a broadcast
  nested-loop cross join (allowlisted: 10-row build side); the
  distance fold is ``zip_with`` + ``aggregate`` (JVM codegen), and the
  argmin window partitions by vec_id so it parallelizes freely.

Conventions as in catalog.py: every float is rounded before ranking /
output so the DuckDB oracle agrees exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import (
    QUERY_TERMS,
    SQL_BM25_BODY,
    SQL_CENTROID_ASSIGN_BODY,
    SQL_RAG_CHUNK_WINDOWS,
    assign_nearest_centroid,
    bm25_scores,
)

_CHUNK = 32
_STRIDE = 16
_RRF_K = 60
_TOP_IN = 50
_TOP_OUT = 20


# --------------------------------------------------------------------------
# rag_chunk_windows
# --------------------------------------------------------------------------

def _q_rag_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    # stage the token array: a lambda closing over filter(split(...))
    # inlines it into every slice() call — O(n²) per row
    n = F.size("_toks")
    n_chunks = F.when(n <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((n - _CHUNK) / F.lit(float(_STRIDE))).cast("int") + 1
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                (1 + (i - 1) * _STRIDE).cast("int").alias("start_pos"),
                F.slice(F.col("_toks"), 1 + (i - 1) * _STRIDE, _CHUNK).alias("c"),
            ),
        )
    )
    return (
        docs.where(F.size(a) >= 1)
        .select("doc_id", a.alias("_toks"))
        .select("doc_id", chunk.alias("ch"))
        .select(
            "doc_id",
            F.col("ch.chunk_idx").alias("chunk_idx"),
            F.col("ch.start_pos").alias("start_pos"),
            F.size("ch.c").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.col("ch.c"))).alias("chunk_hash"),
        )
    )


# --------------------------------------------------------------------------
# rrf_hybrid_fusion
# --------------------------------------------------------------------------

def _q_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lexical list: BM25 conjunctive match, top-50 first (no global window)
    lex_top = (
        bm25_scores(spark, sf_dir)
        .where(F.col("n_terms_hit") == len(QUERY_TERMS))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_TOP_IN)
    )
    lex = lex_top.withColumn(
        "rank_lex",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())),
    ).select(F.col("doc_id").alias("item_id"), "rank_lex")

    # semantic list: cosine similarity to the vec_id=0 query embedding,
    # top-50 first (TakeOrderedAndProject), ranked inside the 50 rows
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    sem_top = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("item_id"),
            F.round(cosine_similarity(F.col("qe"), F.col("embedding")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("item_id").asc())
        .limit(_TOP_IN)
    )
    sem = sem_top.withColumn(
        "rank_sem",
        F.row_number().over(Window.orderBy(F.col("sim").desc(), F.col("item_id").asc())),
    ).select("item_id", "rank_sem")

    fused = (
        lex.join(sem, "item_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rank_sem")), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("item_id").asc())
        .limit(_TOP_OUT)
    )
    return fused.select(
        "item_id",
        "rank_lex",
        "rank_sem",
        "rrf_score",
        F.row_number()
        .over(Window.orderBy(F.col("rrf_score").desc(), F.col("item_id").asc()))
        .alias("rank"),
    )


_SQL_RRF_HYBRID_FUSION = SQL_BM25_BODY + """
, lex AS (
  SELECT doc_id AS item_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank_lex
  FROM bm25_scored WHERE n_terms_hit = 3
  QUALIFY rank_lex <= 50
), elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
), dots AS (
  SELECT c.vec_id AS item_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> 0
  WHERE q.vec_id = 0
  GROUP BY 1
), sem AS (
  SELECT item_id,
         CAST(row_number() OVER (
           ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, item_id ASC
         ) AS INT) AS rank_sem
  FROM dots
  JOIN norms nq ON nq.vec_id = 0
  JOIN norms nc ON item_id = nc.vec_id
  QUALIFY rank_sem <= 50
), fused AS (
  SELECT coalesce(lex.item_id, sem.item_id) AS item_id,
         rank_lex, rank_sem,
         round(coalesce(1.0 / (60 + rank_lex), 0.0)
               + coalesce(1.0 / (60 + rank_sem), 0.0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.item_id = sem.item_id
)
SELECT item_id, rank_lex, rank_sem, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, item_id ASC) AS INT) AS rank
FROM fused
QUALIFY rank <= 20
"""


# --------------------------------------------------------------------------
# nearest_centroid_assign
# --------------------------------------------------------------------------

def _q_nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = assign_nearest_centroid(emb)
    return (
        assigned.groupBy(F.col("label"), F.col("clabel").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_NEAREST_CENTROID_ASSIGN = SQL_CENTROID_ASSIGN_BODY + """
SELECT label, clabel AS assigned_label, count(*) AS n
FROM best GROUP BY 1, 2
"""


SPECS: dict[str, QuerySpec] = {
    "rag_chunk_windows": QuerySpec(
        _q_rag_chunk_windows,
        SQL_RAG_CHUNK_WINDOWS,
        "overlapping token-window chunking (size 32 / stride 16, tail kept): "
        "pure per-row array transform + explode, zero shuffles",
    ),
    "rrf_hybrid_fusion": QuerySpec(
        _q_rrf_hybrid_fusion,
        _SQL_RRF_HYBRID_FUSION,
        "reciprocal-rank fusion (k=60) of BM25 top-50 and cosine top-50: "
        "TakeOrderedAndProject cuts before any ranking window",
    ),
    "nearest_centroid_assign": QuerySpec(
        _q_nearest_centroid_assign,
        _SQL_NEAREST_CENTROID_ASSIGN,
        "nearest per-label centroid assignment (squared L2) with confusion "
        "counts: labels x dim centroid aggregate broadcast as arrays, "
        "zip_with distance fold, vec_id-partitioned argmin",
    ),
}
