"""Exact-oracle twins for the ML pack (plans/catalog.py §ML).

The trained-model queries (``kmeans_*``, ``dt/svm/lr_auc_grid``,
``ivf_ann_topk``) are inherently rows-only at the driver — iterative
optimizers are not SQL-expressible.  This pack decomposes each of them
into the single step that IS relational and pins it against DuckDB
bit-for-bit, so every ML capability has an oracle-visible twin:

* ``kmeans_lloyd_step`` — one full Lloyd iteration (assignment +
  centroid update + WSSSE) from fixed deterministic init centroids
  (the first k corpus vectors).  This is the exact per-iteration body
  of ``pyspark.ml.KMeans`` (KmeansVirus.scala:181-194's train loop),
  and simultaneously the centers-dump twin of ``kmeans_cluster_centers``
  (SVMDT.scala:316).
* ``lloyd_step_weighted_entropy`` — the reference's cluster-quality
  score (costlyWeightedAveEntropyScore, SVMDT.scala:253-285) over the
  Lloyd-step assignment: the exact twin of ``kmeans_weighted_entropy``.
* ``lloyd_wssse_k_sweep`` — the best-k sweep shape
  (searchBestKWithUsingEntropy, KmeansVirus.scala:165-173) with the
  per-k score being the one-step WSSSE: exact twin of
  ``kmeans_k_sweep``.
* ``fixed_scorer_auc`` — exact ROC-AUC (Mann–Whitney on score-grouped
  counts, ml/metrics.py) of a deterministic linear scorer.  The SAME
  ``exact_auc_frame`` aggregation computes the grids' AUC column
  (ml/pipeline.py::_auc), so the dt/svm/lr metric path is
  oracle-checked even though training is not (SVMDT.scala:153-179).
* ``ivf_ann_topk_fixed`` — the full IVF probe plan
  (operators/similarity.py::ivf_topk_fixed) under a fixed coarse
  quantizer: exact twin of ``ivf_ann_topk``.

Scale notes: every query is one corpus scan + broadcast of a ≤k-row
centroid/weight table; argmins are vec_id-partitioned windows (shuffle
key = vec_id, no skew); the AUC cumulative count runs through the
two-phase distributed scan — no global single-task window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ml.metrics import exact_auc_frame
from ..operators.entropy_score import weighted_average_entropy
from ..operators.similarity import DIM, _l2sq, _plane_weight, ivf_topk_fixed
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import SQL_COSINE_TOP5, SQL_WEIGHTED_ENTROPY_SCORE, fixed_plane_score

LLOYD_K = 10
SWEEP_KS = (5, 10, 15, 20)

#: shared oracle scaffold: per-element embedding view (1-based index i)
_SQL_ELEMS = """
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
)
"""


def lloyd_assign(emb: DataFrame, k: int) -> DataFrame:
    """Assignment step of one Lloyd iteration from the deterministic
    init ``centroid_j = embedding[vec_id = j]``, j < k.

    Distances are rounded to 6 with cell-asc tiebreak so any engine
    agrees on the argmin.  The centroid table is k rows → broadcast;
    the corpus streams through one scan; the argmin is a
    vec_id-partitioned window (the natural parallel key).
    Output: input columns + ``cell`` + ``dist``.
    """
    cents = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").alias("cvec"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
    return (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("dist", _l2sq(F.col("embedding"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "cvec")
    )


def _lloyd_sql_body(k: int) -> str:
    """Oracle CTE chain ending in ``best(vec_id, cell, dist)``."""
    return _SQL_ELEMS + f"""
, cent AS (
  SELECT CAST(vec_id AS INT) AS cell, i, x AS c FROM elems WHERE vec_id < {k}
), dists AS (
  SELECT e.vec_id, c.cell, round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
  FROM elems e JOIN cent c ON e.i = c.i
  GROUP BY 1, 2
), best AS (
  SELECT vec_id, cell, dist
  FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist ASC, cell ASC) = 1
)
"""


# --------------------------------------------------------------------------
# kmeans_lloyd_step
# --------------------------------------------------------------------------

def _q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration: per-cluster member count, WSSSE
    contribution, and the norm of the UPDATED centroid.

    Sums that feed cross-engine comparisons go through decimal (exact
    associative addition) before the final rounding, so both engines
    agree bit-for-bit regardless of float addition order.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = lloyd_assign(emb, LLOYD_K)
    stats = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("dist").cast("decimal(18,6)")).cast("double"), 6
        ).alias("wssse"),
    )
    ex = assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
    newc = ex.groupBy("cell", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    norms = newc.groupBy("cell").agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.col("c").cast("decimal(18,6)") * F.col("c").cast("decimal(18,6)")
                ).cast("double")
            ),
            6,
        ).alias("new_centroid_norm")
    )
    return stats.join(norms, "cell").select(
        F.col("cell").alias("cluster"), "n_members", "wssse", "new_centroid_norm"
    )


_SQL_KMEANS_LLOYD_STEP = _lloyd_sql_body(LLOYD_K) + """
, stats AS (
  SELECT cell, count(*) AS n_members,
         round(CAST(sum(CAST(dist AS DECIMAL(18,6))) AS DOUBLE), 6) AS wssse
  FROM best GROUP BY cell
), newc AS (
  SELECT b.cell, e.i,
         round(CAST(sum(CAST(e.x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS c
  FROM best b JOIN elems e ON b.vec_id = e.vec_id
  GROUP BY 1, 2
), norms AS (
  SELECT cell,
         round(sqrt(CAST(sum(CAST(c AS DECIMAL(18,6)) * CAST(c AS DECIMAL(18,6)))
                         AS DOUBLE)), 6) AS new_centroid_norm
  FROM newc GROUP BY cell
)
SELECT s.cell AS cluster, s.n_members, s.wssse, n.new_centroid_norm
FROM stats s JOIN norms n ON s.cell = n.cell
"""


# --------------------------------------------------------------------------
# lloyd_step_weighted_entropy
# --------------------------------------------------------------------------

def _q_lloyd_step_weighted_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return weighted_average_entropy(lloyd_assign(emb, LLOYD_K), "cell", "label")


_SQL_LLOYD_STEP_WEIGHTED_ENTROPY = _lloyd_sql_body(LLOYD_K) + """
, hist AS (
  SELECT b.cell AS cluster, l.label, count(*) AS cnt
  FROM best b JOIN embeddings l ON b.vec_id = l.vec_id
  GROUP BY 1, 2
""" + SQL_WEIGHTED_ENTROPY_SCORE


# --------------------------------------------------------------------------
# lloyd_wssse_k_sweep
# --------------------------------------------------------------------------

def _q_lloyd_wssse_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-k sweep with the per-k score = one-step WSSSE: each k is one
    broadcast-join + argmin + aggregate branch over the same scan,
    unioned — the sweep-loop shape of kmeans_k_sweep with every branch
    exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    out: DataFrame | None = None
    for k in SWEEP_KS:
        part = (
            lloyd_assign(emb, k)
            .agg(
                F.round(
                    F.sum(F.col("dist").cast("decimal(18,6)")).cast("double"), 6
                ).alias("wssse")
            )
            .select(F.lit(k).alias("k"), "wssse")
        )
        out = part if out is None else out.unionByName(part)
    return out


def _sweep_sql() -> str:
    ctes = [
        "elems AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x"
        " FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i))"
    ]
    selects = []
    for k in SWEEP_KS:
        ctes.append(
            f"dists{k} AS (SELECT e.vec_id, c.vec_id AS cell,"
            " round(sum((e.x - c.x) * (e.x - c.x)), 6) AS dist"
            f" FROM elems e JOIN elems c ON e.i = c.i AND c.vec_id < {k}"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"best{k} AS (SELECT vec_id, dist FROM dists{k}"
            " QUALIFY row_number() OVER (PARTITION BY vec_id"
            " ORDER BY dist ASC, cell ASC) = 1)"
        )
        selects.append(
            f"SELECT {k} AS k, round(CAST(sum(CAST(dist AS DECIMAL(18,6)))"
            f" AS DOUBLE), 6) AS wssse FROM best{k}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


_SQL_LLOYD_WSSSE_K_SWEEP = _sweep_sql()


# --------------------------------------------------------------------------
# fixed_scorer_auc
# --------------------------------------------------------------------------

def _q_fixed_scorer_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of the deterministic linear scorer w·x (weights from the
    LCG hyperplane family shared with sign-LSH), task ``label < 5`` —
    computed by exact_auc_frame, the SAME aggregation the dt/svm/lr
    grids call for their metric column."""
    emb = load_table(spark, sf_dir, "embeddings")
    score = fixed_plane_score()
    scored = emb.select(
        score.alias("score"), (F.col("label") < 5).cast("int").alias("pos")
    )
    return exact_auc_frame(scored)


_W_VALUES = ", ".join(f"({d + 1}, {_plane_weight(0, d)!r})" for d in range(DIM))

_SQL_FIXED_SCORER_AUC = f"""
WITH w(i, wt) AS (VALUES {_W_VALUES}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), scored AS (
  SELECT e.vec_id, round(sum(e.x * w.wt), 6) AS score,
         CASE WHEN l.label < 5 THEN 1 ELSE 0 END AS pos
  FROM elems e JOIN w USING (i) JOIN embeddings l ON e.vec_id = l.vec_id
  GROUP BY e.vec_id, l.label
), grouped AS (
  SELECT score, sum(pos) AS np_s, sum(1 - pos) AS nn_s FROM scored GROUP BY score
), cum AS (
  SELECT np_s, nn_s,
         sum(nn_s) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_nn
  FROM grouped
)
SELECT CAST(sum(np_s) AS BIGINT) AS n_pos,
       CAST(sum(nn_s) AS BIGINT) AS n_neg,
       round(sum(np_s * (cum_nn - nn_s / 2.0))
             / CAST(sum(np_s) * sum(nn_s) AS DOUBLE), 6) AS auc
FROM cum
"""


# --------------------------------------------------------------------------
# ivf_ann_topk_fixed
# --------------------------------------------------------------------------

def _q_ivf_ann_topk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk_fixed(
        load_table(spark, sf_dir, "embeddings"), n_queries=10, k=5, n_cells=16, n_probe=4
    )


_SQL_IVF_ANN_TOPK_FIXED = _SQL_ELEMS + """
, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
), cent AS (
  SELECT CAST(vec_id AS INT) AS cell, i, x AS c FROM elems WHERE vec_id < 16
), cdists AS (
  SELECT e.vec_id, c.cell, round(sum((e.x - c.c) * (e.x - c.c)), 6) AS cdist
  FROM elems e JOIN cent c ON e.i = c.i
  GROUP BY 1, 2
), assigned AS (
  SELECT vec_id, cell FROM cdists
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY cdist ASC, cell ASC) = 1
), probes AS (
  SELECT vec_id AS query_id, cell FROM cdists
  WHERE vec_id < 10
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY cdist ASC, cell ASC) <= 4
), cands AS (
  SELECT p.query_id, a.vec_id AS cand_id
  FROM probes p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.query_id
), dots AS (
  SELECT cd.query_id, cd.cand_id, sum(q.x * c.x) AS dot
  FROM cands cd
  JOIN elems q ON q.vec_id = cd.query_id
  JOIN elems c ON c.vec_id = cd.cand_id AND q.i = c.i
  GROUP BY 1, 2
""" + SQL_COSINE_TOP5


SPECS: dict[str, QuerySpec] = {
    "kmeans_lloyd_step": QuerySpec(
        _q_kmeans_lloyd_step,
        _SQL_KMEANS_LLOYD_STEP,
        "one exact Lloyd iteration from fixed init: assignment argmin + "
        "decimal-exact centroid update + WSSSE (the per-iteration body of "
        "KMeans, KmeansVirus.scala:181-194; centers dump SVMDT.scala:316)",
    ),
    "lloyd_step_weighted_entropy": QuerySpec(
        _q_lloyd_step_weighted_entropy,
        _SQL_LLOYD_STEP_WEIGHTED_ENTROPY,
        "weighted average cluster entropy over the exact Lloyd-step "
        "assignment (costlyWeightedAveEntropyScore, SVMDT.scala:253-285)",
    ),
    "lloyd_wssse_k_sweep": QuerySpec(
        _q_lloyd_wssse_k_sweep,
        _SQL_LLOYD_WSSSE_K_SWEEP,
        "best-k sweep with exact one-step WSSSE per k "
        "(searchBestKWithUsingEntropy shape, KmeansVirus.scala:165-173)",
    ),
    "fixed_scorer_auc": QuerySpec(
        _q_fixed_scorer_auc,
        _SQL_FIXED_SCORER_AUC,
        "exact Mann-Whitney ROC-AUC of a deterministic linear scorer — the "
        "same ml/metrics.py aggregation that computes the dt/svm/lr grids' "
        "AUC column (SVMDT.scala:153-179)",
    ),
    "ivf_ann_topk_fixed": QuerySpec(
        _q_ivf_ann_topk_fixed,
        _SQL_IVF_ANN_TOPK_FIXED,
        "IVF probe plan under a fixed deterministic coarse quantizer: "
        "exact-oracle twin of ivf_ann_topk (same broadcast-probe / "
        "shuffle-on-cell physical shape)",
    ),
}
