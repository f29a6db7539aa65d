"""Round-5 closed-form ML pack: every entry is a *fully relational*
training or evaluation computation with an exact DuckDB oracle — no
engine RNG, no iterative solver, no pyspark.ml opacity.

The reference's ML surface (SVMDT.scala, KmeansVirus.scala) is
grid-training plus metric reporting; rounds 3-4 pinned the iterative
bodies (`plans/ml_exact.py`).  This pack adds the closed-form family a
data-curation engine needs *around* training — models and diagnostics
that are themselves just aggregations, so the oracle can check every
digit:

* ``nb_gaussian_confusion`` — a Gaussian Naive Bayes classifier
  trained AND evaluated in one relational plan: per-(class, dim)
  mean/variance on a deterministic train split (vec_id % 5 != 0),
  log-likelihood scoring of the held-out fifth, argmax prediction,
  confusion-matrix output.  Train stats are a |classes|×|dims| frame
  (bounded, broadcast); scoring is one join + one aggregate — at
  100 TB the corpus is scanned twice (stats, scoring), nothing else
  grows.
* ``decision_stump_gain_curve`` — exact information-gain curve of a
  one-split decision stump (the depth-1 tree the reference's
  decision-tree grid starts from, SVMDT.scala:162-176): 19 equi-width
  thresholds over o_totalprice, split quality vs the binary
  "order fully shipped" label.  One histogram aggregate + a 20-row
  cumulative — candidate thresholds never touch the fact table again.
* ``pr_curve_deciles`` — precision/recall at the 10 rank-decile
  cutoffs of the deterministic linear scorer shared with
  ``fixed_scorer_auc`` (ml_exact.py), computed with the two-phase
  ``global_prefix_sum`` — NO single-partition window at any width.
* ``calibration_bins_fixed`` — reliability diagram of the same scorer
  min-max-normalised to [0,1]: per-bin count, mean predicted
  probability, empirical positive rate, |gap| (the ECE integrand).
* ``ridge_closed_form_by_flag`` — per-l_returnflag ridge regression
  (2 features, λ=1) solved in closed form by Cramer's rule on exact
  DECIMAL moment sums; doubles appear only after the exact sums, so
  both engines evaluate the identical IEEE expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..operators.similarity import DIM, _plane_weight
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import SQL_EMBEDDING_COVARIANCE_CELLS, fixed_plane_score

# --------------------------------------------------------------------------
# nb_gaussian_confusion
# --------------------------------------------------------------------------

_NB_DIMS = 8  # first 8 embedding dims (1-indexed in both engines)
_NB_VAR_FLOOR = 1e-6
_LN_2PI = 1.8378770664093453  # ln(2*pi), literal so both engines share it


def _q_nb_gaussian_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 5 == 0).alias("is_test"),
        F.posexplode(F.slice("embedding", 1, _NB_DIMS)).alias("d0", "xf"),
    ).select(
        "vec_id",
        "label",
        "is_test",
        (F.col("d0") + 1).alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    # per-(class, dim) Gaussian stats on the train split; rounded to 6
    # so cross-engine aggregation-order noise cannot reach the scorer
    stats = (
        elems.where(~F.col("is_test"))
        .groupBy("label", "d")
        .agg(
            F.round(F.avg("x"), 6).alias("mu"),
            F.round(
                F.avg(F.col("x") * F.col("x"))
                - F.avg("x") * F.avg("x")
                + F.lit(_NB_VAR_FLOOR),
                6,
            ).alias("sg"),
            F.count(F.lit(1)).alias("n_ld"),
        )
    )
    priors = (
        emb.where(F.col("vec_id") % 5 != 0)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_l"))
        .withColumn("n_train", F.sum("n_l").over(Window.partitionBy()))
        .select(
            F.col("label").alias("p_label"),
            F.round(F.log(F.col("n_l") / F.col("n_train")), 6).alias("lp"),
        )
    )
    test = elems.where("is_test").select("vec_id", F.col("label").alias("true_label"), "d", "x")
    # |classes|*|dims| stats frame is bounded -> broadcast; the join on d
    # fans each test element out over the classes only
    scored = (
        test.join(F.broadcast(stats), "d")
        .groupBy("vec_id", "true_label", "label")
        .agg(
            F.sum(
                F.lit(-0.5) * (F.lit(_LN_2PI) + F.log("sg"))
                - (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
                / (F.lit(2.0) * F.col("sg"))
            ).alias("ll_feat")
        )
        .join(F.broadcast(priors), F.col("label") == F.col("p_label"))
        .select(
            "vec_id",
            "true_label",
            "label",
            F.round(F.col("ll_feat") + F.col("lp"), 6).alias("ll"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ll"), F.asc("label"))
    pred = scored.withColumn("rk", F.row_number().over(w)).where("rk = 1")
    return (
        pred.groupBy("true_label", F.col("label").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_NB_GAUSSIAN_CONFUSION = f"""
WITH elems AS (
  SELECT vec_id, label, vec_id % 5 = 0 AS is_test, d,
         CAST(embedding[d] AS DOUBLE) AS x
  FROM embeddings
  CROSS JOIN (SELECT unnest(generate_series(1, {_NB_DIMS})) AS d)
), stats AS (
  SELECT label, d, round(avg(x), 6) AS mu,
         round(avg(x * x) - avg(x) * avg(x) + {_NB_VAR_FLOOR}, 6) AS sg
  FROM elems WHERE NOT is_test GROUP BY label, d
), priors AS (
  SELECT label, round(ln(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)), 6) AS lp
  FROM embeddings WHERE vec_id % 5 <> 0 GROUP BY label
), scored AS (
  SELECT t.vec_id, t.label AS true_label, s.label,
         round(sum(-0.5 * ({_LN_2PI} + ln(s.sg))
                   - (t.x - s.mu) * (t.x - s.mu) / (2.0 * s.sg))
               + any_value(p.lp), 6) AS ll
  FROM elems t
  JOIN stats s USING (d)
  JOIN priors p ON p.label = s.label
  WHERE t.is_test
  GROUP BY t.vec_id, t.label, s.label
), pred AS (
  SELECT vec_id, true_label, label AS pred_label
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY ll DESC, label ASC) = 1
)
SELECT true_label, pred_label, count(*) AS n
FROM pred GROUP BY true_label, pred_label
"""


# --------------------------------------------------------------------------
# decision_stump_gain_curve
# --------------------------------------------------------------------------

_STUMP_BUCKETS = 20


def _plogp2_col(p):
    return F.when(p > 0, -p * F.log2(p)).otherwise(F.lit(0.0))


def _entropy2_col(pos, n):
    p = pos.cast("double") / n.cast("double")
    return F.when(n > 0, _plogp2_col(p) + _plogp2_col(F.lit(1.0) - p)).otherwise(
        F.lit(0.0)
    )


def _q_decision_stump_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    bounds = orders.agg(
        F.min("x").alias("mn"), ((F.max("x") - F.min("x")) / _STUMP_BUCKETS).alias("w")
    )
    # 1-row bounds frame: broadcast nested-loop join by construction
    bucketed = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("x") - F.col("mn")) / F.col("w")),
            F.lit(_STUMP_BUCKETS - 1),
        ).alias("b"),
        "pos",
        "mn",
        "w",
    )
    hist = bucketed.groupBy("b", "mn", "w").agg(
        F.count(F.lit(1)).alias("n_b"), F.sum("pos").alias("pos_b")
    )
    # 20-row frame from here on: the tiny cumulative window is fine
    cw = (
        Window.partitionBy()
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tw = Window.partitionBy()
    cum = (
        hist.withColumn("nl", F.sum("n_b").over(cw))
        .withColumn("pl", F.sum("pos_b").over(cw))
        .withColumn("n", F.sum("n_b").over(tw))
        .withColumn("p", F.sum("pos_b").over(tw))
    )
    j = cum.where(F.col("b") < _STUMP_BUCKETS - 1).select(
        (F.col("b") + 1).cast("int").alias("threshold_idx"),
        F.round(F.col("mn") + (F.col("b") + 1) * F.col("w"), 6).alias("threshold"),
        F.col("nl").alias("n_left"),
        (F.col("n") - F.col("nl")).alias("n_right"),
        F.round(
            _entropy2_col(F.col("p"), F.col("n"))
            - (
                F.col("nl") / F.col("n") * _entropy2_col(F.col("pl"), F.col("nl"))
                + (F.col("n") - F.col("nl"))
                / F.col("n")
                * _entropy2_col(F.col("p") - F.col("pl"), F.col("n") - F.col("nl"))
            ),
            6,
        ).alias("gain"),
    )
    return j


def _plogp2_sql(p: str) -> str:
    return f"(CASE WHEN {p} > 0 THEN -({p}) * log2({p}) ELSE 0.0 END)"


def _entropy2_sql(pos: str, n: str) -> str:
    p = f"(CAST({pos} AS DOUBLE) / CAST({n} AS DOUBLE))"
    return (
        f"(CASE WHEN {n} > 0 THEN {_plogp2_sql(p)} + "
        f"{_plogp2_sql(f'(1.0 - {p})')} ELSE 0.0 END)"
    )


_SQL_DECISION_STUMP_GAIN_CURVE = f"""
WITH src AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
  FROM orders
), bounds AS (
  SELECT min(x) AS mn, (max(x) - min(x)) / {_STUMP_BUCKETS} AS w FROM src
), bucketed AS (
  SELECT least(CAST(floor((x - mn) / w) AS BIGINT), {_STUMP_BUCKETS - 1}) AS b,
         pos, mn, w
  FROM src CROSS JOIN bounds
), hist AS (
  SELECT b, mn, w, count(*) AS n_b, sum(pos) AS pos_b
  FROM bucketed GROUP BY b, mn, w
), cum AS (
  SELECT b, mn, w,
         sum(n_b) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS nl,
         sum(pos_b) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS pl,
         sum(n_b) OVER () AS n, sum(pos_b) OVER () AS p
  FROM hist
)
SELECT CAST(b + 1 AS INT) AS threshold_idx,
       round(mn + (b + 1) * w, 6) AS threshold,
       CAST(nl AS BIGINT) AS n_left,
       CAST(n - nl AS BIGINT) AS n_right,
       round({_entropy2_sql('p', 'n')}
             - (CAST(nl AS DOUBLE) / n * {_entropy2_sql('pl', 'nl')}
                + CAST(n - nl AS DOUBLE) / n
                  * {_entropy2_sql('(p - pl)', '(n - nl)')}), 6) AS gain
FROM cum WHERE b < {_STUMP_BUCKETS - 1}
"""


# --------------------------------------------------------------------------
# pr_curve_deciles / calibration_bins_fixed — shared fixed scorer
# --------------------------------------------------------------------------

def _fixed_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, score, pos) under the deterministic LCG hyperplane scorer
    shared with fixed_scorer_auc (plans/ml_exact.py) — same weights, same
    round-6 edge, task ``label < 5``."""
    emb = load_table(spark, sf_dir, "embeddings")
    score = fixed_plane_score()
    return emb.select(
        "vec_id", score.alias("score"), (F.col("label") < 5).cast("int").alias("pos")
    )


_W_VALUES = ", ".join(f"({d + 1}, {_plane_weight(0, d)!r})" for d in range(DIM))

_SQL_FIXED_SCORED = f"""
WITH w(i, wt) AS (VALUES {_W_VALUES}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i)
), scored AS (
  SELECT e.vec_id, round(sum(e.x * w.wt), 6) AS score,
         CASE WHEN l.label < 5 THEN 1 ELSE 0 END AS pos
  FROM elems e JOIN w USING (i) JOIN embeddings l ON e.vec_id = l.vec_id
  GROUP BY e.vec_id, l.label
)
"""


def _q_pr_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _fixed_scored(spark, sf_dir)
    # one two-phase pass: cumulative positives AND the global row number
    # (cumsum of 1) over the total order (score desc, vec_id asc)
    cum = global_prefix_sum(
        scored.withColumn("one", F.lit(1)),
        order_col="score",
        value_col=["pos", "one"],
        out_col=["cum_tp", "rn"],
        order_exprs=[F.desc("score"), F.asc("vec_id")],
        total_col=["n_pos", "n"],
    )
    # decile of each rank via pure integer arithmetic (ceil(rn*10/n))
    dec = cum.select(
        (((F.col("rn") * 10 - 1) / F.col("n")).cast("bigint") + 1)
        .cast("int")
        .alias("decile"),
        "rn",
        "cum_tp",
        "n_pos",
    )
    return (
        dec.groupBy("decile")
        .agg(
            F.max("rn").alias("cutoff_rank"),
            F.max("cum_tp").alias("tp"),
            F.max("n_pos").alias("np"),
        )
        .select(
            "decile",
            "cutoff_rank",
            F.col("tp").cast("bigint").alias("tp"),
            F.round(F.col("tp") / F.col("cutoff_rank"), 6).alias("precision"),
            F.round(F.col("tp") / F.col("np"), 6).alias("recall"),
        )
    )


_SQL_PR_CURVE_DECILES = _SQL_FIXED_SCORED + """
, ranked AS (
  SELECT score, pos,
         row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rn,
         sum(pos) OVER (ORDER BY score DESC, vec_id ASC
                        ROWS UNBOUNDED PRECEDING) AS cum_tp,
         count(*) OVER () AS n, sum(pos) OVER () AS n_pos
  FROM scored
), dec AS (
  SELECT CAST((rn * 10 - 1) // n + 1 AS INT) AS decile, rn, cum_tp, n_pos
  FROM ranked
)
SELECT decile, max(rn) AS cutoff_rank,
       CAST(max(cum_tp) AS BIGINT) AS tp,
       round(CAST(max(cum_tp) AS DOUBLE) / max(rn), 6) AS precision,
       round(CAST(max(cum_tp) AS DOUBLE) / max(n_pos), 6) AS recall
FROM dec GROUP BY decile
"""


# --------------------------------------------------------------------------
# calibration_bins_fixed
# --------------------------------------------------------------------------

_CAL_BINS = 10


def _q_calibration_bins_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _fixed_scored(spark, sf_dir)
    bounds = scored.agg(
        F.min("score").alias("mn"), (F.max("score") - F.min("score")).alias("rng")
    )
    p = (F.col("score") - F.col("mn")) / F.col("rng")
    binned = scored.crossJoin(F.broadcast(bounds)).select(
        F.least(F.floor(p * _CAL_BINS), F.lit(_CAL_BINS - 1)).cast("int").alias("bin"),
        p.alias("p"),
        "pos",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("p"), 6).alias("mean_pred"),
        F.round(F.avg("pos"), 6).alias("pos_rate"),
        F.round(F.abs(F.avg("p") - F.avg("pos")), 6).alias("gap"),
    )


_SQL_CALIBRATION_BINS_FIXED = _SQL_FIXED_SCORED + f"""
, bounds AS (
  SELECT min(score) AS mn, max(score) - min(score) AS rng FROM scored
), binned AS (
  SELECT least(CAST(floor((score - mn) / rng * {_CAL_BINS}) AS BIGINT),
               {_CAL_BINS - 1})::INT AS bin,
         (score - mn) / rng AS p, pos
  FROM scored CROSS JOIN bounds
)
SELECT bin, count(*) AS n,
       round(avg(p), 6) AS mean_pred,
       round(avg(CAST(pos AS DOUBLE)), 6) AS pos_rate,
       round(abs(avg(p) - avg(CAST(pos AS DOUBLE))), 6) AS gap
FROM binned GROUP BY bin
"""


# --------------------------------------------------------------------------
# ridge_closed_form_by_flag
# --------------------------------------------------------------------------

_RIDGE_LAMBDA = 1.0


def _q_ridge_closed_form_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-l_returnflag ridge regression y = b1*quantity + b2*discount + c,
    λ=1, by Cramer's rule on the 2×2 centered normal equations.  All
    moment sums are exact DECIMALs (quantity/discount/extendedprice are
    2-dp-representable), so the double arithmetic that follows is the
    same IEEE expression in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("l_quantity")).cast("double").alias("s1"),
        F.sum(d("l_discount")).cast("double").alias("s2"),
        F.sum(d("l_extendedprice")).cast("double").alias("sy"),
        F.sum(d("l_quantity") * d("l_quantity")).cast("double").alias("s11"),
        F.sum(d("l_discount") * d("l_discount")).cast("double").alias("s22"),
        F.sum(d("l_quantity") * d("l_discount")).cast("double").alias("s12"),
        F.sum(d("l_quantity") * d("l_extendedprice")).cast("double").alias("s1y"),
        F.sum(d("l_discount") * d("l_extendedprice")).cast("double").alias("s2y"),
    )
    n = F.col("n").cast("double")
    a11 = F.col("s11") - F.col("s1") * F.col("s1") / n + F.lit(_RIDGE_LAMBDA)
    a22 = F.col("s22") - F.col("s2") * F.col("s2") / n + F.lit(_RIDGE_LAMBDA)
    a12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    d1 = F.col("s1y") - F.col("s1") * F.col("sy") / n
    d2 = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    b1 = (d1 * a22 - a12 * d2) / det
    b2 = (a11 * d2 - a12 * d1) / det
    return sums.select(
        "l_returnflag",
        "n",
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_discount"),
        F.round((F.col("sy") - b1 * F.col("s1") - b2 * F.col("s2")) / n, 6).alias(
            "intercept"
        ),
    )


_SQL_RIDGE_CLOSED_FORM_BY_FLAG = f"""
WITH sums AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
         CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s2,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s11,
         CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s22,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS s12,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s1y,
         CAST(sum(CAST(l_discount AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s2y
  FROM lineitem GROUP BY l_returnflag
), solved AS (
  SELECT l_returnflag, n, s1, s2, sy,
         s11 - s1 * s1 / CAST(n AS DOUBLE) + {_RIDGE_LAMBDA} AS a11,
         s22 - s2 * s2 / CAST(n AS DOUBLE) + {_RIDGE_LAMBDA} AS a22,
         s12 - s1 * s2 / CAST(n AS DOUBLE) AS a12,
         s1y - s1 * sy / CAST(n AS DOUBLE) AS d1,
         s2y - s2 * sy / CAST(n AS DOUBLE) AS d2
  FROM sums
), beta AS (
  SELECT l_returnflag, n, s1, s2, sy,
         (d1 * a22 - a12 * d2) / (a11 * a22 - a12 * a12) AS b1,
         (a11 * d2 - a12 * d1) / (a11 * a22 - a12 * a12) AS b2
  FROM solved
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_discount,
       round((sy - b1 * s1 - b2 * s2) / CAST(n AS DOUBLE), 6) AS intercept
FROM beta
"""


# --------------------------------------------------------------------------
# pca_power_iteration_exact
# --------------------------------------------------------------------------


def _q_pca_power_iteration_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power-iteration steps toward the top principal component,
    computed RELATIONALLY against the DECIMAL-exact covariance cells
    (ml/pca.py — the RowMatrix recipe): v_{t+1} = normalize(C·v_t) with
    v_0 = 1/√d.  Each matvec is a d²-row join-aggregate; every staged
    vector is rounded to 6 so both engines iterate on identical state.
    This pins the iteration body of the driver-side eigensolve the same
    way kmeans_lloyd_step pins Lloyd's — the honest oracle for
    iterative linear algebra.  ``lambda_est`` = ‖C·v_1‖ (the Rayleigh
    estimate for a normalized v_1)."""
    from ..ml.pca import covariance_cells
    from ..operators.caching import tracked_cache

    emb = load_table(spark, sf_dir, "embeddings")
    ut = covariance_cells(emb)
    full = (
        ut.unionByName(
            ut.where(F.col("i") < F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "cov"
            )
        )
        # d² rows; cached so the corpus-sized covariance pass runs ONCE
        # across both iterations
        .transform(tracked_cache)
    )
    v = full.select(F.col("i").alias("pos")).distinct().select(
        "pos", F.lit(1.0 / 8.0).alias("v")  # 1/sqrt(64), exact binary
    )
    lam = None
    for _ in range(2):
        w = (
            full.join(F.broadcast(v), full.j == v.pos)
            .groupBy(full.i)
            .agg(F.round(F.sum(F.col("cov") * F.col("v")), 12).alias("w"))
            .select(F.col("i").alias("pos"), "w")
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        lam = nrm
        v = w.crossJoin(F.broadcast(nrm)).select(
            "pos", F.round(F.col("w") / F.col("nrm"), 6).alias("v")
        )
    return v.crossJoin(F.broadcast(lam)).select(
        F.col("pos").cast("int").alias("i"),
        F.col("v").alias("v2"),
        F.round("nrm", 6).alias("lambda_est"),
    )


_SQL_PCA_POWER_ITERATION_EXACT = f"""
WITH cov_ut AS (
  SELECT * FROM ({{cov}})
), full_m AS (
  SELECT i, j, cov FROM cov_ut
  UNION ALL
  SELECT j AS i, i AS j, cov FROM cov_ut WHERE i < j
), v0 AS (
  SELECT DISTINCT i AS pos, 0.125 AS v FROM full_m
), w1 AS (
  SELECT m.i AS pos, round(sum(m.cov * v0.v), 12) AS w
  FROM full_m m JOIN v0 ON m.j = v0.pos GROUP BY m.i
), n1 AS (
  SELECT sqrt(sum(w * w)) AS nrm FROM w1
), v1 AS (
  SELECT pos, round(w / nrm, 6) AS v FROM w1 CROSS JOIN n1
), w2 AS (
  SELECT m.i AS pos, round(sum(m.cov * v1.v), 12) AS w
  FROM full_m m JOIN v1 ON m.j = v1.pos GROUP BY m.i
), n2 AS (
  SELECT sqrt(sum(w * w)) AS nrm FROM w2
)
SELECT CAST(w2.pos AS INT) AS i, round(w2.w / n2.nrm, 6) AS v2,
       round(n2.nrm, 6) AS lambda_est
FROM w2 CROSS JOIN n2
"""


def _pca_power_sql() -> str:
    return _SQL_PCA_POWER_ITERATION_EXACT.format(
        cov=SQL_EMBEDDING_COVARIANCE_CELLS
    )


SPECS: dict[str, QuerySpec] = {
    "nb_gaussian_confusion": QuerySpec(
        _q_nb_gaussian_confusion,
        _SQL_NB_GAUSSIAN_CONFUSION,
        "Gaussian Naive Bayes trained relationally (per-class/dim "
        "mean-var on vec_id%5!=0) and evaluated on the held-out fifth; "
        "confusion-matrix output, stats frame broadcast",
    ),
    "decision_stump_gain_curve": QuerySpec(
        _q_decision_stump_gain_curve,
        _SQL_DECISION_STUMP_GAIN_CURVE,
        "exact information-gain curve of a depth-1 stump over 19 "
        "equi-width o_totalprice thresholds (SVMDT.scala:162-176's "
        "split criterion, histogram-first so thresholds never rescan)",
    ),
    "pr_curve_deciles": QuerySpec(
        _q_pr_curve_deciles,
        _SQL_PR_CURVE_DECILES,
        "precision/recall at the 10 rank-decile cutoffs of the fixed "
        "linear scorer — two-phase global prefix sum, no global window",
    ),
    "calibration_bins_fixed": QuerySpec(
        _q_calibration_bins_fixed,
        _SQL_CALIBRATION_BINS_FIXED,
        "reliability-diagram bins (count, mean predicted, empirical "
        "rate, |gap|) of the min-max-normalised fixed scorer",
    ),
    "ridge_closed_form_by_flag": QuerySpec(
        _q_ridge_closed_form_by_flag,
        _SQL_RIDGE_CLOSED_FORM_BY_FLAG,
        "per-group ridge regression (2 features, λ=1) solved closed-form "
        "from exact DECIMAL moments via Cramer's rule",
    ),
    "pca_power_iteration_exact": QuerySpec(
        _q_pca_power_iteration_exact,
        _pca_power_sql(),
        "two relational power-iteration steps toward the top principal "
        "component over the DECIMAL-exact covariance cells — pins the "
        "eigensolve's iteration body (cf. kmeans_lloyd_step)",
    ),
}
