"""Round-8 ML pack — a multiclass training-step twin, a sampling-theory
audit, and a paired-classifier test.

* ``softmax_gd_step_exact`` — one full-batch gradient-descent step of
  3-class softmax regression (classes = label mod 3, features = the
  first 4 embedding dims in exact e6 micro-units) as ONE relational
  plan: at the zero init every class probability is exactly 1/3, so
  the gradient has the closed form (T_j/3 − S_cj)/n over EXACT integer
  feature sums; weights round to 9, per-row class scores are a fixed
  4-term expression re-evaluated identically in both engines, argmax
  tiebreak = smallest class.  The multiclass sibling of
  ``lr_gd_steps_exact`` (plans/round5_train.py) under the same
  pin-the-iteration-body policy.
* ``hoeffding_bound_audit`` — does the arithmetic-hash 10% order
  sample's mean deviate from the full mean by more than the Hoeffding
  ε = (b−a)·sqrt(ln(2/δ)/(2n)) at δ=0.05?  The sampling-error contract
  check for every hash-sampled audit in the catalog (Chao1, learning
  curves): deviation and bound from exact cents aggregates, the
  within-bound boolean pinned by the oracle.
* ``mcnemar_fixed_scorers`` — McNemar's paired test (continuity-
  corrected, (|b−c|−1)²/(b+c)) between two FIXED urgent-order
  predictors on identical cases: a hash-bit scorer (the permutation
  family's mixing discipline) vs a price-threshold scorer.  The
  "is classifier B actually better on the same data" gate — marginal
  accuracies can differ while McNemar says the disagreement is noise.

100 TB shape: each query is corpus scan → small hash agg (3×4 class
sums / 1-row moments / 2×2 discordance counts) with 1-row broadcasts
back where a second pass needs the aggregate.

No reference counterpart (the reference's SVM/DT/LR grids are
engine-RNG rows-only); exact-twin extensions alongside
plans/ml_exact.py and plans/round5_train.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import M31

# --------------------------------------------------------------------------
# softmax_gd_step_exact
# --------------------------------------------------------------------------

_SM_DIMS = 4
_SM_CLASSES = 3


def _q_softmax_gd_step_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        (F.col("label") % _SM_CLASSES).alias("y"),
        *[
            F.floor(F.element_at("embedding", j + 1).cast("double") * 1e6 + 0.5)
            .cast("bigint")
            .alias(f"xq{j}")
            for j in range(_SM_DIMS)
        ],
    )
    per_class = feats.groupBy("y").agg(
        F.count(F.lit(1)).alias("n_c"),
        *[F.sum(f"xq{j}").alias(f"s{j}") for j in range(_SM_DIMS)],
    )
    tot = feats.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"xq{j}").alias(f"t{j}") for j in range(_SM_DIMS)],
    )
    # w_cj = -grad_cj / 1e6 = (S_cj - T_j/3) / (n * 1e6), rounded to 9
    weights = per_class.crossJoin(F.broadcast(tot)).select(
        "y",
        "n_c",
        *[
            F.round(
                (
                    F.col(f"s{j}").cast("double")
                    - F.col(f"t{j}").cast("double") / _SM_CLASSES
                )
                / (F.col("n").cast("double") * 1e6),
                9,
            ).alias(f"w{j}")
            for j in range(_SM_DIMS)
        ],
    )
    # 1-row wide weight frame for the scoring pass
    wide = weights.groupBy().agg(
        *[
            F.first(F.when(F.col("y") == c, F.col(f"w{j}")), ignorenulls=True).alias(
                f"w_{c}_{j}"
            )
            for c in range(_SM_CLASSES)
            for j in range(_SM_DIMS)
        ]
    )
    score = lambda c: F.round(  # noqa: E731
        sum(
            F.col(f"w_{c}_{j}") * (F.col(f"xq{j}").cast("double") / 1e6)
            for j in range(_SM_DIMS)
        ),
        9,
    )
    scored = feats.crossJoin(F.broadcast(wide)).select(
        "y",
        score(0).alias("s0"),
        score(1).alias("s1"),
        score(2).alias("s2"),
    )
    pred = scored.select(
        "y",
        F.when(
            (F.col("s0") >= F.col("s1")) & (F.col("s0") >= F.col("s2")), F.lit(0)
        )
        .when(F.col("s1") >= F.col("s2"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("pred"),
    )
    conf = pred.groupBy("y").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum((F.col("pred") == F.col("y")).cast("bigint")).alias("n_correct"),
    )
    return (
        weights.join(conf, "y")
        .select(
            F.col("y").cast("int").alias("class"),
            *[F.col(f"w{j}").alias(f"w{j}") for j in range(_SM_DIMS)],
            "n_true",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_true").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("class")
    )


def _sql_softmax() -> str:
    sq = ", ".join(
        f"sum(CAST(floor(CAST(embedding[{j + 1}] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS x{j}"
        for j in range(_SM_DIMS)
    )
    feat_cols = ", ".join(
        f"CAST(floor(CAST(embedding[{j + 1}] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq{j}"
        for j in range(_SM_DIMS)
    )
    w_exprs = ", ".join(
        f"round((CAST(s{j} AS DOUBLE) - CAST(t{j} AS DOUBLE) / {_SM_CLASSES}.0)"
        f" / (CAST(n AS DOUBLE) * 1e6), 9) AS w{j}"
        for j in range(_SM_DIMS)
    )
    wide_cols = ", ".join(
        f"max(CASE WHEN y = {c} THEN w{j} END) AS w_{c}_{j}"
        for c in range(_SM_CLASSES)
        for j in range(_SM_DIMS)
    )
    score = {
        c: "round("
        + " + ".join(
            f"w_{c}_{j} * (CAST(xq{j} AS DOUBLE) / 1e6)" for j in range(_SM_DIMS)
        )
        + ", 9)"
        for c in range(_SM_CLASSES)
    }
    return f"""
WITH feats AS (
  SELECT vec_id, label % {_SM_CLASSES} AS y, {feat_cols}
  FROM embeddings
), per_class AS (
  SELECT y, count(*) AS n_c,
         {", ".join(f"sum(xq{j}) AS s{j}" for j in range(_SM_DIMS))}
  FROM feats GROUP BY y
), tot AS (
  SELECT count(*) AS n,
         {", ".join(f"sum(xq{j}) AS t{j}" for j in range(_SM_DIMS))}
  FROM feats
), weights AS (
  SELECT y, n_c, {w_exprs}
  FROM per_class CROSS JOIN tot
), wide AS (
  SELECT {wide_cols} FROM weights
), scored AS (
  SELECT y, {score[0]} AS s0, {score[1]} AS s1, {score[2]} AS s2
  FROM feats CROSS JOIN wide
), pred AS (
  SELECT y, CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
                 WHEN s1 >= s2 THEN 1 ELSE 2 END AS pred
  FROM scored
), conf AS (
  SELECT y, count(*) AS n_true,
         sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS n_correct
  FROM pred GROUP BY y
)
SELECT CAST(w.y AS INT) AS class,
       {", ".join(f"w.w{j} AS w{j}" for j in range(_SM_DIMS))},
       CAST(c.n_true AS BIGINT) AS n_true,
       CAST(c.n_correct AS BIGINT) AS n_correct,
       round(CAST(c.n_correct AS DOUBLE) / c.n_true, 6) AS recall
FROM weights w JOIN conf c ON w.y = c.y
ORDER BY class
"""


# --------------------------------------------------------------------------
# hoeffding_bound_audit
# --------------------------------------------------------------------------

_HFD_MOD = 10  # keep-1-in-10 arithmetic-hash sample
_LN_2_OVER_DELTA = "ln(2.0 / 0.05)"


def _q_hoeffding_bound_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
    )
    in_sample = ((F.col("o_orderkey") * F.lit(2654435761)) % M31) % _HFD_MOD == 0
    mom = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yc").alias("s"),
        F.min("yc").alias("lo"),
        F.max("yc").alias("hi"),
        F.sum(F.when(in_sample, F.lit(1))).alias("ns"),
        F.sum(F.when(in_sample, F.col("yc"))).alias("ss"),
    )
    full_mean = F.col("s").cast("double") / F.col("n").cast("double") / 100.0
    samp_mean = F.col("ss").cast("double") / F.col("ns").cast("double") / 100.0
    rng = (F.col("hi") - F.col("lo")).cast("double") / 100.0
    eps = rng * F.sqrt(
        F.log(F.lit(2.0 / 0.05)) / (2.0 * F.col("ns").cast("double"))
    )
    dev = F.abs(samp_mean - full_mean)
    return mom.select(
        F.col("n").alias("n_total"),
        F.col("ns").alias("n_sample"),
        F.round(full_mean, 6).alias("full_mean"),
        F.round(samp_mean, 6).alias("sample_mean"),
        F.round(dev, 6).alias("abs_deviation"),
        F.round(eps, 6).alias("hoeffding_eps"),
        (dev <= eps).alias("within_bound"),
    )


_SQL_HOEFFDING_BOUND_AUDIT = f"""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc,
         ((o_orderkey * 2654435761) % {M31}) % {_HFD_MOD} = 0 AS in_s
  FROM orders
), mom AS (
  SELECT count(*) AS n, sum(yc) AS s, min(yc) AS lo, max(yc) AS hi,
         sum(CASE WHEN in_s THEN 1 END) AS ns,
         sum(CASE WHEN in_s THEN yc END) AS ss
  FROM o
), g AS (
  SELECT n, ns,
         CAST(s AS DOUBLE) / n / 100.0 AS full_mean,
         CAST(ss AS DOUBLE) / ns / 100.0 AS samp_mean,
         CAST(hi - lo AS DOUBLE) / 100.0
           * sqrt({_LN_2_OVER_DELTA} / (2.0 * ns)) AS eps
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_total, CAST(ns AS BIGINT) AS n_sample,
       round(full_mean, 6) AS full_mean,
       round(samp_mean, 6) AS sample_mean,
       round(abs(samp_mean - full_mean), 6) AS abs_deviation,
       round(eps, 6) AS hoeffding_eps,
       abs(samp_mean - full_mean) <= eps AS within_bound
FROM g
"""


# --------------------------------------------------------------------------
# mcnemar_fixed_scorers
# --------------------------------------------------------------------------

_MCN_PRICE_CENTS = 15_000_000  # scorer B: urgent iff total < $150,000


def _q_mcnemar_fixed_scorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h = (F.col("o_custkey") * F.lit(2654435761)) % M31
    base = orders.select(
        (F.col("o_orderpriority") == "1-URGENT").alias("label"),
        (h.bitwiseAND(F.lit(65536)) == 0).alias("pred_a"),
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            < _MCN_PRICE_CENTS
        ).alias("pred_b"),
    ).select(
        "label",
        (F.col("pred_a") == F.col("label")).alias("a_ok"),
        (F.col("pred_b") == F.col("label")).alias("b_ok"),
    )
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a_ok").cast("bigint")).alias("na"),
        F.sum(F.col("b_ok").cast("bigint")).alias("nb"),
        F.sum((F.col("a_ok") & ~F.col("b_ok")).cast("bigint")).alias("b_disc"),
        F.sum((~F.col("a_ok") & F.col("b_ok")).cast("bigint")).alias("c_disc"),
    )
    chi2 = (
        (F.abs(F.col("b_disc") - F.col("c_disc")).cast("double") - 1.0)
        * (F.abs(F.col("b_disc") - F.col("c_disc")).cast("double") - 1.0)
        / (F.col("b_disc") + F.col("c_disc")).cast("double")
    )
    return mom.select(
        F.col("n").alias("n_cases"),
        F.round(F.col("na").cast("double") / F.col("n").cast("double"), 6).alias(
            "acc_hash_scorer"
        ),
        F.round(F.col("nb").cast("double") / F.col("n").cast("double"), 6).alias(
            "acc_price_scorer"
        ),
        F.col("b_disc").alias("only_a_correct"),
        F.col("c_disc").alias("only_b_correct"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        (chi2 > 3.84).alias("differs_5pct"),
    )


_SQL_MCNEMAR_FIXED_SCORERS = f"""
WITH base AS (
  SELECT (o_orderpriority = '1-URGENT') AS label,
         (((o_custkey * 2654435761) % {M31}) & 65536 = 0) AS pred_a,
         (CAST(round(o_totalprice * 100, 0) AS BIGINT) < {_MCN_PRICE_CENTS})
           AS pred_b
  FROM orders
), oks AS (
  SELECT (pred_a = label) AS a_ok, (pred_b = label) AS b_ok FROM base
), mom AS (
  SELECT count(*) AS n,
         sum(CASE WHEN a_ok THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN b_ok THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS b_disc,
         sum(CASE WHEN b_ok AND NOT a_ok THEN 1 ELSE 0 END) AS c_disc
  FROM oks
)
SELECT CAST(n AS BIGINT) AS n_cases,
       round(CAST(na AS DOUBLE) / n, 6) AS acc_hash_scorer,
       round(CAST(nb AS DOUBLE) / n, 6) AS acc_price_scorer,
       CAST(b_disc AS BIGINT) AS only_a_correct,
       CAST(c_disc AS BIGINT) AS only_b_correct,
       round((abs(CAST(b_disc AS DOUBLE) - c_disc) - 1.0)
             * (abs(CAST(b_disc AS DOUBLE) - c_disc) - 1.0)
             / (b_disc + c_disc), 6) AS mcnemar_chi2,
       (abs(CAST(b_disc AS DOUBLE) - c_disc) - 1.0)
         * (abs(CAST(b_disc AS DOUBLE) - c_disc) - 1.0)
         / (b_disc + c_disc) > 3.84 AS differs_5pct
FROM mom
"""


SPECS: dict[str, QuerySpec] = {
    "softmax_gd_step_exact": QuerySpec(
        _q_softmax_gd_step_exact,
        _sql_softmax(),
        "one full-batch 3-class softmax GD step from the zero init "
        "(closed-form gradient over exact e6 integer feature sums) + "
        "post-step per-class recall, one relational plan",
    ),
    "hoeffding_bound_audit": QuerySpec(
        _q_hoeffding_bound_audit,
        _SQL_HOEFFDING_BOUND_AUDIT,
        "Hoeffding sampling-error contract: hash-10% sample mean vs "
        "full mean against eps=(b-a)*sqrt(ln(2/delta)/2n), delta=0.05",
    ),
    "mcnemar_fixed_scorers": QuerySpec(
        _q_mcnemar_fixed_scorers,
        _SQL_MCNEMAR_FIXED_SCORERS,
        "McNemar continuity-corrected paired test between two fixed "
        "urgent-order scorers (hash-bit vs price threshold) on "
        "identical cases",
    ),
}
