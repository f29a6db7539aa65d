"""Round-9 language-model smoothing pack: interpolated Kneser–Ney —
the canonical n-gram smoothing family (Kneser & Ney 1995; Chen &
Goodman 1999) the catalog did not yet cover (the existing
``bigram_lm_perplexity`` is add-k).

* ``kneser_ney_bigram_ppl`` — per-source perplexity under a
  corpus-trained interpolated-KN bigram model with absolute discount
  D = 3/4:

      P(w2|w1) = (c12 − D)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/B

  where N1+(w1,·) is the distinct-follower count, N1+(·,w2) the
  distinct-predecessor (continuation) count, and B the number of
  distinct bigram TYPES.  With D = 3/4 the probability is the exact
  rational (B·(4·c12 − 3) + 3·N1fw·N1bw) / (4·B·c1) — every count an
  integer, so both engines build the identical fraction; the only
  float ops are ln(num) − ln(den), then quantized to 1e-9 nats
  (floor(x·1e9 + 0.5)) so the per-source weighted sums are EXACT
  integer aggregations — no float accumulation-order drift.
* ``kneser_ney_prob_check`` — the smoothing-mass ledger for the top-5
  contexts by frequency: summed seen-bigram numerators plus the
  closed-form unseen continuation mass must equal the denominator
  4·B·c1 EXACTLY (Σ_w2 P(w2|w1) = 1 in integer arithmetic — the
  normalization proof of the formula, checked as data).

100-TB shape: ONE token-explode pass feeds everything — the
(source, w1, w2) scoring counts are the base aggregate, the bigram-
type table c2 is its rollup, and c1 / N1fw / N1bw / B are rollups of
c2 (no second corpus scan).  Scoring is two shuffle joins (on w1 and
on w2 — vocabulary-sized model tables stay distributed, never
collected) plus a 1-row B broadcast; the top-5 ledger rides
TakeOrderedAndProject, never a global window.

Identity property (tests/test_properties.py): the integer KN fraction
is pinned against a pure-Python float KN implementation, and the
seen + unseen = 4·B·c1 normalization identity is proven on random
corpora.

No reference counterpart (LLM-data-pipeline extension alongside
plans/corpus_filters.py's add-k scorer); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import fan_out, load_table
from .catalog import QuerySpec
from .fragments import explode_bigrams

#: absolute discount D = KN_D_NUM / KN_D_DEN (Chen & Goodman's fixed
#: discount; 3/4 keeps the probability an exact integer rational)
KN_D_NUM, KN_D_DEN = 3, 4
#: log-prob quantization: 1e-9 nats (exact integer sums thereafter)
KN_Q = 1_000_000_000
#: contexts shown in the normalization ledger
KN_CHECK_TOPK = 5


def _scored_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, w1, w2, cnt) — ONE explode pass over documents."""
    # fan_out (r11, guide §2.5): one parquet file = one input split —
    # the bigram explode ran on a single core otherwise
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    a = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    # staged token column: closure inlining is O(n²) (see _doc_spans)
    return tracked_cache(
        docs.where(F.size(a) >= 2)
        .select("source", a.alias("_toks"))
        .select(
            "source",
            explode_bigrams(),
        )
        .groupBy("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _kn_model(scored: DataFrame):
    """c2 (bigram types) and its rollups: c1+N1fw per context, N1bw
    per continuation, B (1-row)."""
    c2 = tracked_cache(
        scored.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    )
    ctx = c2.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1fw")
    )
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1bw"))
    btot = c2.agg(F.count(F.lit(1)).alias("b"))
    return c2, ctx, cont, btot


def _kn_num_den():
    """num = B·(4·c12 − 3) + 3·n1fw·n1bw, den = 4·B·c1 (decimal-exact)."""
    b = F.col("b").cast("decimal(38,0)")
    num = b * (
        F.lit(KN_D_DEN).cast("decimal(38,0)") * F.col("c12") - F.lit(KN_D_NUM)
    ) + F.lit(KN_D_NUM).cast("decimal(38,0)") * F.col("n1fw") * F.col("n1bw")
    den = F.lit(KN_D_DEN).cast("decimal(38,0)") * b * F.col("c1")
    return num, den


def _q_kneser_ney_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_bigrams(spark, sf_dir)
    c2, ctx, cont, btot = _kn_model(scored)
    num, den = _kn_num_den()
    qlogp = F.floor(
        (F.log(num.cast("double")) - F.log(den.cast("double"))) * KN_Q
        + F.lit(0.5)
    ).cast("bigint")
    per_type = (
        scored.join(c2, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btot))
        .select("source", "cnt", qlogp.alias("qlogp"))
    )
    agg = per_type.groupBy("source").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("qlogp")
        ).alias("sq"),
    )
    avg_logp = (
        F.col("sq").cast("double") / F.lit(float(KN_Q))
    ) / F.col("n_bigrams").cast("double")
    return agg.select(
        "source",
        "n_bigrams",
        F.round(avg_logp, 6).alias("avg_logp"),
        F.round(F.exp(-avg_logp), 4).alias("ppl"),
    ).orderBy("source")


def _q_kneser_ney_prob_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_bigrams(spark, sf_dir)
    c2, ctx, cont, btot = _kn_model(scored)
    top = ctx.orderBy(F.desc("c1"), "w1").limit(KN_CHECK_TOPK)
    num, _ = _kn_num_den()
    seen = (
        c2.join(F.broadcast(top), "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(btot))
        .groupBy("w1", "c1", "n1fw", "b")
        .agg(
            F.sum(num).alias("seen_num"),
            F.sum(F.col("n1bw").cast("decimal(38,0)")).alias("sn1bw"),
        )
    )
    b = F.col("b").cast("decimal(38,0)")
    unseen = (
        F.lit(KN_D_NUM).cast("decimal(38,0)")
        * F.col("n1fw")
        * (b - F.col("sn1bw"))
    )
    den = F.lit(KN_D_DEN).cast("decimal(38,0)") * b * F.col("c1")
    return seen.select(
        "w1",
        F.col("c1").cast("bigint").alias("c1"),
        F.col("n1fw").cast("bigint").alias("n1fw"),
        F.col("seen_num").cast("bigint").alias("seen_num"),
        unseen.cast("bigint").alias("unseen_num"),
        den.cast("bigint").alias("den_4bc1"),
        ((F.col("seen_num") + unseen) == den).alias("exact_one"),
    ).orderBy(F.desc("c1"), "w1")


_SQL_KN_BASE = f"""
WITH t AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), ex AS (
  SELECT doc_id, source, unnest(a) AS w, generate_subscripts(a, 1) AS i
  FROM t WHERE len(a) >= 2
), big AS (
  SELECT source, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM ex
), scored AS MATERIALIZED (
  SELECT source, w1, w2, count(*) AS cnt
  FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
), c2 AS MATERIALIZED (
  SELECT w1, w2, sum(cnt) AS c12 FROM scored GROUP BY 1, 2
), ctx AS MATERIALIZED (
  SELECT w1, sum(c12) AS c1, count(*) AS n1fw FROM c2 GROUP BY 1
), cont AS MATERIALIZED (
  SELECT w2, count(*) AS n1bw FROM c2 GROUP BY 1
), btot AS (
  SELECT count(*) AS b FROM c2
)"""


_SQL_KNESER_NEY_BIGRAM_PPL = (
    _SQL_KN_BASE
    + f""", per_type AS (
  SELECT s.source, s.cnt,
         CAST(floor(
           (ln(CAST(CAST(b AS HUGEINT) * ({KN_D_DEN} * c12 - {KN_D_NUM})
                    + {KN_D_NUM} * CAST(n1fw AS HUGEINT) * n1bw AS DOUBLE))
            - ln(CAST({KN_D_DEN} * CAST(b AS HUGEINT) * c1 AS DOUBLE)))
           * {KN_Q} + 0.5) AS BIGINT) AS qlogp
  FROM scored s
  JOIN c2 USING (w1, w2) JOIN ctx USING (w1) JOIN cont USING (w2)
  CROSS JOIN btot
), agg AS (
  SELECT source, sum(cnt) AS n_bigrams,
         sum(CAST(cnt AS HUGEINT) * qlogp) AS sq
  FROM per_type GROUP BY source
)
SELECT source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round((CAST(sq AS DOUBLE) / {float(KN_Q)})
             / CAST(n_bigrams AS DOUBLE), 6) AS avg_logp,
       round(exp(-((CAST(sq AS DOUBLE) / {float(KN_Q)})
             / CAST(n_bigrams AS DOUBLE))), 4) AS ppl
FROM agg
ORDER BY source
"""
)


_SQL_KNESER_NEY_PROB_CHECK = (
    _SQL_KN_BASE
    + f""", top AS (
  SELECT w1, c1, n1fw FROM ctx ORDER BY c1 DESC, w1 LIMIT {KN_CHECK_TOPK}
), seen AS (
  SELECT t.w1, t.c1, t.n1fw, b,
         sum(CAST(b AS HUGEINT) * ({KN_D_DEN} * c12 - {KN_D_NUM})
             + {KN_D_NUM} * CAST(t.n1fw AS HUGEINT) * n1bw) AS seen_num,
         sum(CAST(n1bw AS HUGEINT)) AS sn1bw
  FROM c2 JOIN top t USING (w1) JOIN cont USING (w2) CROSS JOIN btot
  GROUP BY t.w1, t.c1, t.n1fw, b
)
SELECT w1, CAST(c1 AS BIGINT) AS c1, CAST(n1fw AS BIGINT) AS n1fw,
       CAST(seen_num AS BIGINT) AS seen_num,
       CAST({KN_D_NUM} * CAST(n1fw AS HUGEINT) * (b - sn1bw) AS BIGINT)
         AS unseen_num,
       CAST({KN_D_DEN} * CAST(b AS HUGEINT) * c1 AS BIGINT) AS den_4bc1,
       (seen_num + {KN_D_NUM} * CAST(n1fw AS HUGEINT) * (b - sn1bw))
         = {KN_D_DEN} * CAST(b AS HUGEINT) * c1 AS exact_one
FROM seen
ORDER BY c1 DESC, w1
"""
)


SPECS: dict[str, QuerySpec] = {
    "kneser_ney_bigram_ppl": QuerySpec(
        _q_kneser_ney_bigram_ppl,
        _SQL_KNESER_NEY_BIGRAM_PPL,
        "per-source perplexity under an interpolated Kneser-Ney bigram "
        "model (D = 3/4): exact integer rational probabilities, "
        "1e-9-nat quantized log sums (no float accumulation)",
    ),
    "kneser_ney_prob_check": QuerySpec(
        _q_kneser_ney_prob_check,
        _SQL_KNESER_NEY_PROB_CHECK,
        "KN smoothing-mass ledger for the top-5 contexts: seen-bigram "
        "numerators + closed-form unseen continuation mass == 4*B*c1 "
        "exactly (integer normalization proof as data)",
    ),
}
