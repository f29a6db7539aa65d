"""Round-5 measurement/diagnostics pack: provenance-aware dedup audit,
LSH precision measurement, SQL-scripting surface, and MMR re-ranking.

* ``cross_source_dup_audit`` — WHICH sources duplicate WHICH: near-dup
  pairs rolled up per unordered source pair.  The provenance question a
  corpus owner asks before dropping a crawl: does source A mostly
  duplicate itself (boilerplate) or leak into B (mirror)?  Composes the
  oracle-checked MinHash pair generator with two source lookups.
* ``lsh_precision_audit`` — the banded-LSH quality measurement: every
  candidate pair is verified against its EXACT 3-gram Jaccard, then
  rolled up per shared-band count — (n_pairs, n_true at the 0.5
  threshold, precision).  More shared bands ⇒ higher precision is the
  sketch's monotonicity property; the table is the evidence.  This is
  the audit loop a 100 TB dedup run executes on a sample before
  trusting candidates at scale.
* ``adaptive_histogram_scripted`` — the Spark 4 SQL-scripting surface
  (BEGIN/DECLARE/WHILE): a loop doubles the bucket width until ≤ 20
  buckets span the price range, then emits the histogram at the chosen
  width.  The oracle computes the fixpoint width in closed form
  (width = w₀·2^max(0,⌈log2(range/(w₀·20))⌉)) — the scripted loop and
  the closed form must agree bucket for bucket.
* ``mmr_rerank`` — maximal marginal relevance selection (Carbonell &
  Goldstein '98): greedily pick 5 of the top-20 cosine candidates for
  the query embedding, each step maximizing
  λ·relevance − (1−λ)·max-similarity-to-already-selected (λ=0.7) — the
  standard diversity re-ranker between retrieval and a RAG context
  window.  Candidate generation and the 20×20 similarity matrix are
  distributed; the 5-step greedy argmax runs on the collected ≤20-row
  frame (a bounded driver step, same contract as the BPE merge loop).
  The oracle unrolls the five steps as CTEs with identical rounding
  and tiebreaks.

Scale notes: the two audits aggregate pair frames (≪ corpus, banded
bound); the scripted loop's WHILE predicate is one min/max aggregate
per iteration with iteration count ≤ log2(range); MMR's driver step is
O(k·top_n) on constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import minhash_lsh_sql

# --------------------------------------------------------------------------
# cross_source_dup_audit
# --------------------------------------------------------------------------

_XS_K = 16
_XS_BANDS = 4


def _q_cross_source_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered source pair (source_lo ≤
    source_hi lexicographically), plus each pair's share of all
    near-dup pairs."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, k=_XS_K, bands=_XS_BANDS)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
    )
    counts = tagged.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    total = counts.agg(F.sum("n_pairs").alias("n_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "source_lo",
        "source_hi",
        "n_pairs",
        F.round(F.col("n_pairs").cast("double") / F.col("n_total").cast("double"), 6
                ).alias("pair_share"),
    )


def _sql_cross_source_dup_audit() -> str:
    return (
        "WITH pairs AS (\n"
        + minhash_lsh_sql(_XS_K, _XS_K // _XS_BANDS)
        + """
), tagged AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi
  FROM pairs
  JOIN documents da ON pairs.doc_a = da.doc_id
  JOIN documents db ON pairs.doc_b = db.doc_id
), counts AS (
  SELECT source_lo, source_hi, count(*) AS n_pairs
  FROM tagged GROUP BY 1, 2
)
SELECT source_lo, source_hi, n_pairs,
       round(CAST(n_pairs AS DOUBLE)
             / (SELECT CAST(sum(n_pairs) AS DOUBLE) FROM counts), 6)
         AS pair_share
FROM counts
"""
    )


# --------------------------------------------------------------------------
# lsh_precision_audit
# --------------------------------------------------------------------------

_LP_TRUE_THRESHOLD = 0.5


def _q_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify every MinHash-LSH candidate against exact 3-gram Jaccard
    and report precision per shared-band count.  The verify join runs
    only over CANDIDATES (the banded bound), exactly as a production
    dedup pass verifies before deleting."""
    from ..operators.dedup import minhash_lsh_pairs, word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(docs, n=3, k=_XS_K, bands=_XS_BANDS)
    dg = word_ngrams(docs, 3)
    sizes = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ga = dg.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = dg.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        cands.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b", "n_shared_bands")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jacc = (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
                6,
            ),
        )
    )
    return jacc.groupBy("n_shared_bands").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (F.col("jaccard") >= F.lit(_LP_TRUE_THRESHOLD)).cast("long")
        ).alias("n_true"),
        F.round(
            F.sum((F.col("jaccard") >= F.lit(_LP_TRUE_THRESHOLD)).cast("long"))
            .cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("precision"),
    )


def _sql_lsh_precision_audit() -> str:
    return (
        "WITH cands AS (\n"
        + minhash_lsh_sql(_XS_K, _XS_K // _XS_BANDS)
        + f"""
), vtoks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), vgrams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM vtoks WHERE len(tokens) >= 3
), vdg AS (
  SELECT DISTINCT doc_id, gram FROM vgrams
), vsizes AS (
  SELECT doc_id, count(*) AS sz FROM vdg GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, c.n_shared_bands, count(*) AS inter
  FROM cands c
  JOIN vdg a ON c.doc_a = a.doc_id
  JOIN vdg b ON c.doc_b = b.doc_id AND a.gram = b.gram
  GROUP BY 1, 2, 3
), jacc AS (
  SELECT n_shared_bands,
         round(CAST(inter AS DOUBLE)
               / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
  FROM inter
  JOIN vsizes sa ON doc_a = sa.doc_id
  JOIN vsizes sb ON doc_b = sb.doc_id
)
SELECT n_shared_bands, count(*) AS n_pairs,
       CAST(sum(CASE WHEN jaccard >= {_LP_TRUE_THRESHOLD} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       round(CAST(sum(CASE WHEN jaccard >= {_LP_TRUE_THRESHOLD} THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS precision
FROM jacc GROUP BY n_shared_bands
"""
    )


# --------------------------------------------------------------------------
# adaptive_histogram_scripted
# --------------------------------------------------------------------------

_AH_W0 = 100.0
_AH_MAX_BUCKETS = 20


def _q_adaptive_histogram_scripted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-width price histogram through Spark 4 SQL scripting:
    a WHILE loop doubles the bucket width until ≤ MAX buckets span
    [min, max], then the final SELECT emits the histogram.  Each loop
    predicate is one min/max aggregate; iterations ≤ log2(range/w0)."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, only=["lineitem"])
    return spark.sql(
        f"""
        BEGIN
          DECLARE w DOUBLE DEFAULT {_AH_W0};
          WHILE (SELECT (max(l_extendedprice) - min(l_extendedprice)) / w
                 FROM lineitem) > {_AH_MAX_BUCKETS} DO
            SET w = w * 2;
          END WHILE;
          SELECT CAST(floor(l_extendedprice / w) AS BIGINT) AS bucket,
                 CAST(floor(l_extendedprice / w) AS BIGINT) * w AS bucket_lo,
                 count(*) AS n
          FROM lineitem
          GROUP BY 1, 2;
        END
        """
    )


_SQL_ADAPTIVE_HISTOGRAM = f"""
WITH ext AS (
  SELECT max(l_extendedprice) - min(l_extendedprice) AS rng FROM lineitem
), w AS (
  SELECT {_AH_W0} * power(2.0, greatest(0.0,
           ceil(log2(rng / ({_AH_W0} * {_AH_MAX_BUCKETS}))))) AS w
  FROM ext
)
SELECT CAST(floor(l_extendedprice / w) AS BIGINT) AS bucket,
       CAST(floor(l_extendedprice / w) AS BIGINT) * w AS bucket_lo,
       count(*) AS n
FROM lineitem CROSS JOIN w
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# mmr_rerank
# --------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_TOP = 20
_MMR_K = 5
_MMR_QUERY = 0


def _q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking: 5 of the top-20 cosine candidates, greedy
    λ·rel − (1−λ)·max-sim-to-selected with rounded scores and vec_id
    tiebreaks at every argmax.  Candidate generation and the pairwise
    similarity matrix are distributed; the greedy loop runs on the
    collected ≤20-row frames (bounded driver step)."""
    from ..functions.vectors import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == _MMR_QUERY).select(
        F.col("embedding").alias("qe")
    )
    cand = (
        emb.where(F.col("vec_id") != _MMR_QUERY)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine_similarity(F.col("embedding"), F.col("qe")), 6).alias(
                "rel"
            ),
        )
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(_MMR_TOP)
    )
    cand = cand.cache()
    a = cand.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    sims = (
        a.join(b, F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6).alias("sim"),
        )
    )
    rel = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
    sim = {(r["va"], r["vb"]): r["sim"] for r in sims.collect()}
    cand.unpersist()

    from decimal import ROUND_HALF_UP, Decimal

    def _round6(x: float) -> float:
        # Match BOTH engines' ROUND at the 1e-6 half boundary: Spark
        # rounds BigDecimal.valueOf(x) — the SHORTEST decimal repr, not
        # the exact binary expansion — HALF_UP, and DuckDB's
        # multiply-round lands the same way; Python's built-in round
        # (banker's on the exact expansion) disagrees exactly there.
        # Decimal(repr(x)) reproduces the shortest-repr semantics.
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for v in sorted(rel):
            if v in chosen:
                continue
            if not chosen:
                score = _round6(rel[v])
            else:
                mx = max(sim[(v, s)] for s in chosen)
                score = _round6(
                    _MMR_LAMBDA * rel[v] - (1.0 - _MMR_LAMBDA) * mx
                )
            if best is None or score > best[1] or (score == best[1] and v < best[0]):
                best = (v, score)
        chosen.append(best[0])
        selected.append((rank, best[0], best[1]))

    return spark.createDataFrame(
        selected, "rank int, vec_id bigint, mmr_score double"
    )


def _sql_mmr_rerank() -> str:
    """Five unrolled greedy steps; rounding and tiebreaks identical to
    the Spark loop."""
    lam, one_m = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    head = f"""
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm
  FROM elems GROUP BY vec_id HAVING sum(x * x) > 0
), qdots AS (
  -- query-vs-corpus only (one row per corpus vector, never all-pairs)
  SELECT b.vec_id AS vb, sum(a.x * b.x) AS dot
  FROM elems a JOIN elems b ON a.i = b.i AND b.vec_id <> {_MMR_QUERY}
  WHERE a.vec_id = {_MMR_QUERY}
  GROUP BY 1
), cand AS (
  SELECT vb AS vec_id,
         round(dot / (nq.nrm * nb.nrm), 6) AS rel
  FROM qdots
  JOIN norms nq ON nq.vec_id = {_MMR_QUERY}
  JOIN norms nb ON vb = nb.vec_id
  ORDER BY rel DESC, vb ASC LIMIT {_MMR_TOP}
), celems AS (
  SELECT e.* FROM elems e JOIN cand c ON e.vec_id = c.vec_id
), sims AS (
  -- pairwise sims over the {_MMR_TOP} candidates only
  SELECT a.vec_id AS va, b.vec_id AS vb,
         round(sum(a.x * b.x)
               / (max(na.nrm) * max(nb.nrm)), 6) AS sim
  FROM celems a
  JOIN celems b ON a.i = b.i AND a.vec_id <> b.vec_id
  JOIN norms na ON a.vec_id = na.vec_id
  JOIN norms nb ON b.vec_id = nb.vec_id
  GROUP BY 1, 2
), pick1 AS (
  SELECT vec_id, round(rel, 6) AS score, 1 AS rank FROM cand
  ORDER BY rel DESC, vec_id ASC LIMIT 1
)"""
    parts = [head]
    prev_sel = "pick1"
    for t in range(2, _MMR_K + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT vec_id FROM pick{i}" for i in range(1, t)
        )
        parts.append(
            f""", st{t} AS (
  SELECT c.vec_id,
         round({lam} * c.rel - {one_m} * (
           SELECT max(s.sim) FROM sims s
           WHERE s.va = c.vec_id AND s.vb IN ({sel_union})
         ), 6) AS score
  FROM cand c WHERE c.vec_id NOT IN ({sel_union})
), pick{t} AS (
  SELECT vec_id, score, {t} AS rank FROM st{t}
  ORDER BY score DESC, vec_id ASC LIMIT 1
)"""
        )
        prev_sel = f"pick{t}"
    final = " UNION ALL ".join(
        f"SELECT CAST(rank AS INT) AS rank, CAST(vec_id AS BIGINT) AS vec_id, "
        f"score AS mmr_score FROM pick{i}"
        for i in range(1, _MMR_K + 1)
    )
    parts.append("\n" + final)
    return "".join(parts)


SPECS: dict[str, QuerySpec] = {
    "cross_source_dup_audit": QuerySpec(
        _q_cross_source_dup_audit,
        _sql_cross_source_dup_audit(),
        "near-dup pair counts per unordered source pair with share of all "
        "pairs (provenance-aware dedup audit)",
    ),
    "lsh_precision_audit": QuerySpec(
        _q_lsh_precision_audit,
        _sql_lsh_precision_audit(),
        "LSH candidate precision vs exact Jaccard per shared-band count "
        "(verify-before-delete audit, candidates-only join)",
    ),
    "adaptive_histogram_scripted": QuerySpec(
        _q_adaptive_histogram_scripted,
        _SQL_ADAPTIVE_HISTOGRAM,
        "adaptive-width histogram via Spark 4 SQL scripting WHILE loop; "
        "oracle computes the fixpoint width in closed form",
    ),
    "mmr_rerank": QuerySpec(
        _q_mmr_rerank,
        _sql_mmr_rerank(),
        "maximal marginal relevance top-5 of cosine top-20 (lambda=0.7), "
        "greedy with rounded scores; oracle unrolls the steps as CTEs",
    ),
}
