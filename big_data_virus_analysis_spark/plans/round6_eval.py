"""Round-6 eval & accounting pack — retrieval evaluation and the two
training-run accounting knobs a curation pipeline turns:

* ``ann_recall_audit`` — recall@k of the sign-LSH ANN against exact
  brute-force cosine top-k, per query: the standard retrieval eval.
  At 100 TB the exact side runs on a SAMPLE of queries (here the same
  10-query panel both paths already use) — recall is an estimate from
  a query sample by definition, never an all-pairs sweep.  Both legs
  reuse the catalog's existing operators (`operators/similarity.py`),
  so this audits exactly what ships.

* ``mixture_temperature_sweep`` — temperature-scaled mixture weights
  per source: w_s(T) ∝ tokens_s^T for T ∈ {0.5, 0.7, 1.0} (the
  multilingual/domain rebalancing rule from the mT5/data-mixing
  literature).  One aggregate + a 1-row normalizer broadcast per
  temperature.

* ``shard_assignment_balanced`` — checkpoint/write sharding: sources
  ranked by size (two-phase global rank) and folded boustrophedon
  (snake) onto k shards, versus naive round-robin — per-shard totals
  for both, so the imbalance the fold removes is measurable.  The
  relational form of size-balanced shard planning (true LPT is
  sequential; the snake fold is its one-pass approximation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..operators.similarity import ann_lsh_topk, cosine_topk
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import sql_lsh_bucket_ctes

# --------------------------------------------------------------------------
# ann_recall_audit
# --------------------------------------------------------------------------

_RECALL_K = 10
_RECALL_QUERIES = 10


def _q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, n_queries=_RECALL_QUERIES, k=_RECALL_K).select(
        "query_id", "cand_id"
    )
    ann = ann_lsh_topk(emb, n_queries=_RECALL_QUERIES, k=_RECALL_K).select(
        "query_id", "cand_id"
    )
    hits = (
        exact.join(ann, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_ann = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(n_ann, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_ann", F.lit(0)).alias("n_ann"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(_RECALL_K)), 6
            ).alias("recall_at_k"),
        )
    )


# both legs restated relationally (the catalog's own oracle fragments)
_SQL_ANN_RECALL_AUDIT = f"""
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_RECALL_QUERIES}
  GROUP BY 1, 2
), sims AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), exact AS (
  SELECT query_id, cand_id FROM sims
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, cand_id ASC) <= {_RECALL_K}
{sql_lsh_bucket_ctes(8)}), adots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> q.vec_id
  JOIN buckets bq ON q.vec_id = bq.vec_id
  JOIN buckets bc ON c.vec_id = bc.vec_id AND bq.bucket = bc.bucket
  WHERE q.vec_id < {_RECALL_QUERIES}
  GROUP BY 1, 2
), asims AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS sim
  FROM adots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), ann AS (
  SELECT query_id, cand_id FROM asims
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, cand_id ASC) <= {_RECALL_K}
), hits AS (
  SELECT query_id, count(*) AS n_hit
  FROM exact JOIN ann USING (query_id, cand_id)
  GROUP BY query_id
), nann AS (
  SELECT query_id, count(*) AS n_ann FROM ann GROUP BY query_id
), base AS (
  SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id
)
SELECT b.query_id, b.n_exact,
       coalesce(a.n_ann, 0) AS n_ann,
       coalesce(h.n_hit, 0) AS n_hit,
       round(coalesce(h.n_hit, 0) / {float(_RECALL_K)!r}, 6) AS recall_at_k
FROM base b
LEFT JOIN nann a USING (query_id)
LEFT JOIN hits h USING (query_id)
"""


# --------------------------------------------------------------------------
# mixture_temperature_sweep
# --------------------------------------------------------------------------

_TEMPS = (0.5, 0.7, 1.0)


def _q_mixture_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    powered = per_source.select(
        "source",
        "n_tokens",
        *[
            F.pow(F.col("n_tokens").cast("double"), t).alias(f"_p{i}")
            for i, t in enumerate(_TEMPS)
        ],
    )
    totals = powered.agg(
        *[F.sum(f"_p{i}").alias(f"_s{i}") for i in range(len(_TEMPS))]
    )
    out = powered.crossJoin(F.broadcast(totals))
    cols = [
        F.round(F.col(f"_p{i}") / F.col(f"_s{i}"), 6).alias(
            f"w_t{str(t).replace('.', '')}"
        )
        for i, t in enumerate(_TEMPS)
    ]
    return out.select("source", "n_tokens", *cols)


_SQL_MIXTURE_TEMPERATURE_SWEEP = f"""
WITH per_source AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), powered AS (
  SELECT source, n_tokens,
         {", ".join(f"pow(CAST(n_tokens AS DOUBLE), {t}) AS p{i}" for i, t in enumerate(_TEMPS))}
  FROM per_source
), totals AS (
  SELECT {", ".join(f"sum(p{i}) AS s{i}" for i in range(len(_TEMPS)))} FROM powered
)
SELECT source, n_tokens,
       {", ".join(f"round(p{i} / s{i}, 6) AS w_t{str(t).replace('.', '')}" for i, t in enumerate(_TEMPS))}
FROM powered CROSS JOIN totals
"""


# --------------------------------------------------------------------------
# shard_assignment_balanced
# --------------------------------------------------------------------------

_N_SHARDS = 4


def _q_shard_assignment_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.length("text")).alias("bytes")
    )
    ranked = global_row_number(
        per_source, [F.desc("bytes"), F.asc("source")], out_col="r"
    )
    k = _N_SHARDS
    rnd = ((F.col("r") - 1) / k).cast("bigint")
    pos = (F.col("r") - 1) % k
    snake = F.when(rnd % 2 == 0, pos).otherwise(k - 1 - pos).cast("int")
    rr = pos.cast("int")
    assigned = ranked.select(
        "source", "bytes", snake.alias("shard_snake"), rr.alias("shard_rr")
    )
    s1 = assigned.groupBy(F.col("shard_snake").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_sources_snake"),
        F.sum("bytes").alias("bytes_snake"),
    )
    s2 = assigned.groupBy(F.col("shard_rr").alias("shard")).agg(
        F.sum("bytes").alias("bytes_rr"),
    )
    return s1.join(s2, "shard")


_SQL_SHARD_ASSIGNMENT_BALANCED = f"""
WITH per_source AS (
  SELECT source, CAST(sum(length(text)) AS BIGINT) AS bytes
  FROM documents GROUP BY source
), ranked AS (
  SELECT source, bytes,
         row_number() OVER (ORDER BY bytes DESC, source ASC) AS r
  FROM per_source
), assigned AS (
  SELECT source, bytes,
         CAST(CASE WHEN ((r - 1) // {_N_SHARDS}) % 2 = 0
                   THEN (r - 1) % {_N_SHARDS}
                   ELSE {_N_SHARDS} - 1 - ((r - 1) % {_N_SHARDS}) END AS INT)
           AS shard_snake,
         CAST((r - 1) % {_N_SHARDS} AS INT) AS shard_rr
  FROM ranked
), s1 AS (
  SELECT shard_snake AS shard, count(*) AS n_sources_snake,
         CAST(sum(bytes) AS BIGINT) AS bytes_snake
  FROM assigned GROUP BY 1
), s2 AS (
  SELECT shard_rr AS shard, CAST(sum(bytes) AS BIGINT) AS bytes_rr
  FROM assigned GROUP BY 1
)
SELECT shard, n_sources_snake, bytes_snake, bytes_rr
FROM s1 JOIN s2 USING (shard)
"""


SPECS: dict[str, QuerySpec] = {
    "ann_recall_audit": QuerySpec(
        _q_ann_recall_audit,
        _SQL_ANN_RECALL_AUDIT,
        "recall@10 of sign-LSH ANN vs exact cosine top-k on the "
        "10-query panel (retrieval eval over the shipping operators)",
    ),
    "mixture_temperature_sweep": QuerySpec(
        _q_mixture_temperature_sweep,
        _SQL_MIXTURE_TEMPERATURE_SWEEP,
        "temperature-scaled mixture weights per source "
        "(w ~ tokens^T for T in 0.5/0.7/1.0)",
    ),
    "shard_assignment_balanced": QuerySpec(
        _q_shard_assignment_balanced,
        _SQL_SHARD_ASSIGNMENT_BALANCED,
        "size-balanced snake-fold shard assignment vs round-robin, "
        "per-shard totals for both",
    ),
}
