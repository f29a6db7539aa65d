"""Round-6 curation/IR pack 2 — pseudo-relevance feedback, community
labels, boilerplate removal, and budgeted mixture allocation.

* ``rocchio_expansion`` — Rocchio (1971) pseudo-relevance feedback:
  take the top-10 BM25 documents for the fixed 3-term query (the SAME
  scored frame as ``bm25_search``, plans/retrieval.py), build the
  relevant-set tf-idf centroid, and emit the top-15 expansion terms
  (β-weighted centroid, original query terms excluded).  Per-term
  centroid sums are DECIMAL-staged; the relevant set size reaches the
  weights as a 1-row broadcast.  Scale shape: the candidate term frame
  is bounded by the top-k documents' vocabularies, never the corpus.

* ``label_propagation_rounds`` — two exact unrolled rounds of
  synchronous label propagation (Raghavan 2007) on the min-support
  co-purchase graph (same graph as ``adamic_adar_linkpred``): labels
  start as node ids; each round every node adopts the most frequent
  neighbor label (count desc, label asc tiebreak — deterministic).
  Output is the per-round community trajectory (labels remaining, max
  community size).  Mode selection is a per-node PARTITIONED window.

* ``strip_boilerplate_prefix`` — the APPLY step to
  ``doc_prefix_duplicates``' detection (plans/round5_contain.py): per
  source, find the dominant 8-token prefix (count ≥ 2), strip it from
  the docs that carry it, and report how many docs were touched and the
  mean token counts before/after.  Token sums are integers, so the
  means are exact.

* ``mixture_capped_allocation`` — two water-filling rounds for a
  token budget B = 50% of the corpus under per-source availability
  caps (1 epoch): round 1 allocates w_s·B (w ∝ tokens^0.7, the
  ``domain_mixture_weights`` family) clipped at each source's token
  count; round 2 redistributes the leftover across UNcapped sources
  proportionally to their weights, clipped again.  The two unrolled
  rounds are the exact per-iteration body of water-filling (the same
  unrolled-twin policy as Lloyd/PageRank/k-core).  All cross-source
  totals are |sources|-row aggregates broadcast back.

No reference counterpart; extends plans/retrieval.py,
plans/round6_graph2.py, plans/round5_contain.py, plans/mixtures.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import QUERY_TERMS, bm25_scores, sql_support_edge_rounds, support_edges

# --------------------------------------------------------------------------
# rocchio_expansion
# --------------------------------------------------------------------------

_ROCCHIO_TOP_DOCS = 10
_ROCCHIO_TOPK = 15
_ROCCHIO_BETA = 0.75


def _q_rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rel = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_ROCCHIO_TOP_DOCS)
        .select("doc_id")
        .transform(tracked_cache)
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_ = toks.dropDuplicates(["doc_id", "tok"]).groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    rel_tf = (
        toks.join(rel, "doc_id").groupBy("doc_id", "tok").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    n_rel = rel.agg(F.count(F.lit(1)).alias("n_rel"))
    tfidf = (
        rel_tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                9,
            )
            .cast("decimal(28,12)")
            .alias("w"),
        )
    )
    centroid = tfidf.groupBy("tok", "df").agg(F.sum("w").alias("sw"))
    out = centroid.crossJoin(F.broadcast(n_rel)).select(
        "tok",
        "df",
        F.round(
            F.lit(_ROCCHIO_BETA)
            * F.col("sw").cast("double")
            / F.col("n_rel"),
            6,
        ).alias("weight"),
    )
    not_query = ~F.col("tok").isin(*QUERY_TERMS)
    return (
        out.where(not_query)
        .orderBy(F.desc("weight"), F.asc("tok"))
        .limit(_ROCCHIO_TOPK)
    )


_QT_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

_SQL_ROCCHIO_EXPANSION = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), nonempty AS (
  SELECT * FROM toks WHERE length(tok) > 0
), dl AS (
  SELECT doc_id, count(*) AS dl FROM nonempty GROUP BY 1
), totals AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs_d,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), tf_q AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM nonempty WHERE tok IN ({_QT_SQL})
  GROUP BY 1, 2
), df_q AS (
  SELECT tok, count(*) AS df FROM tf_q GROUP BY 1
), scored AS (
  SELECT t.doc_id,
         sum(ln(1.0 + (tt.n_docs_d - d.df + 0.5) / (d.df + 0.5))
             * t.tf * {1.2 + 1.0}
             / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / tt.avgdl)))
           AS bm25
  FROM tf_q t
  JOIN df_q d USING (tok)
  JOIN dl l USING (doc_id)
  CROSS JOIN totals tt
  GROUP BY t.doc_id
), rel AS (
  SELECT doc_id FROM scored
  ORDER BY round(bm25, 6) DESC, doc_id ASC
  LIMIT {_ROCCHIO_TOP_DOCS}
), n_rel AS (
  SELECT count(*) AS n_rel FROM rel
), n_docs AS (
  SELECT count(*) AS n_docs FROM documents
), df_all AS (
  SELECT tok, count(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM nonempty)
  GROUP BY tok
), rel_tf AS (
  SELECT n.doc_id, n.tok, count(*) AS tf
  FROM nonempty n JOIN rel USING (doc_id)
  GROUP BY 1, 2
), tfidf AS (
  SELECT rt.tok, da.df,
         CAST(round(rt.tf * ln(CAST(nd.n_docs AS DOUBLE) / da.df), 9)
              AS DECIMAL(28,12)) AS w
  FROM rel_tf rt JOIN df_all da USING (tok) CROSS JOIN n_docs nd
), centroid AS (
  SELECT tok, df, sum(w) AS sw FROM tfidf GROUP BY 1, 2
)
SELECT tok, CAST(df AS BIGINT) AS df,
       round({_ROCCHIO_BETA} * CAST(sw AS DOUBLE) / nr.n_rel, 6) AS weight
FROM centroid CROSS JOIN n_rel nr
WHERE tok NOT IN ({_QT_SQL})
ORDER BY weight DESC, tok ASC
LIMIT {_ROCCHIO_TOPK}
"""


# --------------------------------------------------------------------------
# label_propagation_rounds
# --------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _q_label_propagation_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tracked_cache(support_edges(spark, sf_dir))
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).transform(tracked_cache)
    labels = adj.select("node").dropDuplicates().select(
        "node", F.col("node").alias("lab")
    )
    summaries: list[DataFrame] = []
    for r in range(1, _LPA_ROUNDS + 1):
        nbr_labs = adj.join(
            labels.select(F.col("node").alias("nbr"), "lab"), "nbr"
        ).select("node", "lab")
        cnt = nbr_labs.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
        labels = tracked_cache(
            cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "lab")
        )
        sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("sz"))
        summaries.append(
            sizes.agg(
                F.count(F.lit(1)).alias("n_labels"),
                F.max("sz").alias("max_community"),
            ).select(F.lit(r).alias("round"), "n_labels", "max_community")
        )
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionByName(s)
    return out


def _lpa_sql() -> str:
    ctes, parts = [], []
    prev = "lab0"
    ctes.append(
        """adj AS (
  SELECT u AS node, v AS nbr FROM e
  UNION ALL
  SELECT v AS node, u AS nbr FROM e
), lab0 AS (
  SELECT DISTINCT node, node AS lab FROM adj
)"""
    )
    for r in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""cnt{r} AS (
  SELECT a.node, p.lab, count(*) AS c
  FROM adj a JOIN {prev} p ON a.nbr = p.node
  GROUP BY 1, 2
), lab{r} AS (
  SELECT node, lab FROM (
    SELECT node, lab,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, lab ASC) AS rn
    FROM cnt{r}
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""SELECT {r} AS round,
       (SELECT count(DISTINCT lab) FROM lab{r}) AS n_labels,
       (SELECT max(sz) FROM (
          SELECT count(*) AS sz FROM lab{r} GROUP BY lab)) AS max_community"""
        )
        prev = f"lab{r}"
    return sql_support_edge_rounds(ctes, parts)


_SQL_LABEL_PROPAGATION_ROUNDS = _lpa_sql()


# --------------------------------------------------------------------------
# strip_boilerplate_prefix
# --------------------------------------------------------------------------

_STRIP_PREFIX_TOKS = 8
_STRIP_MIN_DF = 2


def _q_strip_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_toks"),
        F.concat_ws(
            " ", F.slice(F.split("text", " "), 1, _STRIP_PREFIX_TOKS)
        ).alias("prefix"),
    )
    pf = base.groupBy("source", "prefix").agg(F.count(F.lit(1)).alias("pdf"))
    w = Window.partitionBy("source").orderBy(F.desc("pdf"), F.asc("prefix"))
    dominant = (
        pf.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("pdf") >= _STRIP_MIN_DF))
        .select("source", F.col("prefix").alias("boiler"), "pdf")
    )
    joined = base.join(dominant, "source", "left").select(
        "source",
        "pdf",
        "n_toks",
        F.when(
            F.col("boiler").isNotNull() & (F.col("prefix") == F.col("boiler")),
            F.col("n_toks") - _STRIP_PREFIX_TOKS,
        )
        .otherwise(F.col("n_toks"))
        .alias("n_after"),
        (
            F.col("boiler").isNotNull() & (F.col("prefix") == F.col("boiler"))
        ).cast("bigint").alias("stripped"),
    )
    return joined.groupBy("source").agg(
        F.first("pdf").alias("prefix_df"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("stripped").alias("n_stripped"),
        F.round(F.sum("n_toks").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_toks_before"
        ),
        F.round(F.sum("n_after").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_toks_after"
        ),
    )


_SQL_STRIP_BOILERPLATE_PREFIX = f"""
WITH base AS (
  SELECT source, doc_id,
         len(string_split(text, ' ')) AS n_toks,
         array_to_string(list_slice(string_split(text, ' '), 1,
                                    {_STRIP_PREFIX_TOKS}), ' ') AS prefix
  FROM documents
), pf AS (
  SELECT source, prefix, count(*) AS pdf FROM base GROUP BY 1, 2
), dominant AS (
  SELECT source, prefix AS boiler, pdf FROM (
    SELECT source, prefix, pdf,
           row_number() OVER (PARTITION BY source
                              ORDER BY pdf DESC, prefix ASC) AS rn
    FROM pf
  ) WHERE rn = 1 AND pdf >= {_STRIP_MIN_DF}
), joined AS (
  SELECT b.source, d.pdf, b.n_toks,
         CASE WHEN d.boiler IS NOT NULL AND b.prefix = d.boiler
              THEN b.n_toks - {_STRIP_PREFIX_TOKS} ELSE b.n_toks END AS n_after,
         CASE WHEN d.boiler IS NOT NULL AND b.prefix = d.boiler
              THEN 1 ELSE 0 END AS stripped
  FROM base b LEFT JOIN dominant d ON b.source = d.source
)
SELECT source,
       CAST(max(pdf) AS BIGINT) AS prefix_df,
       count(*) AS n_docs,
       CAST(sum(stripped) AS BIGINT) AS n_stripped,
       round(CAST(sum(n_toks) AS DOUBLE) / count(*), 6) AS mean_toks_before,
       round(CAST(sum(n_after) AS DOUBLE) / count(*), 6) AS mean_toks_after
FROM joined GROUP BY source
"""


# --------------------------------------------------------------------------
# mixture_capped_allocation
# --------------------------------------------------------------------------

_MIX_ALPHA = 0.7
_MIX_BUDGET_FRAC = 0.5


def _q_mixture_capped_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("tokens")
    ).transform(tracked_cache)
    wexpr = F.pow(F.col("tokens").cast("double"), _MIX_ALPHA)
    tot = per.agg(
        F.sum(wexpr).alias("z"),
        F.sum("tokens").alias("t_all"),
    )
    j = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.round(wexpr / F.col("z"), 9).alias("w"),
        (F.col("t_all") * _MIX_BUDGET_FRAC).alias("budget"),
    )
    r1 = j.select(
        "source",
        "tokens",
        "w",
        "budget",
        F.round(
            F.least(F.col("tokens").cast("double"), F.col("w") * F.col("budget")),
            6,
        ).alias("alloc_r1"),
        (F.col("w") * F.col("budget") > F.col("tokens")).alias("capped_r1"),
    ).transform(tracked_cache)
    # leftover + residual weight mass of the uncapped sources: one
    # |sources|-row aggregate broadcast back for round 2
    res = r1.agg(
        F.round(F.first("budget"), 6).alias("_b"),
        F.sum(F.col("alloc_r1").cast("decimal(28,6)")).alias("_a1"),
        F.sum(
            F.when(~F.col("capped_r1"), F.col("w")).otherwise(F.lit(0.0))
        ).alias("w_open"),
    ).select(
        (F.col("_b") - F.col("_a1").cast("double")).alias("leftover"),
        "w_open",
    )
    r2 = r1.crossJoin(F.broadcast(res)).select(
        "source",
        "tokens",
        F.round("w", 6).alias("w"),
        "alloc_r1",
        "capped_r1",
        F.round(
            F.when(
                F.col("capped_r1") | (F.col("w_open") <= 0), F.col("alloc_r1")
            ).otherwise(
                F.least(
                    F.col("tokens").cast("double"),
                    F.col("alloc_r1")
                    + F.col("leftover") * F.col("w") / F.col("w_open"),
                )
            ),
            6,
        ).alias("alloc_r2"),
    )
    return r2


_SQL_MIXTURE_CAPPED_ALLOCATION = f"""
WITH per AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(pow(CAST(tokens AS DOUBLE), {_MIX_ALPHA})) AS z,
         CAST(sum(tokens) AS BIGINT) AS t_all
  FROM per
), j AS (
  SELECT source, tokens,
         round(pow(CAST(tokens AS DOUBLE), {_MIX_ALPHA}) / z, 9) AS w,
         t_all * {_MIX_BUDGET_FRAC} AS budget
  FROM per CROSS JOIN tot
), r1 AS (
  SELECT source, tokens, w, budget,
         round(least(CAST(tokens AS DOUBLE), w * budget), 6) AS alloc_r1,
         w * budget > tokens AS capped_r1
  FROM j
), res AS (
  SELECT round(max(budget), 6)
           - CAST(sum(CAST(alloc_r1 AS DECIMAL(28,6))) AS DOUBLE) AS leftover,
         sum(CASE WHEN NOT capped_r1 THEN w ELSE 0.0 END) AS w_open
  FROM r1
)
SELECT source, tokens, round(w, 6) AS w, alloc_r1, capped_r1,
       round(CASE WHEN capped_r1 OR w_open <= 0 THEN alloc_r1
                  ELSE least(CAST(tokens AS DOUBLE),
                             alloc_r1 + leftover * w / w_open) END, 6)
         AS alloc_r2
FROM r1 CROSS JOIN res
"""


SPECS: dict[str, QuerySpec] = {
    "rocchio_expansion": QuerySpec(
        _q_rocchio_expansion,
        _SQL_ROCCHIO_EXPANSION,
        "Rocchio pseudo-relevance feedback: top-15 expansion terms from "
        "the BM25 top-10 docs' tf-idf centroid (decimal-staged)",
    ),
    "label_propagation_rounds": QuerySpec(
        _q_label_propagation_rounds,
        _SQL_LABEL_PROPAGATION_ROUNDS,
        "two exact unrolled label-propagation rounds on the min-support "
        "co-purchase graph: labels remaining and max community size",
    ),
    "strip_boilerplate_prefix": QuerySpec(
        _q_strip_boilerplate_prefix,
        _SQL_STRIP_BOILERPLATE_PREFIX,
        "apply step for prefix boilerplate: strip each source's dominant "
        "8-token prefix, report docs touched and token means before/after",
    ),
    "mixture_capped_allocation": QuerySpec(
        _q_mixture_capped_allocation,
        _SQL_MIXTURE_CAPPED_ALLOCATION,
        "two water-filling rounds allocating a 50%-of-corpus token "
        "budget across sources (w ~ tokens^0.7) under 1-epoch caps",
    ),
}
