"""Corpus-filtering pack: cross-document duplicated spans and
bigram-LM perplexity scoring.

Two classic training-data hygiene passes:

* ``duplicate_span_topk`` / ``dup_span_doc_fraction`` — the windowed-
  hash approximation of exact-substring deduplication (the suffix-array
  method of Lee et al., "Deduplicating Training Data Makes Language
  Models Better"): every 8-token sliding window is a span; a span seen
  in ≥2 distinct documents is duplicated text.  The span table is an
  inverted index keyed on the span string — one explode, then plain
  hash aggs / hash joins on the span key, so the plan shuffles on a
  well-distributed key and survives a 1000× corpus.  The per-document
  fraction of duplicated spans is the signal a filter thresholds on.
* ``bigram_lm_perplexity`` — CCNet-style perplexity filtering with a
  corpus-trained add-k-smoothed bigram LM (k=0.5): P(w2|w1) =
  (c(w1,w2)+k)/(c(w1,·)+k·V).  The conditional-probability table is
  keyed on the bigram (shuffle join; the context-count table is
  vocabulary-sized and broadcasts; the V scalar is a 1-row broadcast —
  allowlisted).  Per-document cross-entropy is a plain hash agg over
  the scored bigrams.  High perplexity ⇒ rare-bigram gibberish, very
  low ⇒ boilerplate — the same two-sided cut CCNet applies with a
  Kneser–Ney wiki LM, here with the LM trained on the corpus itself so
  the whole computation stays in one DAG with an exact SQL oracle.

Conventions as in catalog.py (rounding before ranking; explicit casts
mirrored in the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import explode_bigrams
from ..operators.caching import tracked_cache

_W = 8  # span width (tokens)
_SMOOTH_K = 0.5


def _doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span) for every 8-token sliding window, one row per
    occurrence.  Pure array transform + explode — no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    a = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    # stage the token array: closing over filter(split(...)) inlines it
    # into every slice() — O(n²) per row (measured 8× at sf0.1)
    spans = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (_W - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, _W)),
    )
    return (
        docs.where(F.size(a) >= _W)
        .select("doc_id", a.alias("_toks"))
        .select("doc_id", F.explode(spans).alias("span"))
    )


_SQL_SPANS_BODY = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), spans AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(a) - 6),
                               i -> array_to_string(a[i:i+7], ' '))) AS span
  FROM t WHERE len(a) >= 8
)
"""


def _q_duplicate_span_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_span = _doc_spans(spark, sf_dir).groupBy("span").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    top = (
        per_span.where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("span").asc())
        .limit(100)
    )
    w = Window.orderBy(
        F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("span").asc()
    )
    return top.withColumn("rank", F.row_number().over(w))


_SQL_DUPLICATE_SPAN_TOPK = _SQL_SPANS_BODY + """
, per_span AS (
  SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
  FROM spans GROUP BY span
)
SELECT span, n_docs, n_occ,
       CAST(row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, span ASC)
            AS INT) AS rank
FROM per_span
WHERE n_docs >= 2
QUALIFY rank <= 100
"""


def _q_dup_span_doc_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _doc_spans(spark, sf_dir).transform(tracked_cache)
    dup = (
        ex.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("span")
    )
    per_doc = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    dup_per_doc = (
        ex.join(dup, "span").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        per_doc.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_spans").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


_SQL_DUP_SPAN_DOC_FRACTION = _SQL_SPANS_BODY + """
, dup AS (
  SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
), per_doc AS (
  SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
), dup_per_doc AS (
  SELECT doc_id, count(*) AS n_dup
  FROM spans JOIN dup USING (span)
  GROUP BY doc_id
)
SELECT p.doc_id, p.n_spans,
       coalesce(d.n_dup, 0) AS n_dup_spans,
       round(coalesce(d.n_dup, 0) / CAST(p.n_spans AS DOUBLE), 6) AS dup_frac
FROM per_doc p LEFT JOIN dup_per_doc d ON p.doc_id = d.doc_id
"""


def _q_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    # staged token column: see _doc_spans (closure inlining is O(n²))
    bigrams = (
        docs.where(F.size(a) >= 2)
        .select("doc_id", a.alias("_toks"))
        .select(
            "doc_id",
            explode_bigrams(),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .transform(tracked_cache)
    )
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(a).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    probs = (
        c2.join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                -F.log2(
                    (F.col("c12") + _SMOOTH_K)
                    / (F.col("c1") + _SMOOTH_K * F.col("v"))
                )
            ).alias("nll"),
        )
    )
    h = F.round(F.avg("nll"), 6)
    return (
        bigrams.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            h.alias("h_bits"),
            F.round(F.pow(F.lit(2.0), h), 4).alias("ppl"),
        )
    )


_SQL_BIGRAM_LM_PERPLEXITY = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), ex AS (
  SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS i
  FROM t WHERE len(a) >= 2
), big AS (
  SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM ex
), big2 AS (
  SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL
), c2 AS (
  SELECT w1, w2, count(*) AS c12 FROM big2 GROUP BY 1, 2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM big2 GROUP BY 1
), vocab AS (
  SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
  FROM (SELECT unnest(a) AS w FROM t)
), probs AS (
  SELECT w1, w2, -log2((c12 + 0.5) / (c1 + 0.5 * v)) AS nll
  FROM c2 JOIN c1 USING (w1) CROSS JOIN vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(avg(nll), 6) AS h_bits,
       round(pow(2.0, round(avg(nll), 6)), 4) AS ppl
FROM big2 JOIN probs USING (w1, w2)
GROUP BY doc_id
"""


SPECS: dict[str, QuerySpec] = {
    "duplicate_span_topk": QuerySpec(
        _q_duplicate_span_topk,
        _SQL_DUPLICATE_SPAN_TOPK,
        "cross-document duplicated 8-token spans, top-100 by doc count: "
        "windowed-hash approximation of exact-substring dedup "
        "(inverted index on the span key)",
    ),
    "dup_span_doc_fraction": QuerySpec(
        _q_dup_span_doc_fraction,
        _SQL_DUP_SPAN_DOC_FRACTION,
        "per-document fraction of 8-token spans shared with another "
        "document — the exact-substring-dedup filter signal",
    ),
    "bigram_lm_perplexity": QuerySpec(
        _q_bigram_lm_perplexity,
        _SQL_BIGRAM_LM_PERPLEXITY,
        "CCNet-style perplexity scoring under a corpus-trained add-k "
        "bigram LM: bigram-keyed shuffle join, vocabulary-sized "
        "broadcast context counts, 1-row V scalar",
    ),
}
