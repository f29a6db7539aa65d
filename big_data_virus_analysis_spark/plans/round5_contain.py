"""Round-5 containment pack: the ASYMMETRIC side of dedup.

Jaccard (dedup.py) finds near-twins; real corpora also need the
directional questions — "is document A mostly contained in B?"
(quotes, wrapper pages, supersets), "how much of source X's content
already lives in source Y?" (acquisition planning), and "which
documents share a boilerplate head?" (crawler template noise).  All
exact-oracle, all built on the same staged word-shingle frames the
Jaccard family uses (operators/dedup.py::word_ngrams — inverted-index
joins on the gram, never all-pairs):

* ``containment_pairs`` — directed 3-gram containment
  C(a→b) = |G_a ∩ G_b| / |G_a| ≥ 0.5 for a ≠ b.  A short doc quoted
  inside a long one scores high here and LOW on Jaccard — the pair
  Jaccard dedup deliberately keeps.
* ``source_shingle_overlap`` — the source×source containment matrix
  over each source's distinct shingle VOCABULARY (not doc pairs):
  |V_a ∩ V_b| / |V_a| per ordered pair.  This is the "do we even need
  to ingest feed B" diagnostic; frames are vocabulary-bounded, output
  is |sources|².
* ``doc_prefix_duplicates`` — boilerplate-head detection: documents
  sharing their first 8 tokens verbatim, grouped by prefix digest
  with doc and source counts.  One map + one hash-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.dedup import word_ngrams
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import TRIGRAM_CTES

_GRAM_SQL = f"""
WITH {TRIGRAM_CTES}, dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
)
"""

# --------------------------------------------------------------------------
# containment_pairs
# --------------------------------------------------------------------------

_CONTAIN_T = 0.5


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dg = word_ngrams(docs, 3).transform(tracked_cache)
    sizes = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = dg.alias("a")
    b = dg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    contained = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "containment",
            F.round(F.col("shared").cast("double") / F.col("sz").cast("double"), 6),
        )
        .where(F.col("containment") >= _CONTAIN_T)
    )
    return contained.select(
        "doc_a", "doc_b", F.col("sz").alias("n_grams_a"), "shared", "containment"
    )


_SQL_CONTAINMENT_PAIRS = _GRAM_SQL + f"""
, sizes AS (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, sz AS n_grams_a, shared,
       round(CAST(shared AS DOUBLE) / CAST(sz AS DOUBLE), 6) AS containment
FROM inter JOIN sizes ON doc_a = sizes.doc_id
WHERE round(CAST(shared AS DOUBLE) / CAST(sz AS DOUBLE), 6) >= {_CONTAIN_T}
"""


# --------------------------------------------------------------------------
# source_shingle_overlap
# --------------------------------------------------------------------------


def _q_source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        word_ngrams(docs, 3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "gram")
        .distinct()
        .transform(tracked_cache)
    )
    vsz = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(b, F.col("a.gram") == F.col("b.gram"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(vsz.withColumnRenamed("source", "source_a"), "source_a")
        .select(
            "source_a",
            "source_b",
            F.col("v").alias("vocab_a"),
            "shared",
            F.round(F.col("shared").cast("double") / F.col("v").cast("double"), 6).alias(
                "containment"
            ),
        )
    )


_SQL_SOURCE_SHINGLE_OVERLAP = _GRAM_SQL + """
, sv AS (
  SELECT DISTINCT d.source, g.gram
  FROM dg g JOIN documents d ON g.doc_id = d.doc_id
), vsz AS (
  SELECT source, count(*) AS v FROM sv GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
  FROM sv a JOIN sv b ON a.gram = b.gram
  GROUP BY 1, 2
)
SELECT source_a, source_b, v AS vocab_a, shared,
       round(CAST(shared AS DOUBLE) / CAST(v AS DOUBLE), 6) AS containment
FROM inter JOIN vsz ON source_a = vsz.source
"""


# --------------------------------------------------------------------------
# doc_prefix_duplicates
# --------------------------------------------------------------------------

_PREFIX_TOKS = 8


def _q_doc_prefix_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(
        " ", F.slice(F.split(F.col("text"), " "), 1, _PREFIX_TOKS)
    )
    return (
        docs.select(F.md5(prefix).alias("prefix_hash"), "doc_id", "source")
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
        )
        .where(F.col("n_docs") >= 2)
    )


_SQL_DOC_PREFIX_DUPLICATES = f"""
WITH pre AS (
  SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, {_PREFIX_TOKS}), ' '))
           AS prefix_hash,
         doc_id, source
  FROM documents
)
SELECT prefix_hash, count(*) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM pre GROUP BY prefix_hash HAVING count(*) >= 2
"""


SPECS: dict[str, QuerySpec] = {
    "containment_pairs": QuerySpec(
        _q_containment_pairs,
        _SQL_CONTAINMENT_PAIRS,
        "directed 3-gram containment pairs (|Ga∩Gb|/|Ga| >= 0.5): the "
        "asymmetric quote/superset detector Jaccard dedup misses",
    ),
    "source_shingle_overlap": QuerySpec(
        _q_source_shingle_overlap,
        _SQL_SOURCE_SHINGLE_OVERLAP,
        "source x source shingle-vocabulary containment matrix — the "
        "'is feed B already covered' acquisition diagnostic",
    ),
    "doc_prefix_duplicates": QuerySpec(
        _q_doc_prefix_duplicates,
        _SQL_DOC_PREFIX_DUPLICATES,
        "boilerplate-head groups: documents sharing their first 8 "
        "tokens verbatim, with doc and source counts",
    ),
}
