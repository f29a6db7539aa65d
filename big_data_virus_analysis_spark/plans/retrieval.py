"""Retrieval pack: BM25 scoring of documents against a term query.

The canonical lexical-retrieval ranking function (Lucene/Elasticsearch
default).  For query terms q: score(d) = Σ_q idf(q) · tf·(k1+1) /
(tf + k1·(1 − b + b·dl/avgdl)) with the Lucene idf form
ln(1 + (N − df + ½)/(df + ½)).

Plan shape: one token explode → per-(doc, term) tf for the query terms
only (a 3-row broadcast semi-join prunes the explode immediately);
document lengths from the same pass; corpus scalars (N, avgdl) and
per-term df are single-row / |q|-row broadcasts.  Everything downstream
of the explode is bounded by |docs matching ≥1 term| × |q|.

Conventions as in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import QuerySpec
from .fragments import QUERY_TERMS, SQL_BM25_BODY, bm25_scores


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_scores(spark, sf_dir).where(
        F.col("n_terms_hit") == len(QUERY_TERMS)
    )


_SQL_BM25_SEARCH = SQL_BM25_BODY + """
SELECT doc_id, n_terms_hit, bm25 FROM bm25_scored WHERE n_terms_hit = 3
"""


SPECS: dict[str, QuerySpec] = {
    "bm25_search": QuerySpec(
        _q_bm25_search,
        _SQL_BM25_SEARCH,
        "BM25 lexical retrieval scoring (Lucene idf form), conjunctive match",
    ),
}
