"""Vocabulary vectorization: token sets → rank indices → binary vectors
→ LIBSVM text.

Reference semantics (FeatureSelectionCloud.scala:445-519) re-expressed
set-based: ONE broadcast join of the whole corpus against the vocabulary
instead of a shuffle join per file (the reference ran one Spark job per
document — SURVEY.md §4.2.1):

* feature index := info-gain rank, 1-based (the reference's zipWithIndex
  partition-order index was nondeterministic — SURVEY.md §7);
* values all 1.0 (binary presence);
* documents with zero vocabulary hits are dropped (inner join ≙ the
  reference's labelAdded guard, FeatureSelectionCloud.scala:482-483).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def doc_indices(doc_tokens: DataFrame, vocab: DataFrame) -> DataFrame:
    """Match per-doc token sets against the ranked vocabulary.

    ``doc_tokens``: (doc, cls, token) — may contain duplicates.
    ``vocab``: (token, rank) — small, broadcast.
    Output: ``(doc, cls, idx)`` — one row per matched vocab feature,
    idx = 1-based rank.
    """
    distinct = doc_tokens.dropDuplicates(["doc", "cls", "token"])
    return distinct.join(F.broadcast(vocab), "token").select(
        "doc", "cls", F.col("rank").alias("idx")
    )


def doc_vectors(doc_tokens: DataFrame, vocab: DataFrame, positive_cls: str = "pos") -> DataFrame:
    """Per-doc sorted index arrays + label.

    Output: ``(doc, label: double, indices: array<int>)`` — indices
    sorted ascending; zero-hit docs absent.
    """
    idx = doc_indices(doc_tokens, vocab)
    return (
        idx.groupBy("doc", "cls")
        .agg(F.sort_array(F.collect_list("idx")).alias("indices"))
        .select(
            "doc",
            F.when(F.col("cls") == positive_cls, F.lit(1.0)).otherwise(F.lit(0.0)).alias("label"),
            "indices",
        )
    )


def libsvm_line() -> Column:
    """The LIBSVM line of a ``(label, indices)`` row: ``"<label> <idx>:1 ..."``
    with the 1-based, ascending indices, matching the reference's file
    format (FeatureSelectionCloud.scala:513-517).  Pure column
    expressions — ``transform`` + ``concat_ws``, no UDF, no driver hop."""
    return F.concat_ws(
        " ",
        F.col("label").cast("string"),
        F.concat_ws(
            " ", F.transform("indices", lambda i: F.concat(i.cast("string"), F.lit(":1")))
        ),
    )


def libsvm_text(vectors: DataFrame) -> DataFrame:
    """Render ``(doc, label, indices)`` as LIBSVM lines.

    Output: ``(doc, line: string)`` — see :func:`libsvm_line`.
    """
    return vectors.select("doc", libsvm_line().alias("line"))


def dense_feature_array(vectors: DataFrame, num_features: int) -> DataFrame:
    """Binary presence vectors as ``array<double>`` (JVM-side, no UDF).

    ``array_to_vector`` (pyspark.ml.functions) converts this column to
    VectorUDT for the ML stages — still no Python in the plan.
    """
    dense = F.transform(
        F.sequence(F.lit(1), F.lit(num_features)),
        lambda i: F.when(F.array_contains("indices", i), F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    return vectors.withColumn("features_arr", dense)
