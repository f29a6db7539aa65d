"""LIBSVM source/sink.

The reference wrote LIBSVM text by collecting every vector to the driver
and string-building lines (reference FeatureSelectionCloud.scala:445-489)
and read it back with ``MLUtils.loadLibSVMFile`` (KmeansVirus.scala:75).
Here both directions are distributed DataFrame ops.

Conventions preserved from the reference:
* 1-based feature indices in the text form (``idx:1``), values all 1.0
  (binary presence vectors) — FeatureSelectionCloud.scala:513-517;
* files with zero vocabulary hits are absent from the output
  (FeatureSelectionCloud.scala:482-483).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.vectorize import libsvm_line


def read_libsvm(spark: SparkSession, path: str, num_features: int | None = None) -> DataFrame:
    """``DataFrame(label: double, features: VectorUDT)`` via the built-in source."""
    reader = spark.read.format("libsvm")
    if num_features is not None:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def write_libsvm_text(vectors: DataFrame, path: str, single_file: bool = False) -> None:
    """Write ``(label, indices)`` rows as LIBSVM text (the line expression
    is ``operators/vectorize.py::libsvm_line``) — a distributed write,
    ``coalesce(1)`` only for small golden files."""
    out = vectors.select(libsvm_line().alias("value"))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)
