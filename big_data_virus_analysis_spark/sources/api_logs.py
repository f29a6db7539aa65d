"""Raw API-call-log ingest.

The reference built one RDD *per file* in a driver loop — 1,604 jobs for
1,604 files (reference FeatureSelectionCloud.scala:268-338).  Here the
whole corpus is ONE scan: ``spark.read.text`` over both class
directories with ``input_file_name()`` providing file identity and the
path providing the class label.  At 100 TB this is the difference
between ~3,200 scheduled jobs and a single stage of ~800k tasks.

Line format (reference api_logs/*/LOG_API (N)converted.txt):
  ``"<ApiName> -\r"`` for clean, ``"<ApiName> +\r"`` for virus; the first
  line of each file is a bare ``" -"`` / ``" +"`` marker.  Cleanup strips
  spaces, ``+``, ``-`` and ``\r`` (the reference relied on textFile's
  CRLF handling for the ``\r``; we strip it explicitly — reference
  FeatureSelectionCloud.scala:333-337) and drops empty tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Class-name constants (reference readme.md:51 — 0.0 clean, 1.0 virus).
CLEAN, VIRUS = "clean", "virus"


def read_api_logs(
    spark: SparkSession,
    clean_dir: str,
    virus_dir: str,
) -> DataFrame:
    """One scan over both class directories.

    Returns ``DataFrame(file: string, class: string, raw_line: string)``.
    ``file`` is the basename so that downstream grouping keys are stable
    across filesystems.
    """
    frames = []
    for cls, path in ((CLEAN, clean_dir), (VIRUS, virus_dir)):
        frames.append(
            spark.read.text(path)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
                F.lit(cls).alias("class"),
                F.col("value").alias("raw_line"),
            )
        )
    return frames[0].unionByName(frames[1])


def clean_tokens(raw: DataFrame) -> DataFrame:
    """raw lines -> non-empty cleaned API tokens.

    Mirrors the reference's replace(" "/"+"/"-") + non-empty filter
    (FeatureSelectionCloud.scala:333-337) with an explicit ``\\r`` strip.
    Pure built-in expressions — stays inside whole-stage codegen.
    """
    return (
        raw.withColumn("api", F.regexp_replace("raw_line", r"[ +\-\r]", ""))
        .where(F.length("api") > 0)
        .drop("raw_line")
    )


def file_features(raw: DataFrame) -> DataFrame:
    """Per-file distinct token sets — the document-frequency unit.

    The reference deduped per-file RDDs one at a time
    (FeatureSelectionCloud.scala:314,337); here it is one corpus-wide
    ``dropDuplicates`` — a single hash-aggregate shuffle keyed on
    (file, api), partial aggregation map-side.
    """
    return clean_tokens(raw).dropDuplicates(["file", "class", "api"])


def _doc() -> Column:
    """Document id of a raw row.  Class-qualified: the clean/ and virus/
    dirs reuse the same basenames (LOG_API (N)converted.txt), so the bare
    file name is not a document identity."""
    return F.concat_ws("/", "class", "file").alias("doc")


def _cls() -> Column:
    """Feature-selection class of a raw row: virus is the positive class
    (label 1.0, reference readme.md:51)."""
    return F.when(F.col("class") == VIRUS, F.lit("pos")).otherwise(F.lit("neg")).alias("cls")


def api_log_tokens(raw: DataFrame) -> DataFrame:
    """Adapt the api-log corpus to the generic feature-selection shape
    ``(doc, cls, token)`` consumed by ``operators.features`` — virus is
    the positive class (label 1.0, reference readme.md:51).
    """
    return clean_tokens(raw).select(_doc(), _cls(), F.col("api").alias("token"))


def api_log_doc_classes(raw: DataFrame) -> DataFrame:
    """``(doc, cls)``, one row per log file — the IG document totals
    (``info_gain_ranking(doc_classes=...)``) straight from the raw scan,
    so token-less files still count, as in the reference's bucket
    listing (FeatureSelectionCloud.scala:122-123)."""
    return raw.select(_doc(), _cls()).distinct()


def api_log_byte_tokens(raw: DataFrame, width: int = 14) -> DataFrame:
    """Byte-mode alternate tokenizer: every uppercased ``width``-char
    sliding window of each raw line becomes a token.

    The reference implemented this (createByteFeatures,
    FeatureSelectionCloud.scala:257-321) for hexdump inputs but main()
    never calls it (SURVEY.md §7 hazard 4); it is part of the declared
    capability surface, so it ships as a first-class tokenizer that
    plugs into the same ``(doc, cls, token)`` feature pipeline.
    """
    from ..functions.text import shingles

    return raw.select(
        _doc(), _cls(), F.explode(shingles(F.col("raw_line"), width=width)).alias("token")
    ).where(F.length("token") == width)
