"""Round-7 text pack — fingerprint selection, self-repetition, and a
fully-exact multinomial text classifier.

* ``winnowing_fingerprints`` — the MOSS winnowing scheme (Schleimer,
  Wilkerson & Aiken, SIGMOD 2003): per document, hash every 4-gram,
  slide a window of 4 consecutive gram hashes, keep the minimum per
  window — the classic guarantee that any shared substring of ≥ 7
  tokens produces at least one shared fingerprint.  Unlike the raw
  gram index (``doc_fingerprints``), selection density is ~2/(w+1)
  of positions, independent of corpus size.  Output: top-15 docs by
  cross-doc-shared fingerprint count.
* ``intra_doc_repetition`` — SELF-repetition (the Gopher "repetition"
  axis the cross-doc dedup family doesn't measure): fraction of a
  document's 4-gram occurrences that are repeats of an earlier gram in
  the SAME document, top-15 most self-repetitive docs.
* ``multinomial_nb_source_confusion`` — add-1 multinomial Naive Bayes
  over token counts predicting each document's source (20 classes × 31
  vocab on the fixtures), scored on the corpus, per-source accuracy.
  Every log-likelihood is quantized to integer 1e-6 units BEFORE the
  per-document weighted sum, so scores are exact integers and the
  argmax (score desc, source asc tiebreak) cannot straddle engines —
  the text companion to ``nb_gaussian_confusion`` (which handles the
  continuous-feature case).
* ``burrows_delta_sources`` (appended session 2) — Burrows' Delta
  stylometric distance between sources; see its docstring below.

100 TB shape: winnowing is per-row array arithmetic (transform/slice/
array_min — no shuffle until the distinct on (doc, fp)); repetition is
one explode + hash-agg keyed by doc; NB is two hash aggregates (model:
source×token; scoring: doc×source) plus a |sources|×|vocab| grid that
rides a broadcast — the vocabulary never shuffles with the corpus.

No reference counterpart; LLM-data-pipeline extensions alongside
operators/text_quality.py and plans/round6_text4.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import M31

_WIN_GRAM = 4
_WIN_W = 4
_TOPK = 15


# --------------------------------------------------------------------------
# winnowing_fingerprints
# --------------------------------------------------------------------------


def _q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("_toks")).where(
        F.size("_toks") >= _WIN_GRAM + _WIN_W - 1
    )
    # stage each intermediate array as a real column (closure inlining
    # over an unmaterialized array is O(n²) per row — repo pitfall)
    grams = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (_WIN_GRAM - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, _WIN_GRAM)),
        ).alias("_grams"),
    )
    hashes = grams.select(
        "doc_id",
        F.transform(
            F.col("_grams"),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint")
            % M31,
        ).alias("_hs"),
    )
    fps = hashes.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_hs") - (_WIN_W - 1)),
                lambda i: F.array_min(F.slice(F.col("_hs"), i, _WIN_W)),
            )
        ).alias("fp"),
    ).distinct()
    per_fp = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("docs_with_fp"))
    joined = fps.join(per_fp, "fp")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum((F.col("docs_with_fp") >= 2).cast("bigint")).alias("n_shared"),
    )
    return (
        per_doc.orderBy(F.desc("n_shared"), F.asc("doc_id"))
        .limit(_TOPK)
        .select("doc_id", "n_fingerprints", "n_shared")
    )


_SQL_WINNOWING_FINGERPRINTS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {_WIN_GRAM + _WIN_W - 1}
), hs AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, len(t) - {_WIN_GRAM - 1}),
           i -> CAST(('0x' || substr(
                  md5(array_to_string(t[i:i+{_WIN_GRAM - 1}], ' ')),
                  1, 15)) AS BIGINT) % {M31}
         ) AS h
  FROM toks
), fps AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(1, len(h) - {_WIN_W - 1}),
           i -> list_min(h[i:i+{_WIN_W - 1}])
         )) AS fp
  FROM hs
), per_fp AS (
  SELECT fp, count(*) AS docs_with_fp FROM fps GROUP BY fp
), per_doc AS (
  SELECT f.doc_id,
         CAST(count(*) AS BIGINT) AS n_fingerprints,
         CAST(sum(CASE WHEN p.docs_with_fp >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM fps f JOIN per_fp p USING (fp)
  GROUP BY f.doc_id
)
SELECT doc_id, n_fingerprints, n_shared
FROM per_doc
ORDER BY n_shared DESC, doc_id ASC
LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# intra_doc_repetition
# --------------------------------------------------------------------------


def _q_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("_toks")).where(
        F.size("_toks") >= _WIN_GRAM
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (_WIN_GRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, _WIN_GRAM)),
            )
        ).alias("gram"),
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("gram").alias("n_distinct"),
    )
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            F.round(
                1.0
                - F.col("n_distinct").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("rep_fraction"),
        )
        .orderBy(F.desc("rep_fraction"), F.asc("doc_id"))
        .limit(_TOPK)
    )


_SQL_INTRA_DOC_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {_WIN_GRAM}
), grams AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(t) - {_WIN_GRAM - 1}),
           i -> array_to_string(t[i:i+{_WIN_GRAM - 1}], ' ')
         )) AS gram
  FROM toks
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         count(DISTINCT gram) AS n_distinct
  FROM grams GROUP BY doc_id
)
SELECT doc_id, n_grams,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_fraction
FROM per_doc
ORDER BY rep_fraction DESC, doc_id ASC
LIMIT {_TOPK}
"""


# --------------------------------------------------------------------------
# multinomial_nb_source_confusion
# --------------------------------------------------------------------------


def _q_multinomial_nb_source_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    doc_counts = dt.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    st = dt.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt_st"))
    src_tot = dt.groupBy("source").agg(F.count(F.lit(1)).alias("tot_s"))
    vocab = dt.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    priors = docs.groupBy("source").agg(F.count(F.lit(1)).alias("nd"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    # add-1 likelihood grid over source × FULL vocab (zero counts get
    # the smoothing mass); ln quantized to integer 1e-6 units so the
    # per-doc weighted sums below are exact integers in both engines
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(st, ["source", "tok"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "source",
            "tok",
            F.floor(
                F.log(
                    (F.coalesce(F.col("cnt_st"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot_s") + F.col("v")).cast("double")
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("lik6"),
        )
    )
    prior6 = priors.crossJoin(F.broadcast(n_docs)).select(
        F.col("source").alias("cand"),
        F.floor(
            F.log(F.col("nd").cast("double") / F.col("n").cast("double")) * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("pr6"),
    )
    scored = (
        doc_counts.join(
            grid.select(
                F.col("source").alias("cand"), "tok", "lik6"
            ),
            "tok",
        )
        .groupBy("doc_id", "source", "cand")
        .agg(F.sum(F.col("cnt") * F.col("lik6")).alias("ll"))
        .join(prior6, "cand")
        .select(
            "doc_id", "source", "cand", (F.col("ll") + F.col("pr6")).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "source", F.col("cand").alias("pred"))
    )
    return (
        pred.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("pred") == F.col("source")).cast("bigint")).alias(
                "n_correct"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("source")
    )


_SQL_MULTINOMIAL_NB_SOURCE_CONFUSION = """
WITH dt AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
), doc_counts AS (
  SELECT doc_id, source, tok, count(*) AS cnt FROM dt GROUP BY 1, 2, 3
), st AS (
  SELECT source, tok, count(*) AS cnt_st FROM dt GROUP BY 1, 2
), src_tot AS (
  SELECT source, count(*) AS tot_s FROM dt GROUP BY 1
), vocab AS (
  SELECT DISTINCT tok FROM dt
), vsize AS (
  SELECT count(*) AS v FROM vocab
), priors AS (
  SELECT source, count(*) AS nd FROM documents GROUP BY 1
), ndocs AS (
  SELECT count(*) AS n FROM documents
), grid AS (
  SELECT s.source, vo.tok,
         CAST(floor(ln(CAST(coalesce(t.cnt_st, 0) + 1 AS DOUBLE)
                       / CAST(s.tot_s + vs.v AS DOUBLE)) * 1e6 + 0.5)
              AS BIGINT) AS lik6
  FROM src_tot s
  CROSS JOIN vocab vo
  CROSS JOIN vsize vs
  LEFT JOIN st t ON t.source = s.source AND t.tok = vo.tok
), prior6 AS (
  SELECT p.source AS cand,
         CAST(floor(ln(CAST(p.nd AS DOUBLE) / CAST(nd2.n AS DOUBLE)) * 1e6
                    + 0.5) AS BIGINT) AS pr6
  FROM priors p CROSS JOIN ndocs nd2
), scored AS (
  SELECT d.doc_id, d.source, g.source AS cand,
         sum(d.cnt * g.lik6) + any_value(pr.pr6) AS score
  FROM doc_counts d
  JOIN grid g ON g.tok = d.tok
  JOIN prior6 pr ON pr.cand = g.source
  GROUP BY d.doc_id, d.source, g.source
), pred AS (
  SELECT doc_id, source, cand AS pred
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, cand ASC) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pred = source THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(sum(CASE WHEN pred = source THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS accuracy
FROM pred
GROUP BY source
ORDER BY source
"""


SPECS: dict[str, QuerySpec] = {
    "winnowing_fingerprints": QuerySpec(
        _q_winnowing_fingerprints,
        _SQL_WINNOWING_FINGERPRINTS,
        "MOSS winnowing fingerprint selection (min gram hash per "
        "4-window, per-row array arithmetic), top docs by cross-doc-"
        "shared fingerprints",
    ),
    "intra_doc_repetition": QuerySpec(
        _q_intra_doc_repetition,
        _SQL_INTRA_DOC_REPETITION,
        "within-document 4-gram self-repetition fraction (the Gopher "
        "repetition axis), top-15 most repetitive docs",
    ),
    "multinomial_nb_source_confusion": QuerySpec(
        _q_multinomial_nb_source_confusion,
        _SQL_MULTINOMIAL_NB_SOURCE_CONFUSION,
        "add-1 multinomial Naive Bayes source classifier with 1e-6-"
        "quantized integer log-likelihoods, per-source accuracy",
    ),
}


# --------------------------------------------------------------------------
# burrows_delta_sources (appended round-7 session 2)
# --------------------------------------------------------------------------

_DELTA_TOPW = 10
_DELTA_TOPK = 10


def _q_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (Burrows 2002, "'Delta': a measure of stylistic
    difference") between sources: z-scores of the top-10 corpus words'
    relative frequencies across the 20 sources, Delta(a,b) = mean
    |z_i(a) − z_i(b)|; top-10 most similar source pairs.  The
    stylometry / authorship-attribution primitive — here the "same
    upstream generator?" audit for corpus provenance.  Per-word |Δz|
    terms are quantized to 1e-8 before the cross-word mean so the
    10-term sum cannot wobble with engine summation order."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    topw = (
        dt.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("tok"))
        .limit(_DELTA_TOPW)
        .select("tok")
    )
    src_tot = dt.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    sw = dt.join(F.broadcast(topw), "tok").groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(topw))
        .join(sw, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("tot").cast("double")
            ).alias("rf"),
        )
    )
    stats = grid.groupBy("tok").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("rf").alias("srf"),
        F.sum(F.col("rf") * F.col("rf")).alias("srf2"),
    )
    z = grid.join(F.broadcast(stats), "tok").select(
        "source",
        "tok",
        (
            (F.col("rf") - F.col("srf") / F.col("ns"))
            / F.sqrt(
                F.col("srf2") / F.col("ns")
                - (F.col("srf") / F.col("ns")) * (F.col("srf") / F.col("ns"))
            )
        ).alias("z"),
    )
    pairs = (
        z.alias("a")
        .join(
            z.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.floor(F.abs(F.col("a.z") - F.col("b.z")) * 1e8 + 0.5)
            .cast("bigint")
            .alias("dz8"),
        )
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum("dz8").cast("double") / (_DELTA_TOPW * 1e8), 6
            ).alias("burrows_delta")
        )
        .orderBy(F.asc("burrows_delta"), F.asc("src_a"), F.asc("src_b"))
        .limit(_DELTA_TOPK)
    )


_SQL_BURROWS_DELTA_SOURCES = f"""
WITH dt AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), topw AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cf FROM dt GROUP BY tok
    ORDER BY cf DESC, tok ASC LIMIT {_DELTA_TOPW}
  )
), src_tot AS (
  SELECT source, count(*) AS tot FROM dt GROUP BY source
), sw AS (
  SELECT source, tok, count(*) AS c
  FROM dt JOIN topw USING (tok) GROUP BY 1, 2
), grid AS (
  SELECT s.source, w.tok,
         CAST(coalesce(sw.c, 0) AS DOUBLE) / s.tot AS rf
  FROM src_tot s CROSS JOIN topw w
  LEFT JOIN sw ON sw.source = s.source AND sw.tok = w.tok
), stats AS (
  SELECT tok, count(*) AS ns, sum(rf) AS srf, sum(rf * rf) AS srf2
  FROM grid GROUP BY tok
), z AS (
  SELECT g.source, g.tok,
         (g.rf - st.srf / st.ns)
         / sqrt(st.srf2 / st.ns - (st.srf / st.ns) * (st.srf / st.ns)) AS z
  FROM grid g JOIN stats st USING (tok)
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(floor(abs(a.z - b.z) * 1e8 + 0.5) AS BIGINT) AS dz8
  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
)
SELECT src_a, src_b,
       round(CAST(sum(dz8) AS DOUBLE) / ({_DELTA_TOPW} * 1e8), 6)
         AS burrows_delta
FROM pairs
GROUP BY src_a, src_b
ORDER BY burrows_delta ASC, src_a ASC, src_b ASC
LIMIT {_DELTA_TOPK}
"""


SPECS["burrows_delta_sources"] = QuerySpec(
    _q_burrows_delta_sources,
    _SQL_BURROWS_DELTA_SOURCES,
    "Burrows' Delta stylometric distance between sources (z-scored "
    "top-10 word frequencies, quantized per-word terms), top-10 most "
    "similar pairs — the corpus-provenance 'same generator?' audit",
)
