"""Round-5 widening pack: remaining Python-execution surfaces and two
production dedup/similarity ops, every entry exact-oracled.

* ``dedup_survivor_by_quality`` — quality-aware survivor selection:
  instead of keep-min-doc-id, each near-dup cluster keeps its HIGHEST
  quality-score member (score desc, doc_id tiebreak).  This is how
  production corpus dedup actually picks survivors — the canonical-id
  rule is an arbitrary member; the quality rule keeps the best copy.
  Composes the oracle-checked component assignment with the
  oracle-checked quality heuristic; singletons survive as themselves.
* ``tfidf_cosine_pairs`` — weighted sparse cosine near-dup pairs over a
  document-frequency-pruned inverted index: tf·idf term weights, pairs
  generated only through terms with df ≤ cutoff (hot/stopword terms
  carry no discriminative weight and would quadratically dominate the
  index join — same pruning argument as PPJoin's prefix filter), exact
  weighted dot + norm cosine on the surviving pairs.  idf is rounded
  before weighting so both engines' libm log agrees bit-for-bit.
* ``gini_by_segment`` — the GROUPED_AGG pandas UDF (Arrow-batched
  UDAF) surface: per-market-segment Gini concentration of order value.
  The UDAF sorts in-group, so its result is permutation-invariant and
  matches the closed-form rank formula the oracle computes:
  G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending xᵢ.
* ``cogroup_asof_enrich`` — the cogrouped ``applyInPandas`` surface
  (two grouped frames, one Arrow-batched merge per key): per-user
  as-of enrichment via ``pd.merge_asof``, sharing the native DuckDB
  ASOF JOIN oracle verbatim with the relational ``asof_last_purchase``
  twin (operators/asof.py) — both must produce identical rows.
  Timestamps are converted to integer micros BEFORE the cogroup so the
  pandas merge is integer-exact, free of datetime-unit coercion.
* ``mapinarrow_token_count`` — the ``mapInArrow`` surface (raw
  RecordBatch in, RecordBatch out, no pandas materialization): token
  counts computed with pyarrow.compute kernels only.  The cheapest
  Python-execution path for columnar-native logic; oracle is the plain
  SQL token count.

Scale notes: survivor selection adds one window over the (tiny)
assignment frame; tfidf pairs join only through df-pruned postings
(the inverted-index bound, not n²); the three surface twins are pure
maps or per-key merges — embarrassingly parallel, state bounded by the
largest single group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import SQL_ASOF_LAST_PURCHASE, SQL_QUALITY_SCORE, minhash_lsh_sql

# --------------------------------------------------------------------------
# dedup_survivor_by_quality
# --------------------------------------------------------------------------

_SBQ_K = 16
_SBQ_BANDS = 4


def _q_dedup_survivor_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters keep their best-quality member.  Output per
    source (of the SURVIVOR): survivor count, rounded quality sum,
    survivor id checksum."""
    from ..operators.dedup import dedup_clusters, minhash_lsh_pairs
    from ..operators.text_quality import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, k=_SBQ_K, bands=_SBQ_BANDS)
    assign = dedup_clusters(pairs)
    q = quality_score(docs).select("doc_id", "score")
    member = (
        docs.select("doc_id", "source")
        .join(assign, "doc_id", "left")
        .withColumn("cl", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .join(q, "doc_id")
    )
    w = Window.partitionBy("cl").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    surv = member.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.round(F.sum("score"), 6).alias("survivor_quality_sum"),
        F.sum("doc_id").alias("survivor_id_checksum"),
    )


def _sql_dedup_survivor_by_quality() -> str:
    return (
        "WITH RECURSIVE pairs AS (\n"
        + minhash_lsh_sql(_SBQ_K, _SBQ_K // _SBQ_BANDS)
        + f"""
), sbq_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM sbq_edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN sbq_edges e ON r.dst = e.src
), assign AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
), q AS (
  {SQL_QUALITY_SCORE}
), member AS (
  SELECT d.doc_id, d.source, coalesce(a.cluster_id, d.doc_id) AS cl, q.score
  FROM documents d
  LEFT JOIN assign a ON d.doc_id = a.doc_id
  JOIN q ON d.doc_id = q.doc_id
), surv AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY cl
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM member
)
SELECT source,
       count(*) AS n_survivors,
       round(sum(score), 6) AS survivor_quality_sum,
       CAST(sum(doc_id) AS BIGINT) AS survivor_id_checksum
FROM surv WHERE rn = 1 GROUP BY source
"""
    )


# --------------------------------------------------------------------------
# tfidf_cosine_pairs
# --------------------------------------------------------------------------

#: posting-list cutoff: a term participates in pair generation only if
#: its df is <= max(50, 10% of the corpus) — hot terms carry ~no idf
#: weight and would quadratically dominate the index join.  The bound
#: scales with the corpus so near-dup-shared phrases survive pruning at
#: every SF (an absolute cutoff empties the candidate set as df grows).
_TC_DF_FLOOR = 50
_TC_DF_FRAC = 0.1
_TC_THRESHOLD = 0.3


def _q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf·idf-weighted cosine pairs through a df-pruned inverted index.

    Terms are whitespace tokens; tf = in-doc term count, idf =
    round(ln(N/df), 6) — rounded BEFORE weighting because libm log
    differs across engines at the ulp.  Pairs exist only through terms
    with df ≤ {cutoff}; the measure itself is defined on the pruned
    vocabulary (hot terms contribute ≈0 weight anyway), which is what
    keeps the index join linear in postings instead of quadratic in
    documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    # terms feeds df counts AND the weighting join; weighted feeds the
    # norm aggregate AND both sides of the pair join — cache each so
    # the tokenize/shuffle stages run once (materialize-once contract,
    # same as the MinHash signature frame)
    terms = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(tracked_cache)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n")).withColumn("_k", F.lit(1))
    df_tbl = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weighted = (
        terms.join(df_tbl, "term")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(n_docs), "_k")
        .where(
            F.col("df").cast("double")
            <= F.greatest(
                F.lit(float(_TC_DF_FLOOR)),
                F.col("n").cast("double") * F.lit(_TC_DF_FRAC),
            )
        )
        .withColumn(
            "w",
            F.col("tf").cast("double")
            * F.round(
                F.log(F.col("n").cast("double") / F.col("df").cast("double")), 6
            ),
        )
        .select("doc_id", "term", "w")
        .transform(tracked_cache)
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = weighted.alias("a")
    b = weighted.alias("b")
    dots = (
        a.join(b, "term")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cos_sim", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6))
        .where(F.col("cos_sim") >= _TC_THRESHOLD)
        .select("doc_a", "doc_b", "cos_sim")
    )


_SQL_TFIDF_COSINE_PAIRS = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS term
  FROM documents
), terms AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*) AS df FROM terms GROUP BY term
), n_docs AS (SELECT count(*) AS n FROM documents),
weighted AS (
  SELECT doc_id, term,
         CAST(tf AS DOUBLE)
           * round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS w
  FROM terms JOIN dfs USING (term) CROSS JOIN n_docs
  WHERE CAST(df AS DOUBLE)
        <= greatest({float(_TC_DF_FLOOR)}, CAST(n AS DOUBLE) * {_TC_DF_FRAC})
), norms AS (
  SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM weighted GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
  FROM weighted a JOIN weighted b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
FROM dots
JOIN norms na ON doc_a = na.doc_id
JOIN norms nb ON doc_b = nb.doc_id
WHERE round(dot / (na.nrm * nb.nrm), 6) >= {_TC_THRESHOLD}
"""


# --------------------------------------------------------------------------
# gini_by_segment
# --------------------------------------------------------------------------

def _q_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini concentration of order value via a GROUPED_AGG
    pandas UDF — the Arrow-batched UDAF surface.  The UDAF sorts its
    group in ascending order, so the result is independent of Spark's
    row routing; the oracle computes the identical rank closed form."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses postponed
    # annotation evaluation, so `(v: pd.Series) -> float` hints become
    # unresolvable strings inside a function body
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def gini_udaf(v):
        import numpy as np

        x = np.sort(v.to_numpy(dtype="float64"))
        n = len(x)
        if n == 0 or x.sum() == 0.0:
            return 0.0
        i = np.arange(1, n + 1, dtype="float64")
        return float(2.0 * (i * x).sum() / (n * x.sum()) - (n + 1.0) / n)

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg(); the row count rides a second UDAF
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_udaf(v):
        return len(v)

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        j.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            n_udaf(F.col("o_totalprice")).alias("n_orders"),
            F.round(gini_udaf(F.col("o_totalprice")), 6).alias("gini"),
        )
    )


_SQL_GINI_BY_SEGMENT = """
WITH j AS (
  SELECT c_mktsegment AS segment, o_totalprice AS x, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey
), r AS (
  SELECT segment, x,
         row_number() OVER (PARTITION BY segment
                            ORDER BY x ASC, o_orderkey ASC) AS i
  FROM j
)
SELECT segment, count(*) AS n_orders,
       round(2.0 * sum(i * x) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM r GROUP BY segment
"""


# --------------------------------------------------------------------------
# cogroup_asof_enrich
# --------------------------------------------------------------------------

def _q_cogroup_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user as-of enrichment through ``groupBy(...).cogroup(...)
    .applyInPandas`` — each user's events and purchases arrive as one
    pandas pair and merge with ``pd.merge_asof`` (backward, exact
    matches allowed), the same semantics as the relational as-of twin.
    Shares asof_last_purchase's native DuckDB ASOF JOIN oracle
    verbatim."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("lp_us")
    )

    def asof_merge(left_pdf: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        lp = left_pdf.sort_values("ts_us", kind="mergesort")
        rp = right_pdf.sort_values("lp_us", kind="mergesort")
        m = pd.merge_asof(
            lp,
            rp[["lp_us"]],
            left_on="ts_us",
            right_on="lp_us",
            direction="backward",
            allow_exact_matches=True,
        )
        m = m.rename(columns={"lp_us": "last_purchase_us"})
        m["last_purchase_us"] = m["last_purchase_us"].astype("Int64")
        return m[["event_id", "user_id", "ts_us", "last_purchase_us"]]

    return left.groupBy("user_id").cogroup(right.groupBy("user_id")).applyInPandas(
        asof_merge,
        "event_id long, user_id long, ts_us long, last_purchase_us long",
    )


# --------------------------------------------------------------------------
# mapinarrow_token_count
# --------------------------------------------------------------------------

def _q_mapinarrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts through ``mapInArrow`` — RecordBatch in,
    RecordBatch out, computed entirely with pyarrow.compute kernels (no
    pandas materialization): trim spaces, regex-split on space runs,
    list length; the all-spaces edge maps to 0."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def count_tokens(batches):
        for batch in batches:
            text = batch.column(1)
            trimmed = pc.utf8_trim(text, " ")
            n = pc.list_value_length(pc.split_pattern_regex(trimmed, " +"))
            n = pc.if_else(pc.equal(trimmed, ""), pa.scalar(0, pa.int32()), n)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), n.cast(pa.int64())], ["doc_id", "n_tokens"]
            )

    return docs.mapInArrow(count_tokens, "doc_id long, n_tokens long")


_SQL_MAPINARROW_TOKEN_COUNT = """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> length(x) > 0))
            AS BIGINT) AS n_tokens
FROM documents
"""


SPECS: dict[str, QuerySpec] = {
    "dedup_survivor_by_quality": QuerySpec(
        _q_dedup_survivor_by_quality,
        _sql_dedup_survivor_by_quality(),
        "quality-aware dedup survivor selection: each near-dup cluster "
        "keeps its best quality-score member (score desc, id tiebreak)",
    ),
    "tfidf_cosine_pairs": QuerySpec(
        _q_tfidf_cosine_pairs,
        _SQL_TFIDF_COSINE_PAIRS,
        "tf-idf weighted cosine near-dup pairs through a df-pruned "
        "inverted index (rounded idf so both engines' log agree)",
    ),
    "gini_by_segment": QuerySpec(
        _q_gini_by_segment,
        _SQL_GINI_BY_SEGMENT,
        "per-segment Gini concentration via GROUPED_AGG pandas UDF "
        "(Arrow UDAF surface); oracle is the rank closed form",
    ),
    "cogroup_asof_enrich": QuerySpec(
        _q_cogroup_asof_enrich,
        SQL_ASOF_LAST_PURCHASE,
        "cogrouped applyInPandas as-of enrichment (pd.merge_asof per "
        "user); oracle shared verbatim with asof_last_purchase",
    ),
    "mapinarrow_token_count": QuerySpec(
        _q_mapinarrow_token_count,
        _SQL_MAPINARROW_TOKEN_COUNT,
        "mapInArrow token counting with pure pyarrow.compute kernels "
        "(RecordBatch-native Python execution path)",
    ),
}
