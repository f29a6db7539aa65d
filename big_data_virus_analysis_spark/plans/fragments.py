"""Shared plan fragments: the one home for every oracle-SQL fragment,
constant and plan-building helper that two or more catalog modules use.

``catalog.py`` and the packs import from here; this module imports no
pack (only ``operators``/``sources``), so it never closes an import
cycle.  A fragment is merged here by content, never by name, and never
branches on which caller it serves: a parameter exists only where the
callers already pass different values.  A run that one file repeats
stays a local helper in that file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.dedup import ngram_jaccard_pairs
from ..operators.similarity import DIM, _plane_weight
from ..operators.prefix_sum import global_prefix_sum, global_row_number
from ..operators.text_quality import LANG_STOPWORDS
from ..sources.tables import load_table

#: microseconds per day (tz-free day bucketing of epoch-micros timestamps)
DAY_US = 86_400_000_000
#: 2^31, the modulus of the deterministic hash families
M31 = 2147483648


# --------------------------------------------------------------------------
# SQL fragments mirroring functions/entropy.py in the same operation order
# --------------------------------------------------------------------------

def plogp2_sql(p: str) -> str:
    return f"(CASE WHEN {p} > 0 THEN -({p}) * log2({p}) ELSE 0.0 END)"


def entropy2_sql(x: str, y: str) -> str:
    p = f"(CAST({x} AS DOUBLE) / CAST({y} AS DOUBLE))"
    return f"({plogp2_sql(p)} + {plogp2_sql(f'(1.0 - {p})')})"


def info_gain_sql(p: str, t: str, pg: str, tg: str) -> str:
    t_d, tg_d = f"CAST({t} AS DOUBLE)", f"CAST({tg} AS DOUBLE)"
    return (
        f"({entropy2_sql(p, t)}"
        f" - ({tg_d} / {t_d}) * {entropy2_sql(pg, tg)}"
        f" - (({t_d} - {tg_d}) / {t_d}) * {entropy2_sql(f'({p} - {pg})', f'({t} - {tg})')})"
    )


def nan_to_zero_sql(x: str) -> str:
    return f"(CASE WHEN isnan({x}) THEN 0.0 ELSE {x} END)"


# --------------------------------------------------------------------------
# Text: trigram grams, MinHash/LSH, pair verification, bigrams, quality
# --------------------------------------------------------------------------

#: Word-trigram CTEs over `documents` — ``toks(doc_id, tokens)`` and
#: ``grams(doc_id, gram)``, one row per space-joined trigram occurrence —
#: the oracle side of ``operators/dedup.py::word_ngrams(n=3)``.  Used as
#: ``WITH {TRIGRAM_CTES}, dg AS (...)``.
TRIGRAM_CTES = """toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
)"""

SQL_SHINGLE_IDS = f"""
WITH {TRIGRAM_CTES}, dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), ids AS (
  -- tid = md5-prefix BIGINT (bit-identical to Spark's conv(substring(md5)..));
  -- reduce mod 2^31 before the multiply so the product stays < 2^63
  SELECT doc_id,
         ((CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483648)
          * 2654435761) % 2147483648 AS s
  FROM dg
)
"""


def minhash_sig_ctes(k: int, rows_per_band: int) -> str:
    """Signature + banding CTEs (through ``band_keys``) over an
    ``ids(doc_id, s)`` CTE (mirrors operators/dedup.py::_family exactly
    — mask, not mod; no division).  Shared with the round-11
    cross-corpus alignment oracles."""
    return f"""
, sig AS (
  -- odd-multiplier linear permutation mod 2^31
  SELECT doc_id, i,
         min(((((2654435761 * (2 * i + 1)) % 2147483648) | 1) * s + 7919 * i)
             & 2147483647) AS h
  FROM ids CROSS JOIN (SELECT unnest(generate_series(1, {k})) AS i)
  GROUP BY doc_id, i
), band_keys AS (
  SELECT doc_id, CAST((i - 1) // {rows_per_band} AS INT) AS band,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, band
)"""


def minhash_band_sql(k: int, rows_per_band: int) -> str:
    """Signature + banding + candidate self-join suffix."""
    return (
        minhash_sig_ctes(k, rows_per_band)
        + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM band_keys a
JOIN band_keys b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""
    )


def minhash_lsh_sql(k: int, rows_per_band: int) -> str:
    """Parameterized MinHash+LSH oracle over md5 STRING grams."""
    return SQL_SHINGLE_IDS + minhash_band_sql(k, rows_per_band)


SQL_MINHASH_LSH_PAIRS = minhash_lsh_sql(32, 4)

#: transitive closure of the (tiny) LSH pair graph via recursive CTE,
#: through ``reach(src, dst)``, whose parenthesis the caller closes;
#: cluster id = min over each node's reachable set — exactly the
#: fixpoint min-label propagation computes
SQL_LSH_REACH = (
    "WITH RECURSIVE pairs AS (\n"
    + SQL_MINHASH_LSH_PAIRS
    + """
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
"""
)

SQL_DEDUP_CLUSTER_ASSIGN = SQL_LSH_REACH + """)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""

#: eval corpus of the cross-corpus alignment packs = doc_id < N_EVAL
#: (plans/contamination.py convention, widened so the best-match table
#: has real spread at sf0.01+)
N_EVAL = 20

#: candidate floor of the pair-verification packs (edit distance, Jaro):
#: the dedup family's threshold-sweep floor
DUP_PAIR_FLOOR = 0.5

#: edit-distance prefix cap — the per-pair DP is ED_MAX_CHARS² steps,
#: corpus-independent
ED_MAX_CHARS = 128


def dup_pair_prefixes(docs: DataFrame, max_chars: int) -> DataFrame:
    """The near-dup candidate pairs (``ngram_jaccard_pairs`` at the
    ``DUP_PAIR_FLOOR``, hot-gram-capped — never all-pairs) with both
    documents' first ``max_chars`` characters: ``doc_a, doc_b,
    jaccard, pa, la, pb, lb``.  The pair side is broadcast into the
    documents scan."""
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=DUP_PAIR_FLOOR)
    pref = docs.where(F.length("text") > 0).select(
        "doc_id",
        F.expr(f"substring(text, 1, {max_chars})").alias("p"),
        F.expr(
            f"CAST(least(length(text), {max_chars}) AS BIGINT)"
        ).alias("l"),
    )
    return (
        pref.join(
            F.broadcast(
                pairs.select("doc_a", "doc_b", "jaccard")
            ).withColumnRenamed("doc_a", "doc_id"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            "jaccard",
            F.col("p").alias("pa"),
            F.col("l").alias("la"),
        )
        .join(
            pref.select(
                F.col("doc_id").alias("doc_b"),
                F.col("p").alias("pb"),
                F.col("l").alias("lb"),
            ),
            "doc_b",
        )
    )


def sql_dup_pair_prefix_ctes(max_chars: int) -> str:
    """Oracle twin of :func:`dup_pair_prefixes`: CTEs through
    ``jacc(doc_a, doc_b, jaccard)`` and ``pref(doc_id, p, l)``."""
    return f"""{TRIGRAM_CTES}, dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
), prs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jacc AS (
  SELECT doc_a, doc_b,
         round(CAST(inter AS DOUBLE)
               / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
  FROM prs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(inter AS DOUBLE)
              / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6)
        >= {DUP_PAIR_FLOOR}
), pref AS (
  SELECT doc_id, substr(text, 1, {max_chars}) AS p,
         CAST(least(length(text), {max_chars}) AS BIGINT) AS l
  FROM documents WHERE length(text) > 0
)"""


def sql_ed_fold(a: str, b: str, la: str, lb: str) -> str:
    """DuckDB twin of the Levenshtein fold: list_reduce over BIGINT[]
    rows with singleton-list indexes (the round10_dp DTW oracle
    mechanism — list accumulators only, no struct accumulator)."""
    cost = (
        f"CASE WHEN substr({a}, CAST(x[1] AS INT), 1)"
        f" = substr({b}, CAST(y[1] AS INT), 1)"
        " THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END"
    )
    inner = f"""list_reduce(
      [CAST([x[1]] AS BIGINT[])] || list_transform(
        range(1, CAST({lb} AS INT) + 1), j -> [CAST(j AS BIGINT)]),
      (row, y) -> row || [least(
        prev_row[CAST(y[1] AS INT) + 1] + 1,
        row[CAST(y[1] AS INT)] + 1,
        prev_row[CAST(y[1] AS INT)] + {cost})])"""
    return f"""(list_reduce(
      [list_transform(range(0, CAST({lb} AS INT) + 1),
                      z -> CAST(z AS BIGINT))] || list_transform(
        range(1, CAST({la} AS INT) + 1), i -> [CAST(i AS BIGINT)]),
      (prev_row, x) -> {inner}))[CAST({lb} AS INT) + 1]"""


#: the edit-distance pair oracle (plans/round11_edit.py), also the
#: scored input of the Jaccard-vs-edit concordance (round11_tau)
SQL_EDIT_PAIRS = f"""
WITH {sql_dup_pair_prefix_ctes(ED_MAX_CHARS)}, scored AS (
  SELECT j.doc_a, j.doc_b, j.jaccard,
         a.l AS la, b.l AS lb,
         {sql_ed_fold("a.p", "b.p", "a.l", "b.l")} AS edit_distance
  FROM jacc j
  JOIN pref a ON a.doc_id = j.doc_a
  JOIN pref b ON b.doc_id = j.doc_b
)
SELECT doc_a, doc_b, jaccard, la, lb,
       CAST(edit_distance AS BIGINT) AS edit_distance,
       CAST(1000 - edit_distance * 1000 // greatest(la, lb) AS BIGINT)
         AS edit_sim_milli,
       edit_distance >= abs(la - lb) AS lower_bound_ok,
       edit_distance <= greatest(la, lb) AS upper_bound_ok
FROM scored
ORDER BY doc_a, doc_b
"""


def adjacent_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(w1, w2)``: every adjacent token pair of every document (empty
    tokens dropped), straight from a ``transform`` expression — no
    window, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(text, ' '), t -> length(t) > 0)").alias("a")
    ).where(F.expr("size(a) >= 2"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1), "
                "i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    return pairs


def explode_bigrams() -> Column:
    """One ``bg`` struct row ``(w1, w2)`` per adjacent pair of the staged
    token-array column ``_toks`` (staged because closure inlining of
    the token expression is O(n²))."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.struct(
                F.element_at(F.col("_toks"), i).alias("w1"),
                F.element_at(F.col("_toks"), i + 1).alias("w2"),
            ),
        )
    ).alias("bg")


TOKS_SQL = "list_filter(string_split(text, ' '), x -> length(x) > 0)"
EN_STOPS_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])

SQL_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
parts AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> x IN ({EN_STOPS_SQL}))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stop_frac,
         least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_score,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_frac
  FROM t
)
SELECT doc_id,
       round(stop_frac, 6) AS stop_frac,
       round(len_score, 6) AS len_score,
       round(alpha_frac, 6) AS alpha_frac,
       round(0.4 * stop_frac + 0.3 * len_score + 0.3 * alpha_frac, 6) AS score
FROM parts
"""

SQL_RAG_CHUNK_WINDOWS = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), c AS (
  SELECT doc_id, a, len(a) AS n,
         CASE WHEN len(a) <= 32 THEN 1
              ELSE CAST(ceil((len(a) - 32) / 16.0) AS INT) + 1 END AS n_chunks
  FROM t WHERE len(a) >= 1
), e AS (
  SELECT doc_id, a, unnest(generate_series(1, n_chunks)) AS i FROM c
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(1 + (i - 1) * 16 AS INT) AS start_pos,
       CAST(len(a[(1 + (i - 1) * 16):(1 + (i - 1) * 16 + 31)]) AS INT) AS n_tokens,
       md5(array_to_string(a[(1 + (i - 1) * 16):(1 + (i - 1) * 16 + 31)], ' '))
         AS chunk_hash
FROM e
"""


# --------------------------------------------------------------------------
# Retrieval: BM25 over the fixed query terms
# --------------------------------------------------------------------------

_K1 = 1.2
_B = 0.75
QUERY_TERMS = ("spark", "join", "stream")


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score over the fixed query terms, UNfiltered:
    ``(doc_id, n_terms_hit, bm25)`` for every doc matching ≥1 term.
    ``bm25_search`` applies the conjunctive cut; ``rrf_hybrid_fusion``
    (plans/rag.py) reuses the same scored frame as its lexical leg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    totals = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qterms = spark.createDataFrame(
        [(t,) for t in QUERY_TERMS], "tok string"
    )
    tf = (
        toks.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (_K1 + 1.0)
            / (
                F.col("tf")
                + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_hit"),
        F.round(F.sum("term_score"), 6).alias("bm25"),
    )


SQL_BM25_BODY = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), nonempty AS (
  SELECT * FROM toks WHERE length(tok) > 0
), dl AS (
  SELECT doc_id, count(*) AS dl FROM nonempty GROUP BY 1
), totals AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM nonempty WHERE tok IN ('spark', 'join', 'stream')
  GROUP BY 1, 2
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * (1.2 + 1.0)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS term_score
  FROM tf
  JOIN df USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN totals
), bm25_scored AS (
  SELECT doc_id,
         count(*) AS n_terms_hit,
         round(sum(term_score), 6) AS bm25
  FROM scored
  GROUP BY doc_id
)
"""


# --------------------------------------------------------------------------
# Embeddings: element/norm views, centroids, LSH buckets, scorers, ranking
# --------------------------------------------------------------------------

# element/norm views shared by every embedding oracle: explicit DOUBLE
# casts (DuckDB's list_cosine_similarity computes in float32 — not
# oracle-safe against Spark's double fold)
SQL_EMB_BASE = """
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
)
"""


def assign_nearest_centroid(emb: DataFrame) -> DataFrame:
    """Assign every embedding to its nearest per-label centroid.

    Deterministic "trained-free" quantizer: centroids are per-label
    means (decimal-exact sums rounded to 6, so both engines agree
    bit-for-bit), distances are squared L2 via a zip_with fold, the
    argmin is a vec_id-partitioned window with clabel tiebreak.  The
    centroid table is #labels rows → broadcast; the corpus streams
    through one scan.  Shared by the confusion rollup
    ``nearest_centroid_assign`` (plans/rag.py) and the SemDeDup pack
    (plans/semantic.py).

    Output: the input columns + ``clabel`` (assigned centroid) +
    ``dist`` (rounded squared L2).
    """
    ex = emb.select("label", F.posexplode(F.col("embedding")).alias("pos", "x"))
    cent = ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("cvec"),
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("clabel").asc())
    return (
        emb.crossJoin(F.broadcast(cvec.select(F.col("label").alias("clabel"), "cvec")))
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "cvec")
    )


#: shared oracle body: per-label centroids + nearest-centroid argmin —
#: ends with a ``best(vec_id, label, clabel)`` CTE.  Reused by the
#: SemDeDup oracles (plans/semantic.py), which append further CTEs.
SQL_CENTROID_ASSIGN_BODY = """
WITH elems AS (
  SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), cent AS (
  SELECT label AS clabel, i,
         round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS c
  FROM elems GROUP BY 1, 2
), dists AS (
  SELECT e.vec_id, e.label, cent.clabel,
         round(sum((e.x - cent.c) * (e.x - cent.c)), 6) AS dist
  FROM elems e JOIN cent ON e.i = cent.i
  GROUP BY 1, 2, 3
), best AS (
  SELECT vec_id, label, clabel
  FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist ASC, clabel ASC) = 1
)
"""


def sql_lsh_bucket_ctes(n_planes: int) -> str:
    """Sign-LSH bucket oracle over ``elems(vec_id, i, x)``: the first
    ``n_planes`` LCG hyperplanes (``operators/similarity.py::
    _plane_weight``), per-plane dots, and ``buckets(vec_id, bucket)``.
    Continues a CTE list."""
    return f"""), planes AS (
  SELECT j, d,
         ((1103515245 * (j * 64 + (d - 1)) + 12345) % 2147483648)
           / 2147483648.0 - 0.5 AS wgt
  FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS j)
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)
), pdots AS (
  SELECT e.vec_id, p.j, sum(e.x * p.wgt) AS pd
  FROM elems e JOIN planes p ON e.i = p.d
  GROUP BY 1, 2
), buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN pd > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
           AS bucket
  FROM pdots GROUP BY vec_id
"""


def fixed_plane_score() -> Column:
    """The deterministic linear scorer w·x over ``embedding``: weights
    from the LCG hyperplane family shared with sign-LSH (plane 0),
    rounded to 6."""
    plane = F.array(*[F.lit(_plane_weight(0, d)) for d in range(DIM)])
    score = F.round(
        F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda x, wt: x.cast("double") * wt),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    return score


#: cosine top-5 per query over a ``dots(query_id, cand_id, dot)`` CTE
#: and ``norms``: closes the CTE list and ranks (sim desc, cand asc)
SQL_COSINE_TOP5 = """), sims AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
)
SELECT query_id, cand_id, sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, cand_id ASC) AS INT) AS rank
FROM sims
QUALIFY rank <= 5
"""

#: shared oracle body ending in ``votes(query_id, label, votes)`` — the
#: kNN vote tallies.  Named constant so knn_label_vote and the
#: label-noise audit (plans/round4_ops.py) consume the same fragment.
SQL_KNN_VOTES_BODY = SQL_EMB_BASE + """
, dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 50
  GROUP BY 1, 2
), sims AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), topk AS (
  SELECT query_id, cand_id
  FROM sims
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) <= 5
), votes AS (
  SELECT t.query_id, e.label, count(*) AS votes
  FROM topk t JOIN embeddings e ON t.cand_id = e.vec_id
  GROUP BY 1, 2
)
"""

#: weighted average cluster entropy over a ``hist(cluster, label, cnt)``
#: CTE — the oracle of operators/entropy_score.py::weighted_average_entropy
SQL_WEIGHTED_ENTROPY_SCORE = """), shares AS (
  SELECT cnt,
         CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY cluster) AS DOUBLE) AS p,
         CAST(sum(cnt) OVER (PARTITION BY cluster) AS DOUBLE) AS s
  FROM hist
)
SELECT round(
  sum((CASE WHEN p > 0 THEN -p * ln(p) ELSE 0.0 END) * s) / CAST(sum(cnt) AS DOUBLE),
  6) AS score
FROM shares
"""

SQL_EMBEDDING_COVARIANCE_CELLS = """
WITH pairs AS (
  SELECT i, j,
         CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[j + 1] AS DOUBLE) AS xy
  FROM embeddings,
       UNNEST(range(0, len(embedding))) t(i),
       UNNEST(range(0, len(embedding))) u(j)
  WHERE j >= i
), cells AS (
  SELECT i, j,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(xy AS DECIMAL(28,12))) AS sxy
  FROM pairs GROUP BY 1, 2
), grid AS (
  SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS xd
  FROM embeddings, UNNEST(range(0, len(embedding))) t(i)
), means AS (
  SELECT pos,
         CAST(sum(CAST(xd AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
  FROM grid GROUP BY pos
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       round(CAST(sxy AS DOUBLE) / n - mi.m * mj.m, 6) + 0.0 AS cov
FROM cells
JOIN means mi ON i = mi.pos
JOIN means mj ON j = mj.pos
"""


# --------------------------------------------------------------------------
# Events: intervals, type-code streams, the signup → first-purchase cohort
# --------------------------------------------------------------------------

SQL_ASOF_LAST_PURCHASE = """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, epoch_us(p.ts) AS last_purchase_us
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""

#: activity seconds per character of event_type (duration by type)
IVL_SEC_PER_CHAR = 300


def event_interval() -> tuple[Column, Column]:
    """``(st, fin)``: an event's activity interval in epoch micros; it
    lasts ``IVL_SEC_PER_CHAR`` seconds per character of its type."""
    return (
        F.unix_micros("ts").alias("st"),
        (
            F.unix_micros("ts")
            + F.length("event_type").cast("bigint")
            * (IVL_SEC_PER_CHAR * 1_000_000)
        ).alias("fin"),
    )


def event_type_codes(ev: DataFrame) -> DataFrame:
    """``(event_type, tc)``: an event type's code is its alphabetical
    rank among the types in ``ev``."""
    return (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.expr(
                "CAST(rank() OVER (ORDER BY event_type) AS BIGINT)"
            ).alias("tc"),
        )
    )


def user_code_streams(ev: DataFrame, types: DataFrame) -> DataFrame:
    """``(user_id, evs, n_events)``: each user's (ts, event_id)-ordered
    stream of type codes (``types`` from :func:`event_type_codes`)."""
    return (
        ev.join(F.broadcast(types), "event_type")
        .select(
            "user_id",
            F.unix_micros("ts").alias("tsu"),
            F.col("event_id").cast("bigint").alias("eid"),
            "tc",
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(named_struct("
                "'tsu', tsu, 'eid', eid, 'tc', tc))), s -> s.tc)"
            ).alias("evs"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def signup_purchase_risk_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days from signup to first purchase per signed-up user, censored
    at the user's last event day, as a risk set: per distinct
    ``duration``, ``d`` purchases, ``c`` users and ``n_risk`` (users
    with a duration at least that long)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts")) / DAY_US).cast("long").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("day"))).alias("s0"),
        F.max("day").alias("last_day"),
    )
    first_purchase = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("day").alias("p0"))
    )
    cohort = (
        per_user.join(first_purchase, "user_id", "left")
        .where(F.col("s0").isNotNull())
        .select(
            F.when(
                F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0")),
                F.col("p0") - F.col("s0"),
            )
            .otherwise(F.col("last_day") - F.col("s0"))
            .alias("duration"),
            (
                F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0"))
            ).cast("int").alias("event"),
        )
    )
    times = cohort.groupBy("duration").agg(
        F.sum("event").alias("d"), F.count("*").alias("c")
    )
    # both cumulative sums of the consumers run through the two-phase
    # distributed scan — the per-duration frame is bounded by distinct
    # day-gaps, but no aggregate-side frame gets a single-task global
    # window on principle (same rewrite as ks_price_periods /
    # pareto_customers); durations are distinct after the groupBy, so
    # the order is total
    return global_prefix_sum(
        times,
        "duration",
        "c",
        "n_risk",
        order_exprs=[F.col("duration").desc()],
    )


#: oracle ``ev``/``per_user``/``first_purchase`` CTEs of the cohort
SQL_SIGNUP_PURCHASE_USERS = """WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events
), per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN day END) AS s0,
         max(day) AS last_day
  FROM ev GROUP BY user_id
), first_purchase AS (
  SELECT user_id, min(day) AS p0 FROM ev WHERE event_type = 'purchase'
  GROUP BY user_id
)"""

#: the cohort's ``duration, event`` select list (after ``SELECT``) and
#: the per-duration ``times(duration, d, c)`` CTE
SQL_COHORT_TIMES = """CASE WHEN f.p0 IS NOT NULL AND f.p0 >= p.s0 THEN f.p0 - p.s0
              ELSE p.last_day - p.s0 END AS duration,
         CASE WHEN f.p0 IS NOT NULL AND f.p0 >= p.s0 THEN 1 ELSE 0 END AS event
  FROM per_user p LEFT JOIN first_purchase f ON p.user_id = f.user_id
  WHERE p.s0 IS NOT NULL
), times AS (
  SELECT duration, sum(event) AS d, count(*) AS c FROM cohort GROUP BY duration
)"""


# --------------------------------------------------------------------------
# Orders: daily series and segment statistics
# --------------------------------------------------------------------------

def daily_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(day, cents)``: order revenue per calendar day in exact cents."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
        ).alias("cents")
    )


def daily_revenue_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x = epoch day, y = revenue cents) — the calendar-bounded frame."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
            ).alias("y")
        )
        .select(
            F.datediff("day", F.lit("1970-01-01")).cast("bigint").alias("x"),
            "y",
        )
    )


def daily_dollars(spark: SparkSession, sf_dir: str, out_col: str) -> DataFrame:
    """``(day, out_col)``: observed-day order revenue in WHOLE DOLLARS
    (exact: cent sums, then round-half-up)."""
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(
            F.floor(F.sum("yc") / F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias(out_col)
        )
    )
    return day


def granger_lag_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of exact integer moments of the lag-1 regression of daily
    revenue ``yt`` (cents) on lagged revenue ``yl`` and lagged order
    count ``xl``: ``n``, the sums and the DECIMAL cross products."""
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(F.sum("yc").alias("y"), F.count(F.lit(1)).alias("x"))
    )
    ranked = global_row_number(day, [F.asc("day")], out_col="rk")
    cur = ranked.select("rk", F.col("y").alias("yt"))
    prv = ranked.select(
        (F.col("rk") + 1).alias("rk"),
        F.col("y").alias("yl"),
        F.col("x").alias("xl"),
    )
    rows = cur.join(prv, "rk")
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    return rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("sy"),
        F.sum("yl").alias("sa"),
        F.sum("xl").alias("sb"),
        F.sum(dec("yl") * dec("yl")).alias("saa"),
        F.sum(dec("xl") * dec("xl")).alias("sbb"),
        F.sum(dec("yl") * dec("xl")).alias("sab"),
        F.sum(dec("yl") * dec("yt")).alias("say"),
        F.sum(dec("xl") * dec("yt")).alias("sby"),
        F.sum(dec("yt") * dec("yt")).alias("syy"),
    )


def granger_lag_fit() -> tuple[Column, Column, Column, Column, Column]:
    """``(nd, ssr_r, beta, gamma, ssr_u)`` over :func:`granger_lag_moments`:
    n as double, the restricted SSR (lagged revenue only), and the
    unrestricted fit's coefficients and SSR, from the centered moments."""
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # centered moments
    caa = d("saa") - d("sa") * d("sa") / nd
    cbb = d("sbb") - d("sb") * d("sb") / nd
    cab = d("sab") - d("sa") * d("sb") / nd
    cay = d("say") - d("sa") * d("sy") / nd
    cby = d("sby") - d("sb") * d("sy") / nd
    cyy = d("syy") - d("sy") * d("sy") / nd
    # restricted: beta_r = cay/caa; SSR_r = cyy - cay^2/caa
    ssr_r = cyy - cay * cay / caa
    # unrestricted via Cramer on [[caa, cab], [cab, cbb]]
    det = caa * cbb - cab * cab
    beta = (cay * cbb - cby * cab) / det
    gamma = (caa * cby - cab * cay) / det
    ssr_u = cyy - beta * cay - gamma * cby
    return nd, ssr_r, beta, gamma, ssr_u


#: oracle twin of :func:`granger_lag_moments` plus the centered moments:
#: CTEs through ``c(n, caa, cbb, cab, cay, cby, cyy)``
SQL_GRANGER_LAG_MOMENTS = """
WITH day AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS y,
         count(*) AS x
  FROM orders GROUP BY 1
), ranked AS (
  SELECT y, x, row_number() OVER (ORDER BY day) AS rk FROM day
), rows_ AS (
  SELECT a.y AS yt, b.y AS yl, b.x AS xl
  FROM ranked a JOIN ranked b ON a.rk = b.rk + 1
), mom AS (
  SELECT count(*) AS n, sum(yt) AS sy, sum(yl) AS sa, sum(xl) AS sb,
         sum(CAST(yl AS HUGEINT) * yl) AS saa,
         sum(CAST(xl AS HUGEINT) * xl) AS sbb,
         sum(CAST(yl AS HUGEINT) * xl) AS sab,
         sum(CAST(yl AS HUGEINT) * yt) AS say,
         sum(CAST(xl AS HUGEINT) * yt) AS sby,
         sum(CAST(yt AS HUGEINT) * yt) AS syy
  FROM rows_
), c AS (
  SELECT n,
         CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n AS caa,
         CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n AS cbb,
         CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n AS cab,
         CAST(say AS DOUBLE) - CAST(sa AS DOUBLE) * sy / n AS cay,
         CAST(sby AS DOUBLE) - CAST(sb AS DOUBLE) * sy / n AS cby,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
  FROM mom
)"""


def day_index_revenue(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Daily revenue in exact integer cents ``(i, yc)`` keyed by day
    index since 1995-01-01, and its one-row exact OLS moments
    ``(n, sx, sxx, sy, sxy)``."""
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.select(
            F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .cast("bigint")
            .alias("i"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("i")
        .agg(F.sum("yc").alias("yc"))
    )
    mom = day.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("i").alias("sx"),
        F.sum(F.col("i") * F.col("i")).alias("sxx"),
        F.sum("yc").alias("sy"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
        ).alias("sxy"),
    )
    return day, mom


def day_index_ols() -> tuple[Column, Column]:
    """``(b, a)``: the OLS slope and intercept of :func:`day_index_revenue`,
    from its exact integer moments cast to double only inside the fixed
    closed form."""
    nd = F.col("n").cast("double")
    b = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    a = (F.col("sy").cast("double") - b * F.col("sx").cast("double")) / nd
    return b, a


def residual_day_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day frame with OLS residuals of daily revenue (cents) on day
    index, quantized to exact integer cents (``ec``): the fit comes
    from exact integer moments cast to double only inside the fixed
    closed form, so every engine computes the identical a/b and the
    identical per-row residual before quantization."""
    day, mom = day_index_revenue(spark, sf_dir)
    b, a = day_index_ols()
    fit = mom.select(b.alias("b"), a.alias("a"))
    return day.crossJoin(F.broadcast(fit)).select(
        "i",
        F.floor(
            F.col("yc").cast("double")
            - (F.col("a") + F.col("b") * F.col("i").cast("double"))
            + 0.5
        )
        .cast("bigint")
        .alias("ec"),
    )


SQL_RESIDUAL_DAY_FRAME = """
WITH day AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS i,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS yc
  FROM orders GROUP BY 1
), mom AS (
  SELECT count(*) AS n, sum(i) AS sx, sum(i * i) AS sxx, sum(yc) AS sy,
         sum(CAST(i AS HUGEINT) * yc) AS sxy
  FROM day
), fit AS (
  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
         n, sx, sy
  FROM mom
), fit2 AS (
  SELECT b, (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE) AS a
  FROM fit
), resid AS (
  SELECT day.i,
         CAST(floor(CAST(day.yc AS DOUBLE)
                    - (fit2.a + fit2.b * CAST(day.i AS DOUBLE)) + 0.5)
              AS BIGINT) AS ec
  FROM day CROSS JOIN fit2
)
"""


def segment_urgent_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Per market segment: orders ``n`` and 1-URGENT orders ``nu``; and
    the one-row totals ``(ntot, utot, m)`` over the ``m`` segments."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("u"),
    )
    seg = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("u").alias("nu")
    )
    tot = seg.agg(
        F.sum("n").alias("ntot"),
        F.sum("nu").alias("utot"),
        F.count(F.lit(1)).alias("m"),
    )
    return seg, tot


def welch_arm_stats() -> tuple[Column, Column, Column, Column, Column, Column]:
    """``(n1, n2, m1, m2, v1, v2)`` over the exact two-arm moment
    columns ``n1, s1, q1, n2, s2, q2`` (values in cents): the counts as
    double, and each arm's mean and sample variance in dollars."""
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / (100.0 * n1)
    m2 = F.col("s2").cast("double") / (100.0 * n2)
    v1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n1
    ) / ((n1 - 1.0) * 10000.0)
    v2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double") / n2
    ) / ((n2 - 1.0) * 10000.0)
    return n1, n2, m1, m2, v1, v2


# --------------------------------------------------------------------------
# Orders × customer × nation × region: the 5×5 segment/region grid
# --------------------------------------------------------------------------

def segment_region_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25-cell preference frame: codes, cents, both ranks."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("r_name").alias("region"),
        )
        .agg(
            F.sum(
                F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
            ).alias("cents")
        )
    )
    ws = Window.partitionBy("segment").orderBy(
        F.desc("cents"), F.asc("region")
    )
    wr = Window.partitionBy("region").orderBy(
        F.desc("cents"), F.asc("segment")
    )
    return rev.select(
        "segment",
        "region",
        "cents",
        F.expr(
            "CAST(dense_rank() OVER (ORDER BY segment) AS INT)"
        ).alias("sc"),
        F.expr(
            "CAST(dense_rank() OVER (ORDER BY region) AS INT)"
        ).alias("rc"),
        F.row_number().over(ws).cast("bigint").alias("seg_rank"),
        F.row_number().over(wr).cast("bigint").alias("reg_rank"),
    )


#: oracle ``rev(segment, region, cents)`` CTE of the segment/region grid
SQL_SEGMENT_REGION_REV = """WITH rev AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment, r.r_name AS region,
         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)"""

#: the body of a ``perms`` CTE over ``rcodes(rc)`` — all 5! = 120 perfect
#: matchings of the five segment codes to region codes — and the
#: ``assigned(pid, sc, rc)`` CTE that unpivots them
SQL_RC_PERMUTATIONS = """  SELECT row_number() OVER (
           ORDER BY a.rc, b.rc, c.rc, d.rc, e.rc) AS pid,
         a.rc AS r1, b.rc AS r2, c.rc AS r3, d.rc AS r4, e.rc AS r5
  FROM rcodes a, rcodes b, rcodes c, rcodes d, rcodes e
  WHERE a.rc != b.rc AND a.rc != c.rc AND a.rc != d.rc
    AND a.rc != e.rc AND b.rc != c.rc AND b.rc != d.rc
    AND b.rc != e.rc AND c.rc != d.rc AND c.rc != e.rc
    AND d.rc != e.rc
), assigned AS MATERIALIZED (
  SELECT pid, 1 AS sc, r1 AS rc FROM perms
  UNION ALL SELECT pid, 2, r2 FROM perms
  UNION ALL SELECT pid, 3, r3 FROM perms
  UNION ALL SELECT pid, 4, r4 FROM perms
  UNION ALL SELECT pid, 5, r5 FROM perms
)"""


# --------------------------------------------------------------------------
# Points in the plane (computational-geometry packs)
# --------------------------------------------------------------------------

def monthly_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct monthly (qty, cents) points — duplicates collapse so
    the hull predicate's strict inequalities stay well-defined."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("x"),
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
                )
            ).alias("y"),
        )
        .select("x", "y")
        .distinct()
    )


#: oracle ``pts(x, y)`` CTE of :func:`monthly_points`
SQL_MONTHLY_POINTS = """WITH pts AS MATERIALIZED (
  SELECT DISTINCT
         CAST(sum(CAST(l_quantity AS BIGINT))
              OVER (PARTITION BY date_trunc('month', l_shipdate))
              AS BIGINT) AS x,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              OVER (PARTITION BY date_trunc('month', l_shipdate))
              AS BIGINT) AS y
  FROM lineitem
)"""


#: edge p→q over columns ``px, py, qx, qy`` and witness ``rx, ry``, in
#: DECIMAL(38,0) products (round9_absorb discipline): the squared edge
#: length, and the witness's cross and dot products against the edge
_DEC = "CAST({} AS DECIMAL(38,0))"
HULL_LEN2 = (
    f"({_DEC.format('qx - px')} * {_DEC.format('qx - px')}"
    f" + {_DEC.format('qy - py')} * {_DEC.format('qy - py')})"
)
HULL_CROSS = (
    f"({_DEC.format('qx - px')} * {_DEC.format('ry - py')}"
    f" - {_DEC.format('qy - py')} * {_DEC.format('rx - px')})"
)
HULL_DOT = (
    f"({_DEC.format('qx - px')} * {_DEC.format('rx - px')}"
    f" + {_DEC.format('qy - py')} * {_DEC.format('ry - py')})"
)
#: hull-edge witness test: the witness is strictly CCW of edge p→q, or
#: strictly inside the segment
HULL_OK = (
    f"({HULL_CROSS} > 0 OR ({HULL_CROSS} = 0"
    f" AND {HULL_DOT} > 0 AND {HULL_DOT} < {HULL_LEN2}))"
)
#: the witness is neither endpoint of the edge
HULL_NOT_PQ = "((rx != px OR ry != py) AND (rx != qx OR ry != qy))"


# --------------------------------------------------------------------------
# Zone-map pruning audits (layout packs)
# --------------------------------------------------------------------------

N_ZONES = 100

#: the 2-D band predicate: the middle 1/8 x 1/8 of the 256-band grid
CK_LO, CK_HI = 96, 127
DT_LO, DT_HI = 96, 127


def zone_pruning_totals(zoned: DataFrame) -> DataFrame:
    """Per layout, over ``(layout, zone, ck_band, dt_band, hit)`` rows:
    the zone count, the zones (and their rows) a band-predicate scan
    must read under min/max zone maps, and the rows it matches."""
    zones = zoned.groupBy("layout", "zone").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ck_band").alias("mn_ck"),
        F.max("ck_band").alias("mx_ck"),
        F.min("dt_band").alias("mn_dt"),
        F.max("dt_band").alias("mx_dt"),
        F.sum("hit").alias("n_hit"),
    )
    scanned = (
        (F.col("mx_ck") >= CK_LO)
        & (F.col("mn_ck") <= CK_HI)
        & (F.col("mx_dt") >= DT_LO)
        & (F.col("mn_dt") <= DT_HI)
    ).cast("int")
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("zones_total"),
        F.sum(scanned).alias("zones_scanned"),
        F.sum(scanned * F.col("n")).alias("rows_scanned"),
        F.sum("n_hit").alias("rows_matched"),
    )


#: the oracle's natural and z-order zone assignments of ``zed`` rows
#: (the members of a ``ranked`` CTE's UNION ALL)
SQL_ZONED_NATURAL_ZORDER = f"""  SELECT 'natural' AS layout,
         (row_number() OVER (ORDER BY o_orderkey) - 1) * {N_ZONES}
           // (count(*) OVER ()) AS zone,
         ck_band, dt_band
  FROM zed
  UNION ALL
  SELECT 'zorder' AS layout,
         (row_number() OVER (ORDER BY z, o_orderkey) - 1) * {N_ZONES}
           // (count(*) OVER ()) AS zone,
         ck_band, dt_band
  FROM zed"""

#: per-zone band min/max and predicate hits: the select list of a
#: ``zones`` CTE over ``ranked``
SQL_ZONE_STATS = f"""  SELECT layout, zone, count(*) AS n,
         min(ck_band) AS mn_ck, max(ck_band) AS mx_ck,
         min(dt_band) AS mn_dt, max(dt_band) AS mx_dt,
         sum(CASE WHEN ck_band BETWEEN {CK_LO} AND {CK_HI}
                   AND dt_band BETWEEN {DT_LO} AND {DT_HI}
                  THEN 1 ELSE 0 END) AS n_hit"""


# --------------------------------------------------------------------------
# Graphs
# --------------------------------------------------------------------------

#: co-purchase support threshold: part pairs sharing >= 2 orders
MIN_COORDERS = 2


def support_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (u < v) co-purchase edges with >= MIN_COORDERS
    shared orders.  One partial-agg pair count over the deduped
    (order, part) index; the index is cached because both sides of the
    pair join scan it."""
    li = load_table(spark, sf_dir, "lineitem")
    op = (
        li.select("l_orderkey", "l_partkey").dropDuplicates().transform(tracked_cache)
    )
    return (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= MIN_COORDERS)
        .select("u", "v")
    )


SQL_SUPPORT_EDGES = f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_COORDERS}
)"""


def sql_support_edge_rounds(ctes: list[str], parts: list[str]) -> str:
    """The support-edge CTEs, then per-round ``ctes`` over ``e``, and one
    ``UNION ALL`` row per round from ``parts``, ordered by round."""
    return (
        SQL_SUPPORT_EDGES
        + ", "
        + ", ".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(parts)
        + "\nORDER BY round"
    )


def orient_by_degree(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Orient each undirected edge ``(u, v)`` toward its higher (deg, id)
    endpoint: ``(s, t, dt)`` rows with ``dt`` the target's degree, and
    the degree frame ``(u, deg)``.  Out-degree is then O(sqrt(m)) per
    node, so a wedge join cannot explode on hub nodes.  The oriented
    frame is tracked-cached (two wedge branches and the closing edge
    read it)."""
    both = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    oriented = ranked.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(
                F.col("u").alias("s"), F.col("v").alias("t"), F.col("dv").alias("dt")
            ),
        )
        .otherwise(
            F.struct(
                F.col("v").alias("s"), F.col("u").alias("t"), F.col("du").alias("dt")
            )
        )
        .alias("e")
    ).select(
        F.col("e.s").alias("s"), F.col("e.t").alias("t"), F.col("e.dt").alias("dt")
    )
    return tracked_cache(oriented), deg
