"""Round-4 breadth pack: full-outer reconciliation, autocorrelation,
and an exactly-reproducible count-min sketch.

Three shapes the catalog did not yet cover, each with a bit-exact
DuckDB oracle:

* ``full_outer_balance`` — FULL OUTER join completeness (the catalog
  had inner/left/semi/anti/asof/interval but no full-outer shape):
  reconcile two DELIBERATELY asymmetric customer sets with coalesced
  keys and presence flags — the classic two-system reconciliation
  report.
* ``daily_value_acf`` — autocorrelation of the daily event-value series
  at lags 1..7: per-day aggregate first (the corpus-sized pass), then
  the lag self-join and the closed-form Pearson r run on the tiny
  per-day frame.  Time-series diagnostics for drift/seasonality.
* ``cms_heavy_users`` — count-min sketch with a DETERMINISTIC hash
  family (the engine-portable LCG used by sign-LSH/MinHash), built as a
  re-aggregable counter table per day and MERGED by plain counter
  addition (the sketch property that matters at 100 TB: daily sketches
  persist tiny and roll up without re-reading raw data, same contract
  as hll_distinct_rollup).  Because the family is deterministic, the
  final estimates are bit-identical in DuckDB — unlike HLL, this sketch
  gets a full exact oracle; the est >= true one-sided error bound is
  additionally pinned in tests.

Scale notes: every query is one corpus scan into a bounded aggregate
(days × buckets, days, or customers-after-filter); the ACF/CMS
estimate stages run on frames whose size is independent of corpus
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import M31, SQL_DEDUP_CLUSTER_ASSIGN, SQL_KNN_VOTES_BODY, TRIGRAM_CTES

# deterministic LCG constants shared in spirit with similarity._plane_weight
_CMS_D = 4  # hash rows
_CMS_W = 256  # counters per row
_CMS_A = [1103515245, 2654435761 % M31, 1664525, 22695477]
_CMS_B = [12345, 7919, 1013904223, 1]


def _cms_bucket(user, d: int):
    """Counter index for hash row d — plain 64-bit-safe integer
    arithmetic, identical in any engine."""
    s = user % M31
    return ((F.lit(_CMS_A[d]) * s + F.lit(_CMS_B[d])) % M31) % _CMS_W


def _cms_bucket_sql(d: int) -> str:
    return f"((({_CMS_A[d]} * (user_id % {M31}) + {_CMS_B[d]}) % {M31}) % {_CMS_W})"


# --------------------------------------------------------------------------
# full_outer_balance
# --------------------------------------------------------------------------

def _q_full_outer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation of two asymmetric customer sets via FULL OUTER:
    high-balance customers vs customers with URGENT orders.  Coalesced
    key, presence flags, null-safe measures — the shape of any
    two-system diff report."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = customer.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("rk"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
    )
    urgent = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.col("o_custkey").alias("uk"))
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return (
        rich.join(urgent, rich.rk == urgent.uk, "full_outer")
        .select(
            F.coalesce(F.col("rk"), F.col("uk")).alias("custkey"),
            F.col("rk").isNotNull().alias("is_rich"),
            F.col("uk").isNotNull().alias("has_urgent"),
            F.coalesce(F.col("acctbal"), F.lit(0.0)).alias("acctbal"),
            F.coalesce(F.col("n_urgent"), F.lit(0).cast("bigint")).alias("n_urgent"),
        )
    )


_SQL_FULL_OUTER_BALANCE = """
WITH rich AS (
  SELECT c_custkey AS rk, round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal
  FROM customer WHERE c_acctbal > 5000
), urgent AS (
  SELECT o_custkey AS uk, count(*) AS n_urgent
  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
)
SELECT coalesce(rk, uk) AS custkey,
       rk IS NOT NULL AS is_rich,
       uk IS NOT NULL AS has_urgent,
       coalesce(acctbal, 0.0) AS acctbal,
       CAST(coalesce(n_urgent, 0) AS BIGINT) AS n_urgent
FROM rich FULL OUTER JOIN urgent ON rk = uk
"""


# --------------------------------------------------------------------------
# daily_value_acf
# --------------------------------------------------------------------------

_ACF_LAGS = 7


def _q_daily_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the daily value series at lags 1..7.

    One scan → per-day decimal-exact sums (tiny frame); the lag join and
    the closed-form Pearson r = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))
    run on that frame.  Sums feed through decimal so both engines add in
    any order; the single final round(…,6) is the only float edge."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast("long").alias("day")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
            "v"
        )
    )
    lags = spark.range(1, _ACF_LAGS + 1).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("d1"), F.col("v").alias("x"))
    b = daily.select(F.col("day").alias("d2"), F.col("v").alias("y"))
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("d1") == F.col("d2") + F.col("lag"))
        .select("lag", F.col("x").cast("decimal(28,8)").alias("x"),
                F.col("y").cast("decimal(28,8)").alias("y"))
    )
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                (n * sxy - sx * sy)
                / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                6,
            ).alias("acf"),
        )
    )


_SQL_DAILY_VALUE_ACF = f"""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS v
  FROM events GROUP BY 1
), paired AS (
  SELECT l.lag, CAST(a.v AS DECIMAL(28,8)) AS x, CAST(b.v AS DECIMAL(28,8)) AS y
  FROM daily a
  CROSS JOIN (SELECT unnest(generate_series(1, {_ACF_LAGS})) AS lag) l
  JOIN daily b ON a.day = b.day + l.lag
)
SELECT CAST(lag AS INT) AS lag, count(*) AS n_pairs,
       round((count(*) * CAST(sum(x * y) AS DOUBLE)
              - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
             / sqrt((count(*) * CAST(sum(x * x) AS DOUBLE)
                     - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
                    * (count(*) * CAST(sum(y * y) AS DOUBLE)
                       - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))), 6)
         AS acf
FROM paired GROUP BY lag
"""


# --------------------------------------------------------------------------
# cms_heavy_users
# --------------------------------------------------------------------------

def _cms_cells():
    """Column expr: one ``h = (d, bucket)`` row per hash row ``d`` of
    the ``user_id`` — the count-min cells the user counts into."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"), _cms_bucket(F.col("user_id"), d).alias("bucket")
                )
                for d in range(_CMS_D)
            ]
        )
    ).alias("h")


def _q_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates for the true top-10 users, from per-day
    sketches merged by counter addition.

    Build: one scan → (day, d, bucket) counters; merge: sum counters
    over days (the persisted-daily-sketch contract); estimate: min over
    the D counters each user hashes to.  Deterministic hash family →
    exact oracle.  est >= true (one-sided CMS bound) is pinned in
    tests/test_invariants.py."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    day = (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast("long")
    rows = ev.select(
        day.alias("day"),
        "user_id",
        _cms_cells(),
    )
    per_day = rows.groupBy("day", "h.d", "h.bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    merged = per_day.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))

    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("user_id").asc())
        .limit(10)
    )
    probes = top.select(
        "user_id",
        "true_n",
        _cms_cells(),
    ).select("user_id", "true_n", "h.d", "h.bucket")
    return (
        probes.join(merged, ["d", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("cnt").alias("cms_est"))
    )


_CMS_HASH_STRUCTS = ", ".join(
    f"({d}, {_cms_bucket_sql(d)})" for d in range(_CMS_D)
)

_SQL_CMS_HEAVY_USERS = f"""
WITH hashed AS (
  SELECT epoch_us(ts) // 86400000000 AS day, user_id, h.d, h.bucket
  FROM events
  CROSS JOIN LATERAL (
    SELECT * FROM (VALUES {_CMS_HASH_STRUCTS}) AS t(d, bucket)
  ) h
), per_day AS (
  SELECT day, d, bucket, count(*) AS cnt FROM hashed GROUP BY 1, 2, 3
), merged AS (
  SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM per_day GROUP BY 1, 2
), top AS (
  SELECT user_id, count(*) AS true_n
  FROM events GROUP BY 1
  ORDER BY true_n DESC, user_id ASC LIMIT 10
), probes AS (
  SELECT user_id, true_n, h.d, h.bucket
  FROM top
  CROSS JOIN LATERAL (
    SELECT * FROM (VALUES {_CMS_HASH_STRUCTS}) AS t(d, bucket)
  ) h
)
SELECT p.user_id, p.true_n, min(m.cnt) AS cms_est
FROM probes p JOIN merged m ON p.d = m.d AND p.bucket = m.bucket
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# zipf_slope_tokens
# --------------------------------------------------------------------------

_ZIPF_TOP = 40


def _q_zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope of the corpus vocabulary — the
    vocabulary-health diagnostic a tokenizer/mixture pipeline watches
    (natural text sits near slope −1; a collapsing corpus drifts flat).

    One scan → token frequencies (vocabulary-sized frame); global
    frequency rank via one deterministic window ORDER over that frame
    restricted to the top-``_ZIPF_TOP`` (TakeOrderedAndProject-sized cut
    BEFORE the rank window, same discipline as bm25/rrf); OLS slope of
    ln(freq) on ln(rank) in closed form.  Output: one row
    ``(n_types_used, slope, intercept)`` rounded to 6."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(_ZIPF_TOP)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    pts = freq.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, sxy = F.sum(F.col("x") * F.col("x")), F.sum(F.col("x") * F.col("y"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return pts.agg(
        F.count(F.lit(1)).alias("n_types_used"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


_SQL_ZIPF_SLOPE_TOKENS = f"""
WITH freq AS (
  SELECT token, count(*) AS n
  FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE length(token) > 0
  GROUP BY token
  ORDER BY n DESC, token ASC
  LIMIT {_ZIPF_TOP}
), pts AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS DOUBLE)) AS x,
         ln(CAST(n AS DOUBLE)) AS y
  FROM freq
)
SELECT count(*) AS n_types_used,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS slope,
       round((sum(y) - (count(*) * sum(x * y) - sum(x) * sum(y))
                       / (count(*) * sum(x * x) - sum(x) * sum(x)) * sum(x))
             / count(*), 6) AS intercept
FROM pts
"""


# --------------------------------------------------------------------------
# variant_json_rollup
# --------------------------------------------------------------------------

def _q_variant_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: a JSON
    payload column (deterministically constructed, integer-cents money
    so both engines render identical strings) is parsed with
    ``parse_json`` and fields are re-extracted with typed
    ``try_variant_get`` paths, then rolled up — the
    open-schema-ingest → shredded-columns pattern.  The oracle runs the
    identical construct/extract chain on DuckDB's JSON type, so the
    whole parse→extract→aggregate path is value-checked."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"u":'),
        F.col("user_id").cast("string"),
        F.lit(',"t":"'),
        F.col("event_type"),
        F.lit('","v":'),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit("}"),
    )
    v = ev.select(F.parse_json(payload).alias("j"))
    shredded = v.select(
        F.try_variant_get(F.col("j"), "$.t", "string").alias("t"),
        F.try_variant_get(F.col("j"), "$.u", "long").alias("u"),
        F.try_variant_get(F.col("j"), "$.v", "long").alias("cents"),
    )
    return shredded.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("u").alias("n_users"),
        F.sum("cents").alias("total_cents"),
    )


_SQL_VARIANT_JSON_ROLLUP = """
WITH payload AS (
  SELECT CAST('{"u":' || user_id || ',"t":"' || event_type || '","v":'
              || CAST(round(value * 100) AS BIGINT) || '}' AS JSON) AS j
  FROM events
), shredded AS (
  SELECT json_extract_string(j, '$.t') AS t,
         CAST(json_extract(j, '$.u') AS BIGINT) AS u,
         CAST(json_extract(j, '$.v') AS BIGINT) AS cents
  FROM payload
)
SELECT t, count(*) AS n, count(DISTINCT u) AS n_users,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM shredded GROUP BY t
"""


# --------------------------------------------------------------------------
# python_datasource_rollup
# --------------------------------------------------------------------------

def _q_python_datasource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-connector path (sources/pyds.py, Spark 4 DataSource API):
    read the deterministic generator source across 8 planned input
    partitions, then a plain rollup on top — proving options, partition
    planning, per-partition iterators, and DataFrame composition over a
    user-defined source, with the generator's closed form as the exact
    oracle.  Ignores sf_dir (the source generates its own rows)."""
    from ..sources.pyds import register_synthetic_events

    register_synthetic_events(spark)
    src = (
        spark.read.format("synthetic_events")
        .option("shards", 8)
        .option("rows_per_shard", 1000)
        .load()
    )
    return src.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").alias("total_amount"),
        F.count_distinct("shard").alias("n_shards_seen"),
    )


_SQL_PYTHON_DATASOURCE_ROLLUP = """
WITH g AS (
  SELECT shard, seq, (1103515245 * (shard * 1000 + seq) + 12345) % 2147483648 AS s
  FROM (SELECT unnest(generate_series(0, 7)) AS shard)
  CROSS JOIN (SELECT unnest(generate_series(0, 999)) AS seq)
), rows_ AS (
  SELECT shard, s % 1000 AS user_id, s % 9973 AS amount FROM g
)
SELECT user_id % 10 AS bucket, count(*) AS n,
       CAST(sum(amount) AS BIGINT) AS total_amount,
       count(DISTINCT shard) AS n_shards_seen
FROM rows_ GROUP BY 1
"""


# --------------------------------------------------------------------------
# corpus_minhash_jaccard
# --------------------------------------------------------------------------

_CMJ_K = 64


def _q_corpus_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-level MinHash Jaccard — dataset-overlap estimation from
    mergeable sketches, the dataset-versioning/drift counterpart of the
    pairwise dedup queries.

    Each corpus half (doc_id parity here; two snapshots/sources in
    production) is summarized to k=64 per-family gram-hash MINIMA — a
    sketch that is tiny, persistable, and mergeable (min of mins), so
    comparing two 100 TB corpora costs two linear scans that never meet:
    the join is k rows.  Estimate = fraction of agreeing minima (an
    unbiased estimator of Jaccard); the EXACT gram-set Jaccard is
    computed beside it so the driver's oracle pins both the sketch AND
    its ground truth.  Hash family identical to minhash_lsh_pairs
    (operators/dedup.py::_minhash_mins)."""
    from ..operators.dedup import _SCRAMBLE, _scramble

    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    staged = docs.where(F.size(tokens) >= 3).select(
        F.pmod(F.col("doc_id"), F.lit(2)).alias("corpus"), tokens.alias("_toks")
    )
    grams = staged.select(
        "corpus",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 3)),
            )
        ).alias("gram"),
    )
    tid = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
    ids = grams.select("corpus", "gram", _scramble(tid).alias("s"))

    def _h(i: int):
        a_i = ((_SCRAMBLE * (2 * i + 1)) % M31) | 1
        return (F.lit(a_i).cast("bigint") * F.col("s") + 7919 * i).bitwiseAND(
            F.lit(M31 - 1)
        )

    minima = (
        ids.select(
            "corpus", F.posexplode(F.array(*[_h(i) for i in range(1, _CMJ_K + 1)])).alias("i0", "h")
        )
        .groupBy("corpus", F.col("i0").alias("i"))
        .agg(F.min("h").alias("h"))
    )
    a = minima.where(F.col("corpus") == 0).select("i", F.col("h").alias("ha"))
    b = minima.where(F.col("corpus") == 1).select("i", F.col("h").alias("hb"))
    est = a.join(b, "i").agg(
        F.round(
            F.avg((F.col("ha") == F.col("hb")).cast("int")), 6
        ).alias("est_jaccard")
    )
    flags = grams.groupBy("gram").agg(
        F.max((F.col("corpus") == 0).cast("int")).alias("in_a"),
        F.max((F.col("corpus") == 1).cast("int")).alias("in_b"),
    )
    exact = flags.agg(
        F.round(
            F.sum(F.col("in_a") * F.col("in_b")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("exact_jaccard")
    )
    return est.crossJoin(exact).select(
        F.lit(_CMJ_K).alias("k"), "est_jaccard", "exact_jaccard"
    )


_SQL_CORPUS_MINHASH_JACCARD = f"""
WITH toks AS (
  SELECT doc_id % 2 AS corpus, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT corpus, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), ids AS (
  SELECT corpus,
         ((CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483648)
          * 2654435761) % 2147483648 AS s
  FROM grams
), fam AS (
  SELECT corpus, i,
         min(((((2654435761 * (2 * i + 1)) % 2147483648) | 1) * s + 7919 * i)
             & 2147483647) AS h
  FROM ids CROSS JOIN (SELECT unnest(generate_series(1, {_CMJ_K})) AS i)
  GROUP BY 1, 2
), agree AS (
  SELECT CASE WHEN a.h = b.h THEN 1 ELSE 0 END AS eq
  FROM fam a JOIN fam b ON a.i = b.i AND a.corpus = 0 AND b.corpus = 1
), exact AS (
  SELECT round(CAST(count(*) FILTER (WHERE in_a AND in_b) AS DOUBLE)
               / count(*), 6) AS exact_jaccard
  FROM (
    SELECT gram, bool_or(corpus = 0) AS in_a, bool_or(corpus = 1) AS in_b
    FROM grams GROUP BY gram
  )
)
SELECT {_CMJ_K} AS k,
       round(CAST(sum(eq) AS DOUBLE) / count(*), 6) AS est_jaccard,
       any_value(exact_jaccard) AS exact_jaccard
FROM agree CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# k_anonymity_audit
# --------------------------------------------------------------------------

_K_ANON = 5


def _q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    gate a training-data release runs beside PII scrubbing: any
    (nation, market-segment, balance-band) group with fewer than k
    members is re-identifiable.  One hash aggregate over the
    quasi-identifier key, then the at-risk groups and their row share;
    the per-group frame is bounded by the QI-combination count, never
    corpus-sized."""
    customer = load_table(spark, sf_dir, "customer")
    qi = customer.select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000)).cast("bigint").alias("bal_band"),
    )
    groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        groups.where(F.col("group_size") < _K_ANON)
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "group_size",
        )
    )


_SQL_K_ANONYMITY_AUDIT = f"""
WITH qi AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer
), groups AS (
  SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS group_size
  FROM qi GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, bal_band, group_size
FROM groups WHERE group_size < {_K_ANON}
"""


# --------------------------------------------------------------------------
# bfs_hops_recursive_sql
# --------------------------------------------------------------------------

_RCTE_MAX_PART = 500
_RCTE_HOPS = 2


def _q_bfs_hops_recursive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability as a RECURSIVE CTE (Spark 4's WITH
    RECURSIVE) — the declarative twin of the iterative
    ``bfs_hops_part0`` (operators/graph.py::bfs_hops): the engine's
    fixed-point operator drives the frontier expansion instead of a
    driver loop.

    Spark's recursive CTEs support UNION ALL only (no dedup between
    iterations yet), so path count — not vertex count — bounds the
    work; the query therefore runs on a bounded co-purchase SUBGRAPH
    (parts < {maxp}) at {hops} hops, with the per-node min-hop dedup in
    the outer aggregate.  On an unbounded dense graph the iterative
    form with its per-round min-aggregate (bfs_hops) remains the scale
    path; this entry pins the recursive OPERATOR's semantics against
    DuckDB's WITH RECURSIVE.
    """.format(maxp=_RCTE_MAX_PART, hops=_RCTE_HOPS)
    li = load_table(spark, sf_dir, "lineitem")
    op = (
        li.where(F.col("l_partkey") < _RCTE_MAX_PART)
        .select("l_orderkey", "l_partkey")
        .dropDuplicates()
    )
    a = op.alias("a")
    b = op.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .dropDuplicates()
    )
    edges.createOrReplaceTempView("rcte_edges_v")
    return spark.sql(f"""
        WITH RECURSIVE reach(node, hops) AS (
          SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
          UNION ALL
          SELECT e.dst AS node, r.hops + 1 AS hops
          FROM reach r JOIN rcte_edges_v e ON r.node = e.src
          WHERE r.hops < {_RCTE_HOPS}
        )
        SELECT node, min(hops) AS hops FROM reach GROUP BY node
    """)


_SQL_BFS_HOPS_RECURSIVE = f"""
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey < {_RCTE_MAX_PART}
), edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
), reach(node, hops) AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
  UNION ALL
  SELECT e.dst AS node, r.hops + 1 AS hops
  FROM reach r JOIN edges e ON r.node = e.src
  WHERE r.hops < {_RCTE_HOPS}
)
SELECT node, min(hops) AS hops FROM reach GROUP BY node
"""


# --------------------------------------------------------------------------
# except_all_line_shipments
# --------------------------------------------------------------------------

def _q_except_all_line_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set difference (EXCEPT ALL) — the multiset twin of
    the existing distinct EXCEPT query: each duplicate (orderkey,
    partkey) shipment survives as many times as it appears in the
    large-quantity side MINUS its occurrences in the returned side.
    Physical shape is one aggregate-style shuffle on the compare key
    (Spark plans a left-anti-ish replicated join), not a distinct —
    which is the point: dedup must NOT happen."""
    li = load_table(spark, sf_dir, "lineitem")
    big = li.where(F.col("l_quantity") >= 25).select("l_orderkey", "l_partkey")
    ret = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    return (
        big.exceptAll(ret)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


_SQL_EXCEPT_ALL_LINE_SHIPMENTS = """
WITH kept AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 25
  EXCEPT ALL
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT l_orderkey, count(*) AS n_kept FROM kept GROUP BY 1
"""


# --------------------------------------------------------------------------
# dedup audit pack: cluster-size histogram + retention-by-threshold
# --------------------------------------------------------------------------

def _q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-SIZE distribution — the dedup-quality audit run
    before committing a dedup pass: a heavy tail of giant clusters means
    the threshold/banding is collapsing distinct content (or boilerplate
    slipped through).  Composes the oracle-checked component assignment
    (docs with ≥1 LSH pair only; singletons are the complement) into a
    two-level count: cluster → size → #clusters of that size."""
    from ..operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    assign = dedup_clusters(minhash_lsh_pairs(docs, n=3, k=32, bands=8))
    return (
        assign.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def _q_dedup_retention_by_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup retention curve: for each Jaccard threshold, how many docs
    would survive keep-lowest-id dedup — the knob-tuning table a corpus
    pipeline consults before choosing its cutoff.  Pairs are generated
    ONCE at the floor threshold; the per-threshold counts are a 5-row
    broadcast grid over the (tiny) pair table, so sweeping thresholds
    costs one pass regardless of how many cut points are evaluated."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    ths = spark.createDataFrame(
        [(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "threshold double"
    )
    removed = (
        pairs.crossJoin(F.broadcast(ths))
        .where(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count_distinct("doc_b").alias("n_removed"))
    )
    totals = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        ths.join(removed, "threshold", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            F.coalesce(F.col("n_removed"), F.lit(0).cast("bigint")).alias("n_removed"),
            F.round(
                1.0
                - F.coalesce(F.col("n_removed"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("retention_frac"),
        )
    )


_SQL_DEDUP_RETENTION_BY_THRESHOLD = f"""
WITH {TRIGRAM_CTES}, dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jacc AS (
  SELECT doc_b,
         round(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6)
           AS jaccard
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6)
        >= 0.5
), ths(threshold) AS (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)),
removed AS (
  SELECT threshold, count(DISTINCT doc_b) AS n_removed
  FROM jacc JOIN ths ON jaccard >= threshold
  GROUP BY threshold
), totals AS (SELECT count(*) AS n_docs FROM documents)
-- threshold is a VALUES literal => DECIMAL(2,1) in DuckDB while Spark
-- emits DOUBLE; the r11 oracle-type lint hard-fails decimal-vs-double
-- final projections (driver-parity), so cast explicitly.
SELECT CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       round(1.0 - CAST(coalesce(r.n_removed, 0) AS DOUBLE)
                   / CAST(n_docs AS DOUBLE), 6) AS retention_frac
FROM ths t LEFT JOIN removed r ON t.threshold = r.threshold
CROSS JOIN totals
"""


def _q_intersect_all_line_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics intersection (INTERSECT ALL): each (orderkey,
    partkey) pair survives min(occurrences on each side) times —
    completes the multiset family beside EXCEPT ALL."""
    li = load_table(spark, sf_dir, "lineitem")
    big = li.where(F.col("l_quantity") >= 25).select("l_orderkey", "l_partkey")
    ret = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")
    return (
        big.intersectAll(ret)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


_SQL_INTERSECT_ALL_LINE_SHIPMENTS = """
WITH common AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 25
  INTERSECT ALL
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT l_orderkey, count(*) AS n_common FROM common GROUP BY 1
"""


# --------------------------------------------------------------------------
# cdc_apply_with_deletes
# --------------------------------------------------------------------------

def _q_cdc_apply_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC APPLY over an I/U/D change log — extends the
    update/insert-only merge_upsert_orders with the delete action.

    The change log is synthesized deterministically from events: each
    (user, op) row carries a sequence number; the apply rule is
    latest-wins per key, then rows whose final op is 'D' vanish.  One
    window over (key ORDER BY seq DESC) + filter — the log is shuffled
    on the key once and the base never re-read per change; at 100 TB
    the log is tiny next to the table and the apply is O(log).
    Output: surviving (user_id, last_op, last_value, n_changes).
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    sel = F.pmod(F.unix_micros("ts"), F.lit(8))
    log = ev.select(
        "user_id",
        F.unix_micros("ts").alias("seq"),
        # deterministic op from the timestamp: ~1/8 deletes, rest I/U
        # (engine-portable arithmetic, no Spark-internal hash)
        F.when(sel == 0, F.lit("D"))
        .when(sel < 4, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.round(F.col("value").cast("decimal(18,4)"), 4).alias("value"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("seq").desc(), F.col("value").desc(), F.col("op").desc()
    )  # value/op tiebreak: same-microsecond events pick deterministically
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .where(F.col("rn") == 1)
    )
    return latest.where(F.col("op") != "D").select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("value").cast("double").alias("last_value"),
        "n_changes",
    )


_SQL_CDC_APPLY_WITH_DELETES = """
WITH log AS (
  SELECT user_id, epoch_us(ts) AS seq,
         CASE WHEN epoch_us(ts) % 8 = 0 THEN 'D'
              WHEN epoch_us(ts) % 8 < 4 THEN 'U' ELSE 'I' END AS op,
         round(CAST(value AS DECIMAL(18,4)), 4) AS value
  FROM events
), latest AS (
  SELECT user_id, op, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY seq DESC, value DESC, op DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM log
)
SELECT user_id, op AS last_op, CAST(value AS DOUBLE) AS last_value,
       CAST(n_changes AS BIGINT) AS n_changes
FROM latest WHERE rn = 1 AND op <> 'D'
"""


# --------------------------------------------------------------------------
# lateral_topk_parts
# --------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT b.p_brand AS brand, top.p_partkey AS partkey, top.price
FROM (SELECT DISTINCT p_brand FROM part) b,
LATERAL (
  SELECT p_partkey, round(CAST(p_retailprice AS DOUBLE), 2) AS price
  FROM part p
  WHERE p.p_brand = b.p_brand
  ORDER BY p_retailprice DESC, p_partkey ASC
  LIMIT 2
) top
"""


def _q_lateral_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 parts per brand via a correlated LATERAL subquery — the
    SQL-completeness twin of the window-based ``topk_parts_per_brand``:
    Spark 4 decorrelates the per-group ORDER BY/LIMIT into a ranked
    window under the hood, so the declarative form costs the same plan
    as the hand-written one (both verified against the same oracle
    shape).  One shared SQL string runs verbatim on both engines."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, only=["part"])
    return spark.sql(_LATERAL_SQL)


def _sql_dedup_cluster_size_histogram() -> str:
    # the recursive component-assignment oracle wrapped as a subquery
    return f"""
SELECT size, count(*) AS n_clusters FROM (
  SELECT cluster_id, count(*) AS size FROM (
{SQL_DEDUP_CLUSTER_ASSIGN}
  ) GROUP BY cluster_id
) GROUP BY size
"""


# --------------------------------------------------------------------------
# source_capped_sample
# --------------------------------------------------------------------------

_SOURCE_CAP = 10


def _q_source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document CAP — the mixture-hygiene op that stops one
    over-crawled source from dominating a training mix (distinct from
    proportional stratified sampling: a hard ceiling, not a rate).
    Selection is deterministic: within each source, docs rank by
    md5(doc_id) — an unbiased pseudo-random order both engines compute
    identically — and the first N survive.  Output: per-source kept
    counts + the kept doc_id checksum (order-insensitive)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    kept = (
        docs.select("source", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SOURCE_CAP)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("kept_id_checksum"),
    )


_SQL_SOURCE_CAPPED_SAMPLE = f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC) AS rn
  FROM documents
)
SELECT source, count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS kept_id_checksum
FROM ranked WHERE rn <= {_SOURCE_CAP}
GROUP BY source
"""


# --------------------------------------------------------------------------
# ols_slope_by_segment
# --------------------------------------------------------------------------

def _q_ols_slope_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment value-vs-time OLS trend — grouped closed-form
    regression (many small fits in ONE aggregate pass, the grouped
    counterpart of the corpus-level corr_price_quantity): slope =
    (nΣtv − ΣtΣv)/(nΣtt − (Σt)²) per market segment, sums through
    decimal so both engines add in any order.  One broadcast dim join +
    one hash aggregate; no per-group iteration anywhere."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    pts = ev.join(F.broadcast(cust), "user_id").select(
        "c_mktsegment",
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("t"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    n = F.count(F.lit(1)).cast("double")
    st = F.sum("t").cast("double")
    sv = F.sum("v").cast("double")
    stt = F.sum(F.col("t") * F.col("t")).cast("double")
    stv = F.sum(F.col("t").cast("decimal(18,0)") * F.col("v")).cast("double")
    return pts.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round((n * stv - st * sv) / (n * stt - st * st), 6).alias("slope_per_day"),
    )


_SQL_OLS_SLOPE_BY_SEGMENT = """
WITH pts AS (
  SELECT c.c_mktsegment,
         epoch_us(ts) // 86400000000 AS t,
         CAST(value AS DECIMAL(18,4)) AS v
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
)
SELECT c_mktsegment, count(*) AS n_points,
       round((count(*) * CAST(sum(CAST(t AS DECIMAL(18,0)) * v) AS DOUBLE)
              - CAST(sum(t) AS DOUBLE) * CAST(sum(v) AS DOUBLE))
             / (count(*) * CAST(sum(t * t) AS DOUBLE)
                - CAST(sum(t) AS DOUBLE) * CAST(sum(t) AS DOUBLE)), 6)
         AS slope_per_day
FROM pts GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# median_confidence_interval
# --------------------------------------------------------------------------

def _q_median_confidence_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% CI for the median via order statistics —
    the uncertainty quantification most "exact quantile" pipelines skip:
    the binomial normal approximation puts the CI at order statistics
    k_lo = floor((n − z√n)/2) and k_hi = ceil((n + z√n)/2) + 1 (z =
    1.959964), valid for ANY distribution.  The ranks come from the
    two-phase distributed scan (no single-task global window); the three
    order statistics are filtered by rank, never sorted globally."""
    from ..operators.prefix_sum import global_row_number

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice").cast("double"), 2).alias("price"),
    )
    ranked = global_row_number(
        orders, [F.col("price"), F.col("k")], n_col="n"
    )
    z = 1.959964
    k_med = (F.col("n") + 1).cast("double") / 2.0
    k_lo = F.floor((F.col("n") - z * F.sqrt(F.col("n").cast("double"))) / 2.0)
    k_hi = F.ceil((F.col("n") + z * F.sqrt(F.col("n").cast("double"))) / 2.0) + 1
    picked = ranked.select(
        "price",
        "rn",
        "n",
        F.when(F.col("rn") == k_lo, F.lit("lo"))
        .when(F.col("rn") == F.floor(k_med), F.lit("med"))
        .when(F.col("rn") == k_hi, F.lit("hi"))
        .alias("which"),
    ).where(F.col("which").isNotNull())
    return picked.groupBy("n").agg(
        F.round(F.min(F.when(F.col("which") == "lo", F.col("price"))), 2).alias("ci_lo"),
        F.round(F.min(F.when(F.col("which") == "med", F.col("price"))), 2).alias("median"),
        F.round(F.min(F.when(F.col("which") == "hi", F.col("price"))), 2).alias("ci_hi"),
    )


_SQL_MEDIAN_CONFIDENCE_INTERVAL = """
WITH ranked AS (
  SELECT round(CAST(o_totalprice AS DOUBLE), 2) AS price,
         row_number() OVER (ORDER BY round(CAST(o_totalprice AS DOUBLE), 2),
                            o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM orders
), picked AS (
  SELECT n, price,
         CASE WHEN rn = floor((n - 1.959964 * sqrt(n)) / 2.0) THEN 'lo'
              WHEN rn = floor((n + 1) / 2.0) THEN 'med'
              WHEN rn = ceil((n + 1.959964 * sqrt(n)) / 2.0) + 1 THEN 'hi'
         END AS which
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       round(min(CASE WHEN which = 'lo' THEN price END), 2) AS ci_lo,
       round(min(CASE WHEN which = 'med' THEN price END), 2) AS median,
       round(min(CASE WHEN which = 'hi' THEN price END), 2) AS ci_hi
FROM picked WHERE which IS NOT NULL
GROUP BY n
"""


# --------------------------------------------------------------------------
# label_noise_candidates
# --------------------------------------------------------------------------

def _q_label_noise_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise mining (confident-learning-lite): samples whose kNN
    majority vote disagrees with their OWN label, ranked by vote margin
    — the review queue a training pipeline builds before trusting
    labels.  Composes the oracle-checked kNN vote layer
    (operators/similarity.py::knn_label_vote) with one label join."""
    from ..operators.similarity import knn_label_vote

    emb = load_table(spark, sf_dir, "embeddings")
    votes = knn_label_vote(emb, n_queries=50, k=5)
    own = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("own_label"))
    return (
        votes.join(own, "query_id")
        .where(F.col("pred_label") != F.col("own_label"))
        .select("query_id", "own_label", "pred_label", F.col("votes").alias("disagree_votes"))
    )


def _sql_label_noise_candidates() -> str:
    return SQL_KNN_VOTES_BODY + """
, pred AS (
  SELECT query_id, label AS pred_label, votes
  FROM votes
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY votes DESC, label ASC) = 1
)
SELECT p.query_id, e.label AS own_label, p.pred_label,
       p.votes AS disagree_votes
FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
WHERE p.pred_label <> e.label
"""


SPECS: dict[str, QuerySpec] = {
    "ols_slope_by_segment": QuerySpec(
        _q_ols_slope_by_segment,
        _SQL_OLS_SLOPE_BY_SEGMENT,
        "grouped closed-form OLS trend per market segment (many small "
        "fits in one aggregate pass, decimal-exact sums)",
    ),
    "median_confidence_interval": QuerySpec(
        _q_median_confidence_interval,
        _SQL_MEDIAN_CONFIDENCE_INTERVAL,
        "distribution-free 95% CI for the median via binomial order "
        "statistics (two-phase global rank, no full sort)",
    ),
    "label_noise_candidates": QuerySpec(
        _q_label_noise_candidates,
        _sql_label_noise_candidates(),
        "label-noise mining: kNN-vote/own-label disagreements (the review "
        "queue built before trusting labels) over the oracle-checked vote "
        "layer",
    ),
    "cdc_apply_with_deletes": QuerySpec(
        _q_cdc_apply_with_deletes,
        _SQL_CDC_APPLY_WITH_DELETES,
        "full CDC apply (I/U/D, latest-wins then delete-filter) - the "
        "delete-aware completion of merge_upsert_orders",
    ),
    "source_capped_sample": QuerySpec(
        _q_source_capped_sample,
        _SQL_SOURCE_CAPPED_SAMPLE,
        "hard per-source document cap via deterministic md5-order ranking "
        "(mixture over-representation control)",
    ),
    "lateral_topk_parts": QuerySpec(
        _q_lateral_topk_parts,
        _LATERAL_SQL,
        "correlated LATERAL subquery top-2 per brand (Spark 4 lateral "
        "decorrelation) - one SQL string shared verbatim with the oracle",
    ),
    "dedup_cluster_size_histogram": QuerySpec(
        _q_dedup_cluster_size_histogram,
        _sql_dedup_cluster_size_histogram(),
        "near-dup cluster-size distribution (dedup-quality audit over the "
        "oracle-checked component assignment)",
    ),
    "dedup_retention_by_threshold": QuerySpec(
        _q_dedup_retention_by_threshold,
        _SQL_DEDUP_RETENTION_BY_THRESHOLD,
        "dedup retention curve: survivors per Jaccard cutoff from ONE pair "
        "pass + a 5-row threshold grid (keep-lowest-id rule)",
    ),
    "intersect_all_line_shipments": QuerySpec(
        _q_intersect_all_line_shipments,
        _SQL_INTERSECT_ALL_LINE_SHIPMENTS,
        "INTERSECT ALL multiset intersection (bag semantics) - the "
        "min-multiplicity twin of except_all_line_shipments",
    ),
    "except_all_line_shipments": QuerySpec(
        _q_except_all_line_shipments,
        _SQL_EXCEPT_ALL_LINE_SHIPMENTS,
        "EXCEPT ALL multiset difference (bag semantics, no dedup) - "
        "completes the set-operator family beside the distinct forms",
    ),
    "bfs_hops_recursive_sql": QuerySpec(
        _q_bfs_hops_recursive_sql,
        _SQL_BFS_HOPS_RECURSIVE,
        "WITH RECURSIVE reachability (Spark 4 recursive CTE) on a bounded "
        "co-purchase subgraph - declarative twin of the iterative bfs_hops",
    ),
    "k_anonymity_audit": QuerySpec(
        _q_k_anonymity_audit,
        _SQL_K_ANONYMITY_AUDIT,
        "k-anonymity audit (k=5) over a quasi-identifier tuple: one hash "
        "aggregate, at-risk groups only - the privacy gate beside pii_scrub",
    ),
    "corpus_minhash_jaccard": QuerySpec(
        _q_corpus_minhash_jaccard,
        _SQL_CORPUS_MINHASH_JACCARD,
        "corpus-level MinHash Jaccard: two mergeable k=64 min-sketches "
        "compared in k rows (dataset-overlap/drift), exact gram-set "
        "Jaccard pinned beside the estimate",
    ),
    "python_datasource_rollup": QuerySpec(
        _q_python_datasource_rollup,
        _SQL_PYTHON_DATASOURCE_ROLLUP,
        "custom Python DataSource (8 planned input partitions, "
        "deterministic LCG generator) -> rollup; the connector "
        "extension point with a closed-form exact oracle",
    ),
    "variant_json_rollup": QuerySpec(
        _q_variant_json_rollup,
        _SQL_VARIANT_JSON_ROLLUP,
        "semi-structured VARIANT path: parse_json -> typed "
        "try_variant_get extraction -> rollup, value-checked end to end "
        "against DuckDB's JSON type",
    ),
    "zipf_slope_tokens": QuerySpec(
        _q_zipf_slope_tokens,
        _SQL_ZIPF_SLOPE_TOKENS,
        "Zipf rank-frequency OLS slope over the top-40 vocabulary: "
        "limit-before-rank-window, closed-form regression on the tiny "
        "frequency frame",
    ),
    "full_outer_balance": QuerySpec(
        _q_full_outer_balance,
        _SQL_FULL_OUTER_BALANCE,
        "FULL OUTER reconciliation of asymmetric customer sets: coalesced "
        "key, presence flags, null-safe measures",
    ),
    "daily_value_acf": QuerySpec(
        _q_daily_value_acf,
        _SQL_DAILY_VALUE_ACF,
        "autocorrelation of the daily value series at lags 1..7: per-day "
        "decimal-exact aggregate, lag self-join on the tiny day frame, "
        "closed-form Pearson r",
    ),
    "cms_heavy_users": QuerySpec(
        _q_cms_heavy_users,
        _SQL_CMS_HEAVY_USERS,
        "count-min sketch with deterministic LCG family: per-day counter "
        "tables merged by addition (re-aggregable like hll_distinct_rollup), "
        "min-over-rows estimates for the true top-10 — exact oracle, "
        "est>=true bound pinned in tests",
    ),
}
