"""Round-9 time-series motif-discovery pack: the exact matrix profile
and SAX symbolization over the daily revenue series — the one classical
time-series-mining family the catalog did not yet cover.

* ``matrix_profile_daily`` — the EXACT matrix profile (Yeh et al.,
  "Matrix Profile I", ICDM 2016) of the observed-day revenue series
  with subsequence length w=7 and a full non-overlap exclusion zone
  (|i−j| ≥ w): for every length-7 window, the z-normalized Euclidean
  distance to its nearest non-overlapping neighbor plus that
  neighbor's index.  Low profile values are motifs (recurring weekly
  shapes), high values are discords (anomalous weeks).  The numeric
  core is EXACT-INTEGER: daily revenue is rounded to whole dollars
  (from exact cent sums), and each pair's dot product / window sums /
  sums-of-squares are decimal(38,0)/HUGEINT integers, so the only
  float ops are the final correlation divide, 2w(1−ρ), and sqrt —
  identical IEEE sequences in both engines.  Pearson-to-distance
  identity: d² = 2w(1 − (w·dot − SᵢSⱼ)/(√(w·Qᵢ−Sᵢ²)·√(w·Qⱼ−Sⱼ²))).
  Nearest neighbor is min(struct(d², j)) — deterministic tie-break on
  the smaller index.  Zero-variance (constant) windows are excluded on
  both sides before pairing (ρ undefined).
* ``sax_motif_words`` — SAX symbolization (Lin, Keogh, Lonardi & Chiu,
  DMKD 2007) of the same series in $1000 units: global z-score from
  exact integer (S, Q, n), alphabet size 4 with the standard Gaussian
  quartile breakpoints ±0.6745, one symbol per day, one word per
  consecutive 7-day block, then the recurring words (count ≥ 2) — the
  discrete motif vocabulary of the series.

100-TB shape: both queries collapse the fact scan to the CALENDAR-DAY
frame (≤ 2,406 rows at any corpus size — the repo's standing bounded-
window exemption) before any pairing; the all-pairs join is day-frame
× day-frame (≤ ~5.8M pairs, corpus-size-independent) with the small
side broadcast, and the global row_number/lead windows run on that
bounded frame, never on data rows.  The only data-sized work is the
first groupBy(day) — one hash aggregate with map-side partials.

Identity properties (tests/test_properties.py): the integer-core
distance formula is pinned against a pure-Python z-normalized
Euclidean distance on a planted-motif series (planted identical weeks
→ profile 0 at exactly the planted indices), and the SAX symbols are
pinned against a pure-Python quantizer with the same breakpoints.

No reference counterpart (engine extension alongside
plans/round8_ts.py's SPC family); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import daily_dollars

#: subsequence (window) length in days
MP_W = 7
#: SAX alphabet-4 Gaussian quartile breakpoints (N(0,1) 25/50/75%)
SAX_BREAKS = (-0.6745, 0.0, 0.6745)
#: SAX word length in days (one word per consecutive block)
SAX_WORD = 7


def _daily_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed-day revenue in WHOLE DOLLARS (exact: cent sums then
    round-half-up), with a dense 1-based day index.  The row_number
    runs on the calendar-day frame (≤ 2,406 rows — allowlisted)."""
    day = daily_dollars(spark, sf_dir, "v")
    return day.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "day", "v"
    )


def _window_stats(daily: DataFrame) -> DataFrame:
    """Per-window frame: start index/day, the 7 values as explicit
    columns (JVM codegen, no arrays), S = Σv and Q = Σv² as
    decimal(38,0) (exact at any SF), variance numerator w·Q − S²."""
    w = Window.orderBy("i")
    vcols = [F.lead("v", k).over(w).alias(f"v{k}") for k in range(MP_W)]
    wins = daily.select("i", "day", *vcols).where(
        F.col(f"v{MP_W - 1}").isNotNull()
    )
    dec = [F.col(f"v{k}").cast("decimal(38,0)") for k in range(MP_W)]
    s = dec[0]
    for c in dec[1:]:
        s = s + c
    q = dec[0] * dec[0]
    for c in dec[1:]:
        q = q + c * c
    out = wins.select(
        "i",
        "day",
        *[f"v{k}" for k in range(MP_W)],
        s.alias("s"),
        q.alias("q"),
    )
    return out.withColumn(
        "varn", F.lit(MP_W).cast("decimal(38,0)") * F.col("q") - F.col("s") * F.col("s")
    ).where(F.col("varn") > 0)


def _q_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the window-stats frame feeds BOTH sides of the exclusion-zone
    # self-join — cache it so the fact scan runs once
    stats = tracked_cache(_window_stats(_daily_dollars(spark, sf_dir)))
    # the day frame arrives in ONE partition (global row_number) —
    # spread the PROBE side so the ~2.9M-pair nested loop and its
    # per-pair arithmetic run on every core instead of one task
    a = stats.repartition(spark.sparkContext.defaultParallelism, "i").alias(
        "a"
    )
    b = stats.alias("b")
    dot = F.col("a.v0").cast("decimal(38,0)") * F.col("b.v0")
    for k in range(1, MP_W):
        dot = dot + F.col(f"a.v{k}").cast("decimal(38,0)") * F.col(f"b.v{k}")
    num = F.lit(MP_W).cast("decimal(38,0)") * dot - F.col("a.s") * F.col("b.s")
    corr = num.cast("double") / (
        F.sqrt(F.col("a.varn").cast("double"))
        * F.sqrt(F.col("b.varn").cast("double"))
    )
    dsq = F.lit(2.0 * MP_W) * (F.lit(1.0) - corr)
    # non-overlap exclusion zone: BNLJ on the bounded day frame (the
    # small side broadcasts; ≤ ~2.9M ordered pairs at ANY corpus
    # size).  d(i,j) = d(j,i), so each pair is evaluated ONCE
    # (j ≥ i + w) and both orientations are recovered by a union
    # before the per-window min — half the nested-loop work.
    pairs = a.join(
        F.broadcast(b),
        F.col("b.i") - F.col("a.i") >= F.lit(MP_W),
    ).select(
        F.col("a.i").alias("i"),
        F.col("a.day").alias("iday"),
        F.col("b.i").alias("j"),
        F.col("b.day").alias("jday"),
        dsq.alias("dsq"),
    )
    sym = pairs.select(
        "i", F.col("iday").alias("day"), "dsq", "j"
    ).unionByName(
        pairs.select(
            F.col("j").alias("i"),
            F.col("jday").alias("day"),
            "dsq",
            F.col("i").alias("j"),
        )
    )
    mp = sym.groupBy("i", "day").agg(
        F.min(F.struct(F.col("dsq"), F.col("j"))).alias("m")
    )
    return mp.select(
        F.col("i").alias("win_idx"),
        F.date_format("day", "yyyy-MM-dd").alias("win_day"),
        F.col("m.j").alias("nn_idx"),
        F.round(
            F.sqrt(F.greatest(F.col("m.dsq"), F.lit(0.0))), 4
        ).alias("dist_z"),
    ).orderBy("win_idx")


def _sql_daily_cte() -> str:
    return f"""
WITH daily AS MATERIALIZED (
  SELECT day,
         CAST(floor(sum(yc) / 100.0 + 0.5) AS BIGINT) AS v
  FROM (SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders)
  GROUP BY day
), idxd AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS i, day, v FROM daily
)"""


_V_SUM = " + ".join(f"CAST(v{k} AS HUGEINT)" for k in range(MP_W))
_Q_SUM = " + ".join(
    f"CAST(v{k} AS HUGEINT) * CAST(v{k} AS HUGEINT)" for k in range(MP_W)
)
_DOT = " + ".join(
    f"CAST(a.v{k} AS HUGEINT) * CAST(b.v{k} AS HUGEINT)" for k in range(MP_W)
)
_LEADS = ",\n         ".join(
    f"lead(v, {k}) OVER (ORDER BY i) AS v{k}" for k in range(1, MP_W)
)

_SQL_MATRIX_PROFILE_DAILY = (
    _sql_daily_cte()
    + f""", wins AS MATERIALIZED (
  SELECT i, day, v AS v0,
         {_LEADS}
  FROM idxd
), stats AS MATERIALIZED (
  SELECT i, day, {', '.join(f'v{k}' for k in range(MP_W))},
         ({_V_SUM}) AS s,
         ({_Q_SUM}) AS q
  FROM wins WHERE v{MP_W - 1} IS NOT NULL
), good AS MATERIALIZED (
  SELECT *, {MP_W} * q - s * s AS varn FROM stats
  WHERE {MP_W} * q - s * s > 0
), pairs AS MATERIALIZED (
  SELECT a.i AS i, a.day AS iday, b.i AS j, b.day AS jday,
         {2.0 * MP_W} * (1.0 -
           CAST({MP_W} * ({_DOT}) - a.s * b.s AS DOUBLE)
           / (sqrt(CAST(a.varn AS DOUBLE)) * sqrt(CAST(b.varn AS DOUBLE)))
         ) AS dsq
  FROM good a JOIN good b ON b.i - a.i >= {MP_W}
), sym AS (
  SELECT i, iday AS day, dsq, j FROM pairs
  UNION ALL
  SELECT j AS i, jday AS day, dsq, i AS j FROM pairs
), mp AS (
  SELECT i, day, min(struct_pack(dsq := dsq, j := j)) AS m
  FROM sym GROUP BY i, day
)
SELECT i AS win_idx, strftime(day, '%Y-%m-%d') AS win_day,
       (m).j AS nn_idx,
       round(sqrt(greatest((m).dsq, 0.0)), 4) AS dist_z
FROM mp
ORDER BY win_idx
"""
)


# --------------------------------------------------------------------------
# SAX symbolization
# --------------------------------------------------------------------------


def _q_sax_motif_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # $1000 units so n·Q − S² stays far inside decimal(38,0) at any SF
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(
            F.floor(F.sum("yc") / F.lit(1e5) + F.lit(0.5))
            .cast("bigint")
            .alias("v")
        )
    )
    # the indexed day frame feeds the global-moments aggregate AND the
    # per-day z-score — cache it so the fact scan runs once
    idxd = tracked_cache(
        day.select(F.row_number().over(Window.orderBy("day")).alias("i"), "v")
    )
    glob = idxd.agg(
        F.sum(F.col("v").cast("decimal(38,0)")).alias("gs"),
        F.sum(
            F.col("v").cast("decimal(38,0)") * F.col("v").cast("decimal(38,0)")
        ).alias("gq"),
        F.count(F.lit(1)).alias("gn"),
    )
    z = (
        F.col("v").cast("double")
        - F.col("gs").cast("double") / F.col("gn").cast("double")
    ) / (
        F.sqrt(
            (
                F.col("gn").cast("decimal(38,0)") * F.col("gq")
                - F.col("gs") * F.col("gs")
            ).cast("double")
        )
        / F.col("gn").cast("double")
    )
    b1, b2, b3 = SAX_BREAKS
    sym = (
        F.when(z < F.lit(b1), F.lit("a"))
        .when(z < F.lit(b2), F.lit("b"))
        .when(z < F.lit(b3), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    symd = idxd.crossJoin(F.broadcast(glob)).select(
        "i",
        ((F.col("i") - 1) / SAX_WORD).cast("bigint").alias("blk"),
        sym.alias("sym"),
    )
    words = (
        symd.groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "sym"))),
                    lambda s: s["sym"],
                ),
                "",
            ).alias("word"),
        )
        .where(F.col("nd") == SAX_WORD)
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_blocks"), F.min("blk").alias("first_blk"))
        .where(F.col("n_blocks") >= 2)
        .orderBy(F.desc("n_blocks"), "word")
    )


_SQL_SAX_MOTIF_WORDS = f"""
WITH daily AS MATERIALIZED (
  SELECT day,
         CAST(floor(sum(yc) / 1e5 + 0.5) AS BIGINT) AS v
  FROM (SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders)
  GROUP BY day
), idxd AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS i, v FROM daily
), gstats AS MATERIALIZED (
  SELECT sum(CAST(v AS HUGEINT)) AS gs,
         sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS gq,
         count(*) AS gn
  FROM idxd
), symd AS MATERIALIZED (
  SELECT i, CAST((i - 1) // {SAX_WORD} AS BIGINT) AS blk,
         CASE
           WHEN z < {SAX_BREAKS[0]} THEN 'a'
           WHEN z < {SAX_BREAKS[1]} THEN 'b'
           WHEN z < {SAX_BREAKS[2]} THEN 'c'
           ELSE 'd'
         END AS sym
  FROM (
    SELECT i,
           (CAST(v AS DOUBLE) - CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))
           / (sqrt(CAST(gn * gq - gs * gs AS DOUBLE)) / CAST(gn AS DOUBLE))
             AS z
    FROM idxd, gstats
  )
), words AS (
  SELECT blk, count(*) AS nd, string_agg(sym, '' ORDER BY i) AS word
  FROM symd GROUP BY blk
)
SELECT word, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(min(blk) AS BIGINT) AS first_blk
FROM words WHERE nd = {SAX_WORD}
GROUP BY word HAVING count(*) >= 2
ORDER BY n_blocks DESC, word
"""


SPECS: dict[str, QuerySpec] = {
    "matrix_profile_daily": QuerySpec(
        _q_matrix_profile_daily,
        _SQL_MATRIX_PROFILE_DAILY,
        "exact matrix profile of the daily revenue series (w=7, "
        "non-overlap exclusion zone): z-normalized nearest-neighbor "
        "distance + neighbor index per window, exact-integer core "
        "(motifs = minima, discords = maxima)",
    ),
    "sax_motif_words": QuerySpec(
        _q_sax_motif_words,
        _SQL_SAX_MOTIF_WORDS,
        "SAX symbolization of the daily revenue series (alphabet 4, "
        "Gaussian quartile breakpoints, 7-day words): recurring words "
        "(count >= 2) as the discrete motif vocabulary",
    ),
}
