"""Event-time streaming transformations (batch/stream polymorphic).

Every transformation here takes a DataFrame that may be either a batch
frame (``spark.read.parquet``) or a streaming frame
(``spark.readStream``) and declares the SAME logical plan for both —
Catalyst picks the incremental physical plan when the source is
streaming.  That is the whole design: the batch form is the
DuckDB-oracle-checkable semantics (wired into ``plans/catalog.py``), the
streaming form is the production path, and tests assert they agree
row-for-row under ``Trigger.AvailableNow``.

No reference counterpart exists (SURVEY.md §2.10: "Streaming … none —
batch only"); semantics follow ``operators/sessions.py``.

Scale notes (100 TB / continuous ingest):

* Watermarks bound state: without ``withWatermark`` a windowed streaming
  aggregation keeps every window forever.  The default 10-minute
  watermark here is a policy knob, not a magic number.
* ``session_window`` state is per (user, open session) — skewed users
  produce long sessions, not big state, because the aggregation is
  merge-on-overlap.
* Streaming dedup state is bounded by the watermark horizon
  (``dropDuplicatesWithinWatermark``), i.e. O(events within horizon),
  not O(all history).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Explicit schema for the file-stream source — streaming sources cannot
#: infer schemas, and schema-on-read is a batch-only convenience anyway.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DEFAULT_WATERMARK = "10 minutes"


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    ``maxFilesPerTrigger`` paces replays/backfills; production would
    point this at the landing path an ingest job appends to.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def _with_watermark(events: DataFrame, watermark: str | None) -> DataFrame:
    # withWatermark is legal (and a no-op) on batch frames, so the same
    # code path serves both; None skips it for pure-batch callers.
    return events.withWatermark("ts", watermark) if watermark else events


def _window_event_totals(
    events: DataFrame, win: Column, watermark: str | None
) -> DataFrame:
    """Event count and rounded value sum per event-time window
    ``win`` × event_type, keyed by window start (epoch micros)."""
    return (
        _with_watermark(events, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_window_counts(
    events: DataFrame,
    minutes: int = 60,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Tumbling event-time windows × event_type; late rows beyond the
    watermark are dropped (stream) / included (batch — batch has no
    lateness)."""
    win = F.window("ts", f"{minutes} minutes")
    return _window_event_totals(events, win, watermark)


def sliding_window_agg(
    events: DataFrame,
    length_minutes: int = 60,
    slide_minutes: int = 30,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Sliding (overlapping) event-time windows × event_type.

    Each event lands in ``length/slide`` windows; Spark expands the
    row internally (no self-join).  Output keyed by window start.
    """
    win = F.window("ts", f"{length_minutes} minutes", f"{slide_minutes} minutes")
    return _window_event_totals(events, win, watermark)


def session_window_agg(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Gap-based session windows per user via ``session_window`` —
    the built-in merge-on-overlap form of ``operators/sessions.py``'s
    lag/running-sum sessionization.

    Boundary semantics: an event exactly ``gap`` after its predecessor
    starts a NEW session (windows ``[t, t+gap)`` are half-open), which
    matches ``sessionize``'s ``next - prev > gap`` test only for
    ``next - prev != gap`` — the catalog oracle mirrors the half-open
    rule exactly.
    """
    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        _with_watermark(events, watermark)
        .groupBy(sw.alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Exactly-once event stream by ``event_id`` with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it — O(horizon) state, unlike ``dropDuplicates``
    on a stream which retains all keys forever.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def segment_activity(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: events joined to the (static) customer
    dimension, aggregated per market segment.

    The static side is broadcast — in a stream this re-reads the
    dimension per micro-batch (picking up dim updates for free) and
    never shuffles the stream.  Unmatched users fall into 'unknown'
    rather than being dropped, so the aggregate still accounts for every
    event.

    Output: ``(segment, n_events, sum_value)``.
    """
    seg = customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        events.join(F.broadcast(seg), "user_id", "left")
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("unknown")).alias("segment")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
    )


def materialize_segment_activity(
    stream_events: DataFrame, customer: DataFrame, path: str
):
    """foreachBatch materialized-view maintenance: the complete-mode
    aggregate is overwritten to parquet every micro-batch.

    Complete-mode output IS the full aggregate, so the overwrite is
    idempotent — a replayed batch rewrites the same table, which is the
    exactly-once story without a transactional table format.  Returns
    the un-started writer (caller adds checkpoint + start).
    """
    agg = segment_activity(stream_events, customer)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(path)

    return agg.writeStream.outputMode("complete").foreachBatch(_write)


def _view_click_join(
    events: DataFrame, watermark: str | None, horizon_minutes: int, how: str
) -> DataFrame:
    """Views ``(v_user, view_id, view_ts)`` joined (``how``) to the same
    user's clicks ``(c_user, click_id, click_ts)`` that follow within
    ``horizon_minutes``; both sides carry the watermark."""
    v = _with_watermark(events.where(F.col("event_type") == "view"), watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = _with_watermark(events.where(F.col("event_type") == "click"), watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return v.join(
        c,
        F.expr(
            f"""v_user = c_user
                AND click_ts > view_ts
                AND click_ts <= view_ts + interval {horizon_minutes} minutes"""
        ),
        how,
    )


def clicks_after_views(
    events: DataFrame,
    horizon_minutes: int = 10,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click matched to the same
    user's views in the preceding ``horizon_minutes``.

    Both sides carry a watermark and the join has a two-sided time
    constraint — that pair is what lets Spark bound join state (a side's
    row is dropped once no future match can exist) instead of keeping
    the full history.  The watermark must exceed the join horizon or
    matches get evicted early; 2h is deliberately generous next to the
    10-minute horizon.  Same plan runs batch (watermark is a no-op) for
    the DuckDB oracle.

    Output: ``(user_id, view_id, click_id, gap_s)``.
    """
    joined = _view_click_join(events, watermark, horizon_minutes, "inner")
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        ((F.unix_micros("click_ts") - F.unix_micros("view_ts")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("gap_s"),
    )


def value_bucket_shares(
    events: DataFrame, n_buckets: int = 10, width: float = 10.0
) -> DataFrame:
    """Fixed-width bucket shares of ``value`` — the distribution
    snapshot both sides of the drift monitor use (fixed edges, so the
    reference never needs re-sorting; see plans/drift.py for the same
    design choice).  0.5 Laplace smoothing keeps empty buckets finite.
    Output: (bucket, share) for every bucket 0..n_buckets-1."""
    spark = events.sparkSession
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / width), F.lit(0)), F.lit(n_buckets - 1)
    ).cast("int")
    counts = events.select(bucket.alias("bucket")).groupBy("bucket").count()
    all_buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    w = Window.orderBy(F.lit(1))
    return (
        all_buckets.join(counts, "bucket", "left")
        .select(
            "bucket", (F.coalesce(F.col("count"), F.lit(0)) + F.lit(0.5)).alias("n")
        )
        .select("bucket", (F.col("n") / F.sum("n").over(w)).alias("share"))
    )


def monitor_value_drift(
    stream_events: DataFrame,
    ref_shares: DataFrame,
    sink_path: str,
    n_buckets: int = 10,
    width: float = 10.0,
):
    """Streaming drift monitor: every micro-batch computes its value-
    distribution shares and the PSI against the (broadcast) reference
    shares, appending one (batch_id, n_rows, psi) row to a parquet
    audit log — the serving-side twin of plans/drift.py::psi_price_drift.

    State story: the monitor keeps NO streaming state at all — each
    batch is scored independently against the static reference, so the
    operator runs forever at constant memory.  foreachBatch is the
    right hook because PSI needs a whole-batch aggregate joined against
    a static frame, which plain append-mode streaming aggregation
    cannot express.  Returns the un-started writer."""
    ref = ref_shares.withColumnRenamed("share", "ref_share")

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        n_rows = batch_df.count()
        shares = value_bucket_shares(batch_df, n_buckets, width)
        psi_row = (
            shares.join(F.broadcast(ref), "bucket")
            .agg(
                F.round(
                    F.sum(
                        (F.col("share") - F.col("ref_share"))
                        * F.log(F.col("share") / F.col("ref_share"))
                    ),
                    9,
                ).alias("psi")
            )
            .select(
                F.lit(batch_id).alias("batch_id"),
                F.lit(n_rows).alias("n_rows"),
                "psi",
            )
        )
        psi_row.write.mode("append").parquet(sink_path)

    return stream_events.writeStream.foreachBatch(_score)


def read_documents_stream(
    spark: SparkSession,
    docs_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of documents parquet files —
    the landing path of a continuously-ingested corpus."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(docs_dir)


def flag_incremental_dups(
    batch_docs: DataFrame, corpus_digests: DataFrame
) -> DataFrame:
    """Stream-static incremental-ingest dedup: the streaming twin of the
    exact tier in plans/ingestion.py::dedup_incremental_batch.

    Arriving documents probe the corpus's maintained digest table with a
    stateless broadcast left join — each micro-batch re-reads the static
    side (picking up corpus growth between triggers for free), the
    stream side never shuffles, and no streaming state accumulates, so
    this runs forever at constant memory.  Batch/stream polymorphic: the
    same function body serves the oracle-checked batch form (parity test
    in tests/test_streaming.py).

    ``corpus_digests``: one ``digest`` column (md5 hex of corpus text).
    Output: ``(doc_id, digest, exact_dup)`` per arriving document.
    """
    hits = corpus_digests.select("digest").distinct().withColumn(
        "_in_corpus", F.lit(True)
    )
    return (
        batch_docs.withColumn("digest", F.md5("text"))
        .join(F.broadcast(hits), "digest", "left")
        .select(
            "doc_id",
            "digest",
            F.coalesce(F.col("_in_corpus"), F.lit(False)).alias("exact_dup"),
        )
    )


def views_with_click_outcome(
    events: DataFrame,
    horizon_minutes: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: one row per
    (view, click) pair where the click followed the view within
    ``horizon_minutes`` — MULTI-MATCH semantics: a view followed by k
    in-horizon clicks emits k rows (no earliest-click selection; add a
    min-by-gap dedup downstream if one-row-per-view is needed) — or a
    single row with NULL click columns if no click ever matches.

    The outer side is what distinguishes this from
    :func:`clicks_after_views`: an unmatched view can only be emitted
    once the watermark proves no future click can match
    (click_ts <= view_ts + horizon and watermark has passed that
    bound), so NULL rows trail the data by watermark + horizon.  That
    is the state-EVICTION contract: join state for a view is dropped —
    and the null row released — at exactly the moment the time bound
    closes, keeping state O(events within horizon) instead of the full
    history.  Same plan runs batch for the oracle comparison (the
    batch twin emits every unmatched view immediately).

    Output: ``(user_id, view_id, click_id?, gap_s?, view_ts)`` —
    ``view_ts`` rides along so downstream windowing/dedup can anchor
    on the view's event time.
    """
    joined = _view_click_join(events, watermark, horizon_minutes, "leftOuter")
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        ((F.unix_micros("click_ts") - F.unix_micros("view_ts")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("gap_s"),
        F.col("view_ts"),
    )


def debounce_bursts(
    events: DataFrame,
    gap_seconds: int = 300,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming burst collapse — the stream twin of the catalog's
    ``event_debounce``: consecutive same (user, type) events within
    ``gap_seconds`` merge into one output row via ``session_window``
    keyed on (user_id, event_type).

    State is per (user, type, open burst) and the watermark closes and
    evicts bursts once no in-horizon event can extend them — bounded
    state at any stream rate.  Boundary semantics are session_window's
    half-open ``[t, t+gap)`` (an event exactly ``gap`` later starts a
    new burst), where the batch catalog query's islands test uses
    ``next - prev > gap`` — identical except at exact-gap boundaries,
    same caveat as :func:`session_window_agg` documents.

    Output: ``(user_id, event_type, first_us, n_collapsed)``.
    """
    sw = F.session_window("ts", f"{gap_seconds} seconds")
    return (
        _with_watermark(events, watermark)
        .groupBy(sw.alias("w"), "user_id", "event_type")
        .agg(F.count("*").alias("n_collapsed"))
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("w.start")).alias("first_us"),
            "n_collapsed",
        )
    )


def view_click_full_outer(
    events: DataFrame,
    horizon_minutes: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the two-sided
    completion of :func:`views_with_click_outcome`: matched
    (view, click) pairs within the horizon, PLUS views no click ever
    answered (NULL click columns) PLUS clicks no in-horizon view
    preceded (NULL view columns).

    Both sides' state obeys the same eviction contract: an unmatched
    row on EITHER side is released exactly when the watermark proves
    its time bound closed, so full-outer costs the same bounded state
    as left-outer — the join type changes which evictions emit, not
    how much state is held.  Multi-match semantics as in the
    left-outer form.

    Output: ``(user_id, view_id?, view_ts?, click_id?, click_ts?,
    gap_s?)``.
    """
    joined = _view_click_join(events, watermark, horizon_minutes, "fullOuter")
    return joined.select(
        F.coalesce(F.col("v_user"), F.col("c_user")).alias("user_id"),
        "view_id",
        "view_ts",
        "click_id",
        "click_ts",
        ((F.unix_micros("click_ts") - F.unix_micros("view_ts")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("gap_s"),
    )


def conversion_counts_windows(
    events: DataFrame,
    horizon_minutes: int = 10,
    watermark: str = "10 minutes",
    window_len: str = "1 hour",
) -> DataFrame:
    """CHAINED stateful operators: a stream-stream INNER interval join
    (clicks answering views within ``horizon_minutes``) feeding a
    tumbling event-time window aggregation on the view timestamp —
    two stateful operators in ONE streaming query (join state + window
    state), the multiple-stateful-operator pipeline Spark supports in
    append mode since 3.5/4.x.

    The join emits matched pairs as soon as both sides arrive; the
    downstream window closes (and emits its count) once the watermark
    — already delayed by the join's own horizon bound — passes the
    window end.  So end-to-end emission latency is watermark + horizon
    past the window end, and state stays bounded on both operators:
    join rows are evicted at their time bound, window partials at
    window close.

    Output: ``(window_start, window_end, n_conversions)`` — one row
    per closed window with at least one conversion.  The SAME plan
    runs on a batch frame as the parity oracle
    (tests/test_streaming.py::test_chained_join_window_matches_batch).
    """
    joined = _view_click_join(events, watermark, horizon_minutes, "inner")
    win = joined.groupBy(F.window("view_ts", window_len)).agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    return win.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_conversions",
    )


def views_answered_semi(
    events: DataFrame,
    horizon_minutes: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the fourth join type in
    the family (inner: ``clicks_after_views``; left outer:
    ``views_with_click_outcome``; full outer: ``view_click_full_outer``):
    emit each view AT MOST ONCE as soon as ANY click answers it within
    the horizon, with no click columns leaking into the output (the
    dedup-free way to ask "which impressions converted?").

    State stays bounded exactly as in the inner join: views are evicted
    once the watermark passes view_ts + horizon.  Output:
    (user_id, view_id, view_us) — view_us is the view timestamp in unix
    microseconds.
    """
    v = _with_watermark(events.where(F.col("event_type") == "view"), watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = _with_watermark(events.where(F.col("event_type") == "click"), watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    joined = v.join(
        c,
        F.expr(
            f"""v_user = c_user
                AND click_ts > view_ts
                AND click_ts <= view_ts + interval {horizon_minutes} minutes"""
        ),
        "left_semi",
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        F.unix_micros("view_ts").alias("view_us"),
    )


def windowed_distinct_users(
    events: DataFrame,
    minutes: int = 360,
    watermark: str | None = DEFAULT_WATERMARK,
    rsd: float = 0.05,
) -> DataFrame:
    """Approximate distinct users per tumbling window — the streaming
    cardinality sketch (HyperLogLog++ via ``approx_count_distinct``,
    the only distinct aggregate Spark supports under streaming
    aggregation; exact ``countDistinct`` would need unbounded
    per-window sets).

    The sketch is deterministic for a given input multiset, so the
    SAME plan over a batch frame is an exact parity oracle
    (tests/test_streaming.py::test_windowed_distinct_users_matches_batch),
    and the batch exact count bounds the estimate at ~rsd.

    Output: (window_start_us, n_users_approx, n_events).
    State per window is one fixed-size HLL register set — bounded
    regardless of user cardinality, the whole point at 100 TB/day.
    """
    win = F.window("ts", f"{minutes} minutes")
    return (
        _with_watermark(events, watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("n_users_approx"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_users_approx",
            "n_events",
        )
    )


def windowed_type_counts(
    events: DataFrame,
    minutes: int = 360,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-window per-type event counts — the STREAMING half of a
    windowed top-k: Spark forbids rank windows under streaming
    aggregation (state would be unbounded and results non-monotonic in
    append mode), so the standard production shape is two-stage —
    stream the (window, type) counts (bounded state: |types| rows per
    open window), then rank the SINK with :func:`topk_event_types`,
    whose per-window rank is a cheap partitioned batch window.

    Output: (window_start_us, event_type, n_events).
    """
    win = F.window("ts", f"{minutes} minutes")
    return (
        _with_watermark(events, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )


def windowed_conversion_rate(
    events: DataFrame,
    minutes: int = 360,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-tumbling-window funnel conversion: view → click → purchase
    counts as three CONDITIONAL aggregates of one streaming groupBy
    (state per open window = one row of three counters — bounded, no
    per-event retention), plus click-through and purchase rates with
    0-view windows guarded to NULL.

    The streaming twin of the batch funnel family: the rates are
    per-row projections of the streamed counters, so the batch plan
    over the same frame is an exact parity oracle
    (tests/test_streaming.py::test_windowed_conversion_matches_batch).

    Output: (window_start_us, n_views, n_clicks, n_purchases,
    click_through, purchase_rate).
    """
    win = F.window("ts", f"{minutes} minutes")
    counts = (
        _with_watermark(events, watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.sum((F.col("event_type") == "view").cast("bigint")).alias("n_views"),
            F.sum((F.col("event_type") == "click").cast("bigint")).alias(
                "n_clicks"
            ),
            F.sum((F.col("event_type") == "purchase").cast("bigint")).alias(
                "n_purchases"
            ),
        )
    )
    rate = lambda num: F.when(  # noqa: E731
        F.col("n_views") > 0,
        F.round(num.cast("double") / F.col("n_views").cast("double"), 6),
    )
    return counts.select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "n_views",
        "n_clicks",
        "n_purchases",
        rate(F.col("n_clicks")).alias("click_through"),
        rate(F.col("n_purchases")).alias("purchase_rate"),
    )


def topk_event_types(counts: DataFrame, k: int = 2) -> DataFrame:
    """Batch ranker over the streamed (window, type, count) sink:
    top-k types per window, ties broken by type name — deterministic,
    and the window is PARTITIONED by window_start_us (never global).

    Composes with :func:`windowed_type_counts` into the canonical
    streaming-top-k pipeline; parity with the all-batch twin is
    asserted in tests/test_streaming.py.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start_us").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("window_start_us", "event_type", "n_events", F.col("rk").cast("int").alias("rk"))
    )


def windowed_value_histogram(
    events: DataFrame,
    minutes: int = 360,
    n_bins: int = 32,
    lo: float = 0.0,
    hi: float = 1000.0,
    watermark: str | None = DEFAULT_WATERMARK,
) -> DataFrame:
    """Per-window fixed-bin value histogram — the STREAMING half of a
    windowed quantile: quantile state under streaming aggregation is
    otherwise unbounded, but a fixed-bin histogram is |bins| counters
    per open window, mergeable, and any quantile reads off the sink
    with bounded error ≤ bin width (the batch family's
    ``histogram_quantile_rollup`` shape, made incremental).

    Output: (window_start_us, bin, n) with bin = clamped
    floor((value − lo) / width).
    """
    width = (hi - lo) / n_bins
    win = F.window("ts", f"{minutes} minutes")
    bin_expr = F.least(
        F.greatest(
            F.floor((F.col("value") - lo) / width).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    return (
        _with_watermark(events, watermark)
        .groupBy(win.alias("w"), bin_expr.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "bin",
            "n",
        )
    )


def histogram_quantile(counts: DataFrame, q: float = 0.5,
                       n_bins: int = 32, lo: float = 0.0,
                       hi: float = 1000.0) -> DataFrame:
    """Batch quantile read-off over the streamed histogram sink: the
    first bin whose running count reaches q·total per window, reported
    as the bin's upper edge (error ≤ bin width by construction).
    Window partitioned by window_start_us — never global."""
    from pyspark.sql import Window as W

    width = (hi - lo) / n_bins
    w = W.partitionBy("window_start_us").orderBy("bin")
    tot = W.partitionBy("window_start_us")
    cum = counts.withColumn("cum", F.sum("n").over(w)).withColumn(
        "tot", F.sum("n").over(tot)
    )
    hit = cum.where(F.col("cum") >= q * F.col("tot"))
    w2 = W.partitionBy("window_start_us").orderBy("bin")
    first = hit.withColumn("rk", F.row_number().over(w2)).where(F.col("rk") == 1)
    return first.select(
        "window_start_us",
        F.round((F.col("bin") + 1) * width + lo, 6).alias("q_upper_bound"),
        "tot",
    )


def late_arrival_correction_audit(
    emitted: DataFrame,
    batch_truth: DataFrame,
    window_minutes: int = 60,
    cutoff_us: int | None = None,
) -> DataFrame:
    """Late-data GOVERNANCE: reconcile the append-mode stream's emitted
    window aggregates against a batch recomputation over the complete
    (late rows included) data, and report the correction each window
    needs.

    Append mode + watermark is a CONTRACT: a window emits once, when the
    watermark passes its end, and rows arriving later are dropped — the
    emitted figure is then permanently short.  Production pipelines
    reconcile nightly: recompute from the complete data and patch the
    serving store (the lambda-architecture backfill).  This operator is
    the audit half of that loop, per (window, event_type):

    * ``on_time_events`` / ``on_time_sum`` — what the stream emitted
      (0/0.0 for windows it never emitted);
    * ``final_events`` / ``final_sum`` — batch truth;
    * ``late_events`` — the correction (final − on-time);
    * ``status`` — ``'exact'`` (closed, no correction needed),
      ``'corrected'`` (closed, late rows arrived after emission), or
      ``'open'`` (window end past ``cutoff_us``, the watermark frontier
      at shutdown — not yet emitted, so a missing stream row is NOT a
      late-data defect).

    Both inputs are in ``tumbling_window_counts``'s output shape.  The
    join is a left join FROM truth (batch truth covers every window
    that has any data; the stream can never emit a window the data
    doesn't contain).  100 TB shape: both sides are already per-window
    aggregates (tiny vs the event volume); the join key is the window
    start, so the shuffle is bounded by the window count, and at scale
    the truth side arrives pre-aggregated from the nightly batch job.

    Batch-parity test: tests/test_streaming.py::
    test_late_arrival_correction_audit — the audited delta equals
    exactly the planted late rows, and the unclosed window reads
    'open', not 'corrected'.
    """
    e = emitted.select(
        "window_start_us",
        "event_type",
        F.col("n_events").alias("on_time_events"),
        F.col("sum_value").alias("on_time_sum"),
    )
    b = batch_truth.select(
        "window_start_us",
        "event_type",
        F.col("n_events").alias("final_events"),
        F.col("sum_value").alias("final_sum"),
    )
    window_us = window_minutes * 60_000_000
    joined = b.join(e, ["window_start_us", "event_type"], "left").select(
        "window_start_us",
        "event_type",
        F.coalesce("on_time_events", F.lit(0)).alias("on_time_events"),
        "final_events",
        (F.col("final_events") - F.coalesce("on_time_events", F.lit(0))).alias(
            "late_events"
        ),
        F.round(
            F.col("final_sum") - F.coalesce("on_time_sum", F.lit(0.0)), 4
        ).alias("late_sum"),
    )
    if cutoff_us is None:
        is_open = F.lit(False)
    else:
        is_open = (F.col("window_start_us") + F.lit(window_us)) > F.lit(
            cutoff_us
        )
    return joined.select(
        "*",
        F.when(is_open, F.lit("open"))
        .when(F.col("late_events") > 0, F.lit("corrected"))
        .otherwise(F.lit("exact"))
        .alias("status"),
    )
