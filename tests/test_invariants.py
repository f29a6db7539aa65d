"""Cross-query invariants: structural properties that must hold beyond
the per-query oracle equality — order-independence, conservation laws,
monotonicity.  These catch the failure class oracles can miss when both
engines share a wrong assumption (e.g. an accidental dependence on
partition layout)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_virus_analysis_spark.plans.catalog import CATALOG
from big_data_virus_analysis_spark.sources.tables import load_table

from conftest import SMOKE_SF_DIR

_DAY_US = 86_400_000_000


def test_checksums_are_partition_order_independent(spark, tmp_path):
    """Bucketed checksums must not depend on scan parallelism or row
    order: rewriting the table into a different partitioning must
    reproduce byte-identical checksums."""
    base = {
        (r.bucket): (r.n_rows, r.checksum)
        for r in CATALOG["checksum_orders_buckets"].spark(spark, SMOKE_SF_DIR).collect()
    }
    # rewrite with a different (shuffled) layout, re-checksum via the
    # same logic on the rewritten copy
    scrambled_dir = str(tmp_path / "scrambled")
    load_table(spark, SMOKE_SF_DIR, "orders").repartition(13).write.parquet(
        scrambled_dir + "/orders.parquet"
    )
    again = {
        (r.bucket): (r.n_rows, r.checksum)
        for r in CATALOG["checksum_orders_buckets"].spark(spark, scrambled_dir).collect()
    }
    assert base == again


def test_wau_dominates_dau(spark):
    """Trailing-7-day distinct users can never be below that day's
    distinct users."""
    ev = load_table(spark, SMOKE_SF_DIR, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day_num"),
    )
    dau = {
        r.day_num: r.dau
        for r in ev.distinct()
        .groupBy("day_num")
        .agg(F.count("*").alias("dau"))
        .collect()
    }
    wau = {
        r.report_day: r.wau
        for r in CATALOG["weekly_active_users"].spark(spark, SMOKE_SF_DIR).collect()
    }
    assert set(dau) == set(wau)
    assert all(wau[d] >= dau[d] for d in dau)


def test_growth_accounting_conserves_dau(spark):
    """new + retained + resurrected on a day == that day's DAU, and
    day one is all-new."""
    rows = CATALOG["growth_accounting"].spark(spark, SMOKE_SF_DIR).collect()
    per_day: dict[int, dict[str, int]] = {}
    for r in rows:
        per_day.setdefault(r.day_num, {})[r.status] = r.n_users
    ev = load_table(spark, SMOKE_SF_DIR, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day_num"),
    )
    dau = {
        r.day_num: r.dau
        for r in ev.distinct()
        .groupBy("day_num")
        .agg(F.count("*").alias("dau"))
        .collect()
    }
    for d, statuses in per_day.items():
        assert sum(statuses.values()) == dau[d]
    first = min(per_day)
    assert set(per_day[first]) == {"new"}


def test_pareto_share_monotone_and_covers_threshold(spark):
    rows = (
        CATALOG["pareto_customers"]
        .spark(spark, SMOKE_SF_DIR)
        .orderBy(F.col("revenue").desc(), "o_custkey")
        .collect()
    )
    shares = [r.cum_share for r in rows]
    assert all(a <= b for a, b in zip(shares, shares[1:]))
    assert shares[-1] >= 0.8  # the crossing customer is included


def test_incremental_rollup_merge_is_lossless(spark):
    """base ⊕ delta row set must cover every day exactly once."""
    merged = CATALOG["incremental_daily_rollup"].spark(spark, SMOKE_SF_DIR).collect()
    days = [r.day_num for r in merged]
    assert len(days) == len(set(days))
    total = sum(r.n_events for r in merged)
    assert total == load_table(spark, SMOKE_SF_DIR, "events").count()


def test_cms_estimate_upper_bounds_true_count(spark):
    """Count-min one-sided error: est >= true for every probed user, and
    est - true is bounded by the sketch's collision mass (<= N/w per row
    in expectation; assert the hard bound est - true <= N)."""
    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    from conftest import SF_DIR

    rows = CATALOG["cms_heavy_users"].spark(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.cms_est >= r.true_n, (r.user_id, r.cms_est, r.true_n)


def test_session_pins_ansi_mode(spark):
    """``session.get_spark`` sets ANSI mode explicitly instead of relying
    on the Spark version's default, so overflow fails loudly on any
    version the engine runs on."""
    assert spark.sparkContext.getConf().get("spark.sql.ansi.enabled") == "true"
