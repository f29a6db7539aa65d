"""SparkSession factory with scale-oriented defaults.

The reference hand-configured ``local[2]``/1g and did all optimization by
hand (SURVEY.md §4).  Here every knob that matters at the 100 TB design
point is set once, centrally:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — replaces hand-scheduling.
* ``spark.sql.shuffle.partitions`` sized from the local core count; on a
  real cluster AQE coalesces the (deliberately high) initial number.
* Arrow enabled so the few pandas-UDF paths (vector assembly, multimodal
  decode) transfer columnar batches, never pickled rows.
* Broadcast threshold left at default (10 MB) — dimension tables
  (region/nation/vocab/rank) are explicitly `F.broadcast`-hinted at the
  call sites as well, so plans stay broadcast-joins even if statistics
  are missing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "big-data-virus-analysis-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, drop the ``master`` call and submit with
    spark-submit; every other conf below is cluster-appropriate as-is.
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        # ANSI mode pinned, not left to the version default: integer
        # overflow and invalid casts fail loudly instead of wrapping or
        # yielding NULL
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(n, 32)))
        .config("spark.default.parallelism", str(max(n, 32)))
        # --- python interop: Arrow batches, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: keep splits near the default 128 MB so a
        #     100 TB scan yields ~800k well-sized tasks, not giant ones ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- timestamps: parquet is written by the driver generator;
        #     read without rebasing surprises ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
