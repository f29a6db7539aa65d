"""Parquet table loaders for the driver's synthetic star schema.

Schema-on-write: the driver generated these with fixed schemas
(TESTDATA.md); we read the parquet footers directly.  Column pruning and
filter pushdown reach the scan because callers compose plain DataFrame
ops on top of these loaders (verified by tests/test_plans.py, which
asserts ``PushedFilters`` shows up in the formatted physical plan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to always broadcast in joins
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # The generator has written `ts` three ways across testdata
        # versions: TIMESTAMP(NANOS) (vectorized reader rejects it →
        # read nanos as long and convert), TIMESTAMP_NTZ, and plain
        # TIMESTAMP.  Normalize all of them to a session-tz TIMESTAMP so
        # downstream `unix_micros` works; the session tz is pinned UTC,
        # so the NTZ cast keeps wall-clock values and matches DuckDB's
        # `epoch_us` read of the same column.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→TIMESTAMP cast below is session-timezone-dependent.
        # Our session factory pins UTC, but this loader must also work
        # under driver-owned SparkSessions (hence the local conf sets),
        # so pin it here too — otherwise a non-UTC session shifts epochs
        # and every unix_micros(ts) result diverges from the oracle.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer `div`, not `/`: double division loses precision at
            # epoch-nanos magnitude (~1.7e18 > 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow input across all cores before a compute-heavy
    stage (shingling, per-gram hashing, fingerprinting).

    A small table is one parquet file → one input split → the whole
    CPU-bound pipeline runs on a single core regardless of cluster size.
    Repartitioning costs one shuffle of the NARROW input (documents are
    ~300 B/row here — trivial next to the 50× gram explosion downstream).
    At the 100 TB design point the scan already has ≥ thousands of splits,
    so the guard makes this a structural no-op: never an extra shuffle at
    scale, full parallelism in the small-file case.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(
    spark: SparkSession, sf_dir: str, only: list[str] | None = None
) -> None:
    """Register tables as temp views so Spark SQL text queries work.

    ``only`` restricts registration (queries that need one view avoid
    re-reading every table's footer on each build)."""
    for name in only if only is not None else TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


EXPECTED_SCHEMAS = {
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",  # nanos→micros conversion yields session-tz timestamp
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
}


def validate_schema(df: DataFrame, expected: dict[str, str]) -> list[str]:
    """Schema-contract check: returns a list of human-readable
    violations (missing column, wrong type, unexpected column) —
    empty means the frame honors the contract.  The ingest-gate
    companion to the FK audit (`fk_violation_counts`): structure here,
    referential integrity there.  Pure metadata — no job runs."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, typ in expected.items():
        if col not in actual:
            problems.append(f"missing column {col}")
        elif actual[col] != typ:
            problems.append(f"{col}: expected {typ}, got {actual[col]}")
    for col in actual:
        if col not in expected:
            problems.append(f"unexpected column {col}")
    return problems
