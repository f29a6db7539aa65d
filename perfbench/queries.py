"""Catalog workload: an iterative catalog query and a single-plan contrast.

Each query is built with the catalog's own ``spark`` function (the
``plans`` layer, which for the iterative queries runs Spark jobs while
the plan is built), collected, and its tracked caches are released
(``operators.caching``).  Outside the timed region the collected values
are compared with the query's DuckDB oracle over the same parquet.
Collecting, not a noop sink, is the timed action so that the values
checked are the ones timed: a noop run plus a separate collect for the
check would execute every query twice.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import random
import time
import traceback

from big_data_virus_analysis_spark.operators.caching import release_tracked_caches
from big_data_virus_analysis_spark.plans.catalog import CATALOG

#: A build-heavy iterative query that holds tracked caches (tens of
#: eager jobs while its plan is built) and the catalog's flagship
#: single-plan query as the contrast.
QUERIES = (
    "dedup_cluster_assign_two_phase",
    "info_gain_topk",
)
TABLES = ("documents",)


def _norm(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9) + 0.0
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats
    rounded to 9 digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    head = repr([columns[i] for i in order])
    return hashlib.sha256((head + repr(norm)).encode()).hexdigest()


def oracle_hashes(data_dir: str) -> dict[str, str]:
    """Each query's DuckDB oracle result, hashed."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for q in QUERIES:
            cur = con.execute(CATALOG[q].oracle)
            out[q] = value_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def query_order(seed: int, pass_no: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed * 1009 + pass_no).shuffle(order)
    return order


class CatalogPass:
    """One pass over the queries in a seed-permuted order."""

    def __init__(self, spark, data_dir: str, expected: dict[str, str], tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.expected = expected
        self.t = tracer
        self.released = 0
        self.wrong: list[str] = []
        self.failed: list[str] = []
        self.timed_s = 0.0

    def run(self, order: list[str]) -> None:
        t = self.t
        for q in order:
            t0 = time.perf_counter()
            try:
                with t.span("plans", q, "call"):
                    with t.span("plans", q, "build"):
                        df = CATALOG[q].spark(self.spark, self.data_dir)
                    rows = t.action("plans", q, df.collect)
            except Exception:  # a failed query is counted; the pass goes on
                traceback.print_exc()
                self.failed.append(q)
            self.timed_s += time.perf_counter() - t0
            if q not in self.failed:
                with t.span("bench", q, "check"):
                    if value_hash(df.columns, rows) != self.expected[q]:
                        self.wrong.append(q)
            t0 = time.perf_counter()
            self.released += t.call("operators.caching", "release_tracked_caches",
                                    release_tracked_caches)
            self.timed_s += time.perf_counter() - t0
