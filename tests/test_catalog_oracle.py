"""Oracle parity for SQL-expressible catalog queries.

Mirrors the driver's CORRECTNESS gate: run the Spark plan and the DuckDB
oracle on the same sf0.01 parquet, compare row count + columns + values
(order-insensitive, exact after the catalog's own rounding).

r12 (r11 VERDICT #5 — the driver's pytest gate timed out at ~86% of a
~1,570-test suite): the DEFAULT run replays the ~100 bench-headline
oracles (the queries the driver times and rotates through its
correctness window most often) instead of all ~570.  The FULL catalog
replay still runs in two places — set ``SPARK_GRAFT_FULL_ORACLE=1``
for the complete parameterization here, and
``scripts/check_correctness.py`` (the LOCALCHECK gate, committed every
round as LOCALCHECK_r{N}.json) always covers all 574 pairs with the
stricter driver-parity type check on top.
"""

from __future__ import annotations

import os

import pytest

from big_data_virus_analysis_spark.plans.catalog import CATALOG

from conftest import SF_DIR, assert_frames_match

ORACLE_CASES = sorted(name for name, spec in CATALOG.items() if spec.oracle is not None)

if os.environ.get("SPARK_GRAFT_FULL_ORACLE", "") == "1":
    DEFAULT_CASES = ORACLE_CASES
else:
    from bench import HEADLINE

    DEFAULT_CASES = [n for n in ORACLE_CASES if n in set(HEADLINE)]


@pytest.mark.parametrize("name", DEFAULT_CASES)
def test_oracle_parity(spark, duck, name):
    spec = CATALOG[name]
    spark_df = spec.spark(spark, SF_DIR)
    duck_df = duck.execute(spec.oracle).df()
    assert_frames_match(spark_df, duck_df, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["token", "pos_df", "neg_df", "info_gain", "rank"]


def test_every_query_has_catalog_doc():
    for name, spec in CATALOG.items():
        assert spec.doc, f"{name} missing provenance doc"


def test_catalog_md_is_current():
    """CATALOG.md is generated; regenerate (scripts/gen_catalog_md.py)
    whenever a query is added."""
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md")
    with open(path) as f:
        content = f.read()
    missing = [n for n in CATALOG if f"`{n}`" not in content]
    assert not missing, f"regenerate CATALOG.md; missing {missing}"


def test_register_refuses_name_collisions():
    """Every entry — inline block or pack — joins CATALOG through
    ``_register``, which refuses to shadow an existing name."""
    from big_data_virus_analysis_spark.plans.catalog import QuerySpec, _register

    before = list(CATALOG.items())
    taken = next(iter(CATALOG))
    fresh = QuerySpec(CATALOG[taken].spark, None, "not registered")
    with pytest.raises(ValueError, match=taken):
        _register({"no_such_query": fresh, taken: CATALOG[taken]})
    with pytest.raises(ValueError, match="collide"):
        _register(("drift",))  # a pack already registered
    assert list(CATALOG.items()) == before
