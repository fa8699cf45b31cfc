"""Driver-contract smoke tests."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"  # pinned by get_spark
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_oracle_has_a_query():
    qs = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in qs, f"oracle without query: {name}"


def test_queries_run_at_smallest_sf(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
