"""Driver-contract smoke tests."""

from __future__ import annotations

import json

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"  # pinned by get_spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert spark.conf.get("spark.python.daemon.module") == "fintrack_etl_spark.worker_daemon"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k"
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_oracle_has_a_query():
    qs = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in qs, f"oracle without query: {name}"


def test_one_registry_refuses_a_duplicate_name():
    """The four query modules share ``queries.QUERIES``; registering a
    name twice raises instead of silently replacing the first builder."""
    import pytest

    from fintrack_etl_spark import queries, queries_ext

    assert queries_ext.QUERIES is queries.QUERIES
    first = queries.QUERIES["x4_minhash_lsh"]
    with pytest.raises(ValueError, match="already registered"):
        queries.register("x4_minhash_lsh")(lambda spark, sf_dir: None)
    assert entrymod.queries()["x4_minhash_lsh"] is first


def test_queries_run_at_smallest_sf(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name


def test_gate_order_head_is_derived():
    changed, last = entrymod._changed(), entrymod._last_green()
    order = list(entrymod.queries())
    head, rest = order[: len(changed)], order[len(changed) :]
    assert set(head) == changed
    for group in (head, rest):
        rounds = [last.get(n, 0) for n in group]
        assert rounds == sorted(rounds)
    assert list(entrymod.oracle_sql()) == order


def test_gate_order_ranks_by_last_green_round(tmp_path, monkeypatch):
    reg = list(entrymod._registry("QUERIES"))
    a, b, c, red_only, moved, added = reg[:6]
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {**green, "hash_match": False}
    rounds = {
        "CORRECTNESS_r01.json": {a: green, b: green, c: green, red_only: red, moved: green},
        "CORRECTNESS_r02.json": {a: green, b: red, c: green, added: green},
        "CORRECTNESS_r03.json": {b: {**green, "err": "boom"}, c: green},
        "CORRECTNESS_r04_c8.json": {b: green},  # not a round file: ignored
    }
    for fname, rows in rounds.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    # ``moved``'s code differs from the stamp and ``added`` has no stamp
    # row: both lead, stalest first, whatever their green rows say.
    stamp = entrymod._fingerprints(entrymod._package_sources())
    stamp[moved] = "0" * 16
    del stamp[added]
    (tmp_path / "GATE_STAMP.json").write_text(json.dumps({"round": 4, "fingerprints": stamp}))
    monkeypatch.setattr(entrymod, "_GATE_DIR", tmp_path)
    entrymod._gate_order.cache_clear()
    try:
        # b's newest row is red, so it ranks by its r01 green (before a's
        # r02); entries with no green row, red_only included, come first.
        never_green = [n for n in reg if n not in (a, b, c, moved, added)]
        assert list(entrymod.queries()) == [moved, added] + never_green + [b, a, c]

        (tmp_path / "GATE_STAMP.json").unlink()
        entrymod._gate_order.cache_clear()
        assert list(entrymod.queries()) == never_green + [b, moved, a, added, c]

        for f in tmp_path.iterdir():
            f.unlink()
        entrymod._gate_order.cache_clear()
        assert list(entrymod.queries()) == reg
    finally:
        entrymod._gate_order.cache_clear()
