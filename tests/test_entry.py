"""Driver-contract smoke tests."""

from __future__ import annotations

import json

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"  # pinned by get_spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert spark.conf.get("spark.python.daemon.module") == "fintrack_etl_spark.worker_daemon"
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


def test_gate_order_head_is_derived():
    head = [
        "x54_training_shuffle", "x77_ccnet_buckets", "x66_sorted_neighborhood",
        "p7_binary_pdf_scan", "p11_bank_pipeline_e2e", "r4_top_gastos", "r5_top_parcelados",
        "ext_merge_evolving", "x19_repetition_filter", "x28_vocab_oov",
        "x32_feature_stats", "x33_incremental_corpus_dedup", "x34_bigram_pmi",
        "x39_dup_rate_estimate", "x74_rrf_fusion", "x88_poisson_bootstrap",
        "x89_tokenizer_fertility",
    ]
    assert list(entrymod.queries())[:17] == head
    assert list(entrymod.oracle_sql()) == list(entrymod.queries())


def test_gate_order_ranks_by_last_green_round(tmp_path, monkeypatch):
    touched = list(entrymod._TOUCHED)
    reg = [n for n in entrymod._registry("QUERIES") if n not in touched]
    a, b, c, red_only = reg[:4]
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {**green, "hash_match": False}
    rounds = {
        "CORRECTNESS_r01.json": {a: green, b: green, c: green, red_only: red},
        "CORRECTNESS_r02.json": {a: green, b: red, c: green},
        "CORRECTNESS_r03.json": {b: {**green, "err": "boom"}, c: green},
        "CORRECTNESS_r04_c8.json": {b: green},  # not a round file: ignored
    }
    for fname, rows in rounds.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    monkeypatch.setattr(entrymod, "_CORRECTNESS_DIR", tmp_path)
    entrymod._gate_order.cache_clear()
    try:
        # b's newest row is red, so it ranks by its r01 green (before a's
        # r02); entries with no green row, red_only included, come first.
        never_green = [n for n in reg if n not in (a, b, c)]
        assert list(entrymod.queries()) == touched + never_green + [b, a, c]

        for f in tmp_path.iterdir():
            f.unlink()
        entrymod._gate_order.cache_clear()
        assert list(entrymod.queries()) == touched + reg
    finally:
        entrymod._gate_order.cache_clear()
