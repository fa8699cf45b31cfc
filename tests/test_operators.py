"""Operator semantics tests: dedup, merge idempotency, schema
evolution round-trips (SURVEY.md §5 engine test strategy)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from fintrack_etl_spark.operators.evolve import align_to_schema, evolve_union, schema_diff
from fintrack_etl_spark.operators.upsert import merge_latest_wins, replace_by_source_key
from fintrack_etl_spark.operators.windows import dedup_latest, forward_fill, sessionize
from fintrack_etl_spark.operators.aggregate import mode_per_group
from fintrack_etl_spark.operators.joins import mode_backfill


def ts(s):
    return datetime.datetime.fromisoformat(s)


def test_dedup_latest_picks_newest(spark):
    df = spark.createDataFrame(
        [
            ("k1", ts("2024-01-01T00:00:00"), 1),
            ("k1", ts("2024-01-02T00:00:00"), 2),
            ("k2", ts("2024-01-01T00:00:00"), 3),
        ],
        ["k", "dt", "v"],
    )
    out = {r["k"]: r["v"] for r in dedup_latest(df, ["k"], "dt").collect()}
    assert out == {"k1": 2, "k2": 3}


def test_dedup_latest_missing_order_col_degrades(spark):
    df = spark.createDataFrame([("k1", 1), ("k1", 2)], ["k", "v"])
    assert dedup_latest(df, ["k"], "absent").count() == 1


def test_merge_latest_wins_target_wins_ties(spark):
    t = spark.createDataFrame([("k1", ts("2024-01-02T00:00:00"), "target")], ["k", "dt", "who"])
    s = spark.createDataFrame([("k1", ts("2024-01-02T00:00:00"), "source")], ["k", "dt", "who"])
    out = merge_latest_wins(t, s, ["k"], "dt").collect()
    assert len(out) == 1 and out[0]["who"] == "target"  # '>' not '>=' semantics


def test_merge_idempotent(spark):
    t = spark.createDataFrame(
        [("k1", ts("2024-01-01T00:00:00"), 1), ("k2", ts("2024-01-05T00:00:00"), 2)],
        ["k", "dt", "v"],
    )
    s = spark.createDataFrame(
        [("k1", ts("2024-01-03T00:00:00"), 10), ("k3", ts("2024-01-01T00:00:00"), 30)],
        ["k", "dt", "v"],
    )
    once = merge_latest_wins(t, s, ["k"], "dt")
    twice = merge_latest_wins(once, s, ["k"], "dt")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    got = {r["k"]: r["v"] for r in once.collect()}
    assert got == {"k1": 10, "k2": 2, "k3": 30}


def test_j3_fused_equals_composed(spark):
    """j3_merge_upsert's single-window form must equal the composed
    dedup_latest(target) + dedup_latest(source) + merge_latest_wins
    pipeline it replaced (r11 optimization) — exercised on every tie
    shape: max-ts in both sides (target must win via sr), max-ts only
    in source, duplicate event-ids within a side, groups present in
    one side only."""
    from pyspark.sql import Window

    rows = [
        # (event_id, ts, user, etype, value)
        (1, ts("2024-01-10T00:00:00"), 1, "a", 1.0),   # target
        (2, ts("2024-01-20T00:00:00"), 1, "a", 2.0),   # source, newer -> wins
        (3, ts("2024-01-14T00:00:00"), 2, "a", 3.0),   # target
        (4, ts("2024-01-14T00:00:00"), 2, "a", 4.0),   # target, same ts, higher id
        (5, ts("2024-01-10T00:00:00"), 3, "b", 5.0),   # target, equal-ts pair
        (6, ts("2024-01-10T00:00:00"), 3, "b", 6.0),   # ...event_id breaks it
        (7, ts("2024-01-15T00:00:00"), 3, "b", 7.0),   # source, newer -> wins
        (8, ts("2024-01-16T00:00:00"), 4, "c", 8.0),   # source-only group
        (9, ts("2024-01-12T00:00:00"), 5, "d", 9.0),   # target-only group
        # equal ts ACROSS sides cannot occur (the cutoff partitions on
        # ts), so the sr tie-break is vacuous for j3 itself; it is
        # kept in the fused order purely to mirror merge_latest_wins'
        # declared precedence
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    cutoff = F.lit("2024-01-15").cast("timestamp")

    target = dedup_latest(
        ev.filter(F.col("ts") < cutoff), ["user_id", "event_type"], "ts", ["event_id"]
    )
    source = dedup_latest(
        ev.filter(F.col("ts") >= cutoff), ["user_id", "event_type"], "ts", ["event_id"]
    )
    composed = merge_latest_wins(
        target, source, ["user_id", "event_type"], "ts", ["event_id"]
    ).select("event_id", "ts", "user_id", "event_type", "value")

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.asc("_sr"), F.asc("event_id")
    )
    fused = (
        ev.withColumn("_sr", F.when(F.col("ts") >= cutoff, 1).otherwise(0))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    assert sorted(map(tuple, composed.collect())) == sorted(map(tuple, fused.collect()))


def test_replace_by_source_key_idempotent(spark):
    t = spark.createDataFrame([("f1", 1), ("f1", 2), ("f2", 3)], ["landing_object_key", "v"])
    s = spark.createDataFrame([("f1", 10)], ["landing_object_key", "v"])
    once = replace_by_source_key(t, s)
    twice = replace_by_source_key(once, s)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert {tuple(r) for r in once.collect()} == {("f1", 10), ("f2", 3)}


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [("d1", 1, "hdr"), ("d1", 2, None), ("d1", 3, None), ("d1", 4, "hdr2"), ("d2", 1, None)],
        ["doc", "line", "grp"],
    )
    out = {(r["doc"], r["line"]): r["grp"] for r in forward_fill(df, ["grp"], "line", ["doc"]).collect()}
    assert out == {
        ("d1", 1): "hdr",
        ("d1", 2): "hdr",
        ("d1", 3): "hdr",
        ("d1", 4): "hdr2",
        ("d2", 1): None,
    }


def test_mode_per_group_deterministic_ties(spark):
    df = spark.createDataFrame([("g", "b"), ("g", "a"), ("g", "a"), ("g", "b")], ["k", "v"])
    out = mode_per_group(df, ["k"], "v").collect()
    assert out[0]["v_mode"] == "a"  # tie broken by value asc


def test_mode_backfill(spark):
    df = spark.createDataFrame(
        [("c1", "ana"), ("c1", "ana"), ("c1", None), ("c2", None)],
        ["card", "holder"],
    )
    out = mode_backfill(df, "card", "holder")
    got = [r["holder"] for r in out.filter(F.col("card") == "c1").collect()]
    assert got.count("ana") == 3
    assert out.filter(F.col("card") == "c2").first()["holder"] is None


def test_align_to_schema_backfills_and_reorders(spark):
    target = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(1.0, "x")], ["c", "b"])
    out = align_to_schema(df, target)
    assert out.columns == ["a", "b", "c"]
    row = out.first()
    assert row["a"] is None and row["b"] == "x" and row["c"] == 1.0


def test_evolve_union_adds_columns(spark):
    t = spark.createDataFrame([(1, "x")], ["id", "old"])
    s = spark.createDataFrame([(2, "y")], ["id", "new"])
    out = evolve_union(t, s)
    assert set(out.columns) == {"id", "old", "new"}
    rows = {r["id"]: (r["old"], r["new"]) for r in out.collect()}
    assert rows == {1: ("x", None), 2: (None, "y")}
    d = schema_diff(s.schema, t.schema)
    assert d["add_to_target"] == ["new"] and d["backfill_in_source"] == ["old"]


def test_sessionize(spark):
    df = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01T00:00:00"), 1),
            ("u1", ts("2024-01-01T00:10:00"), 2),
            ("u1", ts("2024-01-01T02:00:00"), 3),
        ],
        ["u", "t", "id"],
    )
    out = {r["id"]: r["session_id"] for r in sessionize(df, "t", ["u"], 30, tie_breakers=["id"]).collect()}
    assert out == {1: 1, 2: 1, 3: 2}


def test_asof_join_backward(spark):
    from fintrack_etl_spark.operators.joins import asof_join

    quotes = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01T00:00:00"), 10.0),
            ("u1", ts("2024-01-01T00:10:00"), 20.0),
            ("u2", ts("2024-01-01T00:05:00"), 99.0),
        ],
        ["user_id", "ts", "value"],
    )
    trades = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01T00:05:00"), 1),   # after first quote
            ("u1", ts("2024-01-01T00:10:00"), 2),   # exactly AT second quote -> <= matches it
            ("u2", ts("2024-01-01T00:00:00"), 3),   # before any quote -> NULL
        ],
        ["user_id", "ts", "trade_id"],
    )
    out = {
        r["trade_id"]: r["asof_value"]
        for r in asof_join(trades, quotes, on=["user_id"], right_cols={"value": "asof_value"}).collect()
    }
    assert out == {1: 10.0, 2: 20.0, 3: None}


def test_range_join_half_open_bands(spark):
    from fintrack_etl_spark.operators.joins import range_join

    fact = spark.createDataFrame([(0.0,), (49.9,), (50.0,), (150.0,)], ["v"])
    bands = spark.createDataFrame(
        [(0, 0.0, 50.0), (1, 50.0, 100.0)], ["tier", "lo", "hi"]
    )
    rows = range_join(fact, bands, "v").select("v", "tier").collect()
    got = {(r["v"], r["tier"]) for r in rows}
    assert got == {(0.0, 0), (49.9, 0), (50.0, 1)}  # 150.0 has no band; hi is exclusive


def test_time_bucket_rollup_nests(spark):
    from fintrack_etl_spark.operators.aggregate import rollup_time_buckets, time_bucket_agg

    ev = spark.createDataFrame(
        [
            ("a", ts("2024-01-01T01:00:00"), 1.0),
            ("a", ts("2024-01-01T07:00:00"), 2.0),
            ("a", ts("2024-01-02T01:00:00"), 4.0),
        ],
        ["k", "ts", "value"],
    )
    fine = time_bucket_agg(ev, "ts", "6 hours", ["k"], "value")
    assert fine.count() == 3
    day = {r["bucket"]: (r["n"], r["total"], r["vmin"], r["vmax"])
           for r in rollup_time_buckets(fine, "1 day", ["k"]).collect()}
    assert day[ts("2024-01-01T00:00:00")] == (2, 3.0, 1.0, 2.0)
    assert day[ts("2024-01-02T00:00:00")] == (1, 4.0, 4.0, 4.0)


def test_salted_group_agg_matches_plain(spark):
    from fintrack_etl_spark.operators.skew import salted_group_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(100)] + [("cold", 1.0)], ["k", "v"]
    )
    got = {r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
           for r in salted_group_agg(df, ["k"], "v", buckets=4).collect()}
    assert got == {"hot": (100, sum(range(100)), 0.0, 99.0), "cold": (1, 1.0, 1.0, 1.0)}


def test_salted_join_matches_plain(spark):
    from fintrack_etl_spark.operators.skew import salted_join

    big = spark.createDataFrame([(i, "k%d" % (i % 2)) for i in range(50)], ["id", "k"])
    small = spark.createDataFrame([("k0", "a"), ("k1", "b")], ["k", "label"])
    got = salted_join(big, small, ["k"], "id", buckets=4)
    plain = big.join(small, ["k"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


# ---------------------------------------------------------------------------
# Token-budget shard packing (operators/packing.py)
# ---------------------------------------------------------------------------


def _greedy_reference(rows, max_tokens):
    """Driver-side greedy packer: the semantics contract."""
    out, cum = {}, 0
    for doc_id, tok in sorted(rows):
        out[doc_id] = (cum // max_tokens)
        cum += tok
    return out


def test_pack_documents_matches_greedy_reference(spark):
    from fintrack_etl_spark.operators.packing import pack_documents_by_tokens

    rows = [(i, 50 + (i * 37) % 400) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    packed = pack_documents_by_tokens(df, max_tokens=1000, num_partitions=7)
    got = {r.doc_id: r.shard_id for r in packed.collect()}
    assert got == _greedy_reference(rows, 1000)


def test_pack_documents_shard_budget_contract(spark):
    """Every shard ≤ max_tokens + one document of overshoot; every
    shard but the last ≥ max_tokens − the largest document; shard ids
    are contiguous from 0."""
    from fintrack_etl_spark.operators.packing import (
        pack_documents_by_tokens,
        shard_summary,
    )
    from pyspark.sql import functions as F

    rows = [(i, 10 + (i * 97) % 900) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    max_tokens, max_doc = 5000, max(t for _, t in rows)
    s = shard_summary(
        pack_documents_by_tokens(df, max_tokens=max_tokens, num_partitions=5)
    ).collect()
    ids = [r.shard_id for r in s]
    assert ids == list(range(len(ids)))
    for r in s[:-1]:
        assert max_tokens - max_doc <= r.n_tokens <= max_tokens + max_doc
    assert s[-1].n_tokens <= max_tokens + max_doc
    assert sum(r.n_tokens for r in s) == sum(t for _, t in rows)


def test_pack_documents_deterministic_across_partitionings(spark):
    from fintrack_etl_spark.operators.packing import pack_documents_by_tokens

    rows = [(i, 1 + (i * 13) % 200) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    a = {r.doc_id: r.shard_id for r in pack_documents_by_tokens(df, 777, num_partitions=3).collect()}
    b = {r.doc_id: r.shard_id for r in pack_documents_by_tokens(df.repartition(11), 777, num_partitions=8).collect()}
    assert a == b


def test_ewma_matches_pandas_reference(spark):
    """The grouped-Arrow EWMA equals pandas ewm per key regardless of
    partitioning, and NULLs propagate the prior smoothed value."""
    import pandas as pd

    from fintrack_etl_spark.operators.windows import ewma

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 4,
            "i": list(range(5)) + list(range(4)),
            "x": [1.0, 2.0, None, 4.0, 0.5, 10.0, 10.0, 1.0, None],
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    got = {
        (r.k, r.i): r.s
        for r in ewma(df, ["k"], ["i"], "x", alpha=0.3, alias="s").collect()
    }
    for key, g in pdf.groupby("k"):
        want = g.sort_values("i")["x"].ewm(alpha=0.3, adjust=True).mean()
        for i, w in zip(g.sort_values("i")["i"], want):
            assert abs(got[(key, i)] - w) < 1e-12, (key, i, got[(key, i)], w)


# ---------------------------------------------------------------------------
# Bloom filter semi-join reduction (operators/bloom.py)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    from fintrack_etl_spark.operators.bloom import bloom_might_contain, build_bloom

    dim = spark.range(0, 1000).withColumnRenamed("id", "k")
    m, k = 1 << 14, 5
    bm = build_bloom(dim, "k", num_bits=m, num_hashes=k)
    probe = spark.range(0, 100000).select(
        F.col("id"), bloom_might_contain(F.col("id"), bm, m, k).alias("hit")
    )
    row = probe.agg(
        F.sum(F.when((F.col("id") < 1000) & ~F.col("hit"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("id") >= 1000) & F.col("hit"), 1).otherwise(0)).alias("fp"),
    ).collect()[0]
    assert row["fn"] == 0, "Bloom filters never have false negatives"
    # theory: fpp = (1 - e^(-k n / m))^k ≈ 0.13% here; allow 3x slack
    import math

    fpp = (1 - math.exp(-k * 1000 / m)) ** k
    assert row["fp"] <= 3 * fpp * 99000, (row["fp"], fpp * 99000)


def test_bloom_null_keys_probe_false(spark):
    from fintrack_etl_spark.operators.bloom import bloom_might_contain, build_bloom

    dim = spark.range(0, 10).withColumnRenamed("id", "k")
    bm = build_bloom(dim, "k", num_bits=1 << 10, num_hashes=3)
    got = (
        spark.createDataFrame([(None,), (3,)], "k2 long")
        .select(bloom_might_contain(F.col("k2"), bm, 1 << 10, 3).alias("hit"))
        .collect()
    )
    assert [r["hit"] for r in got] == [False, True]


def test_bloom_prune_join_value_identical_to_plain_join(spark):
    from fintrack_etl_spark.operators.bloom import bloom_prune_join

    fact = spark.range(0, 20000).select(
        (F.col("id") % 500).alias("fk"), F.col("id").alias("v")
    )
    dim = (
        spark.range(0, 100)
        .select((F.col("id") * 3).alias("dk"))
        .filter(F.col("dk") < 500)
    )
    got = (
        bloom_prune_join(fact, dim, "fk", "dk", num_bits=1 << 12)
        .groupBy("dk")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    want = (
        fact.join(dim, fact["fk"] == dim["dk"])
        .groupBy("dk")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bloom_prune_join_rejects_outer(spark):
    import pytest as _pytest

    from fintrack_etl_spark.operators.bloom import bloom_prune_join

    fact = spark.range(5).select(F.col("id").alias("fk"))
    dim = spark.range(3).select(F.col("id").alias("dk"))
    with _pytest.raises(ValueError, match="outer"):
        bloom_prune_join(fact, dim, "fk", "dk", how="left")


def test_scd2_from_changes_collapses_and_versions(spark):
    from fintrack_etl_spark.operators.windows import scd2_from_changes

    rows = [
        # key, seq, state  — AAB BA pattern plus a NULL state
        ("u1", 1, "a"), ("u1", 2, "a"), ("u1", 3, "b"), ("u1", 4, "b"), ("u1", 5, "a"),
        ("u2", 1, None), ("u2", 2, None), ("u2", 3, "x"),
    ]
    df = spark.createDataFrame(rows, "k string, seq int, state string")
    got = sorted(
        map(tuple, scd2_from_changes(df, ["k"], ["seq"], ["state"]).collect()),
        key=lambda t: (t[0], t[2]),
    )
    assert got == [
        ("u1", "a", 1, 3, False),
        ("u1", "b", 3, 5, False),
        ("u1", "a", 5, None, True),
        ("u2", None, 1, 3, False),   # NULL==NULL is "no change" (eqNullSafe)
        ("u2", "x", 3, None, True),
    ]


def test_scd2_multi_column_state(spark):
    from fintrack_etl_spark.operators.windows import scd2_from_changes

    rows = [("k", 1, "a", 1), ("k", 2, "a", 2), ("k", 3, "a", 2)]
    df = spark.createDataFrame(rows, "k string, seq int, s1 string, s2 int")
    got = sorted(map(tuple, scd2_from_changes(df, ["k"], ["seq"], ["s1", "s2"]).collect()))
    # s2 change at seq=2 is a new version even though s1 didn't move
    assert got == [("k", "a", 1, 1, 2, False), ("k", "a", 2, 2, None, True)]


def test_fuzzy_self_pairs_blocked_levenshtein(spark):
    from fintrack_etl_spark.operators.joins import fuzzy_self_pairs

    rows = [
        (1, "red widget", "A"), (2, "rad widget", "A"), (3, "red widget", "A"),
        (4, "blue widget", "B"),   # different block: never compared to A rows
        (5, "totally other", "A"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    got = sorted(
        (r["id_l"], r["id_r"], r["dist"])
        for r in fuzzy_self_pairs(df, "id", "name", ["blk"], max_dist=2).collect()
    )
    # (1,2) dist 1, (1,3) dist 0, (2,3) dist 1; 4 is in another block;
    # 5 is beyond max_dist from everything
    assert got == [(1, 2, 1), (1, 3, 0), (2, 3, 1)]
    out_cols = fuzzy_self_pairs(df, "id", "name", ["blk"]).columns
    assert "blk" in out_cols


def test_bloom_empty_dim_prunes_everything(spark):
    from fintrack_etl_spark.operators.bloom import bloom_prune_join, build_bloom

    import pytest as _pytest

    dim = spark.range(0).withColumnRenamed("id", "dk")
    fact = spark.range(100).select(F.col("id").alias("fk"))
    assert bloom_prune_join(fact, dim, "fk", "dk", num_bits=1 << 10).count() == 0
    with _pytest.raises(ValueError, match="multiple of 64"):
        build_bloom(dim, "dk", num_bits=100)


def test_bloom_merge_is_union(spark):
    from fintrack_etl_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
        merge_blooms,
    )

    m, k = 1 << 12, 5
    a = build_bloom(spark.range(0, 50).withColumnRenamed("id", "x"), "x", m, k)
    b = build_bloom(spark.range(50, 100).withColumnRenamed("id", "x"), "x", m, k)
    both = build_bloom(spark.range(0, 100).withColumnRenamed("id", "x"), "x", m, k)
    merged = merge_blooms(a, b)
    assert merged == both  # deterministic hashing → identical bitmaps
    hits = (
        spark.range(0, 100)
        .select(bloom_might_contain(F.col("id"), merged, m, k).alias("h"))
        .agg(F.sum(F.col("h").cast("int")).alias("n"))
        .collect()[0]["n"]
    )
    assert hits == 100  # no false negatives through the merge


def test_apply_changes_tombstone_replay_and_ordering(spark):
    """CDC fold contracts: (1) the highest-seq change wins, (2) a
    delete tombstone removes the key even when an earlier upsert
    exists, (3) keys without changes keep their snapshot row, (4)
    replaying the whole log over the already-folded state is a no-op
    for surviving keys (idempotence under at-least-once delivery)."""
    from fintrack_etl_spark.operators.upsert import apply_changes

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "val"]
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 1, "U"),   # update
            (2, "b2", 1, "U"),   # update then...
            (2, "b2", 2, "D"),   # ...tombstone wins by seq
            (4, "d", 1, "U"),    # brand-new key
        ],
        ["k", "val", "seq", "op"],
    )
    state = apply_changes(snap, changes, ["k"], "seq", "op")
    got = {r["k"]: r["val"] for r in state.collect()}
    assert got == {1: "a2", 3: "c", 4: "d"}, got

    # replay the same log over the folded state: key 2 stays deleted,
    # everything else unchanged
    replayed = apply_changes(state, changes, ["k"], "seq", "op")
    got2 = {r["k"]: r["val"] for r in replayed.collect()}
    assert got2 == got, got2


def test_skyline_dominance_ties_and_partition_independence(spark):
    """Skyline: dominated rows drop, all-criteria ties are
    incomparable (both survive), result is identical however the
    input is partitioned (local prune is lossless)."""
    from fintrack_etl_spark.operators.skyline import skyline

    rows = [
        # (id, price minimize, size maximize)
        (1, 10.0, 5),   # frontier
        (2, 10.0, 5),   # exact tie with 1 -> both survive
        (3, 12.0, 5),   # dominated by 1 (worse price, equal size)
        (4, 8.0, 3),    # frontier (cheaper, smaller)
        (5, 15.0, 9),   # frontier (pricier, bigger)
        (6, 15.0, 8),   # dominated by 5
        (7, 8.0, 3),    # tie with 4
    ]
    df = spark.createDataFrame(rows, ["id", "price", "size"])
    expect = {1, 2, 4, 5, 7}
    for parts in (1, 3, 8):
        got = {
            r["id"]
            for r in skyline(
                df.repartition(parts), minimize=["price"], maximize=["size"]
            ).collect()
        }
        assert got == expect, parts


def test_match_pattern_nonoverlapping_and_gap_breaking(spark):
    """CEP matcher: non-overlapping left-to-right scan, unmapped
    types break runs ('?'), deterministic tie order by event_id."""
    from fintrack_etl_spark.operators.sequence import match_pattern

    rows = [
        # user 1: v c c p v c p  -> two matches, 4+3 chars
        (1, 1, 1, "view"), (1, 2, 2, "click"), (1, 3, 3, "click"),
        (1, 4, 4, "purchase"), (1, 5, 5, "view"), (1, 6, 6, "click"),
        (1, 7, 7, "purchase"),
        # user 2: v <unknown> c p -> unmapped event breaks the run
        (2, 1, 1, "view"), (2, 2, 2, "refund"), (2, 3, 3, "click"),
        (2, 4, 4, "purchase"),
        # user 3: same ts, order falls to event_id: v(1) c(2) p(3)
        (3, 1, 3, "purchase"), (3, 1, 1, "view"), (3, 1, 2, "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    got = {
        r["user_id"]: (r["n_matches"], r["matched_chars"], r["seq_len"])
        for r in match_pattern(
            df, "user_id", ["ts", "event_id"], "event_type",
            {"view": "v", "click": "c", "purchase": "p"}, "vc+p",
        ).collect()
    }
    assert got[1] == (2, 7, 7)
    assert got[2] == (0, 0, 4)
    assert got[3] == (1, 3, 3)


def test_winsorize_clamps_to_group_band(spark):
    """winsorize: bounds are per-group, tails clamp to them, interior
    values pass through, output stays integer-typed."""
    from fintrack_etl_spark.operators.quality import winsorize

    rows = [("a", v) for v in [0, 10, 20, 30, 40, 50, 60, 70, 80, 1000]] + [
        ("b", v) for v in [5, 5, 5, 5]
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = winsorize(df, ["g"], "v", 0.10, 0.90)
    a = sorted(
        r["w_value"] for r in out.filter(F.col("g") == "a").collect()
    )
    lo = {r["w_lo"] for r in out.filter(F.col("g") == "a").collect()}.pop()
    hi = {r["w_hi"] for r in out.filter(F.col("g") == "a").collect()}.pop()
    # p10 of 0..1000 ladder = 9, p90 = 188 (interpolated, floored/ceiled)
    assert a[0] == lo and a[-1] == hi
    assert all(lo <= v <= hi for v in a)
    # constant group: band collapses, values untouched
    b = [r["w_value"] for r in out.filter(F.col("g") == "b").collect()]
    assert b == [5, 5, 5, 5]
    assert dict(out.dtypes)["w_value"] == "bigint"


def test_distribution_drift_tvd_exact(spark):
    """TVD drift: identical distribution -> 0; disjoint -> ~1
    (bounded by the part's weight in the global mix); hand-checked
    middle case."""
    from pyspark.sql import functions as F

    from fintrack_etl_spark.operators.quality import distribution_drift_tvd

    rows = (
        [("a", 0)] * 5 + [("a", 1)] * 5     # a: uniform over {0,1}
        + [("b", 0)] * 5 + [("b", 1)] * 5   # b: identical to a
        + [("c", 2)] * 10                   # c: disjoint bucket
    )
    df = spark.createDataFrame(rows, ["part", "v"])
    out = {
        r["part"]: r["tvd_nano"]
        for r in distribution_drift_tvd(df, "part", F.col("v")).collect()
    }
    # global: {0: 10, 1: 10, 2: 10}/30.  a: {0:.5, 1:.5, 2:0}
    # TVD(a, glob) = 1/2 (|.5-1/3| + |.5-1/3| + |0-1/3|) = 1/3
    assert out["a"] == out["b"] == 333_333_333
    # c: disjoint except global includes c itself:
    # 1/2 (1/3 + 1/3 + |1 - 1/3|) = 2/3
    assert out["c"] == 666_666_666


def test_sorted_neighborhood_matches_naive_window(spark):
    """Bucket-join SNM must emit EXACTLY the rank-gap-1..w-1 pairs a
    naive single-node sliding window produces, for several window
    sizes and across repartitionings (the prefix-sum rank must not
    depend on physical layout)."""
    import random

    from fintrack_etl_spark.operators.joins import sorted_neighborhood_pairs

    rng = random.Random(7)
    rows = [(i, "".join(rng.choice("abcd") for _ in range(5))) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "k"])

    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    for w in (2, 3, 5, 8):
        expect = {
            (ordered[i][0], ordered[j][0], j - i)
            for i in range(len(ordered))
            for j in range(i + 1, min(i + w, len(ordered)))
        }
        for parts in (1, 4, 13):
            got = {
                (r["src"], r["dst"], r["gap"])
                for r in sorted_neighborhood_pairs(
                    df.repartition(parts), "id", "k", window=w
                ).collect()
            }
            assert got == expect, (w, parts)


def test_sorted_neighborhood_broadcast_fallback_matches_literal(spark, monkeypatch):
    """r12: rank offsets ride a literal-array lookup up to
    _LITERAL_OFFSET_MAX partitions and a broadcast join beyond it (the
    plan-bloat guard). Both routes must emit identical pairs — the
    fallback is forced by shrinking the threshold, since no test-sized
    layout reaches 4096 partitions."""
    import random

    from fintrack_etl_spark.operators import joins as J

    rng = random.Random(11)
    rows = [(i, "".join(rng.choice("abc") for _ in range(4))) for i in range(120)]
    df = spark.createDataFrame(rows, ["id", "k"])

    literal = {
        (r["src"], r["dst"], r["gap"])
        for r in J.sorted_neighborhood_pairs(df, "id", "k", window=4).collect()
    }
    monkeypatch.setattr(J, "_LITERAL_OFFSET_MAX", 0)
    fallback = {
        (r["src"], r["dst"], r["gap"])
        for r in J.sorted_neighborhood_pairs(df, "id", "k", window=4).collect()
    }
    assert literal == fallback
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    expect = {
        (ordered[i][0], ordered[j][0], j - i)
        for i in range(len(ordered))
        for j in range(i + 1, min(i + 4, len(ordered)))
    }
    assert literal == expect


def test_sorted_neighborhood_rejects_degenerate_window(spark):
    import pytest as _pytest

    from fintrack_etl_spark.operators.joins import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a")], ["id", "k"])
    with _pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "id", "k", window=1)


def test_discover_fds_planted_dependencies(spark):
    """Planted FD structure: id -> everything; city -> state holds;
    state -> city fails with exactly the planted violating group."""
    from fintrack_etl_spark.operators.quality import discover_fds

    rows = [
        (1, "porto", "RS"),
        (2, "porto", "RS"),
        (3, "canoas", "RS"),
        (4, "osasco", "SP"),
        (5, "osasco", "SP"),
    ]
    df = spark.createDataFrame(rows, ["id", "city", "state"])
    got = {
        (r["lhs"], r["rhs"]): (r["n_groups"], r["n_violating"], r["holds"])
        for r in discover_fds(df, ["id", "city", "state"]).collect()
    }
    assert got[("id", "city")] == (5, 0, True)
    assert got[("id", "state")] == (5, 0, True)
    assert got[("city", "state")] == (3, 0, True)
    # RS maps to two cities -> exactly one violating group of two
    assert got[("state", "city")] == (2, 1, False)
    assert got[("city", "id")][2] is False
    assert len(got) == 6


def test_bitemporal_state_late_arrival_revises_history(spark):
    """A row with valid time inside the window but transaction time
    after the cutoff must be invisible at the early cutoff and revise
    the belief at the later one."""
    from fintrack_etl_spark.operators.windows import bitemporal_state

    rows = [
        # (user, event_id, state, valid_us, txn_us)
        (1, 10, "a", 100, 100),
        (1, 11, "b", 200, 500),  # late: valid 200, arrived 500
        (2, 20, "x", 150, 150),
    ]
    df = spark.createDataFrame(rows, ["u", "eid", "state", "vt", "tt"])

    early = {
        r["u"]: (r["state"], r["state_since"])
        for r in bitemporal_state(
            df, ["u"], "vt", "tt", ["vt", "eid"], "state", 300, 300
        ).collect()
    }
    assert early == {1: ("a", 100), 2: ("x", 150)}

    late = {
        r["u"]: (r["state"], r["state_since"])
        for r in bitemporal_state(
            df, ["u"], "vt", "tt", ["vt", "eid"], "state", 300, 600
        ).collect()
    }
    assert late == {1: ("b", 200), 2: ("x", 150)}

    # valid-time cutoff still binds: the late row's state never leaks
    # into beliefs about times before its valid time
    before = {
        r["u"]: r["state"]
        for r in bitemporal_state(
            df, ["u"], "vt", "tt", ["vt", "eid"], "state", 150, 600
        ).collect()
    }
    assert before == {1: "a", 2: "x"}


def test_fuzzy_block_quarantine_caps_hot_block(spark):
    """VERDICT r5 #5: a pathological hot block (degenerate blocking
    key) must emit NO pairs and surface in the audit ledger, while
    normal blocks keep their exact pair sets."""
    from fintrack_etl_spark.operators.joins import (
        fuzzy_block_audit,
        fuzzy_self_pairs,
    )

    rows = [(i, f"hot name {i}", "HOT") for i in range(10)]
    rows += [(100, "cold name a", "C1"), (101, "cold name b", "C1")]
    df = spark.createDataFrame(rows, ["rid", "name", "blk"])

    capped = fuzzy_self_pairs(df, "rid", "name", ["blk"], max_dist=3, max_block_size=5)
    got = {(r["id_l"], r["id_r"]) for r in capped.collect()}
    assert got == {(100, 101)}  # hot block quarantined, cold block intact

    audit = fuzzy_block_audit(df, ["blk"], max_block_size=5).collect()
    assert len(audit) == 1
    assert audit[0]["blk"] == "HOT"
    assert audit[0]["n_rows"] == 10 and audit[0]["n_pairs_skipped"] == 45

    # default (no cap) unchanged: hot block pairs fully enumerated
    uncapped = fuzzy_self_pairs(df, "rid", "name", ["blk"], max_dist=3)
    assert uncapped.count() == 45 + 1


def test_hopping_window_every_event_in_exactly_four_windows(spark, sf_dir):
    """x87: a 1-day window hopping every 6 h assigns each event to
    exactly size/hop = 4 windows, starts 6 h apart, each containing
    the event's timestamp."""
    import __spark_entry__ as entry
    from fintrack_etl_spark.io import table

    out = entry.queries()["x87_hopping_window"](spark, sf_dir)
    n_events = table(spark, "events", sf_dir).count()
    assert out.agg(F.sum("n")).first()[0] == 4 * n_events
    # window starts sit on the 6h epoch grid
    bad = out.filter(
        F.col("window_start").cast("timestamp_ltz").cast("long") % 21600 != 0
    )
    assert bad.count() == 0


def test_poisson_bootstrap_weights_and_envelope(spark, sf_dir):
    """x88: the integer-threshold Poisson(1) inverse CDF must produce
    mean weight ~= 1 (single-pass bootstrap validity) and the replica
    envelope must bracket the point estimate."""
    import __spark_entry__ as entry

    out = entry.queries()["x88_poisson_bootstrap"](spark, sf_dir)
    rows = {r["lang"]: r for r in out.collect()}
    assert rows, "at least one lang stratum"
    for r in rows.values():
        assert r["n_replicas"] == 16
        assert r["boot_lo_micro"] <= r["point_micro"] <= r["boot_hi_micro"], (
            "bootstrap envelope must bracket the point mean"
        )
        assert r["boot_lo_micro"] > 0

    # threshold table sanity: the scaled CDF is what math.exp says
    import math

    cum, ts = 0.0, []
    for k in range(8):
        cum += math.exp(-1) / math.factorial(k)
        ts.append(math.floor(cum * 1048576))
    assert ts == [385749, 771499, 964373, 1028665, 1044738, 1047952, 1048488, 1048565]


def test_poisson_bootstrap_weights_mean_near_one(spark):
    """The hash-driven weights over a large key set must average ~1
    with the Poisson(1) distribution's shape (p0 ~= 0.368)."""
    df = spark.range(20000).select(F.col("id").cast("string").alias("key"))
    h = F.conv(F.substring(F.md5(F.concat_ws(":", "key", F.lit(0))), 1, 5), 16, 10).cast(
        "long"
    )
    w = (
        F.when(h < 385749, 0)
        .when(h < 771499, 1)
        .when(h < 964373, 2)
        .when(h < 1028665, 3)
        .when(h < 1044738, 4)
        .when(h < 1047952, 5)
        .when(h < 1048488, 6)
        .when(h < 1048565, 7)
        .otherwise(8)
    )
    stats = df.select(w.alias("w")).agg(
        F.avg("w").alias("m"), F.avg((F.col("w") == 0).cast("int")).alias("p0")
    ).first()
    assert abs(stats["m"] - 1.0) < 0.03
    assert abs(stats["p0"] - math_exp_neg1()) < 0.02


def math_exp_neg1() -> float:
    import math

    return math.exp(-1)


def test_grouped_global_rank_equals_plain_window(spark):
    """The two-phase bounded rank (r9) must reproduce
    row_number() OVER (PARTITION BY group ORDER BY order) exactly —
    checked on a fixture with skewed group sizes, ties broken by id,
    an empty group domain gap, and num_partitions smaller AND larger
    than the group count."""
    from pyspark.sql import Window

    from fintrack_etl_spark.operators.windows import grouped_global_rank

    rows = [(i, i % 3 if i % 7 else 5, f"k{i % 11}") for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "grp", "key"])
    w = Window.partitionBy("grp").orderBy("key", "id")
    want = {
        (r["id"], r["pos"])
        for r in df.withColumn("pos", F.row_number().over(w).cast("long")).collect()
    }
    for parts in (3, 64):
        got = {
            (r["id"], r["pos"])
            for r in grouped_global_rank(
                df, ["grp"], ["key", "id"], num_partitions=parts
            ).collect()
        }
        assert got == want, parts

    # empty input returns an empty frame with the rank column
    empty = grouped_global_rank(df.filter("id < 0"), ["grp"], ["id"])
    assert empty.count() == 0 and "pos" in empty.columns


def test_grouped_global_rank_null_group_keys(spark):
    """NULL group keys are a group of their own, like the plain window
    this operator replaces (ADVICE r9): the documents fixture's lang
    column is nullable, and the pre-fix operator both raised a driver
    TypeError (None-vs-str sort key) and — had the sort not raised —
    would have DROPPED null-group rows at the equi-join. Covers a
    mixed None/str group column and an ALL-None group column (the
    schema-inference failure mode)."""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from fintrack_etl_spark.operators.windows import grouped_global_rank

    schema = StructType(
        [StructField("id", IntegerType()), StructField("grp", StringType())]
    )
    rows = [(i, None if i % 5 == 0 else f"g{i % 3}") for i in range(200)]
    df = spark.createDataFrame(rows, schema)
    w = Window.partitionBy("grp").orderBy("id")
    want = {
        (r["id"], r["pos"])
        for r in df.withColumn("pos", F.row_number().over(w).cast("long")).collect()
    }
    got = {
        (r["id"], r["pos"])
        for r in grouped_global_rank(df, ["grp"], ["id"], num_partitions=7).collect()
    }
    assert got == want
    # all-None group column: schema inference alone cannot type it
    all_null = spark.createDataFrame([(i, None) for i in range(40)], schema)
    out = grouped_global_rank(all_null, ["grp"], ["id"], num_partitions=3).collect()
    assert sorted(r["pos"] for r in out) == list(range(1, 41))


def test_mid_layout_tripwire_on_corrupted_totals():
    """The rank operators' per-partition totals must show local record
    numbers 0..n-1 under the assumed monotonically_increasing_id layout;
    hand-built totals for a changed layout must raise, not rank."""
    import pytest

    from fintrack_etl_spark.operators.rowid import (
        MID_LOCAL_BITS,
        MidLayoutError,
        check_mid_layout,
    )

    def row(pid, n, lo, hi):
        base = pid << MID_LOCAL_BITS
        return {"_pid": pid, "_n": n, "_m0": base + lo, "_m1": base + hi}

    # partition 1 split over two groups, as grouped_global_rank collects it
    good = [row(0, 5, 0, 4), row(1, 3, 0, 2), row(1, 4, 3, 6)]
    check_mid_layout(good)
    for bad in (
        [row(0, 5, 0, 4), row(1, 7, 1, 7)],  # local ids start at 1
        [row(0, 5, 0, 5)],  # a gap: max + 1 != count
        [row(1, 3, 0, 2), row(1, 4, 4, 7)],  # a gap between group slices
        # ids one bit narrower: partitions 0 and 1 both land on pid 0
        [{"_pid": 0, "_n": 4, "_m0": 0, "_m1": (1 << (MID_LOCAL_BITS - 1)) + 1}],
    ):
        with pytest.raises(MidLayoutError):
            check_mid_layout(bad)


def test_grouped_global_rank_bounds_offsets_collect(spark, monkeypatch):
    """The offsets collect is O(#groups x #partitions) driver rows; above
    the module bound it raises a named error giving the counts."""
    import pytest

    from fintrack_etl_spark.operators import windows

    df = spark.createDataFrame([(i, i % 5) for i in range(100)], ["id", "grp"])
    monkeypatch.setattr(windows, "_RANK_OFFSETS_MAX", 4)
    with pytest.raises(windows.RankOffsetsTooLarge, match=r"\(5 read\) across 2 partitions"):
        windows.grouped_global_rank(df, ["grp"], ["id"], num_partitions=2)
    monkeypatch.setattr(windows, "_RANK_OFFSETS_MAX", 10)
    got = windows.grouped_global_rank(df, ["grp"], ["id"], num_partitions=2)
    assert sorted(r["pos"] for r in got.where("grp = 0").collect()) == list(range(1, 21))


def test_grouped_rank_ntile_decomposition(spark):
    """x77's tercile split = grouped_global_rank + the SQL-standard
    ntile formula. Pin the formula against Spark's own ntile() on
    group sizes covering every cnt mod 3 residue (incl. cnt < n) and
    descending order with an id tie-break — the exact x77 shape."""
    from pyspark.sql import Window

    from fintrack_etl_spark.operators.windows import grouped_global_rank

    rows = []
    sizes = {"a": 1, "b": 2, "c": 3, "d": 7, "e": 11, "f": 12}
    i = 0
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((i, g, (i * 37) % 13))
            i += 1
    df = spark.createDataFrame(rows, ["id", "grp", "score"])

    w = Window.partitionBy("grp").orderBy(F.col("score").desc(), F.col("id").asc())
    want = {
        (r["id"], r["nt"])
        for r in df.withColumn("nt", F.ntile(3).over(w)).collect()
    }

    ranked = grouped_global_rank(
        df, ["grp"], [F.col("score").desc(), F.col("id").asc()],
        rank_col="_rn", num_partitions=5,
    )
    cnt = df.groupBy("grp").agg(F.count(F.lit(1)).alias("_cnt"))
    got = {
        (r["id"], r["nt"])
        for r in ranked.join(F.broadcast(cnt), "grp").withColumn(
            "nt",
            F.expr(
                "CASE WHEN _rn <= (_cnt % 3) * (div(_cnt, 3) + 1) "
                "THEN div(_rn + div(_cnt, 3), div(_cnt, 3) + 1) "
                "ELSE (_cnt % 3) + div(_rn - (_cnt % 3) * (div(_cnt, 3) + 1) "
                "+ div(_cnt, 3) - 1, div(_cnt, 3)) END"
            ).cast("int"),
        ).collect()
    }
    assert got == want


def test_sorted_exact_percentiles_bit_identity(spark):
    """sorted_exact_percentiles must reproduce the native percentile()
    aggregate BIT-identically (no round-trip tolerance): same
    pos = p*(n-1), same (hi-pos)*v_lo + (pos-lo)*v_hi interpolation,
    same equal-key short-circuit, NULL for all-null groups."""
    import struct

    from fintrack_etl_spark.operators.aggregate import sorted_exact_percentiles

    rows = [
        ("a", 1.0), ("b", 1.0), ("b", 2.0),
        ("c", 5.5), ("c", 5.5), ("c", 5.5),
        ("d", 0.1), ("d", 0.2), ("d", 0.3), ("d", 0.4), ("d", 0.7),
        ("e", -3.25), ("e", 7.125), ("e", 7.125), ("e", 100.0),
        ("f", None), ("f", None),          # all-null group -> NULLs
        ("g", None), ("g", 42.0),          # nulls skipped, n=1
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    percs = [0.0, 0.25, 0.5, 0.75, 0.99, 1.0]

    arr = ", ".join(f"{p}D" for p in percs)
    native = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(F.expr(f"percentile(v, array({arr}))").alias("p"))
        .collect()
    }
    mine = {
        r["g"]: r["pcts"]
        for r in sorted_exact_percentiles(df, ["g"], "v", percs).collect()
    }

    def bits(x):
        return None if x is None else struct.pack("<d", x).hex()

    assert set(native) == set(mine)
    for g in native:
        nb = None if native[g] is None else [bits(x) for x in native[g]]
        mb = None if mine[g] is None else [bits(x) for x in mine[g]]
        assert nb == mb, (g, native[g], mine[g])


def test_sorted_exact_percentiles_extra_aggs(spark):
    """extra_aggs ride in the same aggregation pass and survive the
    output projection."""
    from fintrack_etl_spark.operators.aggregate import sorted_exact_percentiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], "g string, v double"
    )
    out = sorted_exact_percentiles(
        df, ["g"], "v", [0.5], extra_aggs=[F.sum("v").alias("s")]
    )
    got = {r["g"]: (r["s"], r["pcts"][0]) for r in out.collect()}
    assert got == {"a": (4.0, 2.0), "b": (10.0, 10.0)}
