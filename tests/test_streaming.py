"""Streaming pipelines oracle-checked against their batch twins.

Each test drains the events fixture through a Structured Streaming
plan with ``trigger(availableNow=True)`` and asserts the result equals
the identical batch DataFrame computation on the same files.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from fintrack_etl_spark.io import table
from fintrack_etl_spark.streaming import (
    file_source_stream,
    run_available_now,
    stream_dedup_latest,
    windowed_agg_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Re-land the events fixture as clean µs-timestamp parquet split
    into several files (a file-arrival backlog for the D3 source)."""
    out = str(tmp_path_factory.mktemp("events_land"))
    table(spark, "events", sf_dir).repartition(4).write.mode("overwrite").parquet(out)
    return out


def _schema(spark, path):
    return spark.read.parquet(path).schema


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_windowed_agg_stream_matches_batch(spark, events_dir, tmp_path):
    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=2)
    agg = windowed_agg_stream(stream)
    name = f"win_{uuid.uuid4().hex[:8]}"
    run_available_now(agg, os.path.join(str(tmp_path), "ck"), name, output_mode="complete")
    got = spark.table(name)

    batch = windowed_agg_stream(spark.read.parquet(events_dir))
    assert _rows(got, "window_start", "event_type") == _rows(batch, "window_start", "event_type")


def test_hopping_window_stream_matches_batch(spark, events_dir, tmp_path):
    # the hopping (overlapping) variant — streaming twin of
    # x87_hopping_window: every event lands in size/hop windows on
    # both engines, and the stream must reproduce the batch expansion
    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=2)
    agg = windowed_agg_stream(stream, window="1 day", hop="6 hours")
    name = f"hop_{uuid.uuid4().hex[:8]}"
    run_available_now(agg, os.path.join(str(tmp_path), "ck"), name, output_mode="complete")
    got = spark.table(name)

    batch = windowed_agg_stream(
        spark.read.parquet(events_dir), window="1 day", hop="6 hours"
    )
    assert _rows(got, "window_start", "event_type") == _rows(
        batch, "window_start", "event_type"
    )
    # each event is in exactly size/hop = 4 windows
    n_events = spark.read.parquet(events_dir).count()
    from pyspark.sql import functions as F

    assert batch.agg(F.sum("n")).first()[0] == 4 * n_events


def test_stream_dedup_matches_batch(spark, events_dir, tmp_path):
    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema)
    dedup = stream_dedup_latest(stream, keys=("user_id",))
    name = f"dd_{uuid.uuid4().hex[:8]}"
    run_available_now(dedup, os.path.join(str(tmp_path), "ck"), name, output_mode="append")
    got = spark.table(name)

    # one surviving row per user; row identity may differ (streaming
    # keeps the first arrival, batch window the latest) — compare keys
    batch_keys = spark.read.parquet(events_dir).select("user_id").distinct()
    assert got.count() == batch_keys.count()
    assert got.select("user_id").distinct().count() == batch_keys.count()


def test_file_source_is_incremental(spark, events_dir, tmp_path):
    """D3 semantics: a second availableNow run over an unchanged
    directory emits nothing new (checkpoint = per-file state)."""
    schema = _schema(spark, events_dir)
    ck = os.path.join(str(tmp_path), "ck")
    out = os.path.join(str(tmp_path), "out")

    def drain():
        q = (
            file_source_stream(spark, events_dir, schema)
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n_first = spark.read.parquet(out).count()
    assert n_first == spark.read.parquet(events_dir).count()

    # same checkpoint, same files → zero new rows (file sink recovers)
    drain()
    assert spark.read.parquet(out).count() == n_first


def test_running_totals_stateful_stream(spark, events_dir, tmp_path):
    """applyInPandasWithState cumulative totals: after draining the
    backlog in 2-file micro-batches, each key's LAST emitted row must
    equal the batch groupBy count/sum over the same files."""
    from fintrack_etl_spark.streaming import running_totals_stream

    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=2)
    totals = running_totals_stream(stream)
    name = f"rt_{uuid.uuid4().hex[:8]}"
    run_available_now(totals, os.path.join(str(tmp_path), "ck"), name, output_mode="update")

    # update-mode memory sink appends one row per key per batch; the
    # row with the max n per key is the final cumulative state
    from pyspark.sql import Window

    got = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    final = got.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")

    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    f = {r["user_id"]: (r["n"], r["total"]) for r in final.collect()}
    b = {r["user_id"]: (r["n"], r["total"]) for r in batch.collect()}
    assert set(f) == set(b)
    for k in b:
        assert f[k][0] == b[k][0]
        assert abs(f[k][1] - b[k][1]) < 1e-6


@pytest.fixture
def sink_table(spark):
    """A fresh catalog sink table name. Teardown drops the table and its
    ``__meta`` watermark and removes both managed locations under the
    session's warehouse dir, whether or not the test passed: a location
    left behind after the catalog entry is gone makes ``saveAsTable``
    refuse the name."""
    name = f"sink_{uuid.uuid4().hex[:8]}"
    yield name
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (name, f"{name}__meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)


def test_upsert_sink_stream_matches_batch_merge(spark, events_dir, tmp_path, sink_table):
    """foreachBatch upsert sink: after draining the backlog file-by-file,
    the managed table must equal a single batch latest-wins dedup over
    the same input — regardless of how the batches were cut."""
    import os

    from fintrack_etl_spark.operators.windows import dedup_latest
    from fintrack_etl_spark.streaming.pipelines import (
        file_source_stream,
        upsert_sink_stream,
    )

    ev = spark.read.parquet(events_dir)
    schema = ev.schema
    tbl = sink_table
    stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=1)
    q = upsert_sink_stream(
        stream, os.path.join(str(tmp_path), "ck"), tbl,
        keys=["user_id"], order_col="ts", tie_breakers=["event_id"],
    )
    q.awaitTermination()

    got = {tuple(r) for r in spark.table(tbl).select("user_id", "event_id").collect()}
    want = {
        tuple(r)
        for r in dedup_latest(ev, ["user_id"], "ts", ["event_id"])
        .select("user_id", "event_id")
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Drain a stream-stream interval self-join (click→follow-up within
    30 min per user) and compare against the identical batch join."""
    import os

    from fintrack_etl_spark.streaming.pipelines import (
        file_source_stream,
        run_available_now,
        stream_interval_join,
    )

    ev = spark.read.parquet(events_dir)
    schema = ev.schema
    ls = file_source_stream(spark, events_dir, schema)
    rs = file_source_stream(spark, events_dir, schema)
    joined = stream_interval_join(ls, rs)
    name = "interval_join_t"
    run_available_now(joined, os.path.join(str(tmp_path), "ck"), name, output_mode="append")
    got = {tuple(r) for r in spark.table(name).select("l_event", "r_event").collect()}

    from fintrack_etl_spark.streaming.pipelines import stream_interval_join as sij

    batch = sij(ev, ev)  # same builder works on batch DataFrames
    want = {tuple(r) for r in batch.select("l_event", "r_event").collect()}
    assert got == want and len(got) > 0


def test_stream_content_dedup_matches_batch_x1(spark, sf_dir, tmp_path):
    """Streaming content dedup (ingest-side x1): re-crawled duplicate
    documents arriving within the watermark horizon are dropped online;
    the surviving set of content hashes equals the batch exact-dedup's
    distinct groups over the same files."""
    from fintrack_etl_spark.operators.dedup_text import exact_dup_groups
    from fintrack_etl_spark.streaming import stream_dedup_by_content

    docs = table(spark, "documents", sf_dir)
    recrawl = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    land = str(tmp_path / "docs_land")
    (
        docs.unionByName(recrawl)
        # spread < the 1-day watermark horizon: out-of-order arrival
        # across files must stay within-watermark, not late-data
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 86000),
        )
        .repartition(3)
        .write.parquet(land)
    )

    stream = file_source_stream(spark, land, _schema(spark, land), max_files_per_trigger=1)
    name = f"cdedup_{uuid.uuid4().hex[:8]}"
    run_available_now(
        stream_dedup_by_content(stream), os.path.join(str(tmp_path), "ck"), name
    )
    got = spark.table(name)

    batch_groups = exact_dup_groups(spark.read.parquet(land), "doc_id", "text")
    assert got.count() == batch_groups.count()  # one survivor per content group
    assert got.select("content_hash").distinct().count() == got.count()
    assert _rows(got.select("content_hash"), "content_hash") == _rows(
        batch_groups.select("content_hash"), "content_hash"
    )


def test_continuous_aggregate_stream_matches_batch(spark, events_dir, tmp_path, sink_table):
    """The streamed fold over micro-batches must equal the from-scratch
    batch aggregate, and a checkpoint-replayed drain must NOT
    double-count (sum-merge is not idempotent; the batch-id guard is)."""
    from fintrack_etl_spark.operators.incremental import finalize_aggregate, partial_aggregate
    from fintrack_etl_spark.streaming import continuous_aggregate_stream

    schema = _schema(spark, events_dir)
    tbl = sink_table
    ck = os.path.join(str(tmp_path), "ck")

    stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=1)
    q = continuous_aggregate_stream(stream, ck, tbl, ["event_type"], "value")
    q.awaitTermination()

    batch = finalize_aggregate(
        partial_aggregate(spark.read.parquet(events_dir), ["event_type"], "value"),
        ["event_type"],
    )
    got = finalize_aggregate(spark.table(tbl), ["event_type"])
    assert _rows(got, "event_type") == _rows(batch, "event_type")

    # drain again over the same checkpoint + unchanged dir: no new
    # batches, state unchanged
    stream2 = file_source_stream(spark, events_dir, schema, max_files_per_trigger=1)
    q2 = continuous_aggregate_stream(stream2, ck, tbl, ["event_type"], "value")
    q2.awaitTermination()
    got2 = finalize_aggregate(spark.table(tbl), ["event_type"])
    assert _rows(got2, "event_type") == _rows(batch, "event_type")


def test_quality_gate_composes_with_streaming(spark, events_dir, tmp_path):
    """Row-level expectations are narrow ops, so the SAME
    split_by_expectations the batch path uses runs unchanged on a
    streaming DataFrame — the gate needs no streaming-specific code.
    Drain the good side and check it equals the batch split."""
    from fintrack_etl_spark.operators.quality import Expectation, split_by_expectations

    exps = [
        Expectation("known_type", F.col("event_type").isin("view", "click", "purchase", "signup")),
        Expectation("value_nonneg", F.col("value").isNotNull() & (F.col("value") >= 0)),
    ]
    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema)
    good_stream, _bad_stream = split_by_expectations(stream, exps)
    assert good_stream.isStreaming
    name = f"qg_{uuid.uuid4().hex[:8]}"
    run_available_now(good_stream, os.path.join(str(tmp_path), "ck"), name, output_mode="append")

    good_batch, bad_batch = split_by_expectations(spark.read.parquet(events_dir), exps)
    got = spark.table(name)
    assert got.count() == good_batch.count()
    assert got.filter(F.col("event_type") == "error").count() == 0
    assert got.count() + bad_batch.count() == spark.read.parquet(events_dir).count()


@pytest.fixture(scope="module")
def reset_land(spark, tmp_path_factory):
    """Two landing dirs of single-row files over one schema every sink
    can fold (key ``k``, order/seq ``i``, value ``x``, CDC op ``op``):
    3 files of keys 1-3, then 2 files of NEW keys 4-5."""
    out = tmp_path_factory.mktemp("reset_land")
    dirs = []
    for name, keys in (("old", (1, 2, 3)), ("new", (4, 5))):
        d = str(out / name)
        for k in keys:
            spark.createDataFrame(
                [(k, 10 * k, k * k, "D" if k == 2 else "U")], "k long, i long, x long, op string"
            ).coalesce(1).write.mode("append").parquet(d)
        dirs.append(d)
    return dirs


# every stateful sink: the arguments after (stream, checkpoint, table)
_RESET_SINKS = {
    "upsert_sink_stream": (["k"], "i"),
    "continuous_aggregate_stream": (["k"], "x"),
    "cdc_sink_stream": (["k"], "i", "op"),
    "cusum_drift_stream": (["k"], "i", "x"),
    "upsert_sink_stream_versioned": (["k"], "i"),
    "continuous_aggregate_stream_versioned": (["k"], "x"),
    "cdc_sink_stream_versioned": (["k"], "i", "op"),
}


@pytest.mark.parametrize("sink", list(_RESET_SINKS))
def test_sink_detects_checkpoint_reset(spark, reset_land, tmp_path, sink, sink_table):
    """Deleting/relocating the checkpoint while the state survives
    restarts batch ids at 0; every sink, on its own table kind, must
    FAIL FAST (silently skipping the new data and re-folding are both
    wrong answers) and leave the state untouched."""
    from pyspark.sql.streaming import StreamingQueryException

    from fintrack_etl_spark import lake_tx
    from fintrack_etl_spark.streaming import pipelines

    old, new = reset_land
    versioned = sink.endswith("_versioned")
    run = getattr(lake_tx if versioned else pipelines, sink)
    target = str(tmp_path / "root") if versioned else sink_table

    def drain(src, ck):
        stream = file_source_stream(spark, src, _schema(spark, src), max_files_per_trigger=1)
        return run(stream, os.path.join(str(tmp_path), ck), target, *_RESET_SINKS[sink])

    def state():
        df = lake_tx.read_table(spark, target) if versioned else spark.table(target)
        return sorted(map(tuple, df.collect()), key=repr)

    drain(old, "ck1").awaitTermination()
    before = state()
    assert len(before) == 3

    # fresh checkpoint, surviving state: batch 0 arrives below watermark
    q2 = drain(new, "ck2")
    with pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q2.awaitTermination()
    # and the state was left untouched by the failed run
    assert state() == before


def test_stratified_sample_composes_with_streaming(spark, events_dir, tmp_path):
    """The deterministic md5-threshold sampler is a broadcast
    stream-static join + narrow filter, so the SAME stratified_sample
    runs unchanged on a streaming DataFrame, and — because membership
    is a pure function of (stratum, key), not of partitioning or
    batch boundaries — the drained sample is row-identical to the
    batch sample of the same files."""
    from fintrack_etl_spark.operators.sampling import stratified_sample

    rates = {"view": 0.5, "click": 1.0, "error": 0.0}
    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=1)
    sampled = stratified_sample(stream, spark, "event_type", "event_id", rates)
    assert sampled.isStreaming
    name = f"ss_{uuid.uuid4().hex[:8]}"
    run_available_now(sampled, os.path.join(str(tmp_path), "ck"), name, output_mode="append")

    batch = stratified_sample(
        spark.read.parquet(events_dir), spark, "event_type", "event_id", rates
    )
    got_ids = sorted(r.event_id for r in spark.table(name).collect())
    want_ids = sorted(r.event_id for r in batch.collect())
    assert got_ids == want_ids and len(got_ids) > 0


def _check_scd2_stream(spark, events_dir, tmp_path, tie_col):
    from fintrack_etl_spark.operators.windows import scd2_from_changes
    from fintrack_etl_spark.streaming.pipelines import scd2_stream

    schema = _schema(spark, events_dir)
    stream = file_source_stream(spark, events_dir, schema)
    out = scd2_stream(stream, tie_col=tie_col)
    name = f"scd2_{uuid.uuid4().hex[:8]}"
    run_available_now(out, os.path.join(str(tmp_path), "ck"), name, output_mode="append")
    got = _rows(spark.table(name), "user_id", "valid_from")

    order = list(dict.fromkeys(["ts", tie_col]))
    batch = scd2_from_changes(
        spark.read.parquet(events_dir), ["user_id"], order, ["event_type"]
    )
    want = _rows(
        batch.where(F.col("valid_to").isNotNull()).select(
            "user_id", "event_type", "valid_from", "valid_to"
        ),
        "user_id",
        "valid_from",
    )
    assert len(got) == len(want) and got == want


def test_scd2_stream_matches_batch_closed_versions(spark, events_dir, tmp_path):
    """transformWithStateInPandas SCD2: the closed versions emitted by
    the stream must equal the batch scd2_from_changes rows whose
    valid_to is set (the open versions live in stream state)."""
    _check_scd2_stream(spark, events_dir, tmp_path, "event_id")


def test_scd2_stream_accepts_ts_as_tie_column(spark, events_dir, tmp_path):
    """One column may fill two roles: with tie_col == ts_col the
    pre-projection must not duplicate it into an ambiguous reference.
    (user_id, ts) is unique in the fixture, so ts alone orders it."""
    _check_scd2_stream(spark, events_dir, tmp_path, "ts")


def test_stream_enrich_dimension_refreshes_between_drains(spark, events_dir, tmp_path):
    """Stream-static enrichment: (1) output equals the batch left join;
    (2) because the static side re-plans per micro-batch, a dimension
    update between drains is visible to later batches with the SAME
    checkpoint — no query restart, no state."""
    import shutil

    from fintrack_etl_spark.streaming.pipelines import stream_enrich_dimension

    # private copy — this test APPENDS files, the shared fixture must not mutate
    src_dir = os.path.join(str(tmp_path), "events_src")
    shutil.copytree(events_dir, src_dir)
    events_dir = src_dir
    ev = spark.read.parquet(events_dir)
    dim_t = f"dim_users_{uuid.uuid4().hex[:8]}"
    out_t = f"enriched_{uuid.uuid4().hex[:8]}"
    ck = os.path.join(str(tmp_path), "ck")
    try:
        (
            ev.select("user_id").distinct()
            .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
            .write.saveAsTable(dim_t)
        )
        def drain_to_table(enriched_stream):
            # a REAL (recoverable) sink: the memory sink can't resume
            # from a checkpoint, a catalog parquet table can
            q = (
                enriched_stream.writeStream.outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .toTable(out_t)
            )
            q.awaitTermination()

        stream = file_source_stream(spark, events_dir, ev.schema)
        enriched = stream_enrich_dimension(stream, spark.table(dim_t), key="user_id")
        drain_to_table(enriched)

        got = {tuple(r) for r in spark.table(out_t).select("event_id", "tier").collect()}
        want = {
            tuple(r)
            for r in ev.join(spark.table(dim_t), "user_id", "left")
            .select("event_id", "tier")
            .collect()
        }
        assert got == want and len(got) > 0

        # flip the dim (type-1 update) and land a new batch of events
        spark.sql(f"UPDATE {dim_t} SET tier = 'vip'") if False else None
        # (catalog parquet tables aren't updatable — rewrite instead)
        dim2 = spark.table(dim_t).withColumn("tier", F.lit("vip"))
        dim2.cache().count()
        dim2.write.mode("overwrite").saveAsTable(f"{dim_t}_v2")
        late = ev.limit(50).withColumn("event_id", F.col("event_id") + 10_000_000)
        late.write.mode("append").parquet(events_dir)

        enriched2 = stream_enrich_dimension(
            file_source_stream(spark, events_dir, ev.schema),
            spark.table(f"{dim_t}_v2"),
            key="user_id",
        )
        drain_to_table(enriched2)
        new_rows = {
            r.tier
            for r in spark.table(out_t)
            .filter(F.col("event_id") >= 10_000_000)
            .collect()
        }
        assert new_rows == {"vip"}  # only NEW files flow; they see the new dim
        old_rows = {
            r.tier
            for r in spark.table(out_t).filter(F.col("event_id") < 10_000_000).collect()
        }
        assert old_rows == {"even", "odd"}  # first drain's output untouched
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {dim_t}")
        spark.sql(f"DROP TABLE IF EXISTS {dim_t}_v2")
        spark.sql(f"DROP TABLE IF EXISTS {out_t}")


def test_stream_interval_join_left_outer_matches_batch_closed_region(
    spark, events_dir, tmp_path
):
    """Left-outer interval join: matched pairs equal the batch inner
    join; unmatched lefts (NULL right) are emitted once the watermark
    closes their window. Rows whose window is still open when the
    drain ends are withheld (correct streaming semantics, not data
    loss), so the batch comparison is restricted to the CLOSED region:
    l_ts + max_lag + watermark < max event time."""
    from pyspark.sql import functions as F

    from fintrack_etl_spark.streaming.pipelines import (
        file_source_stream,
        run_available_now,
        stream_interval_join,
    )

    ev = spark.read.parquet(events_dir)
    ls = file_source_stream(spark, events_dir, ev.schema)
    rs = file_source_stream(spark, events_dir, ev.schema)
    joined = stream_interval_join(ls, rs, how="left_outer")
    name = "interval_loj_t"
    run_available_now(joined, os.path.join(str(tmp_path), "ck"), name, output_mode="append")
    got = spark.table(name)

    batch = stream_interval_join(ev, ev, how="left_outer")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    closed = max_ts - datetime.timedelta(hours=1, minutes=30)

    def pairs(df, only_closed):
        f = df.filter(F.col("l_ts") < F.lit(closed)) if only_closed else df
        return {(r.l_event, r.r_event) for r in f.collect()}

    # matched pairs: exact equality, full region
    got_matched = {p for p in pairs(got, False) if p[1] is not None}
    want_matched = {p for p in pairs(batch, False) if p[1] is not None}
    assert got_matched == want_matched and len(got_matched) > 0

    # unmatched lefts: exact equality on the closed region
    got_null = {p[0] for p in pairs(got, True) if p[1] is None}
    want_null = {p[0] for p in pairs(batch, True) if p[1] is None}
    assert got_null == want_null and len(got_null) > 0


def test_stream_interval_join_left_outer_late_match_cannot_retract_null(
    spark, tmp_path
):
    """The state-expiry contract users get wrong (VERDICT r7 #6): once
    the watermark closes a left row's join window and the NULL row is
    emitted, a LATE-arriving right-side match must be dropped — append
    mode cannot retract, so the NULL verdict stands and no second row
    for that left may ever appear. Fresh (in-watermark) pairs arriving
    in the same later drain must still match normally.

    Drain 1: two unmatched lefts at T0 + a T0+3h sentinel on each side
    pushes the watermark to T0+2h, past the lefts' T0+30min windows —
    the no-data batch evicts their state and emits the NULL rows.
    Drain 2 (same checkpoint): a right match for left 10 arrives with
    ts=T0+10min — 110 min BELOW the watermark — plus a fresh left/right
    pair at T0+3h."""
    import datetime
    import os

    from fintrack_etl_spark.streaming.pipelines import (
        file_source_stream,
        run_available_now,
        stream_interval_join,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [(u, t0 + datetime.timedelta(minutes=m), e, 1.0) for u, m, e in rows],
            "user_id long, ts timestamp, event_id long, value double",
        )

    ldir, rdir = str(tmp_path / "left"), str(tmp_path / "right")
    ck = os.path.join(str(tmp_path), "ck")
    sink = str(tmp_path / "sink")
    schema = "user_id long, ts timestamp, event_id long, value double"

    def drain():
        # parquet sink (not run_available_now's memory sink): the test
        # RESTARTS the query from its checkpoint for drain 2, which the
        # memory sink does not support
        q = (
            stream_interval_join(
                file_source_stream(spark, ldir, schema),
                file_source_stream(spark, rdir, schema),
                how="left_outer",
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    # drain 1: lefts 10/20 unmatched; sentinels advance BOTH watermarks
    # (multipleWatermarkPolicy=min takes the slower side)
    mk([(1, 0, 10), (2, 0, 20), (9, 180, 1000)]).write.parquet(ldir)
    mk([(8, 180, 2000)]).write.parquet(rdir)
    after1 = {(r.l_event, r.r_event) for r in drain().collect()}
    assert (10, None) in after1 and (20, None) in after1

    # drain 2: the late match (user 1, ts=T0+10min, below the T0+2h
    # watermark) + a fresh in-watermark pair for user 3
    mk([(3, 180, 30)]).write.mode("append").parquet(ldir)
    mk([(1, 10, 99), (3, 185, 31)]).write.mode("append").parquet(rdir)
    rows = [(r.l_event, r.r_event) for r in drain().collect()]

    # the NULL verdict for left 10 stands: exactly one row, never a
    # late-match row (and no duplicate NULL from the second drain)
    assert [p for p in rows if p[0] == 10] == [(10, None)]
    assert [p for p in rows if p[0] == 20] == [(20, None)]
    # the fresh pair matched normally in the same drain
    assert (30, 31) in rows


def test_cdc_sink_stream_matches_batch_apply(spark, events_dir, tmp_path, sink_table):
    """foreachBatch CDC sink: drain a change log cut into per-file
    micro-batches; the managed table must equal one batch
    apply_changes over the whole log — updates applied, tombstoned
    keys absent — regardless of batch boundaries."""
    import os

    from fintrack_etl_spark.operators.upsert import apply_changes
    from fintrack_etl_spark.streaming.pipelines import (
        cdc_current_state,
        cdc_sink_stream,
        file_source_stream,
    )

    ev = spark.read.parquet(events_dir)
    # synthesize a CDC log from events: key=user_id, seq=epoch micros,
    # op=D for every third user's latest record
    # seq = event_id: unique per key, so the fold's winner is
    # batch-cut-independent even though repartition(4) scatters the log
    # across files in random order (out-of-order delivery is the point)
    log = ev.select(
        "user_id",
        "event_id",
        "value",
        F.col("event_id").alias("seq"),
        F.when(F.col("user_id") % 3 == 0, "D").otherwise("U").alias("op"),
    )
    logdir = os.path.join(str(tmp_path), "cdclog")
    log.repartition(4).write.parquet(logdir)

    tbl = sink_table
    stream = file_source_stream(
        spark, logdir, spark.read.parquet(logdir).schema, max_files_per_trigger=1
    )
    q = cdc_sink_stream(
        stream, os.path.join(str(tmp_path), "ck"), tbl,
        keys=["user_id"], seq_col="seq", op_col="op",
    )
    q.awaitTermination()

    payload = spark.read.parquet(logdir)
    empty = spark.createDataFrame([], payload.drop("seq", "op").schema)
    want_df = apply_changes(empty, payload, ["user_id"], "seq", "op")
    got = {
        tuple(r)
        for r in cdc_current_state(spark, tbl).select("user_id", "event_id").collect()
    }
    want = {tuple(r) for r in want_df.select("user_id", "event_id").collect()}
    assert got == want and len(got) > 0
    # tombstoned keys really are gone
    assert not any(k % 3 == 0 for k, _ in got)


def test_cdc_vacuum_drops_only_expired_tombstones(spark, sink_table):
    """Vacuum removes tombstones strictly below the replay horizon and
    nothing else; the current-state view is unchanged."""
    from fintrack_etl_spark.streaming.pipelines import (
        cdc_current_state,
        cdc_vacuum_tombstones,
    )

    tbl = sink_table
    rows = [
        (1, "a", 10, False),   # live
        (2, "b", 5, True),     # expired tombstone
        (3, "c", 20, True),    # tombstone still inside horizon
    ]
    spark.createDataFrame(
        rows, "k int, v string, __seq long, __deleted boolean"
    ).write.saveAsTable(tbl)

    before = {tuple(r) for r in cdc_current_state(spark, tbl).collect()}
    n = cdc_vacuum_tombstones(spark, tbl, below_seq=15)
    assert n == 1
    keys = {r["k"]: r["__deleted"] for r in spark.table(tbl).collect()}
    assert keys == {1: False, 3: True}
    after = {tuple(r) for r in cdc_current_state(spark, tbl).collect()}
    assert after == before
    # idempotent: nothing left below the horizon
    assert cdc_vacuum_tombstones(spark, tbl, below_seq=15) == 0


def test_watermark_drops_late_rows_and_bounds_state(spark, tmp_path):
    """The watermark CONTRACT, not just pass-through: in append mode a
    row arriving after the watermark passed its window must be DROPPED
    (its window already finalized and its state evicted) — this is
    what bounds streaming state at scale. Two micro-batches: batch 1
    advances the watermark far past day D; batch 2 delivers a late
    day-D row. The late row must not resurrect the closed window,
    so the emitted day-D count excludes it — while the same data in
    one BATCH query (no watermark) includes it."""
    import os

    from fintrack_etl_spark.streaming.pipelines import (
        file_source_stream,
        run_available_now,
        windowed_agg_stream,
    )

    land = os.path.join(str(tmp_path), "late_land")
    raw = "event_id long, ts string, event_type string, value double"
    b1 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "view", 1.0),   # day D
            (2, "2024-01-10 10:00:00", "view", 1.0),   # advances watermark to D+9-1d
        ],
        raw,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [(3, "2024-01-01 11:00:00", "view", 1.0)], raw  # LATE day-D row
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b1.coalesce(1).write.parquet(os.path.join(land, "f1"))

    ck = os.path.join(str(tmp_path), "ck")
    out = os.path.join(str(tmp_path), "out")
    schema = spark.read.parquet(os.path.join(land, "f1")).schema

    def drain():
        # parquet sink: unlike the memory sink it RECOVERS from the
        # checkpoint, which this two-drain scenario needs
        q = (
            windowed_agg_stream(file_source_stream(spark, land + "/f*", schema))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # drain batch 1 (file f1), closing day D once the watermark passes
    drain()
    # now the late row lands and a second drain processes only it
    b2.coalesce(1).write.parquet(os.path.join(land, "f2"))
    drain()

    got = {
        (str(r["window_start"]), r["n"])
        for r in spark.read.parquet(out).collect()
    }
    # day D emitted with n=1 (late row DROPPED); never re-emitted with n=2
    day_d = [n for ws, n in got if ws.startswith("2024-01-01")]
    assert day_d == [1], got
    # the batch (no-watermark) answer over the same files is n=2 — the
    # difference IS the watermark contract
    batch = windowed_agg_stream(spark.read.parquet(land + "/f*"))
    b_day_d = [
        r["n"]
        for r in batch.collect()
        if str(r["window_start"]).startswith("2024-01-01")
    ]
    assert b_day_d == [2]


def test_cusum_drift_stream_matches_batch(spark, tmp_path, sink_table):
    """Drain time-ordered file drops through the drawup sink; the
    converged state must equal the from-scratch batch statistic, and a
    checkpoint-replayed drain must not re-fold (order-sensitive merge,
    batch-id guard)."""
    import random

    from fintrack_etl_spark.operators.incremental import partial_drawup_state
    from fintrack_etl_spark.streaming.pipelines import cusum_drift_stream

    rng = random.Random(99)
    rows = [
        (k, i, rng.randint(-40, 55)) for k in ("a", "b") for i in range(60)
    ]
    land = os.path.join(str(tmp_path), "land")
    # three time-ordered slices, landed sequentially (file source
    # drains oldest first — the ordering contract the sink documents)
    for n, (lo, hi) in enumerate(((0, 20), (20, 40), (40, 60))):
        chunk = [r for r in rows if lo <= r[1] < hi]
        spark.createDataFrame(chunk, "k string, i int, x long").coalesce(1).write.mode(
            "append"
        ).parquet(land)
        time.sleep(1.1)  # distinct mtimes keep drain order deterministic

    schema = spark.read.parquet(land).schema
    tbl = sink_table
    ck = os.path.join(str(tmp_path), "ck")
    stream = file_source_stream(spark, land, schema, max_files_per_trigger=1)
    q = cusum_drift_stream(stream, ck, tbl, ["k"], "i", "x")
    q.awaitTermination()

    batch = partial_drawup_state(
        spark.createDataFrame(rows, "k string, i int, x long"), ["k"], "i", "x"
    )
    got = {r["k"]: (r["du_s"], r["du_d"]) for r in spark.table(tbl).collect()}
    want = {r["k"]: (r["du_s"], r["du_d"]) for r in batch.collect()}
    assert got == want

    # replay drain: unchanged state
    stream2 = file_source_stream(spark, land, schema, max_files_per_trigger=1)
    q2 = cusum_drift_stream(stream2, ck, tbl, ["k"], "i", "x")
    q2.awaitTermination()
    got2 = {r["k"]: (r["du_s"], r["du_d"]) for r in spark.table(tbl).collect()}
    assert got2 == want

    # exercise the fold driver's replay rule DIRECTLY (the drained
    # checkpoint delivers no batches, so the paths above never run it),
    # on both table kinds — the versioned root seeded with the same
    # state and watermark: a replayed last id must skip, an id below
    # the watermark must raise
    from fintrack_etl_spark import lake_tx
    from fintrack_etl_spark.streaming.fold import (
        CatalogTable,
        VersionedRoot,
        drawup_step,
        fold_batch,
    )

    last = spark.table(f"{tbl}__meta").first()["last_batch_id"]
    root = os.path.join(str(tmp_path), "root")
    lake_tx.commit_table(spark.table(tbl), root, batch_id=last)
    poison = spark.createDataFrame([("a", 999, 10**6)], "k string, i int, x long")
    for kind in (CatalogTable(tbl), VersionedRoot(root)):
        fold = fold_batch(kind, drawup_step(["k"], "i", "x"))
        fold(poison, last)  # replay of the recorded id: skipped, state intact
        got3 = {r["k"]: (r["du_s"], r["du_d"]) for r in kind.read(spark).collect()}
        assert got3 == want
        with pytest.raises(RuntimeError, match="checkpoint was reset"):
            fold(poison, last - 1)


def _package_files():
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "fintrack_etl_spark"
    return [
        (str(p.relative_to(pkg)), p.read_text(errors="replace"))
        for p in sorted(pkg.rglob("*.py"))
    ]


def test_one_foreach_batch_site():
    """One fold driver: exactly one package file starts a
    ``foreachBatch`` sink, so no sink grows its own replay rule back."""
    hits = [rel for rel, text in _package_files() if "foreachBatch(" in text]
    assert hits == ["streaming/fold.py"]


def test_one_session_memo():
    """One session memo: only ``operators/memo.py`` inserts with
    ``evicting_put``, and no package module binds a top-level
    ``*_CACHE`` store of its own."""
    import ast

    puts, stores = [], []
    for rel, text in _package_files():
        if "evicting_put(" in text:
            puts.append(rel)
        for node in ast.parse(text).body:
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            stores += [
                f"{rel}:{t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert puts == ["operators/memo.py"]
    assert stores == []


def test_first_seen_typed_state_matches_batch_distinct(spark, events_dir, tmp_path):
    """Spark 4 typed-state path (transformWithStateInPandas +
    RocksDB): draining the backlog through first_seen_stream must
    emit each distinct user exactly once — the batch DISTINCT.

    The typed-state wire protocol needs the protobuf package
    (pyspark.sql.streaming.proto); without it the TWS driver worker
    cannot start, so this skips in that environment after verifying
    the operator still PLANS (analysis succeeds)."""
    from fintrack_etl_spark.streaming.pipelines import first_seen_stream

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        schema = _schema(spark, events_dir)
        stream = file_source_stream(spark, events_dir, schema)
        out = first_seen_stream(stream, keys=("user_id",))
        assert out.isStreaming and out.columns == ["user_id"]
        pytest.skip("protobuf absent: transformWithState runtime unavailable")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = _schema(spark, events_dir)
        stream = file_source_stream(spark, events_dir, schema, max_files_per_trigger=1)
        out = first_seen_stream(stream, keys=("user_id",))
        run_available_now(out, str(tmp_path / "ck"), "first_seen_tbl")
        got = [r["user_id"] for r in spark.table("first_seen_tbl").collect()]
        want = {
            r["user_id"]
            for r in spark.read.parquet(events_dir).select("user_id").distinct().collect()
        }
        assert sorted(got) == sorted(want)      # every key exactly once
        assert len(got) == len(set(got))        # no key emitted twice
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_conversion_dfa_equals_regex_scan():
    """The incremental DFA is exactly the non-overlapping regex scan:
    property-checked over random event strings (including the restart
    subtleties 'vvcp', 'vcvp', gap chars)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fintrack_etl_spark.streaming.pipelines import _conversion_step

    def dfa_scan(s):
        stt, cs, n, mc = 0, 0, 0, 0
        for ch in s:
            stt, cs, n, mc = _conversion_step(stt, cs, n, mc, ch)
        return n, mc

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="vcpse?", max_size=60))
    def check(s):
        hits = re.findall("vc+p", s)
        assert dfa_scan(s) == (len(hits), sum(len(h) for h in hits))

    check()


def test_conversion_pattern_stream_equals_batch(spark, tmp_path):
    """Streaming CEP state after draining a TIME-ORDERED backlog in
    2-file micro-batches equals the batch match_pattern scan."""
    from pyspark.sql import Window

    from fintrack_etl_spark.operators.sequence import match_pattern
    from fintrack_etl_spark.streaming import (
        conversion_pattern_stream,
        file_source_stream,
        run_available_now,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    ev = table(spark, "events", sf_dir).select("user_id", "ts", "event_id", "event_type")
    # time-range-split backlog: file k holds an earlier ts range than
    # file k+1, so cross-batch arrival order respects event time
    ordered_dir = str(tmp_path / "ordered")
    ev.repartitionByRange(4, "ts", "event_id").sortWithinPartitions(
        "ts", "event_id"
    ).write.parquet(ordered_dir)

    schema = spark.read.parquet(ordered_dir).schema
    stream = file_source_stream(spark, ordered_dir, schema, max_files_per_trigger=2)
    name = f"cep_{uuid.uuid4().hex[:8]}"
    run_available_now(
        conversion_pattern_stream(stream),
        str(tmp_path / "ck"),
        name,
        output_mode="update",
    )
    got = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("seq_len"))
    final = got.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    f = {
        r["user_id"]: (r["seq_len"], r["n_matches"], r["matched_chars"])
        for r in final.collect()
    }

    batch = match_pattern(
        ev, "user_id", ["ts", "event_id"], "event_type",
        {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"},
        "vc+p",
    )
    b = {
        r["user_id"]: (r["seq_len"], r["n_matches"], r["matched_chars"])
        for r in batch.collect()
    }
    assert f == b


def test_substring_dedup_stream_matches_batch_x81(spark, sf_dir, tmp_path):
    """The streamed gram-store probe must equal the batch incremental
    substring dedup over the same landed files: same hit-gram counts
    and the same union-of-intervals coverage, per batch document."""
    import os
    import uuid

    from fintrack_etl_spark.operators.dedup_text import (
        gram_store,
        substring_dedup_against_store,
    )
    from fintrack_etl_spark.streaming import (
        file_source_stream,
        run_available_now,
        substring_dedup_stream,
    )

    docs = table(spark, "documents", sf_dir)
    store = gram_store(docs, "doc_id", "text", 30).localCheckpoint()
    batch = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    land = str(tmp_path / "batch_land")
    batch.select("doc_id", "text").repartition(3).write.parquet(land)

    stream = file_source_stream(
        spark, land, _schema(spark, land), max_files_per_trigger=1
    )
    name = f"ssdedup_{uuid.uuid4().hex[:8]}"
    run_available_now(
        substring_dedup_stream(stream, store),
        os.path.join(str(tmp_path), "ck"),
        name,
        output_mode="complete",
    )
    got = {
        r["batch_id"]: (r["n_hit_grams"], r["covered_chars"])
        for r in spark.table(name).collect()
    }
    want = {
        r["batch_id"]: (r["n_hit_grams"], r["covered_chars"])
        for r in substring_dedup_against_store(
            spark.read.parquet(land), store
        ).collect()
        if r["n_hit_grams"] > 0  # the stream emits only docs with hits
    }
    assert want and got == want


def test_winnow_fingerprint_stream_matches_batch_x82(spark, sf_dir, tmp_path):
    """The 13th streaming pipeline: streamed winnowing fingerprint
    selection + stream-static reference probe must equal the batch
    winnow/count face per landed document."""
    import os
    import uuid

    from fintrack_etl_spark.streaming import (
        file_source_stream,
        run_available_now,
        winnow_fingerprint_stream,
    )
    from fintrack_etl_spark.textops import winnow_fingerprints

    docs = table(spark, "documents", sf_dir)
    ref = (
        winnow_fingerprints(docs, "doc_id", "text", k=20, w=8)
        .select("fp")
        .distinct()
        .localCheckpoint()
    )
    # arriving batch: half re-crawls (every fingerprint shared), half
    # reversed text (fresh content, incidental collisions only)
    arriving = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1)
            .withColumn("doc_id", F.col("doc_id") + 200000)
            .withColumn("text", F.reverse("text"))
        )
    )
    land = str(tmp_path / "winnow_land")
    arriving.select("doc_id", "text").repartition(3).write.parquet(land)

    stream = file_source_stream(
        spark, land, _schema(spark, land), max_files_per_trigger=1
    )
    name = f"swinnow_{uuid.uuid4().hex[:8]}"
    run_available_now(
        winnow_fingerprint_stream(stream, ref),
        os.path.join(str(tmp_path), "ck"),
        name,
        output_mode="complete",
    )
    got = {
        r["batch_id"]: (r["n_selected"], r["n_shared_fp"])
        for r in spark.table(name).collect()
    }
    landed = spark.read.parquet(land)
    fps = winnow_fingerprints(landed, "doc_id", "text", k=20, w=8)
    want = {
        r["id"]: (r["n_selected"], r["n_shared_fp"])
        for r in fps.join(
            ref.select("fp", F.lit(True).alias("__hit")), "fp", "left"
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_shared_fp"),
        )
        .collect()
    }
    assert want and got == want
    # re-crawls share EVERY selected fingerprint; fresh docs share none
    # of their own (reversal destroys every 27-char window)
    recrawl = [b for b in got if 100000 <= b < 200000]
    assert recrawl and all(got[b][0] == got[b][1] for b in recrawl)
