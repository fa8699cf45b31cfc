"""Streaming pipeline builders — each returns a streaming DataFrame
built from declarative ops only, so Catalyst plans incremental
execution and the state store handles watermark GC.

Scale notes (1000-executor target):
* watermarks bound state-store size — without one, a windowed agg's
  state grows forever; every builder below requires a watermark;
* shuffle partitions = state-store partitions for a streaming agg —
  set once at session level (changing it breaks checkpoint resume);
* ``availableNow`` triggers process a backlog in bounded batches and
  then stop — the batch-parity escape hatch used by the tests.

The four stateful sinks here (``upsert_sink_stream``,
``continuous_aggregate_stream``, ``cdc_sink_stream``,
``cusum_drift_stream``) are each one step on the fold driver in
``streaming/fold.py``, committed to a catalog table; their
``lake_tx`` twins run the same steps on a commit-log root.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .fold import (
    CatalogTable,
    aggregate_step,
    cdc_step,
    drawup_step,
    fold_stream,
    upsert_step,
)


def _with_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (LTZ).

    ``withWatermark`` rejects TIMESTAMP_NTZ event time
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and parquet written with
    ``isAdjustedToUTC=false`` reads as NTZ under Spark 4's default NTZ
    inference — so every watermark-carrying builder funnels its event
    time through this cast. NTZ wall-clock is reinterpreted in the
    session timezone (pinned UTC in session.py); for LTZ the cast is an
    identity, so callers with already-correct schemas are unaffected.
    """
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp_ltz"))


def file_source_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """D3 analog — file-arrival incremental source. The stream's
    checkpoint replaces the reference's per-file ``_state.json``
    (modifiedTime/size change detection): each file is processed
    exactly once, new files picked up per trigger."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_agg_stream(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "1 day",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    hop: str | None = None,
) -> DataFrame:
    """Tumbling — or, with ``hop``, HOPPING/sliding — event-time window
    aggregate with late-data watermark: the streaming twin of
    ``ext_tumbling_window`` / ``x87_hopping_window``. Watermark bounds
    state; each event expands map-side into its (size/hop) overlapping
    windows before the keyed shuffle, exactly like the batch plan."""
    win = (
        F.window(ts_col, window, hop) if hop else F.window(ts_col, window)
    )
    return (
        _with_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(value_col), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "n", "total")
    )


def sessionized_stream(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) — streaming twin of the batch
    ``ext_sessionize`` lag/run-id construction, via the built-in
    ``session_window`` (state merges adjacent sessions online)."""
    return (
        _with_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup_latest(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """D1 analog — keyed dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key while the
    key is inside the watermark horizon (the streaming version of the
    reference's row_number()==1 latest-wins)."""
    return (
        _with_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def running_totals_stream(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch for semantics the built-in streaming ops can't express
    (here: per-key cumulative count+sum, emitted as an updated row per
    key per micro-batch; the pattern generalizes to balances, sessions
    with custom close rules, CDC folding).

    State is one (n, total) pair per key — O(distinct keys), bounded;
    Arrow batches keep the Python hop vectorized. Use the built-in agg
    when plain sums suffice; this exists for the genuinely custom case.

    r12 (guide §4.1): the input is pre-projected to the two columns
    the fold reads — ``applyInPandasWithState`` is opaque to Catalyst,
    so without the select every column of ``events`` rides the state
    shuffle and both Arrow crossings for nothing.
    """
    import pandas as pd  # local import: only the executors need it here
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = events.select(key_col, value_col)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, n long, total double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    stream: DataFrame, checkpoint_dir: str, out_table: str, output_mode: str = "append"
) -> None:
    """Drain the full backlog in bounded micro-batches then stop —
    gives exactly the batch answer over the same input files, which is
    how the tests oracle-check streaming against the batch twins.

    ``output_mode``: 'complete' for aggregations (all windows emitted
    at the end), 'append' for row-level ops like dedup.
    """
    q = (
        stream.writeStream.format("memory")
        .queryName(out_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def upsert_sink_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    table: str,
    keys: list[str],
    order_col: str,
    tie_breakers: list[str] | None = None,
):
    """Streaming → keyed latest-wins table: the production lakehouse
    sink pattern (``foreachBatch`` + MERGE), built on the same
    ``merge_latest_wins`` the batch path uses (J3 fallback,
    ``datatrack_spark_utils.py:306-362`` semantics).

    The first micro-batch seeds the managed table deduped; each later
    one is merged into it. The merge is deterministic and idempotent,
    and the fold driver (``streaming/fold.py``) skips a replayed
    ``batch_id`` and fails fast on a checkpoint reset, like every
    sink. ``lake_tx.upsert_sink_stream_versioned`` runs the same step
    on a commit-log root, where data and ``batch_id`` publish in one
    atomic commit.

    Returns the started query; callers ``awaitTermination()``.
    """
    return fold_stream(
        stream, checkpoint_dir, CatalogTable(table), upsert_step(keys, order_col, tie_breakers)
    )


def continuous_aggregate_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    table: str,
    keys: list[str],
    value_col: str,
):
    """Streaming continuous aggregate: fold each micro-batch into the
    persisted mergeable state (``operators/incremental.py``) — the
    streaming face of ``ext_incremental_agg_merge``. Each batch costs
    one |batch| partial agg + one |keys|-row merge; history is never
    rescanned.

    Unlike latest-wins MERGE, a sum-merge is NOT idempotent: replaying
    a batch would double-count. The fold driver's replay rule
    (``streaming/fold.py``) makes it exactly-once: ``<table>__meta``
    records the last folded ``batch_id``, a replayed id is skipped,
    and an id below it fails fast. The catalog table's state and meta
    writes are two statements (the gap is documented in
    ``streaming/fold.py``);
    ``lake_tx.continuous_aggregate_stream_versioned`` runs the same
    step on a commit-log root, which closes the gap.

    Returns the started query; callers ``awaitTermination()``.
    """
    return fold_stream(stream, checkpoint_dir, CatalogTable(table), aggregate_step(keys, value_col))


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
):
    """Stream-stream interval join: match each left event to right
    events for the same key that happened within ``max_lag`` AFTER it
    (click→conversion, order→payment attribution).

    Both sides carry watermarks and the join condition bounds
    right.ts ∈ [left.ts, left.ts + max_lag] — together these let the
    state store evict a buffered row as soon as the other side's
    watermark passes its join window, so state is O(events in the lag
    window), not O(stream). Without the time bound Spark rejects the
    plan (unbounded state); the bound is what makes the join runnable
    forever.

    ``how="left_outer"`` additionally emits each unmatched left event
    (NULL right columns) — but only once the watermark passes its join
    window, when "no match" becomes a final verdict rather than
    "no match YET". The deferred emission is the semantic price of
    outer results on unbounded inputs; on a bounded availableNow drain
    Spark emits the stragglers in the final batch.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"interval join supports inner/left_outer, got {how!r}")
    l = _with_event_time(left, ts_col).select(
        F.col(key).alias("l_key"),
        F.col(ts_col).alias("l_ts"),
        F.col("event_id").alias("l_event"),
    ).withWatermark("l_ts", watermark)
    r = _with_event_time(right, ts_col).select(
        F.col(key).alias("r_key"),
        F.col(ts_col).alias("r_ts"),
        F.col("event_id").alias("r_event"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}"))
        & (F.col("l_event") < F.col("r_event"))
    )
    return l.join(r, cond, how).select(
        "l_key", "l_event", "r_event", "l_ts", "r_ts", F.round("r_value", 2).alias("r_value")
    )


def stream_enrich_dimension(
    stream: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment — the most common streaming
    join in practice (events × user/account/product attributes). The
    static side is re-planned per micro-batch, so a dim backed by a
    catalog table / commit-log root picks up dimension updates between
    batches WITHOUT restarting the query — the "slowly changing"
    behavior you actually want from a type-1 dim.

    No watermark and no state store: a stream-static join keeps zero
    join state (each batch joins against the current static snapshot),
    so unlike the stream-stream interval join it is trivially
    unbounded-safe. Broadcast the dim when it fits — per-batch fact
    rows never shuffle; Spark plans the broadcast once per batch
    against the refreshed snapshot.

    Left join keeps un-matched events (late-created users) rather than
    silently dropping them; pass ``how="inner"`` to drop.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"stream-static enrichment supports left/inner, got {how!r}")
    return stream.join(F.broadcast(dim), on=key, how=how)


def stream_dedup_by_content(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "1 day",
    normalized: bool = False,
) -> DataFrame:
    """Streaming twin of the exact-dedup ingest (x1/x2 shapes): hash
    each arriving document's content (md5, or the normalized
    fingerprint) and keep the first copy per hash while the hash is
    inside the watermark horizon — a re-crawled duplicate arriving
    within the horizon is dropped online, at ingest, instead of by a
    nightly batch dedup over the whole corpus.

    State is one small row per distinct content hash in the horizon
    (the hash, not the document, is the state key), watermark-GC'd —
    the only formulation whose state stays bounded on an unbounded
    crawl. Exact-once the horizon; duplicates farther apart than the
    watermark are the batch x1 job's business.
    """
    from ..textops import fingerprint as _fp

    key = _fp(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    return (
        _with_event_time(docs, ts_col)
        .withColumn("content_hash", key)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def scd2_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tracked_col: str = "event_type",
    tie_col: str = "event_id",
) -> DataFrame:
    """Streaming SCD2 (CDC face of ``windows.scd2_from_changes``):
    fold a change stream into type-2 dimension history, emitting each
    CLOSED version (valid_from/valid_to) the moment its successor
    arrives; the open version per key lives in state.

    State is one (state, valid_from) pair per key — O(distinct keys),
    independent of stream length — via ``applyInPandasWithState``.
    (Spark 4's ``transformWithStateInPandas`` is the typed-state
    successor and this operator maps onto a ValueState 1:1, but its
    state-server protocol needs protobuf, absent from this image —
    same env-bound class as the Iceberg jar; the GroupState form below
    is feature-equivalent for a single value state.)

    Ordering contract: rows are sorted within each micro-batch, and
    state carries the last version across batches — correct whenever
    the source is per-key ordered across batches (the CDC-log
    guarantee). A genuinely out-of-order source needs the watermarked
    batch job instead; this operator does not time-travel history.

    r12 (guide §4.1): pre-projected to the four columns the fold
    reads (key, ts, tracked, tie) — see running_totals_stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # dict.fromkeys: one column may fill two roles (tie_col == ts_col)
    events = events.select(*dict.fromkeys([key_col, ts_col, tracked_col, tie_col]))

    def fold(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [ts_col, tie_col], kind="mergesort"
        )
        if state.exists:
            cur_state, cur_from = state.get
            have = True
        else:
            cur_state, cur_from, have = None, None, False
        closed = []
        for ts, val in zip(pdf[ts_col], pdf[tracked_col]):
            if pd.isna(val):
                val = None  # pandas NaN → typed NULL, storable in state
            same = val == cur_state or (val is None and cur_state is None)
            if have and same:
                continue
            if have:
                closed.append((key[0], cur_state, cur_from, ts))
            cur_state, cur_from, have = val, ts, True
        state.update((cur_state, cur_from))
        if closed:
            yield pd.DataFrame(
                closed, columns=[key_col, tracked_col, "valid_from", "valid_to"]
            )

    return events.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=(
            f"{key_col} long, {tracked_col} string, "
            "valid_from timestamp, valid_to timestamp"
        ),
        stateStructType=f"{tracked_col} string, valid_from timestamp",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cdc_sink_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    table: str,
    keys: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "D",
):
    """Streaming CDC sink (APPLY CHANGES INTO): fold a change stream —
    upserts AND delete tombstones — into a managed table. The
    row-level sibling of ``continuous_aggregate_stream``: where that
    folds mergeable agg state, this folds keyed row state with
    deletes.

    The state table retains ``__seq`` (last applied sequence per key)
    and ``__deleted`` tombstone rows, which is what makes the fold
    correct under BOTH at-least-once replay and out-of-order delivery
    ACROSS micro-batches: a late-arriving lower-seq update loses to
    the remembered winner, and a post-delete straggler cannot
    resurrect the key because the tombstone (with its higher seq) is
    still in the table. Per key, the change with the highest
    ``seq_col`` wins — ``seq_col`` must totally order each key's
    changes (CDC logs carry the source LSN/commit-seq, which does).
    Read the current rows with :func:`cdc_current_state`; tombstones
    are vacuumable once the source's replay horizon has passed them
    (same retention reasoning as lake_tx snapshot expiry).

    Commits and replays like every sink (``streaming/fold.py``);
    ``lake_tx.cdc_sink_stream_versioned`` runs the same step on a
    commit-log root.

    Returns the started query; callers ``awaitTermination()``.
    """
    return fold_stream(
        stream, checkpoint_dir, CatalogTable(table), cdc_step(keys, seq_col, op_col, delete_op)
    )


def cdc_current_state(spark, table: str) -> DataFrame:
    """Current rows of a :func:`cdc_sink_stream` table: tombstones
    filtered, bookkeeping columns dropped."""
    return spark.table(table).filter(~F.col("__deleted")).drop("__seq", "__deleted")


def cdc_vacuum_tombstones(spark: SparkSession, table: str, below_seq: int) -> int:
    """Retention for :func:`cdc_sink_stream` state: drop tombstone rows
    whose ``__seq`` is below the source's replay horizon (changes older
    than that can never be redelivered, so the tombstone has nothing
    left to suppress). Live rows are never touched. Returns the number
    of tombstones removed.

    The horizon is the CALLER's contract with the source (e.g. the
    log's retention LSN) — vacuuming above it re-opens the resurrect
    window the tombstone existed to close.
    """
    cur = spark.table(table)
    doomed = cur.filter(F.col("__deleted") & (F.col("__seq") < below_seq))
    n = doomed.count()
    if n:
        CatalogTable(table).overwrite(
            cur.filter(~(F.col("__deleted") & (F.col("__seq") < below_seq)))
        )
    return n


def cusum_drift_stream(
    stream: DataFrame,
    checkpoint_dir: str,
    table: str,
    keys: list[str],
    order_col: str,
    value_col: str,
):
    """Streaming CUSUM drift monitor: fold each micro-batch's drawup
    summary (``operators/incremental.partial_drawup_state``) into the
    persisted per-key state — the streaming face of
    ``ext_incremental_cusum``. The drawup monoid is associative but
    ORDER-SENSITIVE, so this sink requires the source to deliver each
    key's rows in non-decreasing ``order_col`` across batches (true
    for append-only event logs / file drops named in time order; an
    out-of-order source needs the watermark+sort front end of
    ``windowed_agg_stream`` first). Drawup merges are not idempotent;
    the fold driver's replay rule (``streaming/fold.py``) skips a
    replayed batch id and fails fast on one below the recorded
    watermark.

    Each batch costs one |batch| window pass + one |keys|-row state
    merge; history is never rescanned. Returns the started query."""
    return fold_stream(
        stream, checkpoint_dir, CatalogTable(table), drawup_step(keys, order_col, value_col)
    )


def first_seen_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming first-seen dedup on Spark 4's TYPED state API
    (``transformWithStateInPandas`` — the successor to
    ``applyInPandasWithState``): one boolean ``ValueState`` per key;
    the first arrival of a key emits its key row, every repeat is
    dropped executor-side. With ``ttl_ms`` the state entry expires on
    its own (RocksDB-native TTL), bounding the store for unbounded key
    spaces — re-arrivals after expiry re-emit, i.e. at-most-once per
    TTL window, the standard dedup-horizon contract.

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...state.RocksDBStateStoreProvider``) — transformWithState is
    RocksDB-only by design; the test sets it, production sessions
    should too (it is also the right store for 100 TB state:
    incremental checkpoints, no JVM-heap residency). ALSO requires the
    ``protobuf`` Python package (the typed-state wire protocol —
    ``pyspark.sql.streaming.proto``); it is absent from this sandbox,
    so the test skips with a documented environment note and the
    operator is exercised there only up to plan construction — the
    same honest-gap discipline as the Iceberg-only procedures.

    Scale: state is one tombstone bit per distinct key (RocksDB,
    spilled), the shuffle is the single groupBy(keys) exchange
    (r12, guide §4.1: pre-projected to the key columns — the operator
    emits only key rows, so any payload column would cross the state
    shuffle and the Arrow boundary for nothing), and the Python hop is
    Arrow-batched per key group."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_cols = list(keys)
    events = events.select(*key_cols)

    class _FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "seen boolean", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._seen.exists():
                return
            self._seen.update((True,))
            yield pd.DataFrame({c: [k] for c, k in zip(key_cols, key)})

        def close(self) -> None:
            pass

    out_ddl = ", ".join(
        f"{c} {events.schema[c].dataType.simpleString()}" for c in key_cols
    )
    return events.groupBy(*key_cols).transformWithStateInPandas(
        _FirstSeen(),
        outputStructType=out_ddl,
        outputMode="append",
        timeMode="processingTime" if ttl_ms is not None else "none",
    )


def _conversion_step(st: int, cs: int, n: int, mc: int, ch: str):
    """One DFA step of the view→clicks→purchase ('vc+p') matcher —
    the incremental form of the batch regex scan
    (operators/sequence.match_pattern): state 0 = nothing pending,
    1 = saw v, 2 = saw v then >=1 c; a 'p' in state 2 completes a
    match (count + its v..p length) and resets. A fresh 'v' restarts
    the pending match from the newer v — exactly what the
    non-overlapping left-to-right regex scan does (pytest pins DFA ≡
    regex on random strings). O(1) state per key vs O(history)."""
    if ch == "v":
        return 1, 0, n, mc
    if ch == "c":
        if st == 1:
            return 2, 1, n, mc
        if st == 2:
            return 2, cs + 1, n, mc
        return 0, 0, n, mc
    if ch == "p" and st == 2:
        return 0, 0, n + 1, mc + cs + 2
    return 0, 0, n, mc


def conversion_pattern_stream(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming CEP: the x60 conversion pattern ('vc+p') matched
    INCREMENTALLY per key via ``applyInPandasWithState`` — state is
    the 2-bit DFA position plus counters, O(1) per key, not the
    event history; after draining an in-order backlog the final row
    per key equals the batch ``match_pattern`` scan (equivalence
    pinned in tests/test_streaming.py).

    Ordering caveat (standard CEP): events are sorted by (ts,
    event_id) WITHIN each micro-batch; cross-batch order must come
    from the source (time-range-split files, or a watermark-buffered
    pre-stage). An out-of-order arrival across batches can split a
    true match — the same contract as Flink CEP in processing-time
    mode."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    mapping = mapping or {
        "view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"
    }

    def update(key, pdfs, state: GroupState):
        st, cs, n, mc, sl = state.get if state.exists else (0, 0, 0, 0, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ch in pdf[type_col].map(mapping).fillna("?"):
                st, cs, n, mc = _conversion_step(st, cs, n, mc, ch)
                sl += 1
        state.update((st, cs, n, mc, sl))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "seq_len": [sl],
                "n_matches": [n],
                "matched_chars": [mc],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, seq_len long, n_matches long, matched_chars long",
        stateStructType="st integer, cs long, n long, mc long, sl long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def substring_dedup_stream(
    docs: DataFrame,
    store_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 30,
) -> DataFrame:
    """Streaming twin of the incremental exact-substring dedup (x81,
    ``dedup_text.substring_dedup_against_store``): each arriving
    document's char windows are extracted in a map-only pass, probed
    against the STATIC materialized gram store with a stream-static
    left-semi join (the store never moves; at 100 TB it is bucketed by
    g so the probe reads matching buckets only), and the per-doc
    coverage is a streaming aggregation.

    Window functions are unavailable on streams, so the
    union-of-fixed-length-intervals sum runs as a sequential FOLD over
    the doc's sorted hit positions — a doc's grams always land in one
    micro-batch (one input row), so collect_list + sort is exact.
    Output (complete mode): (batch_id, n_hit_grams, covered_chars).
    """
    from ..operators.dedup_text import gram_store

    bg = gram_store(docs, id_col, text_col, gram_len)
    hits = bg.join(store_grams.select("g").distinct(), "g", "left_semi")
    cover = F.expr(
        f"aggregate(ps, struct(CAST(-1 AS BIGINT) AS prev, CAST(0 AS BIGINT) AS acc), "
        f"(s, p) -> struct(p AS prev, s.acc + CASE WHEN s.prev < 0 THEN {gram_len} "
        f"ELSE least(CAST({gram_len} AS BIGINT), p - s.prev) END AS acc), "
        f"s -> s.acc)"
    )
    return (
        hits.groupBy(F.col("id").alias("batch_id"))
        .agg(
            # COUNT(DISTINCT) is unsupported in streaming aggregations;
            # collect_set carries the same information for per-doc gram
            # cardinalities (bounded by doc length / gram_len)
            F.size(F.collect_set("g")).cast("long").alias("n_hit_grams"),
            F.sort_array(F.collect_list("p")).alias("ps"),
        )
        .select("batch_id", "n_hit_grams", cover.alias("covered_chars"))
    )


def winnow_fingerprint_stream(
    docs: DataFrame,
    reference_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
) -> DataFrame:
    """Streaming twin of the winnowing fingerprint dedup (x82,
    ``textops.winnow_fingerprints``) — the 13th streaming pipeline:
    each arriving document's winnowed fingerprints are selected in a
    pure map pass (the SIGMOD-2003 rightmost-window-min is an array
    expression over the single input row, so it is streaming-legal as
    a narrow transformation), probed against the STATIC reference
    fingerprint set with a stream-static left join, and the per-doc
    selected/shared counts come out of one streaming aggregation.

    At 100 TB the reference set is the already-ingested corpus's
    fingerprint table bucketed by fp: the probe reads matching buckets
    only, and each micro-batch touches work proportional to ITS
    documents' selected fingerprints (~2/(w+1) of gram positions),
    never the corpus. Output (complete mode):
    (batch_id, n_selected, n_shared_fp) — the same counts as the
    batch x82 face, which the equivalence test pins.
    """
    from ..textops import winnow_fingerprints

    fps = winnow_fingerprints(docs, id_col, text_col, k=k, w=w)
    ref = reference_fps.select(F.col("fp"), F.lit(True).alias("__hit")).distinct()
    probed = fps.join(ref, "fp", "left")
    return (
        probed.groupBy(F.col("id").alias("batch_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0)).cast("long").alias(
                "n_shared_fp"
            ),
        )
    )
