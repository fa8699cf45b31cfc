"""Stateful stream sinks: one fold driver behind all seven
``foreachBatch`` sinks (``upsert_sink_stream``,
``continuous_aggregate_stream``, ``cdc_sink_stream`` and
``cusum_drift_stream`` in ``streaming/pipelines.py``; the three
``*_sink_stream_versioned`` sinks in ``lake_tx.py``).

The reference loads each batch with a freshness-conditioned MERGE
(``mesclar_dados``, ``datatrack_spark_utils.py:306-362``) behind an
incremental load-control table. Here a sink is only its STEP,
``step(state_or_None, batch_df) -> DataFrame``: the next table state
from the committed one (``None`` before the first commit) and one
micro-batch. The driver owns, once for every sink:

* the replay rule. The table records the last folded ``batch_id`` at
  its commit. A batch with that id is a checkpoint replay and is
  skipped. A LOWER id only happens when the checkpoint dir was
  deleted or relocated while the table survived; it raises ("the
  checkpoint was reset") and leaves the state untouched, because
  re-folding double-counts a non-idempotent merge and skipping drops
  the new data;
* the empty-batch rule. The check runs after the replay rule and
  before the step: an empty micro-batch commits nothing;
* the start block: ``foreachBatch`` with the checkpoint location and
  an ``availableNow`` trigger. Callers ``awaitTermination()``.

Two table kinds hide the commit format:

* :class:`CatalogTable`, a managed table plus the one-row
  ``<table>__meta`` watermark. The state is pinned with
  ``localCheckpoint`` before the overwrite, because the step reads the
  table it replaces, and freed after it. The watermark is a second
  statement: a crash between the two leaves the batch folded but
  unrecorded, so a restart folds it again. That is harmless for the
  idempotent upsert and CDC steps and a double count for the
  aggregate and drawup steps (a real lakehouse commits both in one
  MERGE transaction; without the Iceberg jar the gap is documented);
* :class:`VersionedRoot`, a ``lake_tx`` commit-log root. The data and
  the ``batch_id`` publish at the same manifest swap, so there is no
  gap.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import lake_tx
from ..operators.incremental import (
    merge_aggregate_state,
    merge_drawup_state,
    partial_aggregate,
    partial_drawup_state,
)
from ..operators.memo import unpersist_checkpointed
from ..operators.upsert import merge_latest_wins
from ..operators.windows import dedup_latest

Step = Callable[[DataFrame | None, DataFrame], DataFrame]


class CatalogTable:
    """A managed catalog table; its last folded ``batch_id`` lives in
    the one-row companion table ``<name>__meta``."""

    def __init__(self, name: str):
        self.name, self.meta = name, f"{name}__meta"

    def read(self, spark: SparkSession) -> DataFrame | None:
        return spark.table(self.name) if spark.catalog.tableExists(self.name) else None

    def last_batch_id(self, spark: SparkSession) -> int:
        if not spark.catalog.tableExists(self.meta):
            return -1
        row = spark.table(self.meta).first()
        # None if a crash landed between the meta truncate and its write
        return -1 if row is None else row["last_batch_id"]

    def overwrite(self, df: DataFrame) -> None:
        """Replace (or create) the table's rows with ``df``, which may
        read them: pinned first, so the write never reads what it
        replaces."""
        pinned = df.localCheckpoint()
        pinned.write.mode("overwrite").saveAsTable(self.name)
        # the table IS the persistence now; without this a long-running
        # query strands one table-size block set per micro-batch
        unpersist_checkpointed(pinned)

    def commit(self, df: DataFrame, batch_id: int) -> None:
        self.overwrite(df)
        meta = df.sparkSession.createDataFrame([(batch_id,)], "last_batch_id long")
        meta.write.mode("overwrite").saveAsTable(self.meta)


class VersionedRoot:
    """A ``lake_tx`` commit-log root; the manifest records the
    ``batch_id`` at the swap that publishes the data."""

    def __init__(self, root: str):
        self.name = root

    def read(self, spark: SparkSession) -> DataFrame | None:
        return lake_tx.read_table(spark, self.name) if lake_tx.table_exists(self.name) else None

    def last_batch_id(self, spark: SparkSession) -> int:
        return lake_tx.last_batch_id(self.name)

    def commit(self, df: DataFrame, batch_id: int) -> None:
        lake_tx.commit_table(df, self.name, batch_id)


Table = CatalogTable | VersionedRoot


def fold_batch(table: Table, step: Step):
    """The ``foreachBatch`` body: fold one micro-batch into ``table``
    under the replay and empty-batch rules. Callable without a stream."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last = table.last_batch_id(spark)
        if batch_id == last:
            return  # checkpoint replay of the committed batch
        if batch_id < last:
            raise RuntimeError(
                f"{table.name}: batch_id {batch_id} < committed {last} — the checkpoint "
                "was reset while the state survived; drop it or restore the checkpoint."
            )
        if batch_df.isEmpty():
            return
        table.commit(step(table.read(spark), batch_df), batch_id)

    return fold


def fold_stream(stream: DataFrame, checkpoint_dir: str, table: Table, step: Step):
    """Drain ``stream`` into ``table`` through ``step``; returns the
    started query."""
    return (
        stream.writeStream.foreachBatch(fold_batch(table, step))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def upsert_step(keys: list[str], order_col: str, tie_breakers: list[str] | None = None) -> Step:
    """Keyed latest-wins MERGE (J3): the first batch seeds the table
    deduped; later ones go through ``merge_latest_wins``, whose one
    window also picks each key's latest batch row."""

    def step(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        if state is None:
            return dedup_latest(batch, keys, order_col, tie_breakers)
        return merge_latest_wins(state, batch, keys, order_col, tie_breakers)

    return step


def aggregate_step(keys: list[str], value_col: str) -> Step:
    """Mergeable aggregate state (``operators/incremental.py``): one
    |batch| partial aggregate, one |keys|-row merge."""

    def step(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = partial_aggregate(batch, keys, value_col)
        return delta if state is None else merge_aggregate_state(state, delta, keys)

    return step


def drawup_step(keys: list[str], order_col: str, value_col: str) -> Step:
    """Drawup (max-CUSUM) state: one |batch| window pass, one
    |keys|-row merge, history first (the merge is order-sensitive)."""

    def step(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = partial_drawup_state(batch, keys, order_col, value_col)
        return delta if state is None else merge_drawup_state(state, delta, keys)

    return step


def cdc_step(keys: list[str], seq_col: str, op_col: str, delete_op: str = "D") -> Step:
    """Seq-aware tombstone fold: tag each change ``__deleted`` /
    ``__seq``, union it with the state, keep the highest ``__seq`` per
    key. Tombstones stay in the state so a late lower-seq change
    cannot resurrect a deleted key."""
    w = Window.partitionBy(*keys).orderBy(F.desc("__seq"))

    def step(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        tagged = (
            batch.withColumn("__deleted", F.col(op_col) == F.lit(delete_op))
            .withColumn("__seq", F.col(seq_col))
            .drop(op_col, seq_col)
        )
        rows = tagged if state is None else state.unionByName(tagged)
        return rows.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    return step
