"""MERGE / idempotent-replace semantics (reference parity: J3, D1, D2 —
SURVEY.md §2.3/§2.9).

The reference MERGEs into Iceberg with a freshness condition
(``mesclar_dados``, ``datatrack_spark_utils.py:306-362``):

    MERGE INTO target USING source ON pk...
    WHEN MATCHED AND s.dt_ingestao_dados > t.dt_ingestao_dados
        THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *

Without the Iceberg runtime the same *result state* is a union +
latest-wins window — one shuffle on the merge keys, no driver state,
and exactly the plan a 1000-executor overwrite would run. Atomicity is
the table format's job; results are what the correctness gate checks
(SURVEY §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_latest_wins(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_col: str,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """J3 fallback — returns the post-MERGE table state.

    Target rows win ties (``>`` not ``>=`` in the reference's matched
    condition), so precedence is (order_col desc, is_target desc).
    """
    tagged_t = target.withColumn("_src_rank", F.lit(0))
    tagged_s = source.withColumn("_src_rank", F.lit(1))
    unioned = tagged_t.unionByName(tagged_s)
    order = [F.desc(order_col), F.asc("_src_rank")] + [F.asc(t) for t in (tie_breakers or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_rank")
    )


def merge_latest_wins_evolving(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_col: str,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """J3 + schema evolution in one step — the reference's actual load
    flow: ``evoluir_schema`` runs BEFORE ``mesclar_dados`` so a source
    carrying new columns merges instead of failing
    (``datatrack_spark_utils.py:221-302`` then ``:306-362``; the
    zero-row ``merge-schema`` append at ``:354`` forces the evolution).

    Pure-Spark: widen both sides to the merged schema (target column
    order first, new source columns appended, typed NULL backfill on
    whichever side lacks a column — ``operators/evolve.py``), then the
    same latest-wins window. Rows already in the target keep NULL for
    columns that did not exist when they were written — exactly what
    ALTER TABLE ADD COLUMN yields.
    """
    from .evolve import align_to_schema

    widened_source = align_to_schema(source, target.schema, keep_extra=True)
    # target side gains the source-only columns as typed NULLs
    widened_target = align_to_schema(target, widened_source.schema, keep_extra=False)
    return merge_latest_wins(widened_target, widened_source, keys, order_col, tie_breakers)


def replace_by_source_key(
    target: DataFrame,
    source: DataFrame,
    lineage_key: str = "landing_object_key",
) -> DataFrame:
    """D2 — exactly-once-per-file reload
    (``forms_main.py:395-423``: DELETE WHERE key='…' then append).

    Pure-Spark equivalent: anti-join the target on the lineage keys
    present in the source, then union the source. Re-running the same
    input yields identical table state (idempotency contract §3.2).
    """
    new_keys = source.select(lineage_key).distinct()
    kept = target.join(F.broadcast(new_keys), lineage_key, "left_anti")
    return kept.unionByName(source)


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """CDC apply: fold an ordered change log (upserts + delete
    tombstones) into a snapshot — the standard change-data-capture
    materialization (APPLY CHANGES INTO semantics over plain
    DataFrames).

    ``changes`` carries the snapshot's columns plus ``seq_col``
    (monotone per key) and ``op_col`` (anything ≠ ``delete_op`` is an
    upsert). Per key the highest-seq change wins; if that winner is a
    delete the key disappears; keys without changes keep their
    snapshot row (snapshot acts as seq −∞).

    One shuffle: union → window row_number over (keys, seq desc).
    Replaying the same change log is idempotent — same winner, same
    state — which is what makes this safe as a foreachBatch body under
    at-least-once delivery.
    """
    snap = snapshot.withColumn(op_col, F.lit("I")).withColumn(
        seq_col, F.lit(None).cast(changes.schema[seq_col].dataType)
    )
    unioned = snap.unionByName(changes)
    # NULL seq (snapshot) sorts last under desc_nulls_last → any real
    # change outranks the snapshot row.
    w = Window.partitionBy(*keys).orderBy(F.desc_nulls_last(seq_col))
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != delete_op))
        .drop("_rn", op_col, seq_col)
    )
