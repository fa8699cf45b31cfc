"""operators/memo — the engine's one session memo (ADVICE r6):
file-signature keys must miss after an in-session fixture overwrite,
and FIFO eviction must actually free the evicted entry's
localCheckpoint blocks (``df.rdd.unpersist()`` famously does NOT —
it detaches a derived python RDD; the real handle is the LogicalRDD's
rdd). ``memoized`` builds once per key, stores nothing for a ``None``
key, and bounds each site on its own."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from fintrack_etl_spark.operators import memo
from fintrack_etl_spark.operators.memo import (
    MEMO_MAX,
    clear,
    df_memo_key,
    evicting_put,
    file_signature,
    memoized,
    unpersist_checkpointed,
)


def _cached_rdd_ids(spark):
    js = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return {r.id() for r in js}


def test_file_signature_changes_on_rewrite(tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("one")
    sig1 = file_signature([str(p)])
    time.sleep(0.01)
    p.write_text("two!")  # different size AND mtime
    sig2 = file_signature([str(p)])
    assert sig1 != sig2
    assert sig1[0][0] == sig2[0][0] == str(p)


def test_file_signature_missing_file_is_total(tmp_path):
    sig = file_signature([str(tmp_path / "absent")])
    assert sig == ((str(tmp_path / "absent"), None, None),)


def test_df_memo_key_none_without_input_files(spark):
    df = spark.range(4)
    assert df_memo_key(df, ("p",)) is None


def test_df_memo_key_distinguishes_overwrite(spark, tmp_path):
    path = str(tmp_path / "fix.parquet")
    spark.range(10).write.parquet(path)
    df1 = spark.read.parquet(path)
    k1 = df_memo_key(df1, ("p",))
    assert k1 is not None
    time.sleep(1.1)  # parquet mtime granularity
    spark.range(20).write.mode("overwrite").parquet(path)
    k2 = df_memo_key(spark.read.parquet(path), ("p",))
    assert k2 is not None
    assert k1 != k2


def test_evicting_put_fifo_and_unpersist(spark):
    cache: dict = {}
    oldest = spark.range(0, 50000).select("id", (F.col("id") * 2).alias("v")).localCheckpoint()
    oldest.count()
    evicting_put(cache, 2, "a", oldest)
    ids_with = _cached_rdd_ids(spark)
    evicting_put(cache, 2, "b", spark.range(3))
    assert list(cache) == ["a", "b"]
    evicting_put(cache, 2, "c", spark.range(4))  # evicts "a" (oldest)
    assert list(cache) == ["b", "c"]
    time.sleep(0.5)
    assert _cached_rdd_ids(spark) < ids_with, (
        "evicting 'a' must unpersist its checkpointed RDD blocks"
    )
    # None key: no-op
    evicting_put(cache, 2, None, spark.range(5))
    assert list(cache) == ["b", "c"]


def test_unpersist_checkpointed_frees_blocks(spark):
    df = spark.range(0, 100000).selectExpr("id", "id * 3 AS v").localCheckpoint()
    df.count()
    assert _cached_rdd_ids(spark)
    n_before = len(_cached_rdd_ids(spark))
    unpersist_checkpointed((df, "not-a-df", None))
    time.sleep(0.5)
    assert len(_cached_rdd_ids(spark)) < n_before


def _pinned(spark):
    """A materialized localCheckpoint and the id of the RDD holding its
    blocks."""
    df = spark.range(0, 20000).selectExpr("id", "id * 2 AS v").localCheckpoint()
    df.count()
    return df, df._jdf.queryExecution().analyzed().rdd().id()  # noqa: SLF001


def _freed(spark, rdd_id) -> bool:
    """Unpersist is non-blocking: poll the block manager briefly."""
    for _ in range(50):
        if rdd_id not in _cached_rdd_ids(spark):
            return True
        time.sleep(0.1)
    return False


def test_memoized_hit_builds_once():
    calls = []

    def build():
        calls.append(1)
        return object()

    try:
        first = memoized("t_hit", "k", build)
        assert memoized("t_hit", "k", build) is first
        assert len(calls) == 1
    finally:
        clear("t_hit")


def test_memoized_none_key_builds_every_time():
    calls = []

    def build():
        calls.append(1)
        return object()

    assert memoized("t_none", None, build) is not memoized("t_none", None, build)
    assert len(calls) == 2
    assert not memo._STORE.get("t_none")  # noqa: SLF001


def test_memoized_evicts_oldest_and_frees_its_blocks(spark):
    oldest, rdd_id = _pinned(spark)
    try:
        memoized("t_evict", "oldest", lambda: oldest)
        assert rdd_id in _cached_rdd_ids(spark)
        for i in range(MEMO_MAX):
            memoized("t_evict", i, lambda i=i: i)
        assert list(memo._STORE["t_evict"]) == list(range(MEMO_MAX))  # noqa: SLF001
        assert _freed(spark, rdd_id), "evicting the oldest entry must free its blocks"
    finally:
        clear("t_evict")


def test_memoized_sites_evict_independently():
    kept = object()
    try:
        memoized("t_model", "m", lambda: kept)
        for i in range(MEMO_MAX + 1):
            memoized("t_counts", i, lambda i=i: i)
        assert len(memo._STORE["t_counts"]) == MEMO_MAX  # noqa: SLF001
        assert memoized("t_model", "m", object) is kept
    finally:
        clear("t_model")
        clear("t_counts")


def test_clear_frees_the_sites_blocks(spark):
    df, rdd_id = _pinned(spark)
    memoized("t_clear", "k", lambda: df)
    clear("t_clear")
    assert not memo._STORE.get("t_clear")  # noqa: SLF001
    assert _freed(spark, rdd_id), "clear must free the site's checkpoint blocks"
