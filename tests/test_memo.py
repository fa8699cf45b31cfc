"""operators/memo — the engine's one session memo (ADVICE r6):
file-signature keys must miss after an in-session fixture overwrite,
and FIFO eviction must actually free the evicted entry's
localCheckpoint blocks (``df.rdd.unpersist()`` famously does NOT —
it detaches a derived python RDD; the real handle is the LogicalRDD's
rdd). ``memoized`` builds once per key, stores nothing for a ``None``
key, and bounds each site on its own. The ``"schema"`` site's reads
(``io.read_parquet``) must equal inferred reads and start no job."""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import functions as F

from fintrack_etl_spark import io as fio
from fintrack_etl_spark import lake_tx
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
from fintrack_etl_spark.queries import T


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


# ---------------------------------------------------------------------------
# "schema": io.read_parquet infers a path set's schema once per session
# ---------------------------------------------------------------------------


def _reads_as_inferred(spark, *paths):
    """The memoized read's schema is exactly the one inference gives."""
    got = fio.read_parquet(spark, *paths).schema
    assert got == spark.read.parquet(*paths).schema
    return got


def _group_job_count(spark, build) -> int:
    """Spark jobs that ``build()`` starts, read from its own job group."""
    sc = spark.sparkContext
    g = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(g, g)
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(g))


def test_every_fixture_table_reads_as_inferred(spark, sf_dir):
    names = [t for t in fio.FIXTURE_TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    assert names
    for t in names:
        _reads_as_inferred(spark, os.path.join(sf_dir, f"{t}.parquet"))


def test_second_fixture_read_starts_no_job(spark, sf_dir):
    path = os.path.join(sf_dir, "orders.parquet")
    # the probe sees jobs: an inferred read runs one
    assert _group_job_count(spark, lambda: spark.read.parquet(path).schema) >= 1
    T(spark, sf_dir, "orders")
    assert _group_job_count(spark, lambda: T(spark, sf_dir, "orders").schema) == 0


def test_two_fixture_reads_still_self_join(spark, sf_dir):
    """Each read is a fresh relation: columns bound to ``a`` and to ``b``
    stay distinct in a self-join (with one shared DataFrame Spark
    rejects the condition as ambiguous)."""
    a, b = T(spark, sf_dir, "orders"), T(spark, sf_dir, "orders")
    pairs = a.join(b, a["o_custkey"] == b["o_custkey"]).filter(a["o_orderkey"] < b["o_orderkey"])
    want = (
        a.groupBy("o_custkey").count()
        .select(F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long"))
        .first()[0]
    )
    assert pairs.count() == want


def test_overwrite_with_new_schema_reads_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).selectExpr("id", "CAST(id AS string) AS s").write.parquet(path)
    assert _reads_as_inferred(spark, path).names == ["id", "s"]
    spark.range(4).selectExpr("id * 2 AS d", "id > 1 AS flag").write.mode("overwrite").parquet(path)
    assert _reads_as_inferred(spark, path).names == ["d", "flag"]
    assert sorted(r.d for r in fio.read_parquet(spark, path).collect()) == [0, 2, 4, 6]


def test_compact_rename_reads_correctly(spark, tmp_path):
    path = str(tmp_path / "c")
    spark.range(0, 100, numPartitions=6).selectExpr("id", "id % 7 AS g").write.parquet(path)
    before = _reads_as_inferred(spark, path)
    assert fio.compact(spark, path, target_mb=256) == 1
    assert _reads_as_inferred(spark, path) == before
    got = fio.read_parquet(spark, path).agg(F.count("*"), F.sum("id"), F.sum("g")).first()
    assert tuple(got) == (100, 4950, sum(i % 7 for i in range(100)))


def test_events_flavors_canonicalize_to_ltz(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamps = [dt.datetime(2024, 1, 15, 12, 30, 45, 123456), dt.datetime(2024, 2, 1)]
    flavors = {
        "nanos": pa.timestamp("ns"),
        "ntz": pa.timestamp("us"),
        "ltz": pa.timestamp("us", tz="UTC"),
    }
    for flavor, ts_type in flavors.items():
        d = tmp_path / flavor
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(stamps, ts_type)}),
            str(d / "events.parquet"),
        )
        for _ in range(2):  # the inferring read, then the memoized one
            ev = fio.table(spark, "events", str(d))
            assert dict(ev.dtypes)["ts"] == "timestamp", flavor
            got = ev.orderBy("event_id").select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
            assert [r[0] for r in got.collect()] == [
                "2024-01-15 12:30:45.123456", "2024-02-01 00:00:00.000000"
            ], flavor


def test_partitioned_write_keeps_column_order_and_types(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(12).selectExpr(
        "id", "CAST(id % 3 AS int) AS part", "CAST(id AS decimal(10, 2)) AS amt", "'x' AS s"
    )
    fio.write_parquet(df, path, partition_by=["part"])
    schema = _reads_as_inferred(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("id", "bigint"), ("amt", "decimal(10,2)"), ("s", "string"), ("part", "int")
    ]
    got = fio.read_parquet(spark, path).filter("part = 1").orderBy("id").collect()
    assert [r.id for r in got] == [1, 4, 7, 10]
    # leaf files read without the partition column: another key, another schema
    leaf = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert "part" not in _reads_as_inferred(spark, *leaf).names


def test_committed_versions_read_as_inferred(spark, tmp_path):
    """commit_table seeds each version's schema; the seeded read equals
    inference on nested, decimal and NTZ columns, with no inference job."""
    root = str(tmp_path / "lake")
    df = spark.sql(
        """SELECT id,
                  array(id, id + 1) AS arr,
                  map('k', CAST(id AS double)) AS m,
                  named_struct('a', id, 'b', array(named_struct('c', 'x'))) AS st,
                  CAST('2024-01-15 10:00:00' AS timestamp_ntz) AS ntz,
                  timestamp_seconds(id) AS ltz,
                  CAST(id AS decimal(38, 6)) AS dec,
                  date_from_unix_date(CAST(id AS int)) AS dt,
                  CAST(CAST(id AS string) AS binary) AS bin
           FROM range(5)"""
    )
    v = lake_tx.commit_table(df, root)
    vdir = os.path.join(root, f"v{v:08d}")
    assert _group_job_count(spark, lambda: lake_tx.read_table(spark, root).schema) == 0
    _reads_as_inferred(spark, vdir)
    assert lake_tx.read_table(spark, root).orderBy("id").first().m == {"k": 0.0}


def test_evolved_version_and_time_travel_read_their_own_schemas(spark, tmp_path):
    root = str(tmp_path / "evo")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    lake_tx.merge_latest_wins_versioned(spark, root, base, ["k"], "v")
    wide = spark.createDataFrame([(2, 25, "n"), (3, 30, "m")], "k int, v int, note string")
    v2 = lake_tx.merge_latest_wins_versioned(spark, root, wide, ["k"], "v", evolve=True)
    assert v2 == 2
    for v, names in ((None, ["k", "v", "note"]), (2, ["k", "v", "note"]), (1, ["k", "v"])):
        t = lake_tx.read_table(spark, root, v)
        assert t.columns == names, v
        _reads_as_inferred(spark, os.path.join(root, f"v{v or 2:08d}"))
    rows = {r.k: (r.v, r.note) for r in lake_tx.read_table(spark, root).collect()}
    assert rows == {1: (10, None), 2: (25, "n"), 3: (30, "m")}
    assert lake_tx.read_table(spark, root, 1).count() == 2
