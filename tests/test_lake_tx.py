"""Commit-log (``lake_tx``) crash-injection contracts.

The claims under test, per the module's protocol (data fully written →
one atomic manifest swap): a reader NEVER observes partial state, a
crash before the commit point leaves the previous version intact,
streaming replay converges without double-apply, and vacuum removes
only invisible history. Reference semantics:
``datatrack_spark_utils.py:306-362`` (MERGE), ``forms_main.py:395-423``
(DELETE+append), ``:756-768`` (expire_snapshots).
"""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.sql import functions as F

from fintrack_etl_spark import lake_tx
from fintrack_etl_spark.io import table
from fintrack_etl_spark.lake import expire_snapshots


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events fixture re-landed as a multi-file backlog (same pattern
    as test_streaming.py's fixture)."""
    out = str(tmp_path_factory.mktemp("events_land_tx"))
    table(spark, "events", sf_dir).repartition(4).write.mode("overwrite").parquet(out)
    return out


def _rows(df):
    return sorted((r[0], r[1], r[2]) for r in df.collect())


def _mk(spark, data):
    return spark.createDataFrame(data, ["pk", "val", "ts"])


def test_commit_read_roundtrip_and_versioning(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = lake_tx.commit_table(_mk(spark, [(1, "a", 10), (2, "b", 10)]), root)
    assert v1 == 1 and lake_tx.current_version(root) == 1
    v2 = lake_tx.commit_table(_mk(spark, [(1, "a2", 20)]), root)
    assert v2 == 2
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "a2", 20)]


def test_crash_before_swap_leaves_previous_version_visible(spark, tmp_path, monkeypatch):
    """Kill the writer between data write and pointer swap: readers
    still see the old version; retrying the commit converges."""
    root = str(tmp_path / "t")
    lake_tx.commit_table(_mk(spark, [(1, "old", 10)]), root)

    real_replace = os.replace

    def crash(_src, _dst):
        raise OSError("injected crash at the commit point")

    monkeypatch.setattr(lake_tx.os, "replace", crash)
    with pytest.raises(OSError, match="injected crash"):
        lake_tx.commit_table(_mk(spark, [(1, "new", 20)]), root)
    monkeypatch.setattr(lake_tx.os, "replace", real_replace)

    # the failed commit leaves neither a version directory nor staging
    assert not os.path.exists(os.path.join(root, "v00000002"))
    assert not glob.glob(os.path.join(root, ".stage-*"))
    assert lake_tx.current_version(root) == 1
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "old", 10)]

    # a retry publishes
    assert lake_tx.commit_table(_mk(spark, [(1, "new", 20)]), root) == 2
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "new", 20)]


def test_blind_commit_loser_cannot_rewrite_published_version(spark, tmp_path, monkeypatch):
    """Two blind ``commit_table`` writers read the same version: the
    slower one raises instead of rewriting the v2 the faster one
    published."""
    root = str(tmp_path / "t")
    lake_tx.commit_table(_mk(spark, [(1, "a", 10)]), root)
    v1_manifest = lake_tx.read_manifest(root)
    assert lake_tx.commit_table(_mk(spark, [(2, "winner", 20)]), root) == 2

    # the loser's first manifest read predates the winner's publish;
    # every later read tells the truth
    real = lake_tx.read_manifest
    calls = {"n": 0}

    def stale_first_read(r):
        calls["n"] += 1
        return v1_manifest if calls["n"] == 1 else real(r)

    monkeypatch.setattr(lake_tx, "read_manifest", stale_first_read)
    with pytest.raises(lake_tx.CommitConflictError):
        lake_tx.commit_table(_mk(spark, [(9, "loser", 90)]), root)
    monkeypatch.undo()

    assert lake_tx.current_version(root) == 2
    assert _rows(lake_tx.read_table(spark, root, 2)) == [(2, "winner", 20)]
    assert not glob.glob(os.path.join(root, ".stage-*"))


@pytest.mark.parametrize("face", ["merge", "delete"])
def test_face_raises_when_a_version_lands_after_its_read(spark, tmp_path, monkeypatch, face):
    """A version published between a face's read and its commit makes
    the face raise; the winner's version stays current and intact (no
    lost update)."""
    root = str(tmp_path / face)
    lake_tx.commit_table(_mk(spark, [(1, "a", 10), (2, "b", 10)]), root)
    winner = [(1, "a", 10), (2, "b", 10), (3, "winner", 30)]
    real = lake_tx.read_parquet
    published = []

    def read_then_publish(*paths):
        # another writer publishes right after the face reads its snapshot
        df = real(*paths)
        if not published:
            published.append(lake_tx.commit_table(_mk(spark, winner), root))
        return df

    monkeypatch.setattr(lake_tx, "read_parquet", read_then_publish)
    with pytest.raises(lake_tx.CommitConflictError):
        if face == "merge":
            lake_tx.merge_latest_wins_versioned(
                spark, root, _mk(spark, [(1, "merged", 20)]), ["pk"], "ts"
            )
        else:
            lake_tx.delete_rows(spark, root, F.col("pk") == 2)
    monkeypatch.undo()

    assert published == [2] and lake_tx.current_version(root) == 2
    assert _rows(lake_tx.read_table(spark, root)) == winner


def test_pruned_read_and_file_stats_refuse_unpublished_versions(spark, tmp_path):
    """``read_table_pruned`` and ``write_file_stats`` resolve versions
    like ``read_table``: a directory above the manifest's version (what
    a writer that died before its swap leaves) is never read."""
    root = str(tmp_path / "t")
    lake_tx.commit_table(_mk(spark, [(1, "a", 10)]), root)
    _mk(spark, [(2, "uncommitted", 20)]).write.parquet(os.path.join(root, "v00000002"))
    with pytest.raises(ValueError, match="not committed"):
        lake_tx.read_table(spark, root, 2)
    with pytest.raises(ValueError, match="not committed"):
        lake_tx.read_table_pruned(spark, root, "pk", 0, 9, version=2)
    with pytest.raises(ValueError, match="not committed"):
        lake_tx.write_file_stats(spark, root, ["pk"], version=2)
    assert not os.path.exists(os.path.join(root, "v00000002", "_file_stats.json"))


def test_one_publish_path_tripwire():
    """``lake_tx.py`` writes a DataFrame in one place, into the staging
    directory, and calls ``os.replace`` only in the critical section
    and the atomic JSON writer: a second way to publish a version
    shows up here first."""
    tree = ast.parse(open(lake_tx.__file__, encoding="utf-8").read())
    writes, targets, replaces = [], [], []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for n in ast.walk(fn):
            if isinstance(n, ast.Attribute) and n.attr == "write":
                writes.append(fn.name)
            elif isinstance(n, ast.Call) and ast.unparse(n.func) == "os.replace":
                replaces.append(fn.name)
            elif isinstance(n, ast.Call) and ".write." in ast.unparse(n.func):
                targets.append(ast.unparse(n.args[0]))
    assert writes == ["commit_table_cas"] and targets == ["staging"]
    assert sorted(replaces) == ["_publish_staged", "_write_json"]


def test_partial_garbage_version_dir_is_invisible(spark, tmp_path):
    """A half-written (never-committed) version directory with garbage
    files must not affect readers."""
    root = str(tmp_path / "t")
    lake_tx.commit_table(_mk(spark, [(1, "a", 10)]), root)
    bad = os.path.join(root, "v00000002")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00not parquet")
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "a", 10)]


def test_merge_and_replace_versioned_semantics(spark, tmp_path):
    root = str(tmp_path / "m")
    lake_tx.merge_latest_wins_versioned(
        spark, root, _mk(spark, [(1, "a", 10), (2, "b", 10)]), ["pk"], "ts"
    )
    # stale source row for pk=1 loses; fresh pk=2 wins; new pk=3 inserts
    lake_tx.merge_latest_wins_versioned(
        spark, root, _mk(spark, [(1, "stale", 5), (2, "b2", 20), (3, "c", 1)]), ["pk"], "ts"
    )
    assert _rows(lake_tx.read_table(spark, root)) == [
        (1, "a", 10),
        (2, "b2", 20),
        (3, "c", 1),
    ]

    rroot = str(tmp_path / "r")
    df1 = spark.createDataFrame([(1, "x", "f1"), (2, "y", "f1")], ["pk", "val", "landing_object_key"])
    lake_tx.replace_by_source_key_versioned(spark, rroot, df1)
    # reload of f1 replaces exactly f1's rows — idempotent per file
    df2 = spark.createDataFrame([(1, "x2", "f1")], ["pk", "val", "landing_object_key"])
    lake_tx.replace_by_source_key_versioned(spark, rroot, df2)
    lake_tx.replace_by_source_key_versioned(spark, rroot, df2)
    assert sorted((r.pk, r.val) for r in lake_tx.read_table(spark, rroot).collect()) == [(1, "x2")]


def test_expire_versions_vacuums_invisible_history_only(spark, tmp_path):
    root = str(tmp_path / "t")
    for i in range(4):
        lake_tx.commit_table(_mk(spark, [(1, f"s{i}", i)]), root)
    removed = expire_snapshots(spark, root, retain_last=2)
    assert removed == [1, 2]
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "s3", 3)]
    assert os.path.isdir(os.path.join(root, "v00000003"))  # retained
    assert not os.path.isdir(os.path.join(root, "v00000001"))
    # current version can never be vacuumed
    assert lake_tx.expire_versions(root, retain_last=1) == [3]
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "s3", 3)]


def test_expire_snapshots_still_raises_for_catalog_tables(spark):
    with pytest.raises(NotImplementedError, match="Iceberg"):
        expire_snapshots(spark, "some_catalog_table")


def test_streaming_upsert_versioned_exactly_once(spark, events_dir, tmp_path):
    """Drain a file stream through the versioned sink; a second drain
    over the same checkpoint commits nothing; a manually replayed batch
    id is skipped (manifest batch_id is the guard)."""
    from test_streaming import _schema
    from fintrack_etl_spark.streaming import file_source_stream

    schema = _schema(spark, events_dir)
    root = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")

    q = lake_tx.upsert_sink_stream_versioned(
        file_source_stream(spark, events_dir, schema, max_files_per_trigger=1),
        ck, root, ["user_id"], "ts", ["event_id"],
    )
    q.awaitTermination()

    from fintrack_etl_spark.operators.windows import dedup_latest

    batch = dedup_latest(spark.read.parquet(events_dir), ["user_id"], "ts", ["event_id"])
    got = lake_tx.read_table(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))

    v_before = lake_tx.current_version(root)
    q2 = lake_tx.upsert_sink_stream_versioned(
        file_source_stream(spark, events_dir, schema, max_files_per_trigger=1),
        ck, root, ["user_id"], "ts", ["event_id"],
    )
    q2.awaitTermination()
    assert lake_tx.current_version(root) == v_before  # no re-commit on replay


def test_streaming_continuous_aggregate_versioned_matches_batch(spark, events_dir, tmp_path):
    from test_streaming import _schema
    from fintrack_etl_spark.operators.incremental import finalize_aggregate, partial_aggregate
    from fintrack_etl_spark.streaming import file_source_stream

    schema = _schema(spark, events_dir)
    root = str(tmp_path / "agg")

    q = lake_tx.continuous_aggregate_stream_versioned(
        file_source_stream(spark, events_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ck1"), root, ["event_type"], "value",
    )
    q.awaitTermination()

    batch = finalize_aggregate(
        partial_aggregate(spark.read.parquet(events_dir), ["event_type"], "value"),
        ["event_type"],
    )
    got = finalize_aggregate(lake_tx.read_table(spark, root), ["event_type"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))

    # replay over the same data with a fresh checkpoint → batch 0 below
    # the committed watermark → fail fast, state untouched
    from pyspark.sql.streaming import StreamingQueryException

    before = sorted(map(tuple, lake_tx.read_table(spark, root).collect()))
    q2 = lake_tx.continuous_aggregate_stream_versioned(
        file_source_stream(spark, events_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ck2"), root, ["event_type"], "value",
    )
    with pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q2.awaitTermination()
    assert sorted(map(tuple, lake_tx.read_table(spark, root).collect())) == before


def test_batch_side_commits_keep_stream_watermark(spark, tmp_path):
    """A commit that passes no batch_id (delete_rows, a CAS commit)
    keeps the stream's last batch_id: a replay of the last streamed
    batch still skips instead of double-counting the sum-merge."""
    from fintrack_etl_spark.streaming.fold import VersionedRoot, aggregate_step, fold_batch

    root = str(tmp_path / "agg")
    fold = fold_batch(VersionedRoot(root), aggregate_step(["k"], "x"))
    batches = [
        spark.createDataFrame([(k, 10 * b + k) for k in (1, 2, 3)], "k long, x long")
        for b in range(3)
    ]
    for b, batch in enumerate(batches):
        fold(batch, b)
    lake_tx.delete_rows(spark, root, F.col("k") == 3)
    assert lake_tx.last_batch_id(root) == 2
    v = lake_tx.commit_table_cas(
        lake_tx.read_table(spark, root), root, expected_version=lake_tx.current_version(root)
    )
    assert lake_tx.last_batch_id(root) == 2
    before = sorted(map(tuple, lake_tx.read_table(spark, root).collect()))

    fold(batches[2], 2)  # replay of the last streamed batch
    assert lake_tx.current_version(root) == v
    assert sorted(map(tuple, lake_tx.read_table(spark, root).collect())) == before


def test_time_travel_and_vacuum_interaction(spark, tmp_path):
    """Any retained snapshot is readable by version (immutable dirs);
    a vacuumed one fails with a named error, never a wrong answer."""
    root = str(tmp_path / "tt")
    lake_tx.commit_table(_mk(spark, [(1, "v1", 1)]), root)
    lake_tx.commit_table(_mk(spark, [(1, "v2", 2)]), root)
    lake_tx.commit_table(_mk(spark, [(1, "v3", 3)]), root)

    assert _rows(lake_tx.read_table(spark, root, version=1)) == [(1, "v1", 1)]
    assert _rows(lake_tx.read_table(spark, root, version=2)) == [(1, "v2", 2)]
    assert _rows(lake_tx.read_table(spark, root)) == [(1, "v3", 3)]
    with pytest.raises(ValueError, match="not committed"):
        lake_tx.read_table(spark, root, version=9)

    lake_tx.expire_versions(root, retain_last=2)
    assert _rows(lake_tx.read_table(spark, root, version=2)) == [(1, "v2", 2)]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        lake_tx.read_table(spark, root, version=1)


def test_table_changes_whole_row_and_keyed(spark, tmp_path):
    """CDF between snapshots: whole-row mode emits delete+insert pairs
    for modifications; keyed mode classifies insert / delete /
    update_postimage."""
    root = str(tmp_path / "cdf")
    lake_tx.commit_table(
        _mk(spark, [(1, "a", 10), (2, "b", 10), (3, "c", 10)]), root
    )
    lake_tx.commit_table(
        _mk(spark, [(1, "a", 10), (2, "b2", 20), (4, "d", 20)]), root
    )

    whole = {
        (r.pk, r.val, r._change_type)
        for r in lake_tx.table_changes(spark, root, 1, 2).collect()
    }
    assert whole == {
        (2, "b2", "insert"),
        (4, "d", "insert"),
        (2, "b", "delete"),
        (3, "c", "delete"),
    }

    keyed = {
        (r.pk, r.val, r._change_type)
        for r in lake_tx.table_changes(spark, root, 1, 2, keys=["pk"]).collect()
    }
    assert keyed == {
        (4, "d", "insert"),
        (2, "b2", "update_postimage"),
        (3, "c", "delete"),
    }


def test_compact_table_merges_files_value_identical(spark, tmp_path):
    """Compaction rewrites the current version into fewer files with
    byte-identical content: same rows, a new committed version, the
    old one still time-travel readable, and the CDF between the two is
    EMPTY (no insert/update/delete — the op moved bytes, not data).
    The stream watermark (batch_id) must survive compaction, or a
    replayed micro-batch would double-apply after an OPTIMIZE."""
    root = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id AS pk", "id % 7 AS val", "id % 13 AS ts")
    lake_tx.commit_table(df.repartition(16), root, batch_id=41)
    before = sorted(tuple(r) for r in lake_tx.read_table(spark, root).collect())

    v, n_before, n_after = lake_tx.compact_table(spark, root)
    assert v == 2 and n_before == 16 and n_after == 1
    assert lake_tx.last_batch_id(root) == 41  # watermark preserved
    after = sorted(tuple(r) for r in lake_tx.read_table(spark, root).collect())
    assert after == before
    # old version still time-travels; CDF v1→v2 is empty
    assert lake_tx.read_table(spark, root, version=1).count() == 1000
    assert lake_tx.table_changes(spark, root, 1, 2).count() == 0


def test_compact_table_cluster_by_tightens_file_stats(spark, tmp_path):
    """cluster_by compaction range-partitions + sorts, so each output
    file covers a disjoint pk range (selective footer min/max). Checked
    via parquet footer stats per file, same contract as test_layout."""
    root = str(tmp_path / "t")
    df = spark.range(0, 4000).selectExpr("id AS pk", "id % 7 AS val", "id % 13 AS ts")
    lake_tx.commit_table(df.orderBy(F.expr("hash(id)")).repartition(8), root)

    v, _, n_after = lake_tx.compact_table(
        spark, root, target_file_bytes=8 << 10, cluster_by=["pk"]
    )
    assert n_after > 1
    import pyarrow.parquet as pq

    vdir = os.path.join(root, f"v{v:08d}")
    ranges = []
    for f in sorted(os.listdir(vdir)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(vdir, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            rg = md.row_group(0).column(idx["pk"]).statistics
            ranges.append((rg.min, rg.max))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping pk ranges {(lo1, hi1)} vs {(lo2, _hi2)}"


def test_commit_cas_rejects_stale_writer_and_retry_succeeds(spark, tmp_path):
    """Optimistic concurrency: two writers read the same snapshot;
    the first commit wins, the second raises CommitConflictError and
    must re-derive from the new current version — after which its
    retry lands as the next version with both writers' effects."""
    import pytest as _pytest

    from fintrack_etl_spark.lake_tx import (
        CommitConflictError,
        commit_table,
        commit_table_cas,
        current_version,
        read_table,
    )

    root = str(tmp_path / "occ_t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    v1 = commit_table(base, root)

    # writer A and writer B both read v1
    snap_a = read_table(spark, root, v1)
    snap_b = read_table(spark, root, v1)

    # A appends (3, c) and wins
    a_out = snap_a.unionByName(spark.createDataFrame([(3, "c")], ["k", "v"]))
    v2 = commit_table_cas(a_out, root, expected_version=v1)
    assert v2 == v1 + 1

    # B appends (4, d) against the stale snapshot → conflict
    b_out = snap_b.unionByName(spark.createDataFrame([(4, "d")], ["k", "v"]))
    with _pytest.raises(CommitConflictError):
        commit_table_cas(b_out, root, expected_version=v1)

    # OCC retry loop: re-derive from the NEW current and commit
    cur = current_version(root)
    b_retry = read_table(spark, root).unionByName(
        spark.createDataFrame([(4, "d")], ["k", "v"])
    )
    v3 = commit_table_cas(b_retry, root, expected_version=cur)
    assert v3 == v2 + 1
    got = sorted(tuple(r) for r in read_table(spark, root).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_delete_rows_erasure_flow(spark, tmp_path):
    """Right-to-be-forgotten: delete_rows publishes a version without
    the subject's rows (atomic swap — the old version stays readable
    via time travel until vacuumed), the CDF reports exactly the
    removed rows as deletes, and delete_rows + expire_versions leaves
    no version containing the subject."""
    import os

    from fintrack_etl_spark.lake_tx import (
        commit_table,
        delete_rows,
        expire_versions,
        read_table,
        table_changes,
    )

    root = str(tmp_path / "gdpr_t")
    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "alice"), (4, "eve")], ["id", "user"]
    )
    v1 = commit_table(df, root)

    v2, n = delete_rows(spark, root, F.col("user") == "alice")
    assert n == 2 and v2 == v1 + 1
    assert read_table(spark, root).filter(F.col("user") == "alice").count() == 0
    # time travel still sees the old version (deletion is not silent
    # history rewrite)...
    assert read_table(spark, root, v1).filter(F.col("user") == "alice").count() == 2
    # ...and the CDF audit trail shows exactly the erased rows
    ch = table_changes(spark, root, v1, v2)
    dels = {
        (r["id"], r["user"])
        for r in ch.filter(F.col("_change_type") == "delete").collect()
    }
    assert dels == {(1, "alice"), (3, "alice")}

    # full erasure: vacuum history
    removed = expire_versions(root, retain_last=1)
    assert v1 in removed
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if os.path.isdir(p):
            assert (
                spark.read.parquet(p).filter(F.col("user") == "alice").count() == 0
            )


def test_commit_cas_loser_cannot_clobber_published_version(
    spark, tmp_path, monkeypatch
):
    """The clobber window: writer B passes the cheap pre-write check
    (simulated by patching the first current_version read), stages its
    data, and only discovers the conflict under the lock. The winner's
    PUBLISHED version directory must be untouched by B's staging write
    and no staging litter may remain."""
    import glob
    import os

    from fintrack_etl_spark import lake_tx
    from fintrack_etl_spark.lake_tx import (
        CommitConflictError,
        commit_table,
        commit_table_cas,
        read_table,
    )

    root = str(tmp_path / "occ_clobber_t")
    v1 = commit_table(spark.createDataFrame([(1, "a")], ["k", "v"]), root)
    # winner A publishes v2
    v2 = commit_table_cas(
        spark.createDataFrame([(1, "a"), (2, "winner")], ["k", "v"]),
        root,
        expected_version=v1,
    )

    # loser B believes the table is still at v1: first pre-check lies,
    # every later read (under the lock) tells the truth
    real = lake_tx.current_version
    calls = {"n": 0}

    def lying_current_version(r):
        calls["n"] += 1
        return v1 if calls["n"] == 1 else real(r)

    monkeypatch.setattr(lake_tx, "current_version", lying_current_version)
    with pytest.raises(CommitConflictError):
        commit_table_cas(
            spark.createDataFrame([(9, "loser")], ["k", "v"]),
            root,
            expected_version=v1,
        )
    monkeypatch.setattr(lake_tx, "current_version", real)

    # winner's published data is intact and no staging dirs remain
    got = sorted(tuple(r) for r in read_table(spark, root, v2).collect())
    assert got == [(1, "a"), (2, "winner")]
    assert not glob.glob(os.path.join(root, ".stage-*"))


def test_cdc_sink_versioned_matches_batch_and_replays_cleanly(spark, tmp_path):
    """Atomic CDC sink: drain a scattered change log through the
    commit log; current rows must equal one batch apply_changes, a
    second drain over the same checkpoint commits nothing new, and
    every intermediate version stays readable (time travel)."""
    import os

    from fintrack_etl_spark.lake_tx import (
        cdc_sink_stream_versioned,
        current_version,
        read_table,
    )
    from fintrack_etl_spark.operators.upsert import apply_changes
    from fintrack_etl_spark.streaming.pipelines import file_source_stream

    ev = table(spark, "events", "/root/testdata/sf0.001")
    log = ev.select(
        "user_id",
        "event_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("user_id") % 3 == 0, "D").otherwise("U").alias("op"),
    )
    logdir = os.path.join(str(tmp_path), "log")
    log.repartition(3).write.parquet(logdir)

    root = str(tmp_path / "cdc_v")
    ck = os.path.join(str(tmp_path), "ck")

    def drain():
        q = cdc_sink_stream_versioned(
            file_source_stream(
                spark, logdir, spark.read.parquet(logdir).schema,
                max_files_per_trigger=1,
            ),
            ck, root, keys=["user_id"], seq_col="seq", op_col="op",
        )
        q.awaitTermination()

    drain()
    v_after = current_version(root)
    got = {
        tuple(r)
        for r in read_table(spark, root)
        .filter(~F.col("__deleted"))
        .select("user_id", "event_id")
        .collect()
    }
    payload = spark.read.parquet(logdir)
    empty = spark.createDataFrame([], payload.drop("seq", "op").schema)
    want = {
        tuple(r)
        for r in apply_changes(empty, payload, ["user_id"], "seq", "op")
        .select("user_id", "event_id")
        .collect()
    }
    assert got == want and len(got) > 0

    drain()  # same checkpoint: no new commits
    assert current_version(root) == v_after


def test_versioned_merge_schema_evolution(spark, tmp_path):
    """evolve=True widens the committed schema with NULL backfill;
    evolve=False surfaces drift as an error instead of dropping data."""
    import pytest as _pytest

    from fintrack_etl_spark import lake_tx

    root = str(tmp_path / "evo")
    seed = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k int, v int, payload string"
    )
    lake_tx.commit_table(seed, root)

    delta = spark.createDataFrame(
        [(2, 20, "b2", "BR"), (3, 20, "c", "US")],
        "k int, v int, payload string, region string",
    )
    with _pytest.raises(Exception):
        lake_tx.merge_latest_wins_versioned(spark, root, delta, ["k"], "v")

    lake_tx.merge_latest_wins_versioned(spark, root, delta, ["k"], "v", evolve=True)
    got = {
        r["k"]: (r["v"], r["payload"], r["region"])
        for r in lake_tx.read_table(spark, root).collect()
    }
    assert got == {
        1: (10, "a", None),      # historical row NULL-backfilled
        2: (20, "b2", "BR"),     # source wins on higher v
        3: (20, "c", "US"),      # new key lands with the new column
    }


def _cas_writer(root: str, wid: int, n_commits: int) -> None:
    """OCC retry loop run in a CHILD PROCESS: read current version,
    stage a marker file, publish via the real critical section."""
    import os
    import uuid

    from fintrack_etl_spark.lake_tx import (
        CommitConflictError,
        _publish_staged,
        current_version,
    )

    done = 0
    while done < n_commits:
        cur = current_version(root)
        staging = os.path.join(root, f".stage-{uuid.uuid4().hex}")
        os.makedirs(staging)
        with open(os.path.join(staging, f"marker-{wid}-{done}"), "w") as f:
            f.write("x")
        try:
            _publish_staged(root, staging, cur, lock_timeout_s=10.0)
            done += 1
        except (CommitConflictError, TimeoutError):
            continue  # loser: re-derive from the new version and retry


def test_cas_multi_process_contention_is_linearizable(tmp_path):
    """VERDICT r3 #6: N writer PROCESSES × M commits each against one
    table root — every commit must land in exactly one version, the
    history must be gapless 1..N*M, and each writer's own commits must
    appear in submission order (linearizable, no lost updates)."""
    import json
    import multiprocessing as mp
    import os

    root = str(tmp_path / "cas_tbl")
    os.makedirs(root)
    n_writers, n_commits = 6, 8
    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=_cas_writer, args=(root, w, n_commits))
        for w in range(n_writers)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    total = n_writers * n_commits
    assert lake_tx.current_version(root) == total
    with open(os.path.join(root, "_latest")) as f:
        assert json.load(f)["version"] == total
    seen: dict[tuple[int, int], int] = {}
    for v in range(1, total + 1):
        vdir = os.path.join(root, f"v{v:08d}")
        markers = [m for m in os.listdir(vdir) if m.startswith("marker-")]
        assert len(markers) == 1, (v, markers)  # one winner per version
        _, wid, seq = markers[0].split("-")
        seen[(int(wid), int(seq))] = v
    # no lost updates: every (writer, seq) committed exactly once
    assert set(seen) == {(w, s) for w in range(n_writers) for s in range(n_commits)}
    # per-writer order: seq k published before seq k+1
    for w in range(n_writers):
        versions = [seen[(w, s)] for s in range(n_commits)]
        assert versions == sorted(versions), (w, versions)


def test_cas_breaks_stale_lock_of_killed_writer(tmp_path):
    """A writer that died holding _commit.lock must not wedge the
    table: a later writer breaks the stale lock after lock_timeout_s
    and commits; a FRESH lock is honored until its deadline."""
    import os
    import time
    import uuid

    from fintrack_etl_spark.lake_tx import _publish_staged, current_version

    root = str(tmp_path / "stale_tbl")
    os.makedirs(root)
    lock = os.path.join(root, "_commit.lock")

    # simulate a crashed holder: lock exists, mtime far in the past
    with open(lock, "w") as f:
        f.write("dead")
    old = time.time() - 3600
    os.utime(lock, (old, old))
    staging = os.path.join(root, f".stage-{uuid.uuid4().hex}")
    os.makedirs(staging)
    with open(os.path.join(staging, "data"), "w") as f:
        f.write("x")
    assert _publish_staged(root, staging, 0, lock_timeout_s=1.0) == 1
    assert current_version(root) == 1
    assert not os.path.exists(lock)

    # a LIVE lock (holder keeps refreshing its mtime, as a healthy
    # writer mid-commit does) is respected until the deadline: publish
    # times out instead of breaking it, and nothing is committed
    import threading

    with open(lock, "w") as f:
        f.write("alive")
    stop = threading.Event()

    def _touch():
        while not stop.is_set():
            now = time.time()
            os.utime(lock, (now, now))
            time.sleep(0.1)

    toucher = threading.Thread(target=_touch, daemon=True)
    toucher.start()
    try:
        staging2 = os.path.join(root, f".stage-{uuid.uuid4().hex}")
        os.makedirs(staging2)
        with open(os.path.join(staging2, "data"), "w") as f:
            f.write("y")
        t0 = time.time()
        with pytest.raises(TimeoutError):
            _publish_staged(root, staging2, 1, lock_timeout_s=1.0)
        assert time.time() - t0 >= 0.9
        assert current_version(root) == 1
    finally:
        stop.set()
        toucher.join()
        os.unlink(lock)


def test_file_stats_pruned_read_skips_files(spark, tmp_path):
    """Manifest-pruning emulation: after a range-clustered compaction,
    write_file_stats records per-file bounds and read_table_pruned
    must (a) return exactly the filtered rows and (b) open strictly
    fewer files than the full version holds."""
    import os

    root = str(tmp_path / "skiptbl")
    df = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    lake_tx.commit_table(df.repartition(8), root)
    # cluster on k into ~8 files so bounds are tight and disjoint
    lake_tx.compact_table(spark, root, target_file_bytes=6_000, cluster_by=["k"])
    n_files = lake_tx.write_file_stats(spark, root, ["k"])
    assert n_files >= 4

    pruned = lake_tx.read_table_pruned(spark, root, "k", 100, 300)
    got = sorted(r["k"] for r in pruned.collect())
    assert got == list(range(100, 301))
    vdir = os.path.join(root, f"v{lake_tx.current_version(root):08d}")
    total = sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))
    opened = {
        f for f in pruned.inputFiles()
    }
    assert 0 < len(opened) < total, (len(opened), total)

    # disjoint predicate -> zero rows, zero files opened
    empty = lake_tx.read_table_pruned(spark, root, "k", 50_000, 60_000)
    assert empty.count() == 0

    # no sidecar column recorded -> correct fallback (full scan + filter)
    fb = lake_tx.read_table_pruned(spark, root, "v", 0, 3)
    assert fb.count() == df.filter(F.col("v").between(0, 3)).count()
