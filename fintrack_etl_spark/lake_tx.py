"""Atomic multi-version parquet tables — a minimal commit log.

Semantics modeled on the PUBLIC Delta/Iceberg commit protocols: all
data for version N is fully written BEFORE one atomic pointer swap
(``os.replace`` of the ``_latest`` manifest file) makes it visible.

Every commit takes one path, :func:`commit_table_cas`:

1. the parquet write goes to a unique ``.stage-<uuid>/`` directory,
   never to a ``v{N:08d}/`` path another writer could publish;
2. under the ``_commit.lock`` file (``O_CREAT|O_EXCL``) the manifest is
   re-read; if the table moved past the version the commit was derived
   from, it raises :class:`CommitConflictError` and publishes nothing;
3. otherwise the staging directory is renamed to ``v{N+1}/`` and the
   manifest swapped (tmp file + fsync + ``os.replace``) — THE commit
   point — and the new version's schema is seeded into
   ``io.read_parquet``'s memo.

``commit_table`` is this path against the version current when it is
called (a blind append of a new state); ``merge_latest_wins_versioned``,
``replace_by_source_key_versioned``, ``delete_rows`` and
``compact_table`` commit against the version they read, so a version
published in between makes them raise instead of being superseded.
Consequences:

- a reader resolves the manifest once, then reads only that version's
  directory — it can never observe a half-written table state, and a
  version above the manifest's is refused (``ValueError``);
- a published version is never rewritten;
- what a crash leaves behind is invisible: before the rename, a
  ``.stage-*`` directory (removed by the writer unless the process
  died); between the rename and the swap, a ``v{N+1}/`` directory above
  the manifest's version, which the next commit of that number clears
  before its own rename. The previous version stays current;
- streaming replay is exactly-once: the manifest records the last
  applied ``batch_id`` at the SAME commit point as the data, so the
  ``*_sink_stream_versioned`` sinks (the fold driver of
  ``streaming/fold.py`` on a :class:`~.streaming.fold.VersionedRoot`)
  have no commit gap, where the catalog-table kind documents one.
  A commit that passes no ``batch_id`` (a batch-side MERGE, DELETE,
  compaction) carries the previous one forward, so it never erases
  the stream's watermark;
- MERGE never reads the directory it writes (vN in, vN+1 out), so the
  self-overwrite ``localCheckpoint`` pin is unnecessary here.

Commit-point atomicity relies on atomic rename, which POSIX local
filesystems and HDFS (``FileContext.rename(OVERWRITE)``) provide; on
S3-like stores use a real table format — this module is the honest
fallback for environments without the Iceberg/Delta jars. Reference
semantics covered: MERGE (``datatrack_spark_utils.py:306-362``),
row-level DELETE + append (``forms_main.py:395-423``), snapshot expiry
(``datatrack_spark_utils.py:756-768``).

Scale notes: the manifest is one tiny JSON file — no listing, no
eventual consistency on the read path; version directories are normal
parquet tables, so partitioned/bucketed layouts, predicate pushdown
and AQE all apply unchanged. Expiry cost is proportional to files
deleted, never to table size.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import read_parquet, seed_schema

MANIFEST = "_latest"


def _manifest_path(root: str) -> str:
    return os.path.join(root, MANIFEST)


def _version_dir(root: str, version: int) -> str:
    return os.path.join(root, f"v{version:08d}")


def read_manifest(root: str) -> dict | None:
    """The committed state, or None if no commit ever succeeded."""
    try:
        with open(_manifest_path(root), encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def table_exists(root: str) -> bool:
    return read_manifest(root) is not None


def current_version(root: str) -> int:
    m = read_manifest(root)
    return m["version"] if m else 0


def last_batch_id(root: str) -> int:
    """Last streaming batch folded into the table (-1 = none)."""
    m = read_manifest(root)
    b = m.get("batch_id") if m else None
    return -1 if b is None else int(b)


def _resolve(root: str, version: int | None = None) -> tuple[int, str]:
    """The committed ``version`` of ``root`` (default: the current one)
    and its directory. Raises ``FileNotFoundError`` before the first
    commit or for a vacuumed version, ``ValueError`` above the
    manifest's version (an unpublished directory is never read)."""
    m = read_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed version at {root}")
    if version is None:
        version = m["version"]
    elif version > m["version"]:
        raise ValueError(f"version {version} not committed (current {m['version']})")
    vdir = _version_dir(root, version)
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"version {version} was vacuumed (expire_versions); retained max is {m['version']}"
        )
    return version, vdir


def read_table(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Read the current committed version — or, with ``version``, TIME
    TRAVEL to any still-retained snapshot (immutable version dirs make
    every un-vacuumed state readable forever, the same contract as
    Delta's ``versionAsOf``/Iceberg's snapshot reads)."""
    return read_parquet(spark, _resolve(root, version)[1])


def _snapshot(spark: SparkSession, root: str) -> tuple[int, DataFrame | None]:
    """The current version and its data, ``(0, None)`` before the first
    commit: what a read-modify-write derives from and commits against."""
    if not table_exists(root):
        return 0, None
    v, vdir = _resolve(root)
    return v, read_parquet(spark, vdir)


def table_changes(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Change-data-feed between two retained snapshots (the public
    Delta CDF idea over the commit log): every output row carries
    ``_change_type``.

    Whole-row mode (``keys=None``): rows only in ``to`` are ``insert``,
    rows only in ``from`` are ``delete`` (a modified row appears as a
    delete + insert pair). Keyed mode: a key present on both sides
    whose row changed becomes ``update_postimage`` (one row, the new
    image); key-only-in-``to`` is ``insert``; key-only-in-``from`` is
    ``delete`` (the old image).

    Plan shape: two scans + one shuffle each side (the except/join is
    on the full row hash / the keys); at 100 TB you run this per
    ingest window, not per query — it is the replication feed, not a
    hot-path operator."""
    old = read_table(spark, root, from_version)
    new = read_table(spark, root, to_version)
    cols = new.columns
    if keys is None:
        ins = new.exceptAll(old).select(*cols, F.lit("insert").alias("_change_type"))
        dels = old.exceptAll(new).select(*cols, F.lit("delete").alias("_change_type"))
        return ins.unionByName(dels)
    non_keys = [c for c in cols if c not in keys]
    o = old.select(*cols)
    # presence markers: NULL-safe — a key that exists with all-NULL data
    # columns must still read as present on its side
    new_m = new.select(*keys).withColumn("__in_new", F.lit(True))
    old_m = o.select(*keys).withColumn("__in_old", F.lit(True))
    both = (
        new.alias("n")
        .join(old_m, keys, "left")
        .join(old.alias("o"), keys, "left")
        .filter(F.col("__in_old").isNotNull())
    )
    changed = both.filter(
        ~F.struct(*[F.col(f"n.{c}") for c in non_keys]).eqNullSafe(
            F.struct(*[F.col(f"o.{c}") for c in non_keys])
        )
    ).select(*[F.col(f"n.{c}") for c in cols], F.lit("update_postimage").alias("_change_type"))
    inserts = (
        new.join(old_m, keys, "left_anti")
        .select(*cols, F.lit("insert").alias("_change_type"))
    )
    deletes = (
        o.join(new_m, keys, "left_anti")
        .select(*cols, F.lit("delete").alias("_change_type"))
    )
    return inserts.unionByName(changed).unionByName(deletes)


def _write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON atomically: a unique tmp
    file beside it, fsync, one ``os.replace``."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def commit_table(df: DataFrame, root: str, batch_id: int | None = None) -> int:
    """Publish ``df`` as the next version: :func:`commit_table_cas`
    against the version current now, for a writer whose data does not
    derive from the table (a seed, a stream fold's one writer per
    checkpoint). A version another writer publishes before this one's
    swap makes it raise :class:`CommitConflictError`; a published
    version is never rewritten. ``batch_id=None`` keeps the last
    recorded one."""
    return commit_table_cas(df, root, current_version(root), batch_id)


def compact_table(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: list[str] | None = None,
    batch_id: int | None = None,
) -> tuple[int, int, int]:
    """Small-file compaction — the Delta ``OPTIMIZE`` / Iceberg
    ``rewrite_data_files`` maintenance op over the commit log: rewrite
    the current version's data into ``ceil(bytes / target)`` files and
    publish it as a new (value-identical) version. Readers of the old
    version are undisturbed (immutable dirs); expiry reclaims it later.

    Streaming sinks and per-batch merges leave a file per micro-batch
    per partition; at 100 TB the resulting footer/open overhead — not
    the bytes — dominates scan cost, which is why every real table
    format ships this op (reference gap: its Iceberg conf sets
    ``write.target-file-size-bytes`` but nothing ever rewrites).

    ``cluster_by=None`` → ``coalesce`` (pure file merge, NO shuffle —
    each output task concatenates input splits). With ``cluster_by`` →
    ``repartitionByRange + sortWithinPartitions`` (one range shuffle)
    so compaction doubles as sort-clustering and the parquet footer
    min/max become selective on those columns (file skipping, same
    contract as ``operators/layout.py``).

    Size probing walks the local version dir (`os.walk`); on a real
    DFS swap in the Hadoop FileSystem ``getContentSummary`` — the
    planning logic is unchanged. Returns
    ``(new_version, n_files_before, n_files_after)``."""
    v, vdir = _resolve(root)
    data_files = _parquet_files(vdir)
    total_bytes = sum(os.path.getsize(f) for f in data_files)
    n_out = max(1, -(-total_bytes // max(1, target_file_bytes)))
    df = read_parquet(spark, vdir)
    if cluster_by:
        df = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(*cluster_by)
    else:
        df = df.coalesce(n_out)
    n = commit_table_cas(df, root, v, batch_id)
    return n, len(data_files), len(_parquet_files(_version_dir(root, n)))


def _parquet_files(vdir: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _, fs in os.walk(vdir) for f in fs if f.endswith(".parquet")]


def expire_versions(root: str, retain_last: int = 1) -> list[int]:
    """Vacuum old snapshots (D5,
    ``datatrack_spark_utils.py:756-768``): delete committed version
    directories older than the newest ``retain_last``; the current
    version always survives. Uncommitted (future-numbered) directories
    are left alone — a concurrent commit may be renaming one in.

    Returns the versions removed."""
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    cur = current_version(root)
    removed = []
    for name in sorted(os.listdir(root)):
        if name.startswith("v") and name[1:].isdigit():
            ver = int(name[1:])
            if ver <= cur - retain_last:
                shutil.rmtree(os.path.join(root, name))
                removed.append(ver)
    return removed


# ---------------------------------------------------------------------------
# Versioned faces of the mutable-table operators
# ---------------------------------------------------------------------------


def merge_latest_wins_versioned(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    order_col: str,
    tie_breakers: list[str] | None = None,
    batch_id: int | None = None,
    evolve: bool = False,
) -> int:
    """J3 MERGE with a real commit point: read vN, merge, publish vN+1
    (a version published after the read raises
    :class:`CommitConflictError`). First commit seeds the table with
    the deduped source. With
    ``evolve=True`` a source carrying new columns widens the committed
    schema (NULL backfill on historical rows — the reference's
    ``evoluir_schema`` + merge flow, ``datatrack_spark_utils.py:
    221-302,306-362``); without it, schema drift raises at the union
    rather than silently dropping columns."""
    from .operators.upsert import merge_latest_wins, merge_latest_wins_evolving
    from .operators.windows import dedup_latest

    v, cur = _snapshot(spark, root)
    if cur is None:
        merged = dedup_latest(source, keys, order_col, tie_breakers)
    else:
        op = merge_latest_wins_evolving if evolve else merge_latest_wins
        merged = op(cur, source, keys, order_col, tie_breakers)
    return commit_table_cas(merged, root, v, batch_id)


def replace_by_source_key_versioned(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    lineage_key: str = "landing_object_key",
    batch_id: int | None = None,
) -> int:
    """D2 per-file reload with a real commit point — re-running the
    same input converges to identical committed state."""
    from .operators.upsert import replace_by_source_key

    v, cur = _snapshot(spark, root)
    out = source if cur is None else replace_by_source_key(cur, source, lineage_key)
    return commit_table_cas(out, root, v, batch_id)


def upsert_sink_stream_versioned(
    stream: DataFrame,
    checkpoint_dir: str,
    root: str,
    keys: list[str],
    order_col: str,
    tie_breakers: list[str] | None = None,
):
    """``streaming.upsert_sink_stream`` on a commit-log root: the same
    latest-wins step under the same fold driver (``streaming/fold.py``),
    committed through the manifest swap with the ``batch_id``. A batch
    replayed after any crash is either fully committed (skipped) or
    never visible (folded again from the same inputs).

    Returns the started query; callers ``awaitTermination()``."""
    from .streaming.fold import VersionedRoot, fold_stream, upsert_step

    return fold_stream(
        stream, checkpoint_dir, VersionedRoot(root), upsert_step(keys, order_col, tie_breakers)
    )


def continuous_aggregate_stream_versioned(
    stream: DataFrame,
    checkpoint_dir: str,
    root: str,
    keys: list[str],
    value_col: str,
):
    """``streaming.continuous_aggregate_stream`` on a commit-log root.
    The sum-merge is not idempotent, so this is where the atomic
    (data, batch_id) commit matters most: the catalog-table kind has a
    double-count window between its state and meta writes, here that
    window does not exist.

    Returns the started query; callers ``awaitTermination()``."""
    from .streaming.fold import VersionedRoot, aggregate_step, fold_stream

    return fold_stream(stream, checkpoint_dir, VersionedRoot(root), aggregate_step(keys, value_col))


class CommitConflictError(RuntimeError):
    """Another writer published a version between this transaction's
    snapshot read and its commit attempt."""


def commit_table_cas(
    df: DataFrame,
    root: str,
    expected_version: int,
    batch_id: int | None = None,
    lock_timeout_s: float = 30.0,
) -> int:
    """Optimistic-concurrency commit: publish ``df`` as the next
    version ONLY if the table still points at ``expected_version``
    (the version this transaction read its inputs from). Two writers
    that raced from the same snapshot cannot both win — the loser gets
    :class:`CommitConflictError` and must re-derive from the new
    current version and retry (the standard Iceberg/Delta OCC loop).

    Mechanics: the parquet write goes to a UNIQUE staging directory —
    never the deterministic ``v{n}`` path, which a slow losing writer
    would otherwise clobber AFTER the winner published it. Under the
    ``O_CREAT|O_EXCL`` lock (atomic on POSIX/HDFS; a conditional PUT /
    DynamoDB mutex on S3-class stores, as the commit-point note at the
    top of this module says) the current version is re-read, the next
    version number assigned, the staging dir renamed into place, and
    the manifest swapped — so the loser's data never touches a
    published path. The published version's schema is ``df``'s, so it
    is seeded into ``read_parquet``'s memo and its first read infers
    nothing. A lock older than ``lock_timeout_s`` is presumed
    abandoned by a crashed writer and broken — versions are immutable
    and the manifest swap is atomic, so breaking a stale lock can
    duplicate no data; the worst case is two writers racing the SAME
    stale lock, which collapses back to the plain last-replace-wins
    window the timeout makes arbitrarily unlikely.
    """
    os.makedirs(root, exist_ok=True)
    cur = current_version(root)
    if cur != expected_version:
        raise CommitConflictError(
            f"{root}: expected version {expected_version}, found {cur}"
        )
    staging = os.path.join(root, f".stage-{uuid.uuid4().hex}")
    try:
        df.write.parquet(staging)
        n = _publish_staged(root, staging, expected_version, batch_id, lock_timeout_s)
    finally:
        shutil.rmtree(staging, ignore_errors=True)  # a failed write's; no-op once renamed
    seed_schema(df.sparkSession, _version_dir(root, n), df.schema)
    return n


def _publish_staged(
    root: str,
    staging: str,
    expected_version: int,
    batch_id: int | None = None,
    lock_timeout_s: float = 30.0,
) -> int:
    """The pure-filesystem critical section of :func:`commit_table_cas`
    — lock acquisition with stale-lock break, version re-check, atomic
    staging→version rename, and the manifest swap commit point. Split
    out so multi-process contention tests can hammer the REAL
    machinery (tests/test_lake_tx.py) without one Spark session per
    writer; the staged directory's contents are opaque here."""
    import time

    lock = os.path.join(root, "_commit.lock")
    deadline = time.time() + lock_timeout_s
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except FileNotFoundError:
                continue  # holder just released; retry immediately
            if age > lock_timeout_s:
                try:
                    os.unlink(lock)  # break a crashed writer's lock
                except FileNotFoundError:
                    pass
                continue
            if time.time() > deadline:
                shutil.rmtree(staging, ignore_errors=True)
                raise TimeoutError(f"commit lock busy at {root}")
            time.sleep(0.05)
    try:
        m = read_manifest(root)
        if (m["version"] if m else 0) != expected_version:
            raise CommitConflictError(
                f"{root}: version advanced past {expected_version} during commit"
            )
        n = expected_version + 1
        vdir = _version_dir(root, n)
        # a writer that crashed between its rename and its swap left this
        # never-published version behind; it was never visible
        shutil.rmtree(vdir, ignore_errors=True)
        os.replace(staging, vdir)
        if batch_id is None and m is not None:
            batch_id = m.get("batch_id")  # keep the stream's watermark
        _write_json(_manifest_path(root), {"version": n, "batch_id": batch_id})
    finally:
        os.close(fd)
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass
        shutil.rmtree(staging, ignore_errors=True)  # no-op after rename
    return n


def delete_rows(
    spark: SparkSession,
    root: str,
    predicate,
    batch_id: int | None = None,
) -> tuple[int, int]:
    """Row-level DELETE through the commit log — the
    right-to-be-forgotten path (``forms_main.py:408-413``'s DELETE
    WHERE, versioned): write a new version WITHOUT the matching rows
    and atomically publish it against the version it read. Readers never see a half-deleted table;
    the change-data-feed (``table_changes``) reports exactly the
    removed rows as deletes, which is the audit artifact an erasure
    request needs.

    ``predicate`` is a Column (or SQL string) selecting rows to REMOVE.
    Returns ``(new_version, n_deleted)``. NOTE: prior versions still
    contain the rows until ``expire_versions`` vacuums them — complete
    erasure = delete_rows + expire_versions(retain_last=1), exactly
    like Delta/Iceberg VACUUM semantics.
    """
    v, vdir = _resolve(root)
    cur = read_parquet(spark, vdir)
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    n = cur.filter(cond).count()
    kept = cur.filter(~cond | cond.isNull())
    return commit_table_cas(kept, root, v, batch_id), n


def cdc_sink_stream_versioned(
    stream: DataFrame,
    checkpoint_dir: str,
    root: str,
    keys: list[str],
    seq_col: str,
    op_col: str,
    delete_op: str = "D",
):
    """``streaming.cdc_sink_stream`` on a commit-log root: the same
    seq-aware tombstone step under the same fold driver, each
    micro-batch published by the manifest swap with its ``batch_id``.
    State rows carry ``__seq``/``__deleted`` exactly like the catalog
    sink's; read current rows by filtering ``__deleted`` on
    ``read_table``.

    Returns the started query; callers ``awaitTermination()``."""
    from .streaming.fold import VersionedRoot, cdc_step, fold_stream

    return fold_stream(
        stream, checkpoint_dir, VersionedRoot(root), cdc_step(keys, seq_col, op_col, delete_op)
    )


# ---------------------------------------------------------------------------
# Manifest-level file skipping (Iceberg manifest-pruning emulated)
# ---------------------------------------------------------------------------

_STATS_FILE = "_file_stats.json"


def write_file_stats(
    spark: SparkSession, root: str, columns: list[str], version: int | None = None
) -> int:
    """Record per-data-file min/max for ``columns`` into a
    ``_file_stats.json`` sidecar inside the version directory — the
    engine's emulation of Iceberg's per-file column bounds in manifest
    entries (ref production path writes Iceberg v2 whose readers prune
    on exactly these). ONE Spark pass over the version's files,
    grouped by ``input_file_name`` (map-side combined: #files × #cols
    rows cross the wire). Returns the number of files profiled.

    Works best after ``compact_table(cluster_by=...)`` — range-
    clustered files have tight disjoint bounds, so pruning is sharp;
    on unclustered data every file may overlap every predicate and
    skipping degrades to reading everything (correct, just not
    faster) — identical to Iceberg's behavior."""
    vdir = _resolve(root, version)[1]
    df = read_parquet(spark, vdir)
    aggs = []
    for c in columns:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    rows = (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .collect()
    )
    stats = {
        r["file"].replace("file://", ""): {
            c: [r[f"min_{c}"], r[f"max_{c}"]] for c in columns
        }
        for r in rows
    }
    _write_json(os.path.join(vdir, _STATS_FILE), {"columns": columns, "files": stats})
    return len(stats)


def read_table_pruned(
    spark: SparkSession,
    root: str,
    column: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Read a committed version touching ONLY the data files whose
    recorded [min, max] for ``column`` overlaps [lo, hi] — manifest
    pruning from the ``write_file_stats`` sidecar, with the residual
    ``BETWEEN`` filter applied on top (bounds admit false positives,
    never false negatives; a file with NULL bounds — all-null column —
    is kept). Falls back to a full scan + filter when no sidecar
    exists, so the call is always correct. At 100 TB this is the
    difference between listing 50 files and scanning a partition's
    thousand."""
    vdir = _resolve(root, version)[1]
    spath = os.path.join(vdir, _STATS_FILE)
    pred = F.col(column).between(lo, hi)
    if not os.path.exists(spath):
        return read_parquet(spark, vdir).filter(pred)
    with open(spath, encoding="utf-8") as f:
        sidecar = json.load(f)
    if column not in sidecar["columns"]:
        return read_parquet(spark, vdir).filter(pred)
    keep = []
    for path, bounds in sidecar["files"].items():
        mn, mx = bounds[column]
        if mn is None or mx is None or not (mx < lo or mn > hi):
            keep.append(path)
    if not keep:
        return read_parquet(spark, vdir).filter(pred).limit(0)
    return read_parquet(spark, *keep).filter(pred)
