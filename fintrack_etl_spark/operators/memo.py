"""The engine's one session memo: costly per-session artifacts that
several registry queries share are built once per session, not once
per query.

``memoized(site, key, build)`` is the only store. A site names its key
and its build; this module owns the dicts, the bound (``MEMO_MAX``
entries per site, FIFO) and the eviction. The eight sites:

* ``"train"`` — ``similarity.kmeans_centroids`` / ``pq_train``: the
  IVF coarse quantizer and the PQ codebooks, model artifacts that
  x18/x20/x21 would otherwise each retrain per query;
* ``"count"`` — ``similarity._corpus_count``: corpus vector counts;
* ``"shingle"`` — ``dedup_text._shingled`` and the document-frequency
  table ``stop_shingles`` profiles (``"dftab"`` in its key);
* ``"collapse"`` — ``dedup_text._collapsed_rep_sets``: the exact-set
  collapse;
* ``"fuzzy"`` — ``queries._fuzzy_part_pairs``: the fuzzy part-name
  pair graph;
* ``"bpe"`` — ``queries_ext._bpe_words_enc``: the trained BPE
  dictionary;
* ``"lanc"`` — ``queries_reports._lancamentos``: the categorized
  lançamentos;
* ``"schema"`` — ``io.read_parquet``: a parquet path set's inferred
  schema (never the DataFrame, whose attribute ids must stay fresh),
  keyed by applicationId + the paths + the ``file_signature`` of every
  listed data file, ``None`` for a path that cannot be listed locally.
  ``lake_tx.commit_table`` seeds each version it writes with the
  committed DataFrame's schema (``io.seed_schema``), so reading a
  fresh version runs no inference job.

Each site has its own dict, so filling one evicts nothing from another
(a cheap count can never push out a trained model, ADVICE r9). The
first four key on :func:`df_memo_key`, the fixture sites on
:func:`fixture_key`, ``"schema"`` on :func:`file_signature`; a
``None`` key builds and stores nothing.

Two hazards these helpers close (ADVICE r6):

* **Stale reads after in-session overwrite** — the cache keys carry the
  canonicalized plan + input file LIST, but a fixture path overwritten
  in-session keeps the same list. `file_signature` folds each file's
  (mtime_ns, size) into the key so a rewrite is a different key.
* **Block leak on FIFO eviction** — evicted values hold
  `localCheckpoint`-backed DataFrames whose blocks stay in the block
  manager forever. `evicting_put` unpersists the evicted entry's
  checkpointed RDDs (best-effort, non-blocking).

Plan-keyed cache TRAP (pinned in tests): `canonicalized()` omits BOTH
parquet paths and LocalRelation data, so the key MUST include
`df.inputFiles()` and never memoize when it is empty.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

#: Entries kept per site; the oldest insert is evicted first.
MEMO_MAX = 16

#: site -> {key: value}, insertion-ordered (FIFO eviction)
_STORE: dict[str, dict] = {}


def file_signature(files) -> tuple:
    """(path, mtime_ns, size) per input file — local paths only; a
    non-local URI contributes just its name (still disambiguates
    scale factors, the original purpose of the file list)."""
    sig = []
    for f in sorted(files):
        p = f
        if f.startswith("file:"):
            p = unquote(urlparse(f).path)
        try:
            st = os.stat(p)
            sig.append((f, st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append((f, None, None))
    return tuple(sig)


def df_memo_key(df: DataFrame, extra: tuple) -> tuple | None:
    """Identity = applicationId + canonicalized analyzed plan (expr-ids
    normalized, literals kept) + input-file signature + caller params.
    Returns None (never memoize) for plans with no input files."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        plan = str(df._jdf.queryExecution().analyzed().canonicalized())  # noqa: SLF001
        app = df.sparkSession.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — memo is best-effort
        return None
    return (app, plan, file_signature(files), extra)


def fixture_key(spark: SparkSession, sf_dir: str, table: str) -> tuple:
    """Identity of a registry fixture table = applicationId + sf_dir +
    the signature of ``<sf_dir>/<table>.parquet``, so an in-session
    overwrite of the fixture misses instead of serving stale rows."""
    return (
        spark.sparkContext.applicationId,
        sf_dir,
        file_signature([os.path.join(sf_dir, f"{table}.parquet")]),
    )


def unpersist_checkpointed(value) -> None:
    """Free the block-manager storage behind a (tuple of)
    localCheckpoint-backed DataFrame(s). A checkpointed Dataset's
    analyzed plan is a LogicalRDD over the persisted RDD — unpersist
    that RDD directly (non-blocking); anything else is a no-op."""
    items = value if isinstance(value, (tuple, list)) else (value,)
    for item in items:
        if not isinstance(item, DataFrame):
            continue
        try:
            plan = item._jdf.queryExecution().analyzed()  # noqa: SLF001
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — cleanup is best-effort
            pass


def evicting_put(cache: dict, max_size: int, key, value) -> None:
    """FIFO insert; the evicted entry's checkpointed blocks are freed.

    OWNERSHIP CONTRACT: cached DataFrames belong to the cache. A
    caller must consume the returned handle promptly (build its plan,
    run its action) — holding one across ``max_size`` subsequent
    inserts is unsupported, because eviction unpersists the
    localCheckpoint blocks and a truncated-lineage RDD cannot
    recompute (the alternative — never unpersisting — is the
    unbounded block leak ADVICE r6 flagged). Every in-repo consumer
    uses its cache hit within the same query build."""
    if key is None:
        return
    if key in cache:
        # re-insert: free the displaced value (unless identical) and
        # do NOT evict an unrelated entry — the dict is not growing
        old = cache.pop(key)
        if old is not value:
            unpersist_checkpointed(old)
    while cache and len(cache) >= max_size:
        old = cache.pop(next(iter(cache)))  # oldest insert (dicts are ordered)
        unpersist_checkpointed(old)
    cache[key] = value


def memoized(site: str, key, build):
    """``site``'s value for ``key``, built by ``build()`` on a miss and
    kept under the ``evicting_put`` contract. A ``None`` key builds
    every time and stores nothing."""
    if key is None:
        return build()
    entries = _STORE.setdefault(site, {})
    if key in entries:
        return entries[key]
    value = build()
    evicting_put(entries, MEMO_MAX, key, value)
    return value


def clear(site: str) -> None:
    """Empty ``site`` and free its entries' checkpoint blocks."""
    for value in _STORE.pop(site, {}).values():
        unpersist_checkpointed(value)
