#!/usr/bin/env python
"""Benchmark runner — registry queries at $SPARK_GRAFT_SF_DIR.

The LAST line printed is one JSON object:
``{"metric": "...", "value": N, "unit": "sec", "timer": "build+noop",
"queries": {...}, "sf": ..., "work": {...}}``

Methodology: every number comes from one timer, :func:`measure`. It
builds the query afresh (Python-side construction plus any eager jobs
it runs, such as an iterative operator's checkpoints), then runs one
fresh ``write.format("noop")`` of the built DataFrame, so every stage
(shuffle-map, broadcast, result) is inside the timed span. A query's
number is ``build_s + exec_s``.

One pass: the CORE50 entries run first, each measured twice, cold then
warm; every other registry entry is measured once, cold. The headline
``value`` sums the warm numbers of the HEADLINE prefix, ``core50_*``
the warm numbers of CORE50, and ``full_*`` the cold numbers of every
entry. Warm numbers leave out one-time costs shared by a session (JIT,
Janino compiles of the same code shapes, file-footer caches); cold
numbers keep them. ``BENCH_QUERIES=name1,name2`` (or ``all``) measures
only those entries, cold then warm, and reports them as the headline.

Work counters: each measurement runs in its own job group, and
afterwards the group's executor CPU time, shuffle bytes, spill and
stage count are read from Spark's status store
(``perfbench.probes.SparkProbe``). They cover every job the query ran,
construction included, so a regression shows as extra work — which
host load barely moves — rather than as a wall-clock delta. Per-query
layers and counters go on detail lines; the headline line carries
their totals, because only the last 2,000 bytes of output are kept.
The gated end-to-end bench is ``perfbench/``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Observation
from pyspark.sql import functions as F

from __spark_entry__ import queries
from fintrack_etl_spark.session import get_spark
from perfbench.probes import SparkProbe

#: The headline subset — one representative per operator family, biased
#: toward the scans/joins/windows that dominate a 100 TB workload.
HEADLINE = [
    "a1_group_sum_flagship",
    "a2_group_sum_composite",
    "a8_mode_per_group",
    "j1_budget_vs_actual",
    "j2_mode_backfill",
    "j3_merge_upsert",
    "w1_dedup_latest",
    "w2_forward_fill",
    "ext_running_sum",
    "ext_sessionize",
    "o1_top_abs",
    "f12_categorize",
    "d2_replace_by_key",
    "ext_tumbling_window",
    "ext_cube",
    "ext_asof_join",
    "ext_time_bucket_rollup",
    "ext_grouping_sets",
    "ext_having_join_q18",
    "ext_rank_family",
    "ext_exists_subquery",
]


#: Frozen 50-query core set (VERDICT r3 #10) — FIXED across rounds so
#: the number is comparable even as the registry grows (full-registry
#: wall time includes one-time planning of new entries; this does not).
#: Superset of HEADLINE plus one representative per remaining family.
#: Do NOT edit — append-only benchmarking history depends on it.
CORE50 = HEADLINE + [
    "a9_describe_stats",
    "d4_incremental_watermark",
    "ext_sql_entry_q5",
    "ext_sql_entry_q3",
    "ext_profit_by_nation_q9",
    "ext_waiting_supplier_q21",
    "ext_percentiles_approx",
    "ext_lag_lead",
    "ext_range_frame",
    "ext_salted_agg",
    "ext_salted_join",
    "ext_pivot",
    "ext_rollup",
    "ext_range_join",
    "ext_scd2_build",
    "ext_cdc_apply",
    "ext_pit_join",
    "ext_interval_join",
    "ext_bloom_prune_join",
    "ext_pack_documents",
    "ext_pps_token_sample",
    "x1_dedup_exact",
    "x3_ngram_jaccard",
    "x4_minhash_lsh",
    "x7_token_stats",
    "x8_quality_scores",
    "x11_knn_bruteforce",
    "x12_knn_lsh",
    "x24_tfidf_topk",
]


def skew_bench(spark, sf_dir: str) -> dict[str, float]:
    """Deliberately skewed fixture (BASELINE.md §C): a zipf-ish ladder
    key over lineitem (~50 % of rows on key 0, 25 % on key 1, … tail
    uniform over 1024 keys), amplified 20× to ~12 M rows at sf0.1 so
    the hot key (~6 M rows on ONE reducer unsalted) is big enough for
    placement to matter — then aggregated and joined five ways:
    unsalted, AQE-skew-split, and the structural salted operators.
    Measured r4 @ sf0.1/local[32]: join 2.97 s unsalted → 0.82 s AQE
    split → 0.56 s salted (5.3×); agg 2× with salting. The fixture is
    localCheckpointed first so generation cost is excluded."""
    from fintrack_etl_spark.io import table
    from fintrack_etl_spark.operators.skew import salted_group_agg, salted_join

    li = table(spark, "lineitem", sf_dir)
    h = F.pmod(F.xxhash64("l_orderkey"), F.lit(1024))
    key = (
        F.when(h < 512, 0)
        .when(h < 768, 1)
        .when(h < 896, 2)
        .when(h < 960, 3)
        .when(h < 992, 4)
        .otherwise(h)
    ).cast("long")
    fact = (
        li.select(key.alias("k"), F.col("l_extendedprice").alias("v"))
        .withColumn("_r", F.explode(F.sequence(F.lit(1), F.lit(20))))
        .drop("_r")
        .repartition(32)
        .localCheckpoint()
    )
    dim = (
        spark.range(0, 1024)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
        .localCheckpoint()
    )
    res: dict[str, float] = {}

    def timed(key: str, build) -> None:
        rec = measure(spark, f"bench:skew:{key}", build)
        res[key] = round(rec["build_s"] + rec["exec_s"], 3)

    mutated = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {}
    for k in mutated:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf: restore via unset
            saved[k] = None
    try:
        timed("agg_unsalted", lambda: fact.groupBy("k").agg(F.sum("v").alias("s")))
        timed("agg_salted", lambda: salted_group_agg(fact, ["k"], "v", buckets=32))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        timed("join_unsalted", lambda: fact.join(dim, "k"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        timed("join_aqe_skew_split", lambda: fact.join(dim, "k"))
        timed("join_salted", lambda: salted_join(fact, dim, ["k"], "v", buckets=32))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        # release the 12 M-row checkpointed blocks so the query sets
        # that follow run unpressured — via the LogicalRDD handle
        # (``df.rdd.unpersist()`` detaches a DERIVED python RDD and
        # leaves the checkpoint blocks resident; that leak was a prime
        # suspect in the r6 core-50 drift)
        from fintrack_etl_spark.operators.memo import unpersist_checkpointed

        unpersist_checkpointed((fact, dim))
    return res


#: Seconds one measurement may run before its jobs are cancelled, the
#: same cap for the skew micro-bench, and the wall budget of the entries
#: after CORE50 (measured from the first of them).
QUERY_TIMEOUT_S = 120
SKEW_TIMEOUT_S = 180
FULL_BUDGET_S = 540

#: Per-query layers and work counters read from the query's job group.
LAYER_KEYS = ("build_s", "build_jobs", "exec_s", "rows")
WORK_KEYS = (
    "task_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "stages",
)


@functools.cache
def _probe(spark) -> SparkProbe:
    # SparkProbe fails on an empty SQL status store: record one execution
    spark.range(1).collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return SparkProbe(spark)


def measure(spark, group: str, build) -> dict:
    """Build one DataFrame with ``build()`` and run it, in job group
    ``group`` (thread-local: call from the thread that runs the query;
    a group counts every job ever tagged with it, so use a fresh name).

    Returns ``build_s`` (seconds in ``build()``, construction plus its
    eager jobs), ``build_jobs`` (jobs those ran), ``exec_s`` (seconds
    of one fresh ``noop`` write of the result), ``rows`` (its row
    count, observed on that same write) and the group's
    :data:`WORK_KEYS` counters."""
    probe = _probe(spark)
    probe.set_group(group)
    t0 = time.perf_counter()
    df = build()
    build_s = time.perf_counter() - t0
    probe.drain()  # the status tracker is fed asynchronously
    build_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    t0 = time.perf_counter()
    observed.write.format("noop").mode("overwrite").save()
    exec_s = time.perf_counter() - t0
    probe.drain()
    stats = probe.jobs_stats(group)
    rec = dict(build_s=build_s, build_jobs=build_jobs, exec_s=exec_s, rows=obs.get["rows"])
    return {k: round(v, 3) for k, v in {**rec, **{k: stats[k] for k in WORK_KEYS}}.items()}


def run_with_watchdog(spark, work, timeout: float):
    """Run ``work()`` in a worker thread; past ``timeout`` seconds cancel
    every Spark job instead of hanging the whole bench (round 4: ONE
    stuck query ⇒ rc=124 ⇒ no official numbers at all). Returns
    ``(value, err)``: ``err`` is None, ``"timeout"``, or the class
    name of the exception ``work`` raised."""
    box: dict[str, object] = {}

    def target() -> None:
        try:
            box["v"] = work()
        except Exception as exc:  # noqa: BLE001 — recorded, not fatal
            box["e"] = type(exc).__name__

    th = threading.Thread(target=target, daemon=True)
    th.start()
    th.join(timeout)
    if th.is_alive():
        spark.sparkContext.cancelAllJobs()
        th.join(30)
        return None, "timeout"
    return box.get("v"), box.get("e")


def warm_worker_pool(spark) -> None:
    """Spin up the Python worker pool + Arrow lane once AND import the
    heavy pure-Python codec modules inside every worker: the ~10 s pool
    startup and the per-worker import of the large minipdf/minipng/
    multimodal modules are infrastructure cost that must not land in
    the first codec entry's number (r8's three-run band showed p8/p9
    swinging ±3 s on exactly this)."""

    def _warm_worker(batches):
        import fintrack_etl_spark.multimodal  # noqa: F401
        import fintrack_etl_spark.parse.minipdf  # noqa: F401
        import fintrack_etl_spark.parse.minipng  # noqa: F401

        yield from batches

    try:
        spark.range(1024).repartition(
            spark.sparkContext.defaultParallelism  # one worker per slot
        ).mapInPandas(_warm_worker, "id long").count()
    except Exception:  # noqa: BLE001 — warmup is best-effort
        pass


def seconds(recs: dict[str, dict], names) -> dict[str, float | None]:
    """Per-query ``build_s + exec_s``; None where the query failed."""
    return {
        n: round(recs[n]["build_s"] + recs[n]["exec_s"], 3) if n in recs else None for n in names
    }


def total(recs: dict[str, dict], names) -> float:
    return round(sum(t for t in seconds(recs, names).values() if t is not None), 3)


def work_totals(recs: dict[str, dict], names) -> dict:
    return {k: round(sum(recs[n][k] for n in names if n in recs), 3) for k in WORK_KEYS}


def print_detail(metric: str, recs: dict[str, dict]) -> None:
    """Per-query seconds, layers and work counters, on a line of their own."""
    print(json.dumps({
        "metric": metric,
        "queries": seconds(recs, recs),
        "layers": {n: {k: r[k] for k in LAYER_KEYS} for n, r in recs.items()},
        "work": {n: {k: r[k] for k in WORK_KEYS} for n, r in recs.items()},
    }), flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("bench")
    qs = queries()
    # Optional subset via BENCH_QUERIES=name1,name2 or "all": measured
    # cold then warm, and nothing else runs
    extra = os.environ.get("BENCH_QUERIES")
    if extra:
        picked = list(qs) if extra == "all" else [n for n in extra.split(",") if n in qs]
        core = head = names = picked
    else:
        core = [n for n in CORE50 if n in qs]
        head = [n for n in HEADLINE if n in qs]  # a prefix of core
        names = core + [n for n in qs if n not in set(core)]

    #: failures are recorded HERE, never folded into summed metrics: a
    #: query that errors instantly must not inflate the official total
    #: by the 120 s cap, and a real hang must not be silently capped —
    #: totals stay comparable round-over-round, failures stay visible.
    errors: dict[str, str] = {}
    timeouts: list[str] = []
    recs: dict[str, dict[str, dict]] = {"cold": {}, "warm": {}}

    def run(name: str, temp: str) -> bool:
        # cold and warm are part of the group name: a group lists
        # every job ever tagged with it
        group = f"bench:{temp}:{name}"
        rec, err = run_with_watchdog(
            spark, lambda: measure(spark, group, lambda: qs[name](spark, sf_dir)), QUERY_TIMEOUT_S
        )
        if err is None:
            recs[temp][name] = rec
            return True
        if err == "timeout":
            timeouts.append(name)
            msg = {"metric": "bench_query_timeout", "query": name}
        else:
            errors[name] = err
            msg = {"metric": "bench_query_error", "query": name, "err": err}
        print(json.dumps(msg), file=sys.stderr)
        return False

    def headline() -> dict:
        out: dict[str, object] = {
            "metric": "headline_queries_total_sec",
            "value": total(recs["warm"], head),
            "unit": "sec",
            "timer": "build+noop",
            "queries": seconds(recs["warm"], head),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "work": work_totals(recs["warm"], head),
        }
        if errors:
            out["errors"] = dict(errors)
        if timeouts:
            out["timeouts"] = list(timeouts)
        return out

    # Skew micro-bench (12 M-row fixture, the largest shuffle in the
    # file) runs FIRST: it is measurably penalized by block-manager
    # pressure from 70+ warmed query plans (observed 0.56 s -> 3.4 s
    # for the salted join when run last).
    skew = None
    if not extra:
        skew, err = run_with_watchdog(spark, lambda: skew_bench(spark, sf_dir), SKEW_TIMEOUT_S)
        if err is not None:
            kind = "timeout" if err == "timeout" else "error"
            print(json.dumps({"metric": f"bench_skew_{kind}", "err": err}), file=sys.stderr)

    # The entries after CORE50 are the regression radar for the
    # non-headline families (parsers, reports, dedup/ANN, DDL); a total
    # budget stops them with partial results rather than running past
    # the caller's time limit.
    t_full = None
    skipped: list[str] = []
    for i, name in enumerate(names):
        if i == len(core):
            warm_worker_pool(spark)
            t_full = time.time()
        if t_full is not None and time.time() - t_full > FULL_BUDGET_S:
            skipped.append(name)
            continue
        if run(name, "cold") and i < len(core):  # a failed query is not re-run warm
            run(name, "warm")
        if i + 1 == len(head):
            # Print the headline line IMMEDIATELY (and again last): if
            # anything later stalls or the runner is killed, the round
            # still has its official number in the tail written so far.
            print(json.dumps(headline()), flush=True)

    out = headline()
    if not extra:
        out["core50_total_sec"] = total(recs["warm"], core)
        out["core50_n_queries"] = len(core)
        out["core50_work"] = work_totals(recs["warm"], core)
        if skew is not None:
            out["skew"] = skew
        measured = [n for n in names if n not in set(skipped)]
        out["full_total_sec"] = total(recs["cold"], measured)
        out["full_n_queries"] = len(measured)
        out["full_work"] = work_totals(recs["cold"], measured)
        if skipped:
            # every registry entry must have a row, so a budget skip is
            # loudly visible (VERDICT r5 #8)
            out["full_skipped_n"] = len(skipped)
            print(json.dumps({"metric": "full_budget_exhausted", "skipped": skipped}), flush=True)
    print_detail("cold_queries_sec", recs["cold"])
    print_detail("warm_queries_sec", recs["warm"])
    # Headline line LAST so it survives the driver's tail capture.
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
