#!/usr/bin/env python
"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR.

The LAST line printed is one JSON object:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
"work": {...}}``

Methodology: each query is planned ONCE, a warm-up pass runs the
physical plan (JIT + whole-stage-codegen Janino compile + file-footer
caches), and the reported number is a timed second run of the SAME
plan — steady-state execution, the way a long-lived session (or any
TPC-style harness) behaves. One-time plan/codegen cost is real but
amortizes to zero against 100 TB of data; at sf0.1 it would otherwise
dominate and misrepresent data throughput (measured: ~8 s Janino
compile vs 0.1 s execution for the regex-heavy report queries).
Set BENCH_WARMUP=0 to fold the one-time costs into the number.

Work counters: each query runs in its own job group, and afterwards
the group's executor CPU time, shuffle bytes, spill and stage count are
read from Spark's status store (``perfbench.probes.SparkProbe``). They
cover every job the query ran, construction included, so a regression
shows as extra work — which host load barely moves — rather than as a
wall-clock delta. Per-query counters go on a detail line; the headline
line carries their totals, because only the last 2,000 bytes of output
are kept. The gated end-to-end bench is ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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
    from pyspark.sql import functions as F

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
        res["agg_unsalted"] = time_count(fact.groupBy("k").agg(F.sum("v").alias("s")))
        res["agg_salted"] = time_count(salted_group_agg(fact, ["k"], "v", buckets=32))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        res["join_unsalted"] = time_count(fact.join(dim, "k"))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        res["join_aqe_skew_split"] = time_count(fact.join(dim, "k"))
        res["join_salted"] = time_count(salted_join(fact, dim, ["k"], "v", buckets=32))
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


#: Per-query work counters read from the query's job group.
WORK_KEYS = (
    "task_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "stages",
)


def time_count(df, warm: bool = True) -> float:
    """Seconds of one ``count`` over ``df``'s physical plan, run
    JVM-side with no Python-side row transfer. ``toRdd()`` runs the
    plan's shuffle and broadcast stages untimed; ``warm`` adds an
    untimed count first, and the timed count reuses the same plan."""
    rdd = df._jdf.queryExecution().toRdd()
    if warm:
        rdd.count()
    t0 = time.time()
    rdd.count()
    return round(time.time() - t0, 3)


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


def work_totals(counters: dict[str, dict]) -> dict:
    return {k: round(sum(c[k] for c in counters.values()), 3) for k in WORK_KEYS}


def print_detail(metric: str, timings: dict, counters: dict) -> None:
    """Per-query seconds and work counters, on a line of their own."""
    print(json.dumps({"metric": metric, "queries": timings, "work": counters}), flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warmup = os.environ.get("BENCH_WARMUP", "1") != "0"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark("bench")
    # SparkProbe fails on an empty SQL status store: record one execution
    spark.range(1).collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    probe = SparkProbe(spark)
    qs = queries()
    names = [n for n in HEADLINE if n in qs]
    # Optional extras via BENCH_QUERIES=name1,name2 or "all"
    extra = os.environ.get("BENCH_QUERIES")
    if extra == "all":
        names = list(qs)
    elif extra:
        names = [n for n in extra.split(",") if n in qs]

    q_timeout = float(os.environ.get("BENCH_QUERY_TIMEOUT", "120"))
    #: failures are recorded HERE, never folded into summed metrics: a
    #: query that errors instantly must not inflate the official total
    #: by the 120 s cap, and a real hang must not be silently capped —
    #: totals stay comparable round-over-round, failures stay visible.
    errors: dict[str, str] = {}
    timeouts: list[str] = []

    def run(name: str, warm: bool, family: str, counters: dict[str, dict]) -> float | None:
        # The pass is part of the group name: a query runs in up to
        # three passes, and a group lists every job ever tagged with it.
        group = f"bench:{family}:{name}"

        def timed() -> float:
            # set in the worker thread: job groups are thread-local
            spark.sparkContext.setJobGroup(group, group)
            return time_count(qs[name](spark, sf_dir), warm)

        t, err = run_with_watchdog(spark, timed, q_timeout)
        if err is not None:
            if err == "timeout":
                timeouts.append(name)
                msg = {"metric": "bench_query_timeout", "query": name}
            else:
                errors[name] = err
                msg = {"metric": "bench_query_error", "query": name, "err": err}
            print(json.dumps(msg), file=sys.stderr)
            return None
        probe.drain()
        stats = probe.jobs_stats(group)
        counters[name] = {k: round(stats[k], 3) for k in WORK_KEYS}
        return t

    # Skew micro-bench (12 M-row fixture, the largest shuffle in the
    # file) runs FIRST: it is measurably penalized by block-manager
    # pressure from 70+ warmed query plans (observed 0.56 s -> 3.4 s
    # for the salted join when run last).
    skew = None
    if os.environ.get("BENCH_SKEW", "1") != "0" and not extra:
        skew, err = run_with_watchdog(
            spark,
            lambda: skew_bench(spark, sf_dir),
            float(os.environ.get("BENCH_SKEW_TIMEOUT", "180")),
        )
        if err is not None:
            kind = "timeout" if err == "timeout" else "error"
            print(json.dumps({"metric": f"bench_skew_{kind}", "err": err}), file=sys.stderr)

    work: dict[str, dict] = {}
    timings = {name: run(name, warmup, "headline", work) for name in names}
    total = round(sum(t for t in timings.values() if t is not None), 3)
    print_detail("headline_queries_sec", timings, work)

    out: dict[str, object] = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "work": work_totals(work),
    }
    if errors:
        out["errors"] = dict(errors)
    if timeouts:
        out["timeouts"] = list(timeouts)
    # Print the headline line IMMEDIATELY (and again last): if anything
    # later in the run stalls or the runner is killed, the round still
    # has its official number in the tail written so far.
    print(json.dumps(out), flush=True)

    if not extra:
        # Fixed 50-query core set (frozen list, warm timings): the
        # round-over-round comparable number — registry growth adds
        # planning overhead to the FULL pass but cannot move this one.
        core_work: dict[str, dict] = {}
        core = {name: run(name, warmup, "core50", core_work) for name in CORE50 if name in qs}
        out["core50_total_sec"] = round(
            sum(t for t in core.values() if t is not None), 3
        )
        out["core50_n_queries"] = len(core)
        out["core50_work"] = work_totals(core_work)
        print_detail("core50_queries_sec", core, core_work)
        if skew is not None:
            out["skew"] = skew

    # Full-registry pass (BENCH_FULL=0 to skip): every queries() entry,
    # single cold execution each — the regression radar for the
    # non-headline families (parsers, reports, dedup/ANN, DDL). A total
    # budget stops the pass with partial results rather than running
    # the driver's window out.
    if os.environ.get("BENCH_FULL", "1") != "0" and not extra:
        # Spin up the Python worker pool + Arrow lane once AND import
        # the heavy pure-Python codec modules inside every worker: the
        # ~10 s pool startup and the per-worker import of the large
        # minipdf/minipng/multimodal modules are infrastructure cost
        # that must not land in the first codec entry's number (r8's
        # three-run band showed p8/p9 swinging ±3 s on exactly this).
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

        budget = float(os.environ.get("BENCH_FULL_BUDGET_SEC", "540"))
        t0 = time.time()
        full: dict[str, float | None] = {}
        full_work: dict[str, dict] = {}
        skipped: list[str] = []
        for name in qs:
            if time.time() - t0 > budget:
                skipped.append(name)
                continue
            full[name] = run(name, False, "full", full_work)
        out["full_total_sec"] = round(
            sum(t for t in full.values() if t is not None), 3
        )
        out["full_wall_sec"] = round(time.time() - t0, 3)  # incl. planning
        out["full_n_queries"] = len(full)
        out["full_work"] = work_totals(full_work)
        if skipped:
            # every registry entry must have a row in the full pass, so
            # a budget skip is loudly visible (VERDICT r5 #8)
            out["full_skipped_n"] = len(skipped)
            print(
                json.dumps({"metric": "full_budget_exhausted", "skipped": skipped}),
                flush=True,
            )
        print_detail("full_registry_queries_sec", full, full_work)

    # Headline line LAST so it survives the driver's tail capture.
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
