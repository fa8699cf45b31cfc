#!/usr/bin/env python3
"""End-to-end benchmark of fintrack_etl_spark, with a traced mode that
splits the time by layer.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One client process drives Spark
``local[<cores>]`` as a closed loop: each operation starts after the
previous one finished, and each builds a fresh DataFrame through the
package's public functions and runs one fresh action on it.

A run sets up once (cold session start, input generation, one untimed
warm-up pass, in which Python workers start and registry outputs are
checked), then repeats timed passes of the workload for at least
``--seconds`` seconds and the workload's pass count, then checks the
remaining outputs. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs one untimed pass and one traced pass and prints the
per-layer metrics.
The last line of standard output is the result as one JSON object.
See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """The package's own session factory, sized to this host's cores."""
    from fintrack_etl_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{_cores()}]")


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from probes import tree_pids

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for p in tree_pids(os.getpid())[1:]:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _stats(values: list[float]) -> dict:
    from probes import tail

    p, t = tail(values)
    return {"p50": statistics.median(values), "tail": t, "tail_pct": p, "n": len(values)}


def run(args) -> dict:
    from probes import Sampler, SparkProbe, Tracer, host_cpu_ticks, steal_share, tree_cpu_s
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload](args.sf)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    shutil.rmtree(work, ignore_errors=True)
    me = os.getpid()
    spark = None
    tracer = Tracer(run_id, args.workload, enabled=bool(args.trace))
    try:
        # -- set-up: cold session, inputs, one untimed warm-up pass ----
        t0 = time.perf_counter()
        spark = start_session()
        t_start = time.perf_counter() - t0
        wl.prepare(os.path.join(work, "in"), args.seed)
        t1 = time.perf_counter()
        warm = wl.warm_up(Ctx(spark, tracer, None))
        # the oracle side of the output check is not set-up work
        t_warm = time.perf_counter() - t1 - wl.check_s
        setup_s = time.perf_counter() - t0 - wl.check_s

        # -- timed passes: at least --seconds and the workload's count;
        # the metrics come from the first ``wl.passes`` of them ---------
        passes = []
        ticks = host_cpu_ticks()
        with Sampler(me) as sampler:
            skip = frozenset({sampler.tid})
            deadline = time.perf_counter() + args.seconds
            while len(passes) < (1 if args.trace else wl.passes) or time.perf_counter() < deadline:
                j0, c0, t0 = sampler.jit_cpu_s(), tree_cpu_s(me, skip), time.perf_counter()
                ops = wl.run_pass(Ctx(spark, tracer, None), len(passes))
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s(me, skip) - c0
                jit = sampler.jit_cpu_s() - j0
                passes.append((wall, cpu - jit, ops, jit))
                if args.trace:
                    break
        steal = steal_share(ticks, host_cpu_ticks())

        traced = None
        if args.trace:
            ctx = Ctx(spark, tracer, SparkProbe(spark))
            c0 = tree_cpu_s(me)
            with tracer.span("pass", op="pass"):
                root = len(tracer.spans) - 1
                t_ops = wl.run_pass(ctx, len(passes))
            traced = (ctx, root, t_ops, tree_cpu_s(me) - c0)

        t_check = time.perf_counter()
        failures = [f"{op.name}: failed in the warm-up pass" for op in warm if not op.ok]
        failures += wl.check(spark)
        t_check = time.perf_counter() - t_check + wl.check_s
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    all_ops = [op for _, _, ops, _ in passes for op in ops]
    passes = passes[: wl.passes]
    if traced:
        all_ops += traced[2]
    failed = sum(not op.ok for op in all_ops) + len(failures)
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    attempted = len(all_ops)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": _cores(), "passes": len(passes), "setup_s": setup_s,
        "session_start_s": t_start, "warmup_s": t_warm, "check_s": t_check,
        "host_steal": steal, "failures": failures, "fail_ratio": failed / attempted,
    }
    detail["warm_op_s"] = [(op.name, op.seconds) for op in warm]
    detail["op_s"] = [[(op.name, op.seconds) for op in ops] for _, _, ops, _ in passes]
    reads = [op.seconds for _, _, ops, _ in passes for op in ops if op.kind == "read"]
    ingests = [op for _, _, ops, _ in passes for op in ops if op.kind == "ingest"]
    detail["query_s"] = _stats(reads)
    if ingests:
        detail["ingest_s"] = _stats([op.seconds for op in ingests])
        detail["docs_per_s"] = sum(op.docs for op in ingests) / sum(op.seconds for op in ingests)

    detail["wall_s"] = statistics.median(p[0] for p in passes)
    detail["peak_rss_mb"] = sampler.peak / 2**20
    detail["jit_cpu_s"] = statistics.median(p[3] for p in passes)
    if not args.trace:
        metrics = {
            "cpu_s": (statistics.median(p[1] for p in passes), "s"),
            "setup_s": (setup_s, "s"),
        }
    else:
        metrics = layer_metrics(tracer, traced, passes[0][0], t_start, t_warm)
        tracer.write_jsonl(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1)
    summary = {k: detail[k] for k in ("wall_s", "query_s", "peak_rss_mb", "jit_cpu_s", "ingest_s",
                                      "docs_per_s", "fail_ratio", "host_steal") if k in detail}
    print("perfbench:", json.dumps(summary), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layer(span_name: str) -> str:
    """``<layer>.<what>`` → layer; ``op`` and ``pass`` are the benchmark's own glue."""
    return span_name.split(".", 1)[0] if "." in span_name else span_name


def layer_metrics(tracer, traced, untraced_wall: float, start_s: float, warmup_s: float) -> dict:
    ctx, root, _, cpu = traced
    v = dict(ctx.layers.v)
    wall = tracer.spans[root]["end"] - tracer.spans[root]["start"]
    selfs: dict[str, float] = {}
    for name, s in tracer.self_times(root).items():
        selfs[_layer(name)] = selfs.get(_layer(name), 0.0) + s
    glue = selfs.get("pass", 0.0) + selfs.get("op", 0.0)
    cores = _cores()
    run_s, exec_s = v["operators.task_run_s"], v["operators.exec_s"]
    rows = v.pop("rules.categorized")
    final = v.pop("lake_tx.final_bytes")
    m = {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
    }
    for k, val in v.items():
        unit = "B" if "bytes" in k else "ms" if k.endswith("_ms") else "s" if k.endswith("_s") else "count"
        m[k] = (float(val), unit)
    m["operators.task_skew"] = (v["operators.task_skew"], "ratio")
    m["operators.core_util"] = (run_s / (exec_s * cores) if exec_s else 0.0, "ratio")
    m["operators.cpu_ratio"] = (v["operators.task_cpu_s"] / run_s if run_s else 0.0, "ratio")
    m["rules.categorized_ratio"] = (rows / v["parse.txns"] if v["parse.txns"] else 0.0, "ratio")
    m["lake_tx.write_amp"] = (v["lake_tx.bytes_written"] / final if final else 0.0, "ratio")
    for layer in ("queries", "plan", "operators", "pdf_source", "parse", "lake_tx", "reports", "bench"):
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    m["trace.wall_s"] = (wall, "s")
    m["trace.untraced_wall_s"] = (untraced_wall, "s")
    m["trace.overhead"] = (wall / untraced_wall - 1.0, "ratio")
    m["trace.unattributed_share"] = (glue / wall, "ratio")
    m["trace.cpu_s"] = (cpu, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fintrack_etl_spark", "__init__.py")):
        print(f"perfbench: no fintrack_etl_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    # Python workers import the package too: put the checkout on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
