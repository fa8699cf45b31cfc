#!/usr/bin/env python3
"""Layer-closure self-check of the benchmark.

    python3 perfbench/smoke.py [--seed 7]

Runs every workload of BENCHMARK.json once untraced and once traced,
each in its own process and at scale factor 0.001 where the workload
has one, and asserts:

* every end-to-end and per-layer metric named in BENCHMARK.json is
  printed, with its unit, and every output check passed;
* the layers account for the traced pass: the time no layer span
  covers is at most a few percent of the traced ``wall_s``;
* each workload's reason holds where it makes a claim about a layer:
  on ``reports`` execution and planning take longer than construction
  and Python workers receive nothing; on ``doc_ingest`` they receive
  data.

Exits 0 when all hold, 1 otherwise, printing each failed assertion.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Largest share of the traced wall time left to the benchmark's glue.
MAX_UNATTRIBUTED = 0.05


def _run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _names(res: dict, spec: list[dict], where: str) -> list[str]:
    bad = []
    if not res["correct"] or res["failed"]:
        bad.append(f"{where}: {res['failed']} of {res['attempted']} operations failed")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        bad.append(f"{where}: metrics/units differ: missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))}, "
                   f"unit mismatch {sorted(k for k in want if k in got and got[k] != want[k])}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    bad: list[str] = []
    traced = {}
    for w in (w["name"] for w in bench["workloads"]):
        bad += _names(_run(w, args.seed, 0), bench["end_to_end"], f"{w} untraced")
        res = _run(w, args.seed, 1)
        bad += _names(res, bench["per_layer"], f"{w} traced")
        traced[w] = m = {k: v["value"] for k, v in res["metrics"].items()}
        if m["trace.unattributed_share"] > MAX_UNATTRIBUTED:
            bad.append(f"{w}: layer spans leave {m['trace.unattributed_share']:.1%} of the "
                       f"traced wall_s unattributed (limit {MAX_UNATTRIBUTED:.0%})")
        print(f"{w}: traced wall {m['trace.wall_s']:.2f} s, untraced {m['trace.untraced_wall_s']:.2f} s, "
              f"unattributed {m['trace.unattributed_share']:.1%}", flush=True)

    if "reports" in traced:
        r = traced["reports"]
        if r["self.operators_s"] + r["self.plan_s"] <= r["self.queries_s"]:
            bad.append(f"reports: construction ({r['self.queries_s']:.2f} s) is not smaller than "
                       f"execution plus planning ({r['self.operators_s'] + r['self.plan_s']:.2f} s)")
        if r["python_udf.bytes_sent"] != 0:
            bad.append("reports: bytes were sent to Python workers")
    if "doc_ingest" in traced and not traced["doc_ingest"]["python_udf.bytes_sent"] > 0:
        bad.append("doc_ingest: no bytes sent to Python workers")
    for b in bad:
        print("FAIL", b)
    print("smoke:", "ok" if not bad else f"{len(bad)} failed")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
