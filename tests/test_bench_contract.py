"""bench.py's output contract: the last line is the one-line JSON
headline record, and per-query work counters precede it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = "a1_group_sum_flagship"
WORK_KEYS = {"task_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "stages"}


def test_bench_prints_headline_last_with_work_counters(sf_dir):
    env = dict(os.environ, BENCH_QUERIES=QUERY, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]

    head = lines[-1]
    assert head["metric"] == "headline_queries_total_sec"
    assert isinstance(head["value"], float) and list(head["queries"]) == [QUERY]
    assert set(head["work"]) == WORK_KEYS and head["work"]["stages"] > 0
    assert not [k for k in head if k.startswith(("calib_", "gauge_"))]

    detail = [ln for ln in lines[:-1] if "work" in ln and QUERY in ln["work"]]
    assert detail, proc.stdout
    counters = detail[0]["work"][QUERY]
    assert set(counters) == WORK_KEYS
    assert counters["task_cpu_s"] > 0 and counters["shuffle_write_bytes"] > 0
