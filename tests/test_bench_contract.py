"""bench.py's output contract: the last line is the one-line JSON
headline record, and per-query layers and work counters precede it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = "a1_group_sum_flagship"
WORK_KEYS = {"task_cpu_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "stages"}
LAYER_KEYS = {"build_s", "build_jobs", "exec_s", "rows"}


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
    assert head["timer"] == "build+noop"
    assert isinstance(head["value"], float) and list(head["queries"]) == [QUERY]
    assert set(head["work"]) == WORK_KEYS and head["work"]["stages"] > 0
    assert not [k for k in head if k.startswith(("calib_", "gauge_"))]

    # the headline is the warm measurement; the cold one is on its own line
    detail = {ln["metric"]: ln for ln in lines[:-1] if "work" in ln and QUERY in ln["work"]}
    assert set(detail) == {"cold_queries_sec", "warm_queries_sec"}, proc.stdout
    warm = detail["warm_queries_sec"]
    counters = warm["work"][QUERY]
    assert set(counters) == WORK_KEYS
    assert counters["task_cpu_s"] > 0 and counters["shuffle_write_bytes"] > 0
    layers = warm["layers"][QUERY]
    assert set(layers) == LAYER_KEYS and layers["rows"] > 0
    assert abs(head["queries"][QUERY] - (layers["build_s"] + layers["exec_s"])) <= 0.002


def test_measure_counts_eager_build_jobs_and_observes_rows(spark):
    from bench import measure

    def build():
        # one eager job inside the build; the result has 97 rows
        return spark.range(0, 970, 10, numPartitions=3).localCheckpoint()

    rec = measure(spark, "test:measure:eager", build)
    assert rec["build_jobs"] >= 1
    assert rec["rows"] == 97
    assert rec["build_s"] > 0 and rec["exec_s"] > 0 and rec["stages"] >= 1


def test_no_python_file_times_a_plan_through_to_rdd():
    """One timer: nothing reaches past the DataFrame API to the RDD of
    a plan, which runs its stages outside any timed action."""
    me = Path(__file__).resolve()
    hits = [
        str(p.relative_to(ROOT))
        for p in Path(ROOT).rglob("*.py")
        if p.resolve() != me and "toRdd" in p.read_text(errors="replace")
    ]
    assert hits == []
