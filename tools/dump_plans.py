"""Generate PLANS.md — physical-plan skeletons for the headline queries.

Each entry shows the operator tree (details stripped) plus exchange /
codegen stats, so plan regressions are reviewable in diffs without
re-running Spark. Regenerate with:  python tools/dump_plans.py

Full plans for review of a plan change:

    python tools/dump_plans.py --formatted OUTDIR NAME [NAME ...]

writes ``explain("formatted")`` of each named query to
``OUTDIR/NAME.txt``, at ``$SPARK_GRAFT_SF_DIR`` (default: the
PLANS.md scale). It also writes ``OUTDIR/NAME.initial.txt``: the
pre-AQE initial plan of every SQL execution that building the query
and one ``collect`` of it ran, in order, with expression, plan,
operator and RDD ids and range-sampled rank offsets normalized.
Iterative builders (the fixpoint operators) run most of their plans
as eager checkpoint and probe jobs before the returned DataFrame
exists, so only this file makes them diffable between two checkouts.
Compare initial plans, not AQE's final ones: those change from run
to run (broadcast build side, range-sample offsets).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries
from bench import HEADLINE
from fintrack_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

#: Non-headline queries whose plan shape is worth pinning in review:
#: the dedup/ANN pipelines (skew guards, broadcasts) and the scale
#: twins added in round 2.
SUPPLEMENT = [
    "x3_ngram_jaccard",
    "x4_minhash_lsh",
    "x12_knn_lsh",
    "x16_dedup_clusters",
    "ext_percentiles_approx",
    "p7_binary_pdf_scan",
    "ext_stratified_sample",
    "ext_incremental_agg_merge",
    "ext_data_quality",
    "ext_heavy_hitters",
    "ext_merge_evolving",
    # round 5
    "p11_bank_pipeline_e2e",
    "x75_audio_fingerprint_dedup",
    "x76_substring_dedup",
    "x77_ccnet_buckets",
    "x80_suffix_ranks",
    # round 3
    "p8_real_pdf_roundtrip",
    "ext_versioned_merge",
    "ext_interval_join",
    "x21_knn_ivfpq",
    "ext_bloom_prune_join",
    "ext_scd2_build",
    "x24_tfidf_topk",
    "x25_pii_redaction",
    "x26_unigram_lm_score",
    "ext_fuzzy_join",
    "ext_outlier_zscore",
    # round 3 third wave
    "ext_left_join_count_q13",
    "ext_avg_subquery_q17",
    "ext_not_exists_q22",
    "ext_event_funnel",
    "ext_cohort_retention",
    "x27_chunk_documents",
    "x28_vocab_oov",
    "x30_quality_gate",
    # round 3 fourth wave
    "ext_min_cost_supplier_q2",
    "ext_market_share_q8",
    "ext_waiting_supplier_q21",
    "ext_revenue_q6",
    "x31_semdedup",
    "x33_incremental_corpus_dedup",
    "ext_cdc_apply",
    "ext_referential_integrity",
    "ext_source_overlap",
    "x34_bigram_pmi",
    "ext_exact_k_sample",
    # round 3 fifth wave
    "ext_pit_join",
    "ext_entity_resolution",
    "x37_contrastive_pairs",
    # NOT ext_audience_overlap / ext_profile_table / x38_triangle_count:
    # their builders materialize driver-side scalars, so the returned
    # DataFrame is a LocalTableScan — nothing to pin
    "ext_attribution",
    "ext_rolling_wau",
    "x36_file_stats",
    "ext_incremental_join_view",
    "ext_incremental_quantiles",
    "ext_session_paths",
    "ext_time_to_convert",
    "x39_dup_rate_estimate",
    # round 3 eighth/ninth waves
    "x40_line_dedup",
    "x41_copurchase_pairs",
    "x42_pagerank",
    "x43_canonical_pick",
    "x44_span_coverage",
    "ext_regression_slope",
    "ext_decile_stats",
    "x45_image_phash_dedup",
    "x46_bpe_merges",
    "x47_leakage_safe_split",
    "x48_corpus_datasheet",
    "ext_pps_token_sample",
    "ext_cusum_changepoint",
    "ext_incremental_cusum",
    "x49_audio_segments",
    "x50_feature_hash",
    "ext_corpus_diff",
    "ext_mixture_waterfill",
    # round 4 additions (NOT x56_bfs_hops / x58_temporal_reach: their
    # iterative builders return localCheckpoint scans — no skeleton to
    # pin; diff their per-execution plans with --formatted instead)
    "x55_video_frame_sample",
    "x57_skyline_parts",
    "x59_readability",
    "x60_conversion_pattern",
    # rounds 5-7 additions (NOT x83_cc_largestar: iterative builder
    # returns a localCheckpoint scan — no skeleton to pin; diff its
    # per-execution plans with --formatted instead)
    "x63_ppjoin_pairs",
    "x84_temperature_mixture",
    "x85_ngram_novelty",
    "x86_token_frequency_spectrum",
    "x87_hopping_window",
    "x88_poisson_bootstrap",
    "x89_tokenizer_fertility",
    "x90_char_collision",
]


def skeleton(plan: str, max_lines: int = 40) -> str:
    """Strip expression payloads: keep the operator tree shape."""
    out = []
    for line in plan.splitlines():
        m = re.match(r"^([:+\-*( ]*)\(?(\d+)?\)?\s*([A-Za-z][A-Za-z0-9]+)", line)
        if not m:
            continue
        indent, _, op = m.groups()
        if op in ("WholeStageCodegen", "InputAdapter"):
            continue
        out.append((indent + op).rstrip())
        if len(out) >= max_lines:
            out.append("  ...")
            break
    return "\n".join(out)


def initial_plan(desc: str) -> str:
    """The pre-AQE plan in one execution's formatted plan description:
    the ``Initial Plan`` tree (the whole tree when AQE did not wrap the
    plan) plus the detail blocks of its operators, with ids normalized
    so that two runs of the same plan compare equal."""
    tree, _, details = desc.removeprefix("== Physical Plan ==\n").partition("\n\n\n")
    head, marker, initial = tree.partition("+- == Initial Plan ==\n")
    lines = [ln[3:] for ln in initial.splitlines()] if marker else head.splitlines()
    order: dict[str, str] = {}
    for ln in lines:
        if m := re.search(r" \((\d+)\)$", ln):
            order.setdefault(m.group(1), str(len(order) + 1))
    blocks = {
        int(order[m.group(1)]): b
        for b in details.split("\n\n")
        if (m := re.match(r"\((\d+)\) ", b)) and m.group(1) in order
    }
    text = "\n".join(lines) + "\n\n" + "\n\n".join(b for _, b in sorted(blocks.items()))
    text = re.sub(
        r"(?m)(^| )\((\d+)\)(?= |$)", lambda m: f"{m.group(1)}({order.get(m.group(2), '?')})", text
    )
    text = re.sub(r" \[codegen id : \d+\]", "", text)
    text = re.sub(r"#\d+", "#", text)
    # per-partition offsets of a global rank are collected from a
    # range-partitioned sample, so they change from run to run
    text = re.sub(r"values: \[[\d,]+\]\)\[_pid#\]", "values: [..])[_pid#]", text)
    text = re.sub(r"RDD\[\d+\] at [^,]*", "RDD[]", text)  # id and call site
    return re.sub(r"plan_id=\d+", "plan_id=", text)


def _executions(spark) -> dict:
    """SQL execution id -> formatted plan description, from the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def dump_formatted(spark, qs, outdir: str, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        seen = _executions(spark)
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        df.collect()
        ran = sorted((i, d) for i, d in _executions(spark).items() if i not in seen)
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        with open(os.path.join(outdir, f"{name}.initial.txt"), "w") as f:
            f.writelines(
                f"== execution {k} ==\n{initial_plan(d)}\n\n"
                for k, (_, d) in enumerate(ran, 1)
            )
        print(f"wrote {path} ({plan.count('Exchange')} Exchange lines, {len(ran)} executions)")


def main() -> None:
    args = sys.argv[1:]
    if args and (args[0] != "--formatted" or len(args) < 3):
        sys.exit("usage: dump_plans.py [--formatted OUTDIR NAME [NAME ...]]")
    spark = get_spark("dump_plans")
    qs = queries()
    if args:
        dump_formatted(spark, qs, args[1], args[2:])
        return
    lines = [
        "# PLANS — headline physical plans (sf0.01, auto-generated)",
        "",
        "Operator skeletons from `executedPlan` (expressions stripped);",
        "`Exchange` rows are shuffles. Regenerate: `python tools/dump_plans.py`.",
        "",
    ]
    for name in HEADLINE + SUPPLEMENT:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
        n_bc = plan.count("BroadcastExchange")
        lines += [
            f"## {name}",
            f"shuffles (non-broadcast): {n_ex - n_bc} · broadcasts: {n_bc}",
            "```",
            skeleton(plan),
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINE) + len(SUPPLEMENT)} queries)")


if __name__ == "__main__":
    main()
