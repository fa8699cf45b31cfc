"""10x adversarial scale probes (VERDICT r7 #1) — the x63 PPJoin probe
recipe applied to the three families whose 100 TB story was
plan-shape-only: substring/suffix dedup (x76/x80/x81), connected
components / PageRank (x16/x83/x42), and ANN build+query (x18/x20/x21).

Each probe builds a DETERMINISTIC fixture at 1x and at --mult x
(replicated with per-replica edits/perturbations — adversarial because
every base row becomes a mult-member near-dup family / every component
deepens), lands it as parquet (cold file scans; distinct paths so the
session memos cannot cross-pollinate), runs the operator end-to-end
COLD through ``bench.measure`` (fresh build, then one ``noop`` write of
the result, its row count observed on that write), and prints one JSON
line per measurement:

    {"probe": "...", "mult": N, "build_s": ..., "build_jobs": ...,
     "exec_s": ..., "rows": ..., "task_cpu_s": ..., ...}

The pass/fail lens: ``build_s + exec_s`` growing ~mult is linear (the
plan survives); growth >> mult is the superlinear defect VERDICT r7 #1
asks to fix or bound. Counters (CC rounds, suffix-doubling rounds)
ride along so round growth is visible separately from per-round cost;
``core`` and ``codec`` rows add ``warm_s``, a second run's build + exec.
Streaming drains run no DataFrame action and keep a wall clock.

Usage: python tools/scale_probe.py [suffix graph ann] [--mult 10]
Results are recorded in BASELINE.md §C.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import measure
from fintrack_etl_spark.io import table
from fintrack_etl_spark.session import get_spark


def _emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def _cold_warm(spark, tag: str, build) -> dict:
    """Cold ``measure`` record of ``build``, plus ``warm_s``: the
    second run's ``build_s + exec_s``."""
    rec = measure(spark, f"probe:{tag}:cold", build)
    warm = measure(spark, f"probe:{tag}:warm", build)
    return {**rec, "warm_s": round(warm["build_s"] + warm["exec_s"], 3)}


def _land(df, path: str):
    """Write a fixture as parquet and return the cold scan over it."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _replicated_docs(docs, mult: int):
    """Every base doc becomes a mult-member near-dup family: replica r
    keeps the text verbatim except a 'v{r} ' prefix and one interior
    token edit at a replica-dependent offset — long shared runs stay
    shared (the adversarial load for substring/suffix dedup: every
    30-gram of the common tail is shared by all mult members)."""
    reps = docs.sparkSession.range(mult).select(F.col("id").alias("r"))
    edited = F.concat(
        F.lit("v"),
        F.col("r").cast("string"),
        F.lit(" "),
        F.expr(
            "concat(substring(text, 1, 40 + CAST(r AS INT)), "
            "' q', CAST(r AS STRING), ' ', "
            "substring(text, 41 + CAST(r AS INT)))"
        ),
    )
    return docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.when(F.col("r") == 0, F.col("text")).otherwise(edited).alias("text"),
        "lang",
        "source",
    )


def probe_suffix(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """x76 substring_dedup / x80 suffix_ranks / x81 gram-store probe
    on the replicated corpus. Superlinear risks named by the verdict:
    the distributed-rank prefix sum (one O(#partitions) collect per
    doubling round) and the gram-store semi-join."""
    from fintrack_etl_spark.operators.dedup_text import (
        gram_store,
        substring_dedup,
        substring_dedup_against_store,
    )
    from fintrack_etl_spark.operators.suffix import suffix_ranks

    docs = table(spark, "documents", sf_dir)
    for m in (1, mult):
        corpus = _land(_replicated_docs(docs, m), os.path.join(tmp, f"docs_{m}x"))
        n_docs = corpus.count()
        n_chars = corpus.agg(F.sum(F.length("text"))).first()[0]

        rec = measure(spark, f"probe:x76:{m}x",
                      lambda: substring_dedup(corpus, "doc_id", "text", 30))
        _emit({"probe": "x76_substring_dedup", "mult": m, "docs": n_docs,
               "chars": n_chars, **rec})

        sstats: dict = {}
        rec = measure(spark, f"probe:x80:{m}x",
                      lambda: suffix_ranks(corpus, "doc_id", "text", bound=32, stats=sstats))
        _emit({"probe": "x80_suffix_ranks", "mult": m, "positions": n_chars,
               "rounds": sstats.get("rounds"), "round_secs": sstats.get("round_secs"), **rec})

        # incremental shape: the standing store is the big replicated
        # corpus; the incoming batch is ONE replica family's worth
        batch = corpus.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100_000_000
        )
        rec = measure(spark, f"probe:x81:{m}x", lambda: substring_dedup_against_store(
            batch, gram_store(corpus, "doc_id", "text", 30), "doc_id", "text", 30))
        _emit({"probe": "x81_incremental_substring", "mult": m, "store_docs": n_docs, **rec})


def probe_jaccard(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """x3 (df-guarded shingle join) vs x63 (PPJoin) on the SAME
    replicated near-dup corpus. x63 is theorem-complete; an
    absolute-cap guard misses pairs whose ENTIRE overlap sits above
    max_df — so the probe asserts x63 ⊇-cardinality and REPORTS the
    miss rate rather than assuming equality. Measured boundary (r8):
    identical multisets at mult=10, but at mult=20 short template docs'
    shingle df crosses the absolute max_df=100 cap (base_df 6–14 × 20
    replicas = 120–280) and the absolute cap drops 137 523 of 882 694
    true pairs — including a doc's own replica at J=0.64 whose 7
    shared shingles all sat at df 113–279. An absolute df cap is a
    boilerplate heuristic that breaks under corpus replication; prefix
    filtering does not, so since r9 the DEFAULT guarded path profiles
    the df distribution and AUTO-ROUTES to the prefix-filter join when
    the dup band (max_df, 0.01·N] is occupied (widening the guard
    instead was measured 8× dearer: 189.7 s vs 22.7 s for the same
    882 694-pair output at mult=20). The probe times both postures:
    the `abs` rows pin the opt-out (max_df_frac=0.0, the pre-r9
    default) and its measured miss; the `x3_ngram_jaccard` rows are
    the default path, which must match PPJoin at the boundary."""
    from fintrack_etl_spark.operators.dedup_text import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    docs = table(spark, "documents", sf_dir)
    for m in (1, mult):
        corpus = _land(_replicated_docs(docs, m), os.path.join(tmp, f"jdocs_{m}x"))
        n_docs = corpus.count()
        x3 = measure(spark, f"probe:x3_abs:{m}x", lambda: ngram_jaccard_pairs(
            corpus, "doc_id", "text", 3, 0.6, max_df=100, max_df_frac=0.0))
        _emit({"probe": "x3_abs_guard_optout", "mult": m, "docs": n_docs, **x3})
        x63 = measure(spark, f"probe:x63:{m}x",
                      lambda: prefix_filter_pairs(corpus, "doc_id", "text", 3, 0.6))
        rows_x3, rows_x63 = x3["rows"], x63["rows"]
        _emit({"probe": "x63_ppjoin_pairs", "mult": m, "docs": n_docs,
               "abs_guard_missed": rows_x63 - rows_x3, **x63})
        assert rows_x63 >= rows_x3, (
            f"PPJoin lost pairs the guarded join found at {m}x: "
            f"{rows_x63} < {rows_x3} — that direction is a BUG "
            "(prefix filtering is theorem-complete)"
        )
        # the DEFAULT path since r9 (max_df alone -> implied frac cap):
        # at the mult=20 boundary where the absolute cap drops 15.6 %
        # of true pairs, this must emit the complete (PPJoin) multiset
        x3d = measure(spark, f"probe:x3:{m}x", lambda: ngram_jaccard_pairs(
            corpus, "doc_id", "text", 3, 0.6, max_df=100))
        rows_def = x3d["rows"]
        _emit({"probe": "x3_ngram_jaccard", "mult": m, "docs": n_docs,
               "missed_vs_ppjoin": rows_x63 - rows_def, **x3d})
        assert rows_def == rows_x63, (
            f"default df-guard path missed pairs at {m}x: "
            f"{rows_def} != PPJoin {rows_x63} — the r9 dup-safe "
            "default must match the theorem-complete join here"
        )


def probe_incremental(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """x33's continuous-ingest shape at scale: the standing corpus's
    MinHash signature store is built once (at 100 TB: written at
    ingest, bucketed by (band, bh)); an incoming batch is shingled,
    signed and band-joined against it — only the batch is scanned.
    The probe scales the STORE 1x -> mult x while the batch stays one
    replica family's worth, so flat batch-side time across rows is
    the pass criterion (the store contributes a bucket join, not a
    rescan)."""
    from fintrack_etl_spark.operators.dedup_text import (
        dedup_against_store,
        signature_store,
    )

    docs = table(spark, "documents", sf_dir)
    for m in (1, mult):
        corpus = _land(_replicated_docs(docs, m), os.path.join(tmp, f"idocs_{m}x"))
        n_docs = corpus.count()
        store = _land(
            signature_store(corpus, "doc_id", "text", 3, 32, 8),
            os.path.join(tmp, f"sigs_{m}x"),
        )
        batch = docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 50_000_000).alias("doc_id"), "text"
        )
        corpus_bt = corpus.select("doc_id", "text")  # union-compatible with batch
        rec = measure(spark, f"probe:x33:{m}x", lambda: dedup_against_store(
            batch, store, corpus_bt, "doc_id", "text", 3, 32, 8, 0.6))
        _emit({"probe": "x33_incremental_lsh", "mult": m, "store_docs": n_docs,
               "batch_docs": batch.count(), **rec})


def _chain_edges(spark, n_chains: int, depth: int):
    """n_chains disjoint paths of `depth` nodes — the adversarial
    topology for min-label propagation (rounds = diameter)."""
    return (
        spark.range(n_chains)
        .select(F.col("id").alias("c"))
        .crossJoin(F.broadcast(spark.range(depth - 1).select(F.col("id").alias("k"))))
        .select(
            (F.col("c") * depth + F.col("k")).alias("src"),
            (F.col("c") * depth + F.col("k") + 1).alias("dst"),
        )
    )


def _hub_edges(spark, n_spokes: int, n_medium: int, medium_spokes: int):
    """One mega-hub (node 0) with n_spokes leaves plus n_medium hubs of
    medium_spokes each — the skew topology: one key carries the
    component, star rounds must not materialize its neighbor list."""
    mega = spark.range(1, n_spokes + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    base = 10_000_000
    med = (
        spark.range(n_medium)
        .select(F.col("id").alias("h"))
        .crossJoin(F.broadcast(spark.range(medium_spokes).select(F.col("id").alias("k"))))
        .select(
            (F.lit(base) + F.col("h") * (medium_spokes + 1)).alias("src"),
            (F.lit(base) + F.col("h") * (medium_spokes + 1) + F.col("k") + 1).alias("dst"),
        )
    )
    return mega.unionByName(med)


def probe_graph(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """CC (propagation + large/small-star) on deep-chain and hub-heavy
    topologies at 1x and mult x, plus fixed-iteration integer PageRank
    on a skewed graph — round counts and per-round cost separated."""
    from fintrack_etl_spark.operators.graph import (
        connected_components,
        connected_components_star,
        integer_pagerank,
    )

    for m in (1, mult):
        # 10-deep chains (the verdict's named topology): 10k chains at
        # 1x -> 100k chains / 1M nodes at 10x
        chains = _land(
            _chain_edges(spark, 10_000 * m, 10), os.path.join(tmp, f"chain_{m}x")
        )
        n_edges = chains.count()
        for name, fn in (
            ("cc_propagation", connected_components),
            ("cc_star", connected_components_star),
        ):
            stats: dict = {}
            rec = measure(spark, f"probe:{name}_chain10:{m}x",
                          lambda: fn(chains, "src", "dst", stats=stats))
            _emit({"probe": f"{name}_chain10", "mult": m, "edges": n_edges,
                   "rounds": stats.get("rounds"), **rec})

        # hub-heavy: mega-hub spokes scale with m
        hubs = _land(
            _hub_edges(spark, 50_000 * m, 1_000, 50), os.path.join(tmp, f"hub_{m}x")
        )
        n_edges = hubs.count()
        for name, fn in (
            ("cc_propagation", connected_components),
            ("cc_star", connected_components_star),
        ):
            stats = {}
            rec = measure(spark, f"probe:{name}_hub:{m}x",
                          lambda: fn(hubs, "src", "dst", stats=stats))
            _emit({"probe": f"{name}_hub", "mult": m, "edges": n_edges,
                   "rounds": stats.get("rounds"), **rec})

        # PageRank: zipf-ish directed graph — 100k*m edges over 10k*m
        # nodes, destination skewed to low ids (hub indegree)
        n_nodes, n_e = 10_000 * m, 100_000 * m
        pr_edges = _land(
            spark.range(n_e).select(
                F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("src"),
                # dst drawn uniform from [0, K) with K itself uniform:
                # low ids collect ~ln(n)/n of all edges — hub indegree
                F.pmod(
                    F.xxhash64(F.col("id"), F.lit(1)),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(n_nodes)) + 1,
                ).alias("dst"),
            ),
            os.path.join(tmp, f"pr_{m}x"),
        )
        n_edges = pr_edges.count()
        rec = measure(spark, f"probe:x42:{m}x", lambda: integer_pagerank(pr_edges, iterations=3))
        _emit({"probe": "x42_pagerank", "mult": m, "edges": n_edges, "iterations": 3, **rec})


def probe_ann(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """IVF / PQ / IVF-PQ build+query at 1x and mult x vectors. Replicas
    carry a deterministic per-replica, per-dim perturbation (distinct
    vectors, same geometry); queries are planted exact duplicates, so
    the rank-1/cosine-1.0 self-recall contract must hold at EVERY
    scale — the probe asserts it."""
    from fintrack_etl_spark.similarity import ivf_topk_kmeans, ivfpq_topk, pq_topk

    emb = table(spark, "embeddings", sf_dir)
    for m in (1, mult):
        reps = spark.range(m).select(F.col("id").alias("r"))
        corpus = _land(
            emb.crossJoin(F.broadcast(reps)).select(
                (F.col("vec_id") + F.col("r") * 100_000).alias("vec_id"),
                # per-replica, per-dim perturbation, INJECTIVE in r (the
                # r*0.0005 term on dim 0): a perturbation that repeats
                # mod anything makes replicas r and r+p exact duplicates
                # and the planted query's rank-1 legitimately goes to
                # the identical twin with the smaller id — the probe's
                # first run tripped exactly that
                F.expr(
                    "transform(embedding, (x, i) -> x + "
                    "CAST((pmod(r * 31 + i, 7) - 3) AS FLOAT) * CAST(0.001 AS FLOAT) + "
                    "CASE WHEN i = 0 THEN CAST(r AS FLOAT) * CAST(0.0005 AS FLOAT) "
                    "ELSE CAST(0 AS FLOAT) END)"
                ).alias("embedding"),
                "label",
            ),
            os.path.join(tmp, f"emb_{m}x"),
        )
        n_vecs = corpus.count()
        queries = corpus.filter(F.col("vec_id") % 97 == 0).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding", "label"
        )
        n_q = queries.count()

        for name, fn in (
            ("x18_ivf_kmeans", lambda: ivf_topk_kmeans(queries, corpus, k=10, kclusters=8, nprobe=2)),
            ("x20_pq", lambda: pq_topk(queries, corpus, k=10, m=8, ksub=16, shortlist=50)),
            ("x21_ivfpq", lambda: ivfpq_topk(queries, corpus, k=10, kclusters=8, nprobe=2, m=8, ksub=16, shortlist=50)),
            # the r9 DEFAULT posture: kclusters unset -> auto max(8, ceil(sqrt N));
            # pins that the shipped default keeps the self-recall contract
            # while the probed fraction shrinks as nprobe/sqrt(N)
            ("x18_ivf_auto_k", lambda: ivf_topk_kmeans(queries, corpus, k=10, nprobe=2)),
        ):
            top1 = {}

            def _top1():
                top1["df"] = fn().filter(F.col("rnk") == 1)
                return top1["df"]
            rec = measure(spark, f"probe:{name}:{m}x", _top1)
            found = top1["df"].filter(
                F.col("neighbor_id") == F.col("query_id") - 10_000_000
            ).count()
            _emit({"probe": name, "mult": m, "vectors": n_vecs, "queries": n_q,
                   "self_recall": found, **rec})
            assert found == n_q, f"{name}@{m}x: planted-dup self-recall broke ({found}/{n_q})"

        # COLD-BUILD rows (VERDICT r9 #3): isolate the coarse-quantizer
        # training cost — the term that grew O(N^1.5) at auto-√N k
        # before sampled Lloyd (r9: 95.9 s at 10x/k=142 vs 23.6 s at
        # k=8, both full-corpus). The train cache is drained (and its
        # blocks freed) before every timed build so each row is a true
        # cold build; `_full` rows opt out of sampling
        # (train_sample_cap=0) to keep the r9 comparison measurable.
        from fintrack_etl_spark import similarity as S
        from fintrack_etl_spark.operators import memo

        ak = S.auto_kclusters(corpus)
        for name, kk, cap in (
            ("build_k8_default", 8, None),
            ("build_k8_full", 8, 0),
            ("build_auto_k_default", ak, None),
            ("build_auto_k_full", ak, 0),
        ):
            if name == "build_auto_k_full" and m > 20:
                # The opt-out full-corpus Lloyd at auto-√N k is the
                # O(N^1.5) shape the sampled path EXISTS to avoid
                # (r9: 95.9 s at 10x ⇒ ~50 min at 100x) — past 20x the
                # comparison row costs the whole probe budget for a
                # number whose growth law is already measured. Emit an
                # explicit skip (no silent caps), keep the default row.
                _emit({"probe": name, "mult": m, "vectors": n_vecs, "k": kk,
                       "skipped": "full-corpus auto-k Lloyd is the measured "
                                  "O(N^1.5) baseline; not re-run past 20x"})
                continue
            memo.clear("train")

            rec = measure(spark, f"probe:{name}:{m}x",
                          lambda: S.kmeans_centroids(corpus, kk, 2, train_sample_cap=cap)[0])
            _emit({"probe": name, "mult": m, "vectors": n_vecs, "k": kk,
                   "sampled": cap is None and n_vecs > max(
                       S.TRAIN_SAMPLE_FLOOR, S.TRAIN_SAMPLE_PER_CLUSTER * kk), **rec})
            assert rec["rows"] == n_vecs, f"{name}@{m}x: assignment lost vectors"

        # PQ cold-build rows (r10 — the sampled-training sweep's second
        # Lloyd): codebook train + full encode, default vs opt-out
        for name, cap in (("build_pq_default", None), ("build_pq_full", 0)):
            memo.clear("train")

            rec = measure(spark, f"probe:{name}:{m}x",
                          lambda: S.pq_train(corpus, 8, 16, 2, train_sample_cap=cap)[0])
            _emit({"probe": name, "mult": m, "vectors": n_vecs,
                   "sampled": cap is None and n_vecs > S.TRAIN_SAMPLE_FLOOR, **rec})
            assert rec["rows"] == n_vecs * 8, f"{name}@{m}x: encode lost rows"


def probe_grouped_rank(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """windows.grouped_global_rank at scale (VERDICT r9 #5): the x54
    shape (16 hash shards, ascending key) and the x77 shape (per-lang
    DESC score with asc tie-break, nullable group), plus a 512-group
    width variant, at 1x and mult x docs. Per variant: asserts exact
    parity with Spark's own row_number window via a distributed
    xxhash64-sum signature (the plain window is the SPEC — the fixture
    fits its single-task sort even at mult x; production corpora do
    not, which is the operator's whole point), asserts the offsets
    join stays a BroadcastHashJoin and no SinglePartition exchange
    appears as #groups grows, and emits the O(#groups·#parts)
    offsets-row count the driver collects."""
    from pyspark.sql import Window

    from fintrack_etl_spark.operators.windows import grouped_global_rank

    docs = table(spark, "documents", sf_dir)
    parts = spark.sparkContext.defaultParallelism
    for m in (1, mult):
        corpus = _land(_replicated_docs(docs, m), os.path.join(tmp, f"gr_docs_{m}x"))
        n_docs = corpus.count()
        for name, gexpr, order in (
            ("x54_shape_16_shards",
             (F.col("doc_id") % 16).cast("int"),
             [F.col("s").asc(), F.col("doc_id").asc()]),
            ("x77_shape_lang_desc",
             F.col("lang"),
             [F.col("s").desc(), F.col("doc_id").asc()]),
            ("wide_512_groups",
             (F.col("doc_id") % 512).cast("int"),
             [F.col("s").asc(), F.col("doc_id").asc()]),
        ):
            df = corpus.select(
                "doc_id", gexpr.alias("g"), F.length("text").alias("s")
            )
            n_groups = df.select("g").distinct().count()

            ranked = {}

            def _rank():
                ranked["df"] = grouped_global_rank(df, ["g"], list(order), rank_col="pos")
                return ranked["df"]
            rec = measure(spark, f"probe:grouped_rank_{name}:{m}x", _rank)
            out = ranked["df"]
            sig = out.agg(
                F.sum(F.xxhash64("doc_id", "pos").cast("decimal(38,0)")).alias("sig")
            ).first()["sig"]

            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in plan, (name, m)
            assert "SinglePartition" not in plan, (name, m)

            w = Window.partitionBy("g").orderBy(*order)
            want_sig = (
                df.withColumn("pos", F.row_number().over(w).cast("long"))
                .agg(F.sum(F.xxhash64("doc_id", "pos").cast("decimal(38,0)")).alias("sig"))
                .first()["sig"]
            )
            assert sig == want_sig, (name, m, sig, want_sig)
            _emit({"probe": f"grouped_rank_{name}", "mult": m, "docs": n_docs,
                   "groups": n_groups, "parts": parts,
                   "offsets_upper": n_groups * parts, **rec})


def probe_core(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """Relational core at mult x — the one family whose scale story was
    still sf0.1-only. Builds a REPLICATED sf directory (fact tables
    lineitem/orders/events grow mult x with injective key shifts;
    dimensions stay dimension-sized — the realistic 100 TB posture)
    and runs the exact gate entries end-to-end against it, cold then
    warm, through the bench's own ``measure``. Key shifts:
    orderkeys move together so orders⋈lineitem stays key-correct
    within a replica; o_custkey is NOT shifted, so each customer
    carries mult x orders (growth concentrates on existing keys, the
    adversarial direction for group-by/join fan-out); events get new
    user_ids per replica (state/key cardinality grows with volume).
    Pass lens: per-query time growth ≲ mult."""
    from __spark_entry__ import queries as registry

    qs = registry()
    names = [
        "a1_group_sum_flagship",   # scan + partial-agg rollup
        "a2_group_sum_composite",  # wider group-by
        "a8_mode_per_group",       # agg + WindowGroupLimit mode
        "j1_budget_vs_actual",     # full-outer of two grouped sums
        "j2_mode_backfill",        # broadcast mode-dim onto the fact
        "w1_dedup_latest",         # keyed latest-wins window
        "w2_forward_fill",         # ordered window fill
        "ext_running_sum",         # running window over events
        "ext_sessionize",          # lag/run-id sessionization
        "ext_having_join_q18",     # TPC-H Q18: agg-having + 3-way join
        "ext_market_share_q8",     # TPC-H Q8: 8-table join tree
        "ext_rank_family",         # rank/dense_rank/ntile windows
        "o1_top_abs",              # TakeOrderedAndProject
        # r12 additions (VERDICT r11 #2/#6): the codegen'd pair
        # expansion, and the "single-split artifact" claim for the
        # format-heavy scan — at mult x the orders scan must arrive
        # multi-split and parallelize
        "x41_copurchase_pairs",
        "f18_brl_format",
    ]

    stride = 10_000_000  # > max sf0.1 orderkey/event_id/user_id
    for m in (1, mult):
        rep_dir = os.path.join(tmp, f"core_{m}x")
        os.makedirs(rep_dir, exist_ok=True)
        reps = spark.range(m).select(F.col("id").alias("r"))

        def _rep(df, shifts: dict[str, str], path: str):
            cols = [
                (F.col(c) + F.col("r") * stride).alias(c)
                if c in shifts
                else F.col(c)
                for c in df.columns
            ]
            _land(df.crossJoin(F.broadcast(reps)).select(*cols), path)

        _rep(
            table(spark, "lineitem", sf_dir),
            {"l_orderkey": "k"},
            os.path.join(rep_dir, "lineitem.parquet"),
        )
        _rep(
            table(spark, "orders", sf_dir),
            {"o_orderkey": "k"},
            os.path.join(rep_dir, "orders.parquet"),
        )
        _rep(
            table(spark, "events", sf_dir),
            {"event_id": "k", "user_id": "k"},
            os.path.join(rep_dir, "events.parquet"),
        )
        for dim in ("region", "nation", "customer", "supplier", "part",
                    "documents", "embeddings"):
            # land dims through the same write path so 1x and mult x
            # compare identical physical layouts
            _land(
                table(spark, dim, sf_dir),
                os.path.join(rep_dir, f"{dim}.parquet"),
            )

        fact_rows = spark.read.parquet(
            os.path.join(rep_dir, "lineitem.parquet")
        ).count()
        # split-count evidence for the f18/x57 "single-split artifact"
        # claim: at mult x the fact scans must arrive multi-split
        _emit({
            "probe": "core_scan_splits", "mult": m,
            "orders_splits": spark.read.parquet(
                os.path.join(rep_dir, "orders.parquet")
            ).rdd.getNumPartitions(),
            "lineitem_splits": spark.read.parquet(
                os.path.join(rep_dir, "lineitem.parquet")
            ).rdd.getNumPartitions(),
        })
        for name in names:
            # cold includes plan build + codegen compile (shared shapes
            # compile once per session, so the 1x pass pre-pays most of
            # it); the warm re-run isolates the DATA term — the number
            # the growth ratio is about
            rec = _cold_warm(spark, f"{name}:{m}x", lambda: qs[name](spark, rep_dir))
            _emit({"probe": name, "family": "core", "mult": m,
                   "lineitem_rows": fact_rows, **rec})


def probe_codec(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """Python-codec family at mult x documents — the one family whose
    scale story had bench points but no scaling row. Each entry
    encodes every document into a REAL container (PDF / PNG / RLE8
    AVI / ADPCM WAV / RIFF / BMP) and decodes it back through one
    Arrow-batched ``map_rows`` pass, so work is per-document
    Python-bound: the pass criterion is throughput (docs/s) holding
    flat-or-better as the corpus grows (no shuffle, no collect — the
    plan is embarrassingly parallel, fixed spawn cost amortizes).
    Host-noise caveat: absolute times swing with machine load on this
    family (fresh-JVM + worker spawn); the 1x vs mult x ratio WITHIN
    one run is the robust number."""
    from __spark_entry__ import queries as registry

    qs = registry()
    names = [
        "x22_media_metadata",        # RIFF/WAVE header build + sniff-back
        "x45_image_phash_dedup",     # BMP encode/decode + dHash
        "x55_video_frame_sample",    # DIB AVI frames, every 4th sampled
        "p8_real_pdf_roundtrip",     # real %PDF write + extract
        "x52_png_roundtrip",         # PNG encode/decode, all filters
        "x78_rle_video_roundtrip",   # MS-RLE8 AVI frames
        "x79_adpcm_audio_roundtrip", # IMA/DVI ADPCM WAV
    ]
    docs = table(spark, "documents", sf_dir)
    for m in (1, mult):
        rep_dir = os.path.join(tmp, f"codec_{m}x")
        os.makedirs(rep_dir, exist_ok=True)
        _land(
            _replicated_docs(docs, m),
            os.path.join(rep_dir, "documents.parquet"),
        )
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            _land(table(spark, t, sf_dir), os.path.join(rep_dir, f"{t}.parquet"))
        n_docs = spark.read.parquet(
            os.path.join(rep_dir, "documents.parquet")
        ).count()
        for name in names:
            rec = _cold_warm(spark, f"{name}:{m}x", lambda: qs[name](spark, rep_dir))
            _emit({"probe": name, "family": "codec", "mult": m, "docs": n_docs, **rec,
                   "docs_per_sec": int(n_docs / rec["warm_s"]) if rec["warm_s"] else None})


def probe_streaming(spark, sf_dir: str, mult: int, tmp: str) -> None:
    """Structured Streaming drain throughput at 1x and mult x — the
    streaming family carries batch-equivalence contracts but had no
    measured rows/s. Three stateful shapes over a file source drained
    with availableNow in bounded micro-batches (maxFilesPerTrigger →
    ≥4 triggers, so per-batch planning overhead is inside the number):

    * tumbling windowed agg (watermark + keyed window state),
    * dedup-within-watermark on a dup-heavy stream (replicas REUSE
      event_ids — re-delivery, the dedup use case; state = distinct
      keys, output flat across mult),
    * session windows with per-replica user_ids (state keys grow
      with volume — the adversarial direction).

    Pass lens: rows/s at mult x ≥ rows/s at 1x (per-row cost must not
    grow with backlog size; state growth shows up here if it does)."""
    from fintrack_etl_spark.streaming.pipelines import (
        run_available_now,
        sessionized_stream,
        stream_dedup_latest,
        windowed_agg_stream,
        file_source_stream,
    )

    events = table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stride = 10_000_000
    for m in (1, mult):
        reps = spark.range(m).select(F.col("id").alias("r"))
        src_dir = os.path.join(tmp, f"stream_src_{m}x")
        (
            events.crossJoin(F.broadcast(reps))
            .select(
                F.col("event_id").alias("event_id"),  # shared → dup-heavy
                "ts",
                (F.col("user_id") + F.col("r") * stride).alias("user_id"),
                "event_type",
                "value",
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(src_dir)
        )
        n_rows = spark.read.parquet(src_dir).count()
        schema = spark.read.parquet(src_dir).schema

        for name, make, mode in (
            ("windowed_agg", lambda s: windowed_agg_stream(s, window="1 day"),
             "complete"),
            ("dedup_latest", lambda s: stream_dedup_latest(s, keys=("event_id",)),
             "append"),
            ("session_windows", lambda s: sessionized_stream(s, gap="30 minutes"),
             "append"),
        ):
            # a drain times no DataFrame action: a plain wall clock
            src = file_source_stream(spark, src_dir, schema, max_files_per_trigger=8)
            t0 = time.perf_counter()
            run_available_now(make(src), os.path.join(tmp, f"ckpt_{name}_{m}x"),
                              f"probe_{name}_{m}x", output_mode=mode)
            sec = round(time.perf_counter() - t0, 2)
            out_rows = spark.sql(f"select count(*) from probe_{name}_{m}x").first()[0]
            _emit({"probe": f"stream_{name}", "family": "streaming", "mult": m,
                   "input_rows": n_rows, "out_rows": out_rows, "sec": sec,
                   "rows_per_sec": int(n_rows / sec) if sec else None})
            spark.catalog.dropTempView(f"probe_{name}_{m}x")


def main() -> int:
    argv = sys.argv[1:]
    mult = 10
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--mult"):
            if "=" in a:
                mult = int(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                mult = int(argv[i + 1])
                i += 1  # consume the value — it is not a family name
            else:
                print("usage: scale_probe.py [family ...] --mult N", file=sys.stderr)
                return 2
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    families = args or ["suffix", "graph", "ann", "jaccard", "incremental"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale_probe")
    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        for fam in families:
            {
                "suffix": probe_suffix,
                "graph": probe_graph,
                "ann": probe_ann,
                "grouped_rank": probe_grouped_rank,
                "jaccard": probe_jaccard,
                "incremental": probe_incremental,
                "core": probe_core,
                "streaming": probe_streaming,
                "codec": probe_codec,
            }[fam](spark, sf_dir, mult, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
