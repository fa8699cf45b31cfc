"""The benchmark's workloads.

Each workload lands its seeded inputs in ``prepare``, runs one pass of
closed-loop operations in ``run_pass`` (each operation starts after the
previous one finished) and checks the program's outputs in ``check``.
An operation builds a fresh DataFrame through the package's public
functions and runs one fresh action on it.

In a traced pass the benchmark wraps its own calls into each module in
spans named ``<layer>.<what>`` and reads the Spark status stores after
every operation; the figures add up in :class:`Layers`.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

import datagen
from probes import SparkProbe, Tracer

#: An operation slower than this counts as failed (timed out).
OP_LIMIT_S = 60.0


@dataclass
class Op:
    name: str
    kind: str  # "read" | "ingest"
    seconds: float
    ok: bool
    docs: int = 0


@dataclass
class Layers:
    """Per-layer figures of one traced pass (sums over its operations)."""

    v: dict = field(default_factory=lambda: {
        "queries.construct_s": 0.0, "queries.construct_jobs": 0, "queries.construct_stages": 0,
        "queries.construct_task_s": 0.0, "queries.construct_shuffle_bytes": 0,
        "plan.analysis_ms": 0.0, "plan.optimization_ms": 0.0, "plan.planning_ms": 0.0,
        "operators.exec_s": 0.0, "operators.jobs": 0, "operators.stages": 0, "operators.tasks": 0,
        "operators.task_run_s": 0.0, "operators.task_cpu_s": 0.0, "operators.task_skew": 1.0,
        "operators.failed_tasks": 0, "operators.shuffle_write_bytes": 0,
        "operators.shuffle_read_bytes": 0, "operators.shuffle_records": 0, "operators.spill_bytes": 0,
        "io.files_read": 0.0, "io.bytes_read": 0.0, "io.rows_scanned": 0.0, "io.scan_ms": 0.0,
        "python_udf.nodes": 0, "python_udf.bytes_sent": 0.0, "python_udf.bytes_received": 0.0,
        "python_udf.worker_start_s": 0.0, "python_udf.worker_init_s": 0.0,
        "pdf_source.decode_s": 0.0, "pdf_source.docs": 0, "pdf_source.decode_errors": 0,
        "parse.parse_s": 0.0, "parse.lines": 0, "parse.txns": 0, "rules.categorized": 0,
        "lake_tx.commit_s": 0.0, "lake_tx.bytes_written": 0, "lake_tx.files_written": 0,
        "lake_tx.rows_committed": 0, "lake_tx.final_bytes": 0, "reports.report_s": 0.0,
    })

    def add_jobs(self, probe: SparkProbe, group: str, prefix: str) -> list[int]:
        """Fold one job group's AppStatusStore figures into ``prefix``
        (``operators`` for actions, ``queries.construct`` for the eager
        jobs a builder runs)."""
        js = probe.jobs_stats(group)
        v = self.v
        if prefix == "queries.construct":
            v["queries.construct_jobs"] += js["jobs"]
            v["queries.construct_stages"] += js["stages"]
            v["queries.construct_task_s"] += js["task_run_s"]
            v["queries.construct_shuffle_bytes"] += js["shuffle_write_bytes"]
        else:
            for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "failed_tasks",
                      "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records", "spill_bytes"):
                v[f"operators.{k}"] += js[k]
            v["operators.task_skew"] = max(v["operators.task_skew"], js["task_skew"])
        return js["job_ids"]

    def add_sql(self, probe: SparkProbe, job_ids: list[int]) -> None:
        s = probe.sql_stats(job_ids)
        v = self.v
        v["io.files_read"] += s["files_read"]
        v["io.bytes_read"] += s["bytes_read"]
        v["io.rows_scanned"] += s["rows_scanned"]
        v["io.scan_ms"] += s["scan_ms"]
        v["python_udf.nodes"] += s["py_nodes"]
        v["python_udf.bytes_sent"] += s["py_sent"]
        v["python_udf.bytes_received"] += s["py_received"]
        v["python_udf.worker_start_s"] += s["py_start_s"]
        v["python_udf.worker_init_s"] += s["py_init_s"]


class Ctx:
    """What one pass needs: the session, the tracer and, when traced,
    the status-store probe and the layer figures."""

    def __init__(self, spark, tracer: Tracer, probe: SparkProbe | None):
        self.spark, self.tracer, self.probe = spark, tracer, probe
        self.layers = Layers()
        self._groups = 0

    @property
    def traced(self) -> bool:
        return self.probe is not None

    def group(self, op: str) -> str:
        self._groups += 1
        g = f"perfbench-{self._groups}-{op}"
        self.probe.set_group(g)
        return g

    def action(self, df, op: str, span: str, fold: bool = True) -> float:
        """One fresh noop write of ``df``, timed. Traced and ``fold``,
        its jobs and SQL figures add to the operators/io/python_udf
        layers; prefix materializations of a traced chain do not fold,
        as they are work of the tracing only."""
        t0 = time.perf_counter()
        if not self.traced:
            _noop(df)
            return time.perf_counter() - t0
        with self.tracer.span(span):
            g = self.group(op)
            _noop(df)
        dt = time.perf_counter() - t0
        if fold:
            self.layers.v["operators.exec_s"] += dt
            with self.tracer.span("bench.collect"):
                self.probe.drain()
                self.layers.add_sql(self.probe, self.layers.add_jobs(self.probe, g, "operators"))
        return dt


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Registry workload: reports
# ---------------------------------------------------------------------------


class RegistryWorkload:
    """Entries of the package's query registry over the seeded star
    schema, in an order shuffled by the seed. Outputs are checked
    against each entry's DuckDB oracle."""

    def __init__(self, names: tuple[str, ...], sf: float, passes: int):
        self.names, self.sf, self.passes = names, sf, passes
        self.order: list[str] = []
        self.sf_dir = ""
        self.failures: list[str] = []
        self.check_s = 0.0

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "tables")
        datagen.write_tables(self.sf_dir, seed, self.sf)
        self.order = list(self.names)
        random.Random(seed).shuffle(self.order)

    def run_pass(self, ctx: Ctx, pass_no: int) -> list[Op]:
        from __spark_entry__ import queries

        registry = queries()
        ops = []
        for name in self.order:
            t0 = time.perf_counter()
            ok = True
            try:
                if ctx.traced:
                    self._traced_op(ctx, name, registry[name])
                else:
                    _noop(registry[name](ctx.spark, self.sf_dir))
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                print(f"perfbench: {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
            ops.append(Op(name, "read", dt, ok and dt <= OP_LIMIT_S))
        return ops

    def _traced_op(self, ctx: Ctx, name: str, builder) -> None:
        tr, probe, v = ctx.tracer, ctx.probe, ctx.layers.v
        with tr.span("op", op=name):
            t0 = time.perf_counter()
            with tr.span("queries.construct"):
                g = ctx.group(name)
                df = builder(ctx.spark, self.sf_dir)
            v["queries.construct_s"] += time.perf_counter() - t0
            with tr.span("bench.collect"):
                probe.drain()
                ctx.layers.add_jobs(probe, g, "queries.construct")
            with tr.span("plan"):
                phases = probe.plan_phases_ms(df)
            for k in ("analysis", "optimization", "planning"):
                v[f"plan.{k}_ms"] += phases.get(k, 0.0)
            ctx.action(df, name, "operators.exec")

    def warm_up(self, ctx: Ctx) -> list[Op]:
        """The untimed first pass, which also checks every entry once:
        its action collects the result instead of discarding it, and
        the result must match the entry's DuckDB oracle over the same
        generated tables in row count, columns and dtype-faithful row
        hashes. The oracle side's time is kept in ``check_s``."""
        import duckdb

        from __spark_entry__ import oracle_sql, queries
        from fintrack_etl_spark.io import FIXTURE_TABLES
        from tools.oracle_check import row_hashes

        registry, oracles = queries(), oracle_sql()
        self.failures, self.check_s = [], 0.0
        con = duckdb.connect()
        ops = []
        try:
            for t in FIXTURE_TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for name in self.order:
                t0 = time.perf_counter()
                try:
                    got = registry[name](ctx.spark, self.sf_dir).toPandas()
                except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                    print(f"perfbench: {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                    ops.append(Op(name, "read", time.perf_counter() - t0, False))
                    continue
                ops.append(Op(name, "read", time.perf_counter() - t0, True))
                t1 = time.perf_counter()
                want = con.execute(oracles[name]).fetchdf()
                if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                    self.failures.append(f"{name}: {len(got)} rows {sorted(got.columns)} vs "
                                         f"oracle {len(want)} rows {sorted(want.columns)}")
                elif row_hashes(got) != row_hashes(want):
                    self.failures.append(f"{name}: row hashes differ from the oracle")
                self.check_s += time.perf_counter() - t1
        finally:
            con.close()
        return ops

    def check(self, spark) -> list[str]:
        return self.failures


# ---------------------------------------------------------------------------
# doc_ingest: PDFs → text → parse/categorize → versioned lake → reports
# ---------------------------------------------------------------------------

_LAKE_KEYS = ["doc", "line_no"]


class IngestWorkload:
    """The operator's document lifecycle, batch by batch, with the
    analyst's two reports after every commit. Each pass starts from an
    empty lake, so passes repeat the same work."""

    def __init__(self, batches: int, docs_per_batch: int, txns_per_doc: int, passes: int):
        self.batches, self.docs, self.txns = batches, docs_per_batch, txns_per_doc
        self.passes = passes
        self.work = ""
        self.dirs: list[str] = []
        self.expected: datagen.Expected | None = None
        self.lake = ""
        self.check_s = 0.0

    def prepare(self, work: str, seed: int) -> None:
        self.work = work
        self.dirs, self.expected = datagen.write_bank_batches(
            os.path.join(work, "landing"), seed, self.batches, self.docs, self.txns
        )

    def warm_up(self, ctx: Ctx) -> list[Op]:
        return self.run_pass(ctx, -1)

    # -- the chain, through the package's public functions ----------------

    @staticmethod
    def _transactions(text_df, batch: int):
        """Decoded docs → one lake row per transaction line, bills and
        statements alike; the rule engine categorizes both."""
        from pyspark.sql import functions as F

        from fintrack_etl_spark.parse import parse_bb_bill, parse_bb_statement
        from fintrack_etl_spark.rules import categorize

        docs = text_df.select(
            F.regexp_extract("doc_path", r"([^/]+)\.pdf$", 1).alias("doc_id"), "text"
        )
        bills = parse_bb_bill(docs.filter(F.col("doc_id").startswith("bill-"))).select(
            "doc_id", "line_no", "data", "descricao", "valor", "categoria", "subcategoria",
            "recorrente_suspeita", "parcelado_suspeito",
        )
        stmts = parse_bb_statement(docs.filter(F.col("doc_id").startswith("stmt-")))
        cat = categorize(F.col("historico"))
        stmts = stmts.select(
            "doc_id", "line_no", "data", F.col("historico").alias("descricao"), "valor",
            cat["categoria"].alias("categoria"), cat["subcategoria"].alias("subcategoria"),
            cat["recorrente_suspeita"].alias("recorrente_suspeita"),
            cat["parcelado_suspeito"].alias("parcelado_suspeito"),
        )
        return bills.unionByName(stmts).select(
            F.col("doc_id").alias("doc"), F.col("line_no").cast("long").alias("line_no"),
            "data", "descricao", "valor", "categoria", "subcategoria",
            "recorrente_suspeita", "parcelado_suspeito", F.lit(batch).alias("batch"),
        )

    def _budget(self, spark):
        from fintrack_etl_spark.io import local_rows

        return local_rows(spark, list(datagen.BUDGET), "categoria string, orcado double")

    def _reports(self, spark):
        from fintrack_etl_spark import lake_tx, reports

        def table():
            return lake_tx.read_table(spark, self.lake)

        return (
            ("monthly_by_category", lambda: reports.monthly_by_category(table())),
            ("compare_budget", lambda: reports.compare_budget(table(), self._budget(spark))),
        )

    def run_pass(self, ctx: Ctx, pass_no: int) -> list[Op]:
        self.lake = os.path.join(self.work, f"lake-{pass_no}")
        shutil.rmtree(self.lake, ignore_errors=True)
        ops = []
        for b, bdir in enumerate(self.dirs):
            n_docs = self.expected.docs_per_batch[b]
            t0 = time.perf_counter()
            ok = True
            try:
                if ctx.traced:
                    self._traced_ingest(ctx, b, bdir)
                else:
                    self._ingest(ctx.spark, b, bdir)
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                print(f"perfbench: ingest batch {b} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
            ops.append(Op(f"ingest-{b}", "ingest", dt, ok and dt <= OP_LIMIT_S, n_docs))
            for name, build in self._reports(ctx.spark):
                t0 = time.perf_counter()
                ok = True
                try:
                    if ctx.traced:
                        with ctx.tracer.span("op", op=f"{name}-{b}"):
                            with ctx.tracer.span("reports.report"):
                                df = build()
                                ctx.layers.v["reports.report_s"] += ctx.action(df, name, "operators.exec")
                    else:
                        _noop(build())
                except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                    print(f"perfbench: {name} after batch {b} failed: {exc}", file=sys.stderr)
                    ok = False
                dt = time.perf_counter() - t0
                ops.append(Op(name, "read", dt, ok and dt <= OP_LIMIT_S))
        return ops

    def _ingest(self, spark, b: int, bdir: str) -> None:
        from fintrack_etl_spark import lake_tx
        from fintrack_etl_spark.parse.pdf_source import binary_docs_to_text, read_binary_docs

        text = binary_docs_to_text(read_binary_docs(spark, bdir))
        lake_tx.merge_latest_wins_versioned(
            spark, self.lake, self._transactions(text, b), _LAKE_KEYS, "batch", batch_id=b
        )

    def _traced_ingest(self, ctx: Ctx, b: int, bdir: str) -> None:
        """The same chain, with each module's prefix materialized in its
        own span: a module's self time is its prefix's time minus the
        previous prefix's."""
        from pyspark.sql import functions as F

        from fintrack_etl_spark import lake_tx
        from fintrack_etl_spark.parse.pdf_source import binary_docs_to_text, read_binary_docs

        spark, tr, v = ctx.spark, ctx.tracer, ctx.layers.v
        with tr.span("op", op=f"ingest-{b}"):
            raw = read_binary_docs(spark, bdir)
            t_scan = ctx.action(raw, "scan", "pdf_source.scan", fold=False)
            text = binary_docs_to_text(raw)
            t_decode = ctx.action(text, "decode", "pdf_source.decode", fold=False)
            t0 = time.perf_counter()
            with tr.span("parse.build"):
                txns = self._transactions(text, b)
            t_build = time.perf_counter() - t0
            t_parse = ctx.action(txns, "parse", "parse.parse", fold=False)
            before = _files(self.lake)
            with tr.span("lake_tx.commit"):
                t0 = time.perf_counter()
                g = ctx.group("commit")
                lake_tx.merge_latest_wins_versioned(
                    spark, self.lake, txns, _LAKE_KEYS, "batch", batch_id=b
                )
                t_commit = time.perf_counter() - t0
            v["operators.exec_s"] += t_commit
            v["pdf_source.decode_s"] += t_decode - t_scan
            v["parse.parse_s"] += t_build + t_parse - t_decode
            v["lake_tx.commit_s"] += t_commit - t_parse
            with tr.span("bench.collect"):
                ctx.probe.drain()
                ctx.layers.add_sql(ctx.probe, ctx.layers.add_jobs(ctx.probe, g, "operators"))
                new = {f: n for f, n in _files(self.lake).items() if f not in before}
                v["lake_tx.bytes_written"] += sum(new.values())
                v["lake_tx.files_written"] += sum(1 for f in new if f.endswith(".parquet"))
                v["lake_tx.final_bytes"] = sum(new.values())
                stats = text.agg(
                    F.count("*").alias("docs"),
                    F.count("decode_error").alias("errors"),
                    F.sum(F.size(F.split("text", "\n"))).alias("lines"),
                ).first()
                v["pdf_source.docs"] += stats["docs"]
                v["pdf_source.decode_errors"] += stats["errors"]
                v["parse.lines"] += stats["lines"] or 0
                t = txns.agg(
                    F.count("*").alias("n"), F.sum((F.col("categoria") != "Outros").cast("int")).alias("hit")
                ).first()
                v["parse.txns"] += t["n"]
                v["rules.categorized"] += t["hit"] or 0
                v["lake_tx.rows_committed"] = lake_tx.read_table(spark, self.lake).count()

    def check(self, spark) -> list[str]:
        """The last pass's committed table against the generator's
        expected transaction count and cents per category."""
        from pyspark.sql import functions as F

        from fintrack_etl_spark import lake_tx

        exp = self.expected
        t = lake_tx.read_table(spark, self.lake)
        got = {
            r["categoria"]: r["cents"]
            for r in t.groupBy("categoria")
            .agg(F.sum(F.round(F.col("valor") * 100).cast("long")).alias("cents"))
            .collect()
        }
        bad = []
        n = t.count()
        if n != exp.rows:
            bad.append(f"doc_ingest: {n} committed rows, expected {exp.rows}")
        if got != exp.cents_by_category:
            bad.append(f"doc_ingest: cents by category {got} != expected {exp.cents_by_category}")
        return bad


def _files(path: str) -> dict[str, int]:
    """Every file under ``path`` with its size."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


# Default scale of each workload, and how many timed passes its metrics
# are taken from. The JIT is still warming after the one warm-up pass,
# so runs compare only when their metrics come from the same pass
# positions; the sizes keep a whole run under a minute on 4 cores.
WORKLOADS = {
    "reports": lambda sf: RegistryWorkload((
        "r1_monthly_by_category", "r4_top_gastos", "r6_compare_budget",
        "a1_group_sum_flagship", "j3_merge_upsert", "ext_sql_entry_q3",
    ), sf or 0.002, passes=5),
    "doc_ingest": lambda sf: IngestWorkload(batches=2, docs_per_batch=24, txns_per_doc=20, passes=1),
}
