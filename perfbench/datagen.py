"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, scale)``: the same seed
writes byte-identical inputs. The package under test only ever sees
the files written here, never the seed.

* :func:`write_tables` lands the fixture tables the ``reports``
  workload reads (``customer``, ``orders``, ``lineitem``, ``events``)
  as one parquet file per table, in the shape
  ``fintrack_etl_spark.io.table`` reads. Row counts follow the TPC-H
  scale-factor convention.
* :func:`write_bank_batches` lands BB card bills and checking-account
  statements as PDF files in monthly batch directories, and returns the
  totals the committed lake table must reach.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * _DAY_US, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Fixture tables at scale factor ``sf`` (lineitem ≈ 6 M × sf)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 500)
    n_part = max(int(200_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 1_000)

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    o_date = _EPOCH_1995 + rng.integers(0, 2400, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines_per)
    n_li = len(okey)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(o_date, lines_per) + rng.integers(1, 122, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + 19723 * _DAY_US  # 2024-01-01
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": pa.array(ev_us, type=pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_events // 66, 10), n_events),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.gamma(1.5, 12.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


# ---------------------------------------------------------------------------
# Bank documents for the ingest lifecycle
# ---------------------------------------------------------------------------

#: (merchant description, category the rule engine must assign). The
#: last four match no rule, so ``Outros`` is the fallback under test.
MERCHANTS: tuple[tuple[str, str], ...] = (
    ("UBER TRIP SAO PAULO", "Transporte"),
    ("IFOOD RESTAURANTE", "Alimentação"),
    ("SUPERMERCADO BOM PRECO", "Mercado"),
    ("OPENAI CHATGPT SUBSCR", "Assinaturas"),
    ("RIOMAR SHOPPING", "Lazer"),
    ("MERCADOLIVRE LOJA 7", "Compras"),
    ("TOKIO MARINE AUTO", "Seguros"),
    ("UDEMY CURSO ONLINE", "Educação"),
    ("WELLHUB PLANO", "Saúde"),
    ("IOF COMPRA EXTERIOR", "Financeiro"),
    ("PADARIA ESTRELA", "Outros"),
    ("FARMACIA POPULAR", "Outros"),
    ("BARBEARIA CENTRO", "Outros"),
    ("LAVANDERIA CENTRAL", "Outros"),
)
#: Budget rows the ``compare_budget`` report joins against.
BUDGET: tuple[tuple[str, float], ...] = (
    ("Alimentação", 900.0),
    ("Mercado", 1500.0),
    ("Transporte", 600.0),
    ("Lazer", 400.0),
    ("Educação", 300.0),
)
_HOLDERS = ("ANA SOUZA", "BRUNO LIMA", "CARLA DIAS", "DIEGO ROCHA")


def _brl(cents: int) -> str:
    """``-123456`` → ``'-1.234,56'`` (pt-BR money)."""
    sign = "-" if cents < 0 else ""
    whole, frac = divmod(abs(cents), 100)
    return f"{sign}{whole:,}".replace(",", ".") + f",{frac:02d}"


@dataclass
class Doc:
    name: str
    kind: str  # "bill" | "stmt"
    month: int
    rows: list  # (day, merchant index, cents) per transaction line
    holder: str = ""
    card: str = ""

    def text(self) -> str:
        if self.kind == "bill":
            out = [f"{self.holder} (Cartão {self.card})"]
            for i, (day, m, cents) in enumerate(self.rows):
                country = " US" if i % 9 == 4 else ""
                out.append(f"{day:02d}/{self.month:02d} {MERCHANTS[m][0]}{country} R$ {_brl(cents)}")
            return "\n".join(out)
        out = ["Extrato de Conta Corrente", "Lançamentos", "Pix - Enviado"]
        for i, (day, m, cents) in enumerate(self.rows):
            sign = "+" if cents > 0 else "-"
            out.append(
                f"{day:02d}/{self.month:02d}/2024 {140000 + i} {MERCHANTS[m][0]} {_brl(abs(cents))} ({sign})"
            )
        return "\n".join(out)


@dataclass
class Expected:
    """What the committed lake table must hold after the last batch."""

    rows: int = 0
    cents_by_category: dict = field(default_factory=dict)
    docs_per_batch: list = field(default_factory=list)


def _bank_docs(rng, n_docs: int, n_txns: int, month: int, first_id: int) -> list[Doc]:
    docs = []
    for k in range(n_docs):
        kind = "bill" if k % 2 == 0 else "stmt"
        m = rng.integers(0, len(MERCHANTS), n_txns)
        cents = rng.integers(500, 250_000, n_txns)
        if kind == "bill":
            cents[rng.random(n_txns) < 0.05] *= -1  # estornos
        else:
            cents = -cents  # debits; a few credits below
            cents[rng.random(n_txns) < 0.1] *= -1
        rows = list(zip(rng.integers(1, 29, n_txns).tolist(), m.tolist(), cents.tolist()))
        d = Doc(f"{kind}-{first_id + k:05d}", kind, month, rows)
        if kind == "bill":
            d.holder = _HOLDERS[k % len(_HOLDERS)]
            d.card = f"{1000 + (first_id + k) % 9000:04d}"
        docs.append(d)
    return docs


def write_bank_batches(
    out_dir: str,
    seed: int,
    n_batches: int,
    docs_per_batch: int,
    txns_per_doc: int,
    redeliver_share: float = 0.2,
    encrypted_share: float = 0.25,
) -> tuple[list[str], Expected]:
    """Land ``n_batches`` monthly directories of ``.pdf`` files.

    From the second batch on, ``redeliver_share`` of each batch are
    documents of the previous batch delivered again with changed
    amounts, so the latest-wins merge updates rows as well as inserting
    them. ``encrypted_share`` of the files use the RC4 standard security
    handler. Returns the batch directories and the expected final table.
    """
    from fintrack_etl_spark.parse.minipdf import build_pdf, build_pdf_encrypted

    rng = np.random.default_rng(seed + 7919)
    latest: dict[str, Doc] = {}
    dirs = []
    exp = Expected()
    next_id = 0
    prev: list[Doc] = []
    for b in range(n_batches):
        n_again = int(docs_per_batch * redeliver_share) if prev else 0
        again = []
        for d in rng.choice(len(prev), n_again, replace=False).tolist() if n_again else []:
            old = prev[d]
            bump = rng.integers(-300, 300, len(old.rows))
            rows = [(day, m, c + int(x) if c + int(x) != 0 else c) for (day, m, c), x in zip(old.rows, bump)]
            again.append(Doc(old.name, old.kind, old.month, rows, old.holder, old.card))
        fresh = _bank_docs(rng, docs_per_batch - n_again, txns_per_doc, b % 12 + 1, next_id)
        next_id += len(fresh)
        batch = fresh + again
        bdir = os.path.join(out_dir, f"batch={b:02d}")
        os.makedirs(bdir, exist_ok=True)
        for i, d in enumerate(batch):
            enc = build_pdf_encrypted if i % round(1 / encrypted_share) == 0 else build_pdf
            with open(os.path.join(bdir, f"{d.name}.pdf"), "wb") as f:
                f.write(enc(d.text()))
            latest[d.name] = d
        dirs.append(bdir)
        exp.docs_per_batch.append(len(batch))
        prev = fresh
    for d in latest.values():
        for _, m, cents in d.rows:
            cat = MERCHANTS[m][1]
            exp.cents_by_category[cat] = exp.cents_by_category.get(cat, 0) + cents
            exp.rows += 1
    return dirs, exp
