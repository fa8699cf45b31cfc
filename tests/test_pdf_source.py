"""S1 binary-source tests: filesystem ``binaryFile`` scan → Arrow-batched
decode (codec slot isolated) → line parser, end to end.

Reference parity: ``extractors/bb_statement.py:28-31`` (pdfplumber
text extraction per file). The container has no pdfplumber, so the
decodable fixture format is the deterministic ``%FAKEPDF`` envelope;
real ``%PDF`` bytes and corrupt payloads must QUARANTINE as
``decode_error`` rows, never fail the scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fintrack_etl_spark.parse import parse_bb_statement
from fintrack_etl_spark.parse.pdf_source import (
    FAKE_PDF_MARKER,
    binary_docs_to_text,
    encode_fake_pdf,
    read_binary_docs,
)

from test_parse import BB_STATEMENT


def _write_docs(tmp_path, docs: dict[str, bytes]) -> str:
    for name, payload in docs.items():
        (tmp_path / name).write_bytes(payload)
    return str(tmp_path)


def test_binary_scan_decode_roundtrip(spark, tmp_path):
    """Real files on disk → binaryFile scan → decode → original text."""
    texts = {f"doc{i}.pdf": f"linha um {i}\nlinha dois {i}" for i in range(5)}
    path = _write_docs(
        tmp_path, {n: FAKE_PDF_MARKER + t.encode("utf-8") for n, t in texts.items()}
    )
    out = binary_docs_to_text(read_binary_docs(spark, path)).collect()
    assert len(out) == 5
    got = {r.doc_path.rsplit("/", 1)[-1]: r for r in out}
    for name, text in texts.items():
        assert got[name].text == text
        assert got[name].decode_error is None


def test_binary_scan_glob_filters_non_pdf(spark, tmp_path):
    path = _write_docs(
        tmp_path,
        {"a.pdf": FAKE_PDF_MARKER + b"ok", "skip.txt": b"not scanned"},
    )
    assert read_binary_docs(spark, path, glob="*.pdf").count() == 1


def test_corrupt_and_real_pdf_quarantine_not_fail(spark, tmp_path):
    """Undecodable payloads become decode_error rows; a real %PDF header
    names the missing codec; the scan itself never throws."""
    path = _write_docs(
        tmp_path,
        {
            "good.pdf": FAKE_PDF_MARKER + "texto válido".encode("utf-8"),
            "real.pdf": b"%PDF-1.7 actual pdf bytes",
            "junk.pdf": b"\x00\x01\x02garbage",
        },
    )
    rows = {r.doc_path.rsplit("/", 1)[-1]: r for r in
            binary_docs_to_text(read_binary_docs(spark, path)).collect()}
    assert rows["good.pdf"].text == "texto válido"
    assert rows["good.pdf"].decode_error is None
    assert rows["real.pdf"].text is None  # header only, no text streams
    assert rows["real.pdf"].decode_error.startswith("pdf: no text streams")
    assert rows["junk.pdf"].text is None
    assert rows["junk.pdf"].decode_error.startswith("unknown format")
    # zero-length files never leave the binaryFile scan; the empty
    # branch guards NULL/empty payloads arriving from other sources
    empty = spark.createDataFrame([("p", None), ("q", b"")], "path string, content binary")
    got = {r.doc_path: r.decode_error for r in binary_docs_to_text(empty).collect()}
    assert got == {"p": "empty", "q": "empty"}


def test_binary_fixture_feeds_statement_parser(spark, tmp_path):
    """The full S1 path: statement text as binary files on disk →
    scan → decode → ``parse_bb_statement`` — same parse as text rows."""
    path = _write_docs(
        tmp_path, {"stmt.pdf": FAKE_PDF_MARKER + BB_STATEMENT.encode("utf-8")}
    )
    decoded = binary_docs_to_text(read_binary_docs(spark, path)).select(
        F.lit(1).alias("doc_id"), "text"
    )
    rows = {r["line_no"]: r for r in parse_bb_statement(decoded).collect()}
    assert len(rows) == 4
    assert rows[4]["historico"] == "Transferência enviada"
    assert rows[4]["valor"] == pytest.approx(-1234.56)
    assert rows[8]["grupo"] == "Saldo do dia"


def test_encode_fake_pdf_is_inverse_of_decode(spark):
    df = spark.createDataFrame([(1, "texto çãé\nmultilinha")], ["doc_id", "text"])
    binary = df.select(
        F.format_string("/d/%d.pdf", "doc_id").alias("path"),
        encode_fake_pdf(F.col("text")).alias("content"),
    )
    out = binary_docs_to_text(binary).collect()
    assert out[0].text == "texto çãé\nmultilinha"
    assert out[0].decode_error is None


def _fake_dir(tmp_path, n: int, corrupt: int = 0) -> str:
    docs = {f"d{i}.pdf": FAKE_PDF_MARKER + f"linha {i}".encode("utf-8") for i in range(n)}
    docs.update({f"bad{i}.pdf": b"\x00garbage" for i in range(corrupt)})
    tmp_path.mkdir(exist_ok=True)
    return _write_docs(tmp_path, docs)


def test_branches_share_one_decode(spark, tmp_path):
    """Two filtered branches of one decoded frame, unioned (the shape of
    a parser's bill/statement split): the executed plan runs ONE
    MapInPandas, and the other branch reads it through ReusedExchange."""
    decoded = binary_docs_to_text(read_binary_docs(spark, _fake_dir(tmp_path, 4)))
    first = F.col("doc_path").endswith("d0.pdf")
    both = decoded.filter(first).unionByName(decoded.filter(~first))
    assert len(both.collect()) == 4
    plan = both._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final
    assert "ReusedExchange" in final, final


def test_union_of_two_decoded_directories(spark, tmp_path):
    """Each call observes under its own name: two decoded directories
    union without DUPLICATED_METRICS_NAME and keep every row."""
    a = binary_docs_to_text(read_binary_docs(spark, _fake_dir(tmp_path / "a", 3)))
    b = binary_docs_to_text(read_binary_docs(spark, _fake_dir(tmp_path / "b", 2)))
    rows = a.unionByName(b).collect()
    assert len(rows) == 5
    assert sorted(r.text for r in rows) == ["linha 0", "linha 0", "linha 1", "linha 1", "linha 2"]


def test_observed_decode_counts(spark, tmp_path):
    decoded = binary_docs_to_text(read_binary_docs(spark, _fake_dir(tmp_path, 2, corrupt=1)))
    decoded.filter(F.col("decode_error").isNull()).count()
    assert decoded.observation.get == {"docs": 3, "decode_errors": 1}
