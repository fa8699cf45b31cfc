"""S1 — binary document source: ``binaryFile`` scan → text extraction.

The reference opens each statement PDF driver-side with pdfplumber and
joins the page texts (``extractors/bb_statement.py:28-31``); every real
user hits this step first. Here the scan is a distributed
``spark.read.format("binaryFile")`` over a path glob — each file is one
row carrying (path, modificationTime, length, content) — and the
byte→text decode is one row function (``_extract_row``) run by
``operators/rows.map_rows``, the engine's one Arrow-batched
``mapInPandas`` pass, with the CODEC SLOT ISOLATED (same discipline
as ``multimodal.py``): pdfplumber
is used if importable; otherwise only the deterministic ``%FAKEPDF``
envelope (fixtures/tests) decodes, and undecodable payloads surface as
``decode_error`` rows instead of failing the scan — corrupt files at
100 TB must quarantine, not kill the job.

Scale notes: binaryFile splits per FILE (a file never splits across
tasks), so millions of small PDFs parallelize naturally;
``spark.sql.files.maxPartitionBytes`` packs small files per task. The
decode emits (doc_path, text) and drops the payload immediately, so
only text crosses the decode's own exchange.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.rows import map_rows

#: Deterministic fixture envelope: marker + utf-8 payload.
FAKE_PDF_MARKER = b"%FAKEPDF\n"

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_path", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def encode_fake_pdf(text_col: Column) -> Column:
    """Fixture encoder (JVM-side): wrap utf-8 text in the ``%FAKEPDF``
    envelope so the binary plumbing is exercisable without a codec."""
    return F.concat(F.lit(FAKE_PDF_MARKER), F.encode(text_col, "utf-8"))


def read_binary_docs(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """S1 scan: one row per file, content as an opaque binary column."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "modificationTime", "length", "content")
    )


def _decode_doc_bytes(b: bytes | None) -> tuple[str | None, str | None]:
    """The isolated codec slot: (text, error). Swap in real codecs here
    and nothing else in the pipeline changes."""
    if b is None or len(b) == 0:
        return None, "empty"
    if b.startswith(FAKE_PDF_MARKER):
        return b[len(FAKE_PDF_MARKER) :].decode("utf-8"), None
    if b.startswith(b"%PDF"):
        try:
            import pdfplumber  # preferred when available (full layout model)
        except ModuleNotFoundError:
            pdfplumber = None
        if pdfplumber is not None:
            import io

            with pdfplumber.open(io.BytesIO(b)) as doc:
                return "\n".join(page.extract_text() or "" for page in doc.pages), None
        # Fallback: bundled pure-Python extractor (uncompressed/Flate
        # text streams, Tj/TJ — see parse/minipdf.py for scope).
        from .minipdf import extract_pdf_text

        try:
            text = extract_pdf_text(b)
        except Exception as exc:  # corrupt stream must quarantine, not raise
            return None, f"pdf: extract failed: {exc}"
        if text is None:
            return None, "pdf: no text streams decodable (encrypted/CID/unsupported filter?)"
        return text, None
    return None, f"unknown format: {b[:4].hex()}"


def _extract_row(path: str, content: bytes | None) -> list[tuple]:
    """``_decode_doc_bytes`` as an ``EXTRACT_SCHEMA`` row function. A
    query that builds PDF bytes in Python composes its encoder with it
    inside one ``map_rows`` pass, so the payload never leaves the
    Python worker."""
    return [(path, *_decode_doc_bytes(content))]


def binary_docs_to_text(
    df: DataFrame, path_col: str = "path", content_col: str = "content"
) -> DataFrame:
    """Arrow-batched binary→text: (doc_path, text, decode_error) — the
    adapter between the S1 scan and the line parsers
    (``parse_bb_statement`` et al. take exactly (doc_id, text)).

    Each document is decoded ONCE per query, however many branches
    consume the result. The decode ends in an exchange on ``doc_path``
    and then an ``observe`` of ``docs`` / ``decode_errors``; no consumer
    filter can move below the observe node, so every branch plans the
    same exchange subtree and Spark runs it once and reuses it
    (``ReusedExchange``). Without it, a parser's union
    branches each re-ran the Python decode, and each Python task costs
    a fixed worker set-up, whatever its kernel does. The counts are read
    after the first action through the returned frame's ``observation``
    (a :class:`pyspark.sql.Observation`; its name is unique per call,
    so decoded directories can be unioned)."""
    observation = Observation(f"pdf_source-{uuid.uuid4()}")
    decoded = (
        map_rows(df.select(path_col, content_col), _extract_row, EXTRACT_SCHEMA)
        .repartition("doc_path")
        .observe(
            observation,
            F.count(F.lit(1)).alias("docs"),
            F.count("decode_error").alias("decode_errors"),
        )
    )
    decoded.observation = observation
    return decoded
