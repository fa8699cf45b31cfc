"""Sources & sinks (reference parity: S2-S13, SURVEY.md §2.1).

The reference reads CSVs with pandas on the driver and writes
parquet/CSV/JSON per file (``etls_raw/forms_main.py:225``,
``bb_bill.py:279-299``); its lake writers are Iceberg
``writeTo(...).partitionedBy(...)`` and Hive external parquet tables
(``etls_raw/main.py:318-345``,
``datatrack_spark_utils.py:376-481,618-680``). Here every source/sink
is a distributed ``spark.read`` / ``df.write`` — nothing passes through
the driver.

Iceberg/Delta jars are not in this image, so table-format writers fall
back to partitioned parquet ``saveAsTable`` semantics (results, not
atomicity, are what the correctness gate checks — SURVEY.md §7).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.memo import file_signature, memoized

#: Fixture tables generated by the driver (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """S3/S12 parquet scan — columnar, predicate-pushdown-capable — and
    the package's only parquet reader.

    A read with no schema makes Spark run a footer-inference job
    (``mergeSchemasInParallel``) before it plans anything, every time.
    Here a path set's schema is inferred once per session (memo site
    ``"schema"``, key :func:`_schema_key`) and later reads pass it to
    ``spark.read.schema``. Every ``lake_tx`` publish (its one path,
    ``commit_table_cas``) seeds the entry of the version it writes.
    Only the schema is kept, never the DataFrame: every call returns a
    fresh relation with fresh attribute ids, so two reads of one table
    still self-join."""
    key = _schema_key(spark, paths)
    if key is None:
        return spark.read.parquet(*paths)
    schema = memoized("schema", key, lambda: spark.read.parquet(*paths).schema)
    return spark.read.schema(schema).parquet(*paths)


def _data_files(path: str) -> list[str] | None:
    """The files Spark would list under a local ``path`` (hidden names
    — ``.crc``, ``_SUCCESS``, a sidecar — left out, ``_k=v`` partition
    directories kept), or None where the read cannot be keyed: a
    non-local URI, a glob, a missing path."""
    if path.startswith("file:"):
        path = unquote(urlparse(path).path)
    elif "://" in path or any(c in path for c in "*?[{"):
        return None
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    files = []
    for d, dirs, names in os.walk(path):
        dirs[:] = [n for n in dirs if not hidden(n)]
        files += [os.path.join(d, n) for n in names if not hidden(n)]
    return files


def _schema_key(spark: SparkSession, paths) -> tuple | None:
    """A parquet path set's identity: applicationId + the paths as
    given (a partitioned root and its leaf files read different
    schemas) + the signature of every listed data file. An in-session
    overwrite, ``compact``'s rename or a clobbered commit directory is
    a new key; a path that cannot be listed locally is None (inferred
    every time)."""
    files = []
    for p in paths:
        listed = _data_files(p)
        if listed is None:
            return None
        files += listed
    return (spark.sparkContext.applicationId, paths, file_signature(files))


def seed_schema(spark: SparkSession, path: str, schema) -> None:
    """Record ``schema`` as ``path``'s inferred one, for a directory
    this session has just written with that schema. Spark reads a given
    schema as nullable, as inference does, so the next
    :func:`read_parquet` of ``path`` equals an inferred read and runs
    no inference job."""
    key = _schema_key(spark, (path,))
    if key is not None:
        memoized("schema", key, lambda: schema)


def local_rows(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """JVM-literal local relation: same rows and schema as
    ``spark.createDataFrame(rows, ddl)`` for plain-scalar rows, WITHOUT
    the pickled-Python-RDD backing. ``createDataFrame`` from driver
    rows parallelizes them into a Python RDD, so EVERY job that scans
    the result spawns a Python-worker stage — measured 0.3–0.4 s per
    execution for a 3-row report relation (r11, guide §4.1: eliminate
    the JVM↔Python boundary). Literal structs stay entirely JVM-side:
    one tiny codegen task, no Python workers.

    Scalars only (int/float/str/bool/bytes/None) — exactly the shapes
    the report/offset/budget call sites produce; pass the DDL that
    matches what createDataFrame's inference produced (int → bigint,
    float → double) so dtypes — which the oracle gate hashes — are
    unchanged."""
    from pyspark.sql import types as T

    schema = T._parse_datatype_string(ddl) if isinstance(ddl, str) else ddl
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(r, schema.fields)
            ]
        )
        for r in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("__r"))
        .select(*[F.col(f"__r.{f.name}").alias(f.name) for f in schema.fields])
    )


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    multiline: bool = True,
    schema=None,
) -> DataFrame:
    """S2 CSV scan.

    ``multiLine`` + quote handling matches the reference's Google-Forms
    CSVs whose headers embed newlines (``forms_main.py:225-243``).
    """
    reader = spark.read.option("header", header).option("multiLine", multiline)
    reader = reader.option("quote", '"').option("escape", '"')
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S10 inverse — JSON-lines scan (gzip transparent)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """S12 catalog scan over the fixture layout: one parquet per table.

    The ``events`` fixture's timestamp PHYSICAL type changes between
    driver data regenerations (observed: TIMESTAMP(NANOS) in round 1 —
    which Spark refuses outright, PARQUET_TYPE_ILLEGAL — then
    ``timestamp[us]`` with ``isAdjustedToUTC=false`` in round 2, which
    Spark 4 reads as TIMESTAMP_NTZ). Canonicalize ALL flavors to one
    engine-facing type, TIMESTAMP (LTZ):

    * nanos → read as long, floor to µs (same truncation DuckDB
      applies on scan, so oracle comparisons stay exact);
    * NTZ → wall-clock reinterpreted in the session timezone (pinned
      UTC in session.py — identical values to what DuckDB returns);
    * LTZ → untouched.

    Downstream operators (epoch casts, ``withWatermark``) keep their
    own NTZ-safe casts as a belt for callers that bypass this reader.
    """
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


def register_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture parquet as a temp view (SQL entry point)."""
    for name in FIXTURE_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            table(spark, name, sf_dir).createOrReplaceTempView(name)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S3/S9 partitioned parquet sink (zstd via session conf)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (built-in columnar alternative to parquet — same
    pushdown/pruning machinery; Avro needs the external spark-avro
    module and is intentionally not claimed)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink, same partitioned-layout contract as ``write_parquet``."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False) -> None:
    """S4 CSV sink; ``single_file`` mirrors the reference's one-file reports."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_jsonl_gzip(df: DataFrame, path: str, target_shard_mb: int = 128, mode: str = "overwrite") -> None:
    """S10 JSONL gzip shard sink (``json_writer.py:105-211`` semantics).

    The reference serializes dicts to JSON lines and sizes shards to
    ~128 MB gzipped assuming a 2.0 gzip ratio. We keep the size
    targeting but let executors write: estimate bytes from the
    optimizer stats (I4) and ``repartition`` accordingly.
    """
    raw_bytes = estimated_size_bytes(df)
    shards = max(1, int(raw_bytes / 2.0 // (target_shard_mb * 1024 * 1024)) + 1)
    (
        df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        .repartition(shards)
        .write.mode(mode)
        .option("compression", "gzip")
        .text(path)
    )


def rename_shards(spark: SparkSession, path: str, prefix: str = "shard") -> list[str]:
    """S10 — deterministic shard names ``shard-%05d.jsonl.gz``
    (``json_writer.py:42-89``): Hadoop FS rename of the committed
    ``part-*`` files, in sorted order (the same JVM-FS trick the
    reference uses — a post-commit metadata operation, no data moves).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    parts = sorted(
        (f.getPath() for f in fs.listStatus(p) if f.getPath().getName().startswith("part-")),
        key=lambda q: q.getName(),
    )
    out = []
    for i, src in enumerate(parts):
        name = f"{prefix}-{i:05d}.jsonl.gz"
        fs.rename(src, jvm.org.apache.hadoop.fs.Path(p, name))
        out.append(name)
    return out


def estimated_size_bytes(df: DataFrame) -> int:
    """I4 — optimizer-stats size estimate
    (``datatrack_spark_utils.py:582-596``)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def ideal_partitions(df: DataFrame, target_mb: int = 256, cap: int = 4000) -> int:
    """I5 — ceil(size/256MB) capped at 4000
    (``datatrack_spark_utils.py:564-580``)."""
    size_mb = estimated_size_bytes(df) / (1024 * 1024)
    return max(1, min(cap, int(size_mb // target_mb) + (1 if size_mb % target_mb else 0)))


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """D3's corrupted-input quarantine (the reference renames broken
    state files to ``*.bad`` and carries on —
    ``extract_movimentacoes_folder.py:76-104``), as a PERMISSIVE-mode
    split: one pass over the input returns ``(good, bad)`` where bad
    rows keep their raw line for forensics and good rows never stall
    on a poison record.

    ``schema`` must NOT declare ``_corrupt_record`` — it is appended
    here. At scale this beats FAILFAST + retry (no wasted attempts) and
    DROPMALFORMED (silent data loss): the quarantine is an auditable
    DataFrame you can write next to the table like the reference's
    ``.bad`` files.
    """
    full = f"{schema}, _corrupt_record STRING"
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()  # one scan feeds both splits; PERMISSIVE needs the
        # cache for correct _corrupt_record semantics (Spark docs)
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def compact(
    spark: SparkSession, path: str, target_mb: int = 256
) -> int:
    """Small-files compaction (lake maintenance, I5's other half): read
    a parquet directory, rewrite it at the target file size, return the
    new file count. The read→overwrite round-trips through a temp
    subdir because Spark cannot overwrite a path it is reading; the
    old directory is renamed aside before the new one is renamed in and
    deleted only after, so a crash or a reader never meets ``path``
    holding part of its files.

    At scale this runs per partition directory (compact the partitions
    a streaming sink fragmented, leave the rest untouched) — full-table
    rewrites are a last resort.
    """
    import shutil
    import tempfile

    df = read_parquet(spark, path)
    n = ideal_partitions(df, target_mb)
    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path) or ".")
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    old = f"{tmp}.old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def read_csv_quarantined(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    multiline: bool = True,
):
    """S2 CSV scan with the same quarantine stance as the binary-doc
    pipeline (``parse/pdf_source.py``): malformed rows do not abort the
    load (FAILFAST) and do not silently vanish (DROPMALFORMED) — they
    come back as a second DataFrame carrying the raw line for the
    audit sink. PERMISSIVE + ``columnNameOfCorruptRecord``; requires an
    explicit schema (Spark ignores the corrupt-record column under
    inference). Returns ``(good, quarantined)``.

    The corrupt-record column must be selected through a cache() per
    Spark's documented restriction (the column is populated only when
    referenced together with the parsed columns)."""
    from pyspark.sql import types as TT

    full = TT.StructType(schema.fields + [TT.StructField("_corrupt_record", TT.StringType(), True)])
    df = (
        spark.read.option("header", header)
        .option("multiLine", multiline)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .csv(path)
        .cache()
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line"),
        F.lit("csv parse failure").alias("quarantine_reason"),
    )
    return good, bad
