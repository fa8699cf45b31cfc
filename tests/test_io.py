"""Source/sink tests (S2-S10)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from fintrack_etl_spark import io as fio


def test_jsonl_gzip_roundtrip_with_shard_names(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"), F.concat(F.lit("doc "), F.col("id")).alias("texto")
    )
    out = str(tmp_path / "shards")
    fio.write_jsonl_gzip(df, out)
    names = fio.rename_shards(spark, out)
    assert names and names[0] == "shard-00000.jsonl.gz"
    on_disk = sorted(os.path.basename(f) for f in glob.glob(f"{out}/shard-*.jsonl.gz"))
    assert on_disk == sorted(names)
    assert not glob.glob(f"{out}/part-*")  # all committed files renamed

    back = fio.read_jsonl(spark, out)
    assert back.count() == 1000
    assert {r["id"] for r in back.select("id").limit(5).collect()} <= set(range(1000))


def test_csv_roundtrip_multiline_headers(spark, tmp_path):
    """S2 — embedded-newline headers survive a quoted CSV round-trip
    (the Google-Forms shape, ``forms_main.py:225``)."""
    out = str(tmp_path / "csv")
    df = spark.createDataFrame([("a", 1.5)], ["Valor:\nExemplo: R$40,00", "x"])
    fio.write_csv(df, out, single_file=True)
    back = fio.read_csv(spark, out)
    assert back.columns[0] == "Valor:\nExemplo: R$40,00"
    assert back.count() == 1


def test_ideal_partitions_caps(spark):
    df = spark.range(10)
    n = fio.ideal_partitions(df, target_mb=256, cap=4000)
    assert 1 <= n <= 4000


def test_read_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    from fintrack_etl_spark.io import read_jsonl_quarantine

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"a": 1, "b": "x"}\n'
        "THIS IS NOT JSON\n"
        '{"a": 2, "b": "y"}\n'
        '{"a": "not-an-int", "b": 3}\n'
    )
    good, bad = read_jsonl_quarantine(spark, str(p), "a BIGINT, b STRING")
    assert sorted((r["a"], r["b"]) for r in good.collect()) == [(1, "x"), (2, "y")]
    bad_lines = [r["_corrupt_record"] for r in bad.collect()]
    assert len(bad_lines) == 2 and "THIS IS NOT JSON" in bad_lines


def test_compact_rewrites_to_target_file_count(spark, sf_dir, tmp_path):
    import glob

    from fintrack_etl_spark.io import compact, read_parquet, table

    out = str(tmp_path / "frag")
    table(spark, "orders", sf_dir).repartition(40).write.parquet(out)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 40
    before = read_parquet(spark, out).count()
    n = compact(spark, out, target_mb=256)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n and n < 40
    assert read_parquet(spark, out).count() == before


def test_orc_roundtrip_with_partitioning(spark, tmp_path):
    """ORC sink/source: partitioned layout + pushdown-capable scan
    round-trips values exactly (same contract as parquet)."""
    from fintrack_etl_spark.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)], ["id", "g", "v"]
    )
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=["g"])
    back = read_orc(spark, out)
    assert sorted((r.id, r.g, round(r.v, 1)) for r in back.collect()) == sorted(
        (r.id, r.g, round(r.v, 1)) for r in df.collect()
    )
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("g=")) == ["g=g0", "g=g1", "g=g2"]


def test_read_csv_quarantined_splits_bad_rows(spark, tmp_path):
    from pyspark.sql import types as TT

    from fintrack_etl_spark.io import read_csv_quarantined

    p = tmp_path / "in.csv"
    p.write_text('a,b\n1,"x"\nnot_an_int,"y"\n3,"z"\n')
    schema = TT.StructType().add("a", TT.IntegerType()).add("b", TT.StringType())
    good, bad = read_csv_quarantined(spark, str(p), schema, multiline=False)
    assert sorted((r["a"], r["b"]) for r in good.collect()) == [(1, "x"), (3, "z")]
    quarantined = bad.collect()
    assert len(quarantined) == 1
    assert "not_an_int" in quarantined[0]["raw_line"]
    assert quarantined[0]["quarantine_reason"] == "csv parse failure"


def test_read_parquet_is_the_only_parquet_reader():
    """One reader: no package module calls ``.parquet(`` on a
    ``spark.read`` chain except ``io.read_parquet``, so every parquet
    read shares its once-per-session schema memo."""
    import ast
    from pathlib import Path

    pkg = Path(fio.__file__).resolve().parent

    def on_reader(node) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.value if isinstance(node, ast.Attribute) else node.func
        return False

    hits = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        allowed = set()
        if path.name == "io.py" and path.parent == pkg:
            fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "read_parquet")
            allowed = {id(n) for n in ast.walk(fn)}
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "parquet"
                and on_reader(n.func.value)
                and id(n) not in allowed
            ):
                hits.append(f"{path.relative_to(pkg)}:{n.lineno}")
    assert hits == []
