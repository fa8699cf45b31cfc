"""The Python codec layer: one per-row pass (``operators/rows.map_rows``)
and one RIFF chunk codec (``multimodal.riff_*``)."""

from __future__ import annotations

import ast
import struct
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "fintrack_etl_spark"

MEDIA_DDL = "media_id long, media_type string, content binary, meta map<string,string>"


def _package_trees():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), ast.parse(path.read_text())


def test_map_rows_fans_out_drops_and_passes_nulls(spark):
    """One row fans out to several, a batch whose rows all yield nothing
    emits nothing, and nulls reach the row function as ``None``."""
    from pyspark.sql import types as T

    from fintrack_etl_spark.operators.rows import map_rows

    rows = [
        (1, "a", 1.5),
        (2, None, None),
        (3, "drop", 0.0),  # batch 2: both rows drop
        (4, "drop", 0.0),
        (None, "n", 2.0),
        (6, "ccc", 3.0),
    ]
    df = spark.createDataFrame(rows, "i long, s string, x double").coalesce(1)

    def fn(i, s, x):
        if s == "drop":
            return []
        nulls = ",".join(name for name, v in (("i", i), ("s", s), ("x", x)) if v is None)
        return [(i, s, x, k, nulls) for k in range(len(s) if s else 1)]

    schema = (
        T.StructType()
        .add("i", "long")
        .add("s", "string")
        .add("x", "double")
        .add("k", "integer")
        .add("nulls", "string")
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = map_rows(df, fn, schema).collect()
    finally:
        spark.conf.set(key, old)
    assert sorted((tuple(r) for r in got), key=repr) == sorted(
        [
            (1, "a", 1.5, 0, ""),
            (2, None, None, 0, "s,x"),
            (None, "n", 2.0, 0, "i"),
            (6, "ccc", 3.0, 0, ""),
            (6, "ccc", 3.0, 1, ""),
            (6, "ccc", 3.0, 2, ""),
        ],
        key=repr,
    )


def test_one_python_row_pass():
    """``.mapInPandas(`` appears only in ``map_rows`` and in the
    whole-partition kernels (windows' EWM, skyline, similarity's BLAS
    pass): every per-row codec site goes through ``map_rows``."""
    sites: dict[str, int] = {}
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                sites[rel] = sites.get(rel, 0) + 1
    assert sites == {
        "operators/rows.py": 1,
        "operators/windows.py": 1,
        "operators/skyline.py": 2,
        "similarity.py": 1,
    }


def test_riff_magic_only_in_riff_codec():
    """The ``RIFF`` magic is written and read only by the RIFF codec's
    form writer and form reader."""
    sites = set()
    for rel, tree in _package_trees():
        for top in tree.body:
            for node in ast.walk(top):
                value = getattr(node, "value", None)
                if isinstance(node, ast.Constant) and isinstance(value, bytes) and b"RIFF" in value:
                    sites.add((rel, getattr(top, "name", None)))
    assert sites == {("multimodal.py", "riff_file"), ("multimodal.py", "riff_form_type")}


def test_riff_odd_chunk_padded_and_walked_back():
    from fintrack_etl_spark.multimodal import (
        _sniff_bytes,
        encode_wav_pcm,
        riff_chunk,
        riff_file,
        riff_form_type,
        riff_list,
        riff_walk,
    )

    odd = riff_chunk(b"test", b"abc")
    assert odd == b"test" + struct.pack("<I", 3) + b"abc\x00"  # size 3, one pad byte
    inner = riff_chunk(b"INAM", b"x")
    blob = riff_file(b"WAVE", odd, riff_list(b"INFO", inner), riff_chunk(b"data", b"\x01\x02"))
    assert riff_form_type(blob) == b"WAVE" and riff_form_type(b"RIFX" + blob[4:]) is None
    assert struct.unpack_from("<I", blob, 4)[0] == len(blob) - 8
    walked = list(riff_walk(blob))
    assert [(cid, blob[at : at + sz]) for cid, at, sz in walked] == [
        (b"test", b"abc"),
        (b"LIST", b"INFO" + inner),
        (b"data", b"\x01\x02"),
    ]
    _, at, sz = walked[1]
    assert [(cid, blob[a : a + s]) for cid, a, s in riff_walk(blob, at + 4, at + sz)] == [
        (b"INAM", b"x")
    ]
    wav = encode_wav_pcm(b"abc", 1, 8000, 8)  # odd data chunk
    assert len(wav) % 2 == 0
    meta = _sniff_bytes(wav)
    assert (meta["format"], meta["channels"], meta["sample_rate"], meta["bits_per_sample"]) == (
        "wav", 1, 8000, 8,
    )
    assert meta["duration_ms"] == 0.375 and meta["sniff_error"] is None


def test_encode_bmp_round_trip_top_down_with_row_padding():
    from fintrack_etl_spark.parse.minipng import decode_bmp, encode_bmp

    rgb = bytes(range(9 * 8 * 3))
    blob = encode_bmp(rgb, 9, 8)
    stride = 28  # 9 px * 3 bytes = 27, padded to a multiple of 4
    assert len(blob) == 54 + stride * 8
    assert struct.unpack_from("<ii", blob, 18) == (9, -8)  # negative height: top-down
    assert all(blob[54 + r * stride + 27] == 0 for r in range(8))
    assert blob[54:57] == bytes((rgb[2], rgb[1], rgb[0]))  # first pixel stored BGR
    assert decode_bmp(blob) == (9, 8, 2, rgb)


def test_truncated_bmp_and_gif_headers_quarantine(spark):
    """A BMP or GIF header cut short is a ``decode_error`` row (and a
    tiled payload for resize), not a failed job."""
    from fintrack_etl_spark.multimodal import decode_image, resize_image

    bmp, gif = b"BM" + bytes(10), b"GIF89a\x01"
    media = spark.createDataFrame([(1, "image", bmp, None), (2, "image", gif, None)], MEDIA_DDL)
    got = {r.media_id: r for r in decode_image(media).collect()}
    assert set(got) == {1, 2}
    for r in got.values():
        assert r.pixels is None and r.width is None
        assert r.decode_error.startswith("decode_error:")
    resized = {r.media_id: bytes(r.pixels) for r in resize_image(media, 2, 2).collect()}
    assert resized == {1: bmp[:4], 2: gif[:4]}
