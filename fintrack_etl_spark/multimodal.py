"""Multimodal column plumbing (engine extension; SURVEY.md §7 Phase 4).

Image/audio/video travel as opaque ``binary`` columns with typed
metadata. Decode / feature-extract / resize / frame-sample are row
functions run by ``operators/rows.map_rows``, the engine's one
Arrow-batched ``mapInPandas`` pass; a query that builds its payloads
in Python composes its encoder with these row functions, so the
payload never leaves the Python worker.

Codec status (honest inventory):

- **image decode/resize: REAL** — ``parse/minipng.py`` (pure-Python
  PNG per the public spec, CRC-checked, all five filter types) plus a
  24-bit BMP path; ``decode_image`` and ``resize_image`` run them
  end-to-end, quarantining undecodable rows as ``decode_error``.
- **RIFF: REAL** — one chunk writer (``riff_chunk``/``riff_list``/
  ``riff_file``, pad byte on odd sizes) and one chunk walker
  (``riff_walk``) serve every WAVE and AVI container below.
- **audio: REAL container parse + REAL compressed codec** — PCM WAV
  write (``encode_wav_pcm``) and fmt/data chunk walk in
  ``sniff_media_metadata`` (and x49's segmenter), plus IMA/DVI ADPCM
  (wFormatTag 0x11, the standard step/index tables, fact-chunk
  lengths) encode AND four-table state-machine decode
  (``encode_wav_adpcm``/``parse_wav_adpcm``, gated by x79). Transform
  codecs (mp3 etc.) remain out of scope.
- **video: REAL container codec + REAL compressed codec** —
  ``encode_avi``/``parse_avi`` implement RIFF/AVI 1.0 (avih + strl
  headers, idx1 cross-checked) with BOTH uncompressed ``00db`` DIB
  frames and MS-RLE8 (BI_RLE8 / 'mrle') compressed ``00dc`` frames —
  the registered run-length video codec, all four decode modes
  (``rle8_encode``/``rle8_decode``, gated by x78);
  ``sample_avi_frames`` runs real frame-sampling over either.
  Transform-coded video (H.264 etc.) stays out of scope like mp3.
  ``sample_video_frames`` keeps its deterministic byte-splitter as
  the format-agnostic plumbing stub.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.rows import map_rows

#: Canonical multimodal record: one row per media object.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("head_hex", T.StringType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the documents fixture as a media table (utf-8
    bytes as the opaque payload) so the binary plumbing is exercisable
    without codec libraries."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")).alias("meta"),
    )


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Feature extraction over binary content, one ``map_rows`` pass.
    The default extractor is a deterministic fake (byte length / head
    bytes / mean byte value); swap ``_features`` for a real decoder
    where codecs exist."""

    def _features(media_id, media_type, b):
        # floor-scaled bp from exact ints: Python round() is BANKER'S —
        # diverges from both engines on halfway
        return [(
            media_id,
            media_type,
            len(b) if b is not None else None,
            b[:4].hex() if b else None,
            (sum(b) * 10000 // len(b)) / 10000.0 if b else None,
        )]

    return map_rows(media.select("media_id", "media_type", "content"), _features, FEATURE_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mode", T.StringType(), True),  # gray|rgb|gray+a|rgba
        T.StructField("pixels", T.BinaryType(), True),  # raw row-major raster
        T.StructField("decode_error", T.StringType(), True),
    ]
)

_MODE = {0: "gray", 2: "rgb", 4: "gray+a", 6: "rgba"}
_MODE_CH = {"gray": 1, "rgb": 3, "gray+a": 2, "rgba": 4}


def _decode_raster(b: bytes | None) -> tuple:
    """(width, height, mode, pixels, error) via the REAL pure-Python
    codecs: PNG (parse/minipng, spec-complete for 8-bit non-interlaced)
    or 24-bit BMP. Anything else quarantines with an error string."""
    from .parse.minipng import PngError, decode_bmp, decode_gif, decode_png

    if not b:
        return None, None, None, None, "empty payload"
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            w, h, ct, px = decode_png(bytes(b))
        elif b[:2] == b"BM":
            w, h, ct, px = decode_bmp(bytes(b))
        elif b[:6] in (b"GIF87a", b"GIF89a"):
            w, h, ct, px = decode_gif(bytes(b))
        else:
            return None, None, None, None, f"unknown container: {bytes(b[:4]).hex()}"
        return w, h, _MODE[ct], px, None
    except (PngError, IndexError, struct.error) as exc:  # struct: truncated header
        return None, None, None, None, f"decode_error: {exc}"


def decode_image(media: DataFrame) -> DataFrame:
    """REAL image decode over Arrow batches: each ``content`` payload
    is parsed by the pure-Python PNG codec (CRC-verified chunks, zlib
    IDAT, all five scanline filters — ``parse/minipng.py``) or the
    24-bit BMP path, emitting the raw row-major raster plus
    (width, height, mode). Undecodable rows quarantine as
    ``decode_error`` rows instead of failing the job — the same
    discipline as the PDF scan. One narrow ``map_rows`` pass; the
    decoded raster never shuffles unless the caller asks it to."""
    return map_rows(
        media.select("media_id", "content"),
        lambda media_id, b: [(media_id, *_decode_raster(b))],
        DECODED_SCHEMA,
    )


def _resize_raster(
    w0: int, h0: int, mode: str, px: bytes, width: int, height: int
) -> bytes:
    """Nearest-neighbor resample of a decoded row-major raster —
    channel-aware, deterministic integer index map ``src = (dst *
    n_src) DIV n_dst``. Factored out of ``resize_image`` (r11) so
    callers that already hold the decoded raster (fused
    decode+resize passes, e.g. x52) don't decode twice."""
    ch = _MODE_CH[mode]
    out = bytearray()
    for r in range(height):
        sr = (r * h0) // height
        base = sr * w0 * ch
        for c in range(width):
            sc = (c * w0) // width
            out += px[base + sc * ch : base + (sc + 1) * ch]
    return bytes(out)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pixels", T.BinaryType(), True),
    ]
)


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize with a REAL decode: PNG/BMP payloads are decoded
    (pure-Python codecs) and resampled nearest-neighbor — channel-
    aware, deterministic integer index mapping ``src = (dst * n_src)
    DIV n_dst`` — so the output raster is ``width × height × channels``
    actual pixels. Payloads that are not decodable images fall back to
    the deterministic byte-tiling shim (documented: tiles the source
    bytes to exactly ``width × height`` bytes) so non-image smoke
    content still exercises the plumbing. Decode + resize stay in ONE
    Arrow pass — never a second shuffle for the transform."""

    def _resize_one(b: bytes | None) -> bytes | None:
        if b is None or len(b) == 0:
            return None
        w0, h0, mode, px, err = _decode_raster(b)
        if err is not None:
            need = width * height  # tiling fallback for non-image bytes
            return (bytes(b) * (need // len(b) + 1))[:need]
        return _resize_raster(w0, h0, mode, px, width, height)

    return map_rows(
        media.select("media_id", "content"),
        lambda media_id, b: [(media_id, width, height, _resize_one(b))],
        RESIZED_SCHEMA,
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame_ts", T.DoubleType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_video_frames(
    media: DataFrame, every_n_seconds: float = 1.0, frame_bytes: int = 256
) -> DataFrame:
    """Frame-sampling plumbing with the CODEC FAKED (pyav/ffmpeg
    absent): the flatMap-shaped pandas UDF — one INPUT row fanning out
    to N OUTPUT rows per sampled frame — is the real contract; swap the
    fake splitter for an ``av.open`` frame iterator and the schema,
    batching, and fan-out shape are unchanged. The fake is
    deterministic: the payload is cut into fixed-size "frames", one per
    ``every_n_seconds`` of pretended footage.
    """

    def _frames(media_id, b):
        if b is None:
            return
        for i in range(max(1, len(b) // frame_bytes)):
            frame = b[i * frame_bytes : (i + 1) * frame_bytes]
            yield media_id, i, round(i * every_n_seconds, 6), frame

    return map_rows(media.select("media_id", "content"), _frames, FRAME_SCHEMA)


SNIFF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("sniff_error", T.StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# RIFF chunk codec — the one writer and the one walker that every RIFF
# container here (WAVE, AVI) goes through. A chunk is a fourcc, a
# little-endian u32 body size and the body, then one pad byte when the
# size is odd (the size never counts the pad). LIST chunks and the RIFF
# form itself are chunks whose body starts with a type fourcc.
# ---------------------------------------------------------------------------


def riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    """One chunk: ``fourcc``, size, ``body`` and the pad byte on odd sizes."""
    return fourcc + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def riff_list(list_type: bytes, *chunks: bytes) -> bytes:
    """A LIST chunk of ``list_type`` holding ``chunks``."""
    return riff_chunk(b"LIST", list_type + b"".join(chunks))


def riff_file(form_type: bytes, *chunks: bytes) -> bytes:
    """A RIFF file of ``form_type`` (``WAVE``, ``AVI ``) holding ``chunks``."""
    return riff_chunk(b"RIFF", form_type + b"".join(chunks))


def riff_form_type(blob: bytes) -> bytes | None:
    """The form type of a RIFF file; None when ``blob`` is not one."""
    return blob[8:12] if blob[:4] == b"RIFF" else None


def riff_walk(
    blob: bytes, pos: int = 12, end: int | None = None
) -> Iterator[tuple[bytes, int, int]]:
    """``(fourcc, body_offset, size)`` of each chunk from ``pos`` (by
    default the form's first chunk) up to ``end``, stepping over pad
    bytes. A LIST's body starts with its type; walk into it with
    ``riff_walk(blob, body_offset + 4, body_offset + size)``. Sizes are
    yielded as read: a chunk cut short by the end of ``blob`` slices
    short, and a header cut short raises ``struct.error``."""
    end = len(blob) if end is None else end
    while pos + 8 <= end:
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        yield blob[pos : pos + 4], pos + 8, size
        pos += 8 + size + (size & 1)


def encode_wav_pcm(data: bytes, channels: int, sample_rate: int, bits: int) -> bytes:
    """A PCM WAV (wFormatTag 1) holding the interleaved samples
    ``data``: the 16-byte fmt chunk, then the data chunk."""
    align = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, sample_rate * align, align, bits)
    return riff_file(b"WAVE", riff_chunk(b"fmt ", fmt), riff_chunk(b"data", data))


def _sniff_bytes(b: bytes | None) -> dict:
    """REAL (not stubbed) container-header metadata extraction, pure
    Python from the public format specs — no codec library needed:

    - PNG: IHDR width/height (big-endian u32 at offset 16);
    - JPEG: first SOFn segment's height/width (walks the marker chain);
    - GIF: logical screen descriptor (little-endian u16);
    - BMP: BITMAPINFOHEADER (little-endian i32);
    - WAV: RIFF fmt chunk (channels, sample rate, bits) + data chunk
      size → exact duration.

    Full pixel/sample DECODE still requires the real codecs (the
    documented stub slots); header metadata is the part a curation
    pipeline filters on (resolution/duration thresholds, aspect-ratio
    buckets) and it is fully real here."""
    out = {k.name: None for k in SNIFF_SCHEMA.fields if k.name != "media_id"}
    if not b:
        out["sniff_error"] = "empty"
        return out
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
            out["format"] = "png"
            out["width"], out["height"] = struct.unpack(">II", b[16:24])
        elif b[:2] == b"\xff\xd8":
            out["format"] = "jpeg"
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    out["height"], out["width"] = struct.unpack(">HH", b[i + 5 : i + 9])
                    break
                i += 2 + seg_len
        elif b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            out["format"] = "gif"
            out["width"], out["height"] = struct.unpack("<HH", b[6:10])
        elif b[:2] == b"BM" and len(b) >= 26:
            out["format"] = "bmp"
            w, h = struct.unpack("<ii", b[18:26])
            out["width"], out["height"] = w, abs(h)
        elif riff_form_type(b) == b"AVI " and len(b) >= 72:
            out["format"] = "avi"
            # avih is the first chunk inside LIST hdrl: dwMicroSecPerFrame
            # at +0, dwTotalFrames at +16, dwWidth/dwHeight at +32/+36.
            if b[12:16] == b"LIST" and b[20:24] == b"hdrl" and b[24:28] == b"avih":
                usec, = struct.unpack("<I", b[32:36])
                total, = struct.unpack("<I", b[48:52])
                out["width"], out["height"] = struct.unpack("<II", b[64:72])
                out["duration_ms"] = (total * usec) / 1000.0  # exact int / 1000
        elif riff_form_type(b) == b"WAVE":
            out["format"] = "wav"
            byte_rate = data_size = None
            for cid, at, size in riff_walk(b):
                if cid == b"fmt " and at + 16 <= len(b):
                    (_, out["channels"], out["sample_rate"], byte_rate, _, out["bits_per_sample"]) = struct.unpack_from(
                        "<HHIIHH", b, at
                    )
                elif cid == b"data":
                    data_size = size
            if byte_rate and data_size is not None:
                # floor-scaled micro→milli from exact ints: Python's
                # banker's round on a .0005 halfway diverges from SQL
                out["duration_ms"] = (data_size * 1000000 // byte_rate) / 1000.0
        else:
            out["sniff_error"] = f"unknown container: {b[:4].hex()}"
    except (struct.error, IndexError) as exc:  # truncated header → quarantine
        out["sniff_error"] = f"truncated/corrupt header: {exc}"
    return out


def _sniff_row(media_id, b: bytes | None) -> list[tuple]:
    """``_sniff_bytes`` as a ``SNIFF_SCHEMA`` row function."""
    return [(media_id, *_sniff_bytes(b).values())]


def sniff_media_metadata(media: DataFrame) -> DataFrame:
    """Header sniff over opaque binary content — one narrow
    ``map_rows`` pass, payload dropped on output (only metadata
    crosses any downstream shuffle). Unknown or corrupt containers
    surface as ``sniff_error`` rows, never failures (quarantine
    discipline, same as the PDF scan)."""
    return map_rows(media.select("media_id", "content"), _sniff_row, SNIFF_SCHEMA)


# ---------------------------------------------------------------------------
# RIFF/AVI video container — REAL codec (public AVI 1.0 spec: avih /
# strl(strh+strf) headers, movi '00db' uncompressed-DIB frames, idx1
# index). Grayscale 8bpp frames with the standard bottom-up DIB row
# order and 4-byte row stride; compressed codecs (H.264 etc.) stay out
# of scope, matching the WAV stance (containers real, transforms real,
# entropy codecs absent from this sandbox).
# ---------------------------------------------------------------------------

_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10
_BI_RGB = 0
_BI_RLE8 = 1


def rle8_encode(frame: bytes, width: int, height: int) -> bytes:
    """MS-RLE8 (BI_RLE8) encode of a top-down grayscale frame — the
    REAL registered Windows run-length video/bitmap codec (Microsoft
    BMP/AVI spec): rows emitted bottom-up as (count, value) encoded
    pairs with runs capped at 255, each row terminated by the 00 00
    end-of-line escape and the bitmap by 00 01. Runs-only encoding is
    always spec-valid (absolute mode is an encoder optimization; the
    decoder below handles all four modes including foreign streams)."""
    out = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up rows
        row = frame[r * width : (r + 1) * width]
        i = 0
        while i < len(row):
            v = row[i]
            n = 1
            while i + n < len(row) and row[i + n] == v and n < 255:
                n += 1
            out += bytes((n, v))
            i += n
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    return bytes(out)


def rle8_decode(data: bytes, width: int, height: int) -> bytes:
    """Full MS-RLE8 decode (encoded runs, absolute mode with word
    padding, end-of-line 00 00, end-of-bitmap 00 01, delta 00 02 dx dy
    — skipped pixels are 0 per spec). Returns a TOP-DOWN
    ``width*height`` grayscale frame; malformed streams raise."""
    rows = [bytearray(width) for _ in range(height)]
    x, y, i = 0, 0, 0  # y counts bottom-up rows
    while i + 1 < len(data) + 1:
        if i + 2 > len(data):
            raise ValueError("rle8: truncated stream")
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # encoded run
            if y >= height or x + c > width:
                raise ValueError(f"rle8: run past row ({x}+{c},{y})")
            rows[y][x : x + c] = bytes((v,)) * c
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return b"".join(bytes(rows[r]) for r in range(height - 1, -1, -1))
        elif v == 2:  # delta: skip dx right, dy UP in row order (bottom-up)
            if i + 2 > len(data):
                raise ValueError("rle8: truncated delta")
            x, y = x + data[i], y + data[i + 1]
            i += 2
        else:  # absolute mode: v literal pixels, word-aligned
            if y >= height or x + v > width or i + v > len(data):
                raise ValueError(f"rle8: absolute past row ({x}+{v},{y})")
            rows[y][x : x + v] = data[i : i + v]
            x += v
            i += v + (v & 1)  # pad to word boundary
    raise ValueError("rle8: missing end-of-bitmap")


def _rle8_encode_many(frames: list[bytes], width: int, height: int) -> list[bytes] | None:
    """Vectorized MS-RLE8 encode of uniform frames — byte-identical to
    per-frame ``rle8_encode`` (pinned by
    ``test_rle8_vectorized_matches_loop``), one numpy pass over ALL
    frames instead of a per-pixel Python loop per frame (guide §4.4:
    x78's profile put ~80 % of its Python time inside the two codec
    loops). Returns None for shapes the loop must handle (width > 255
    needs run capping; degenerate dims): caller falls back.

    Layout trick: the output buffer starts zeroed, and EOL is 00 00 —
    so only run pairs and the EOB 01 bytes are scattered."""
    import numpy as np

    nf = len(frames)
    if nf == 0 or width == 0 or width > 255 or height == 0:
        return None
    blob = b"".join(frames)
    if len(blob) != nf * height * width:
        return None  # malformed input: keep the loop's behavior
    arr = np.frombuffer(blob, np.uint8).reshape(nf, height, width)
    rows = arr[:, ::-1, :].reshape(nf * height, width)  # bottom-up rows
    nrows = rows.shape[0]
    mask = np.ones(rows.shape, dtype=bool)
    mask[:, 1:] = rows[:, 1:] != rows[:, :-1]
    flat = np.flatnonzero(mask.ravel())
    vals = rows.reshape(-1)[flat]
    lengths = np.diff(flat, append=rows.size)  # runs never cross rows (col 0 always starts one)
    row_of_run = flat // width
    runs_per_row = np.bincount(row_of_run, minlength=nrows)
    row_bytes = 2 * runs_per_row + 2  # pairs + EOL
    row_start = np.concatenate(([0], np.cumsum(row_bytes)[:-1])) + 2 * (
        np.arange(nrows) // height
    )  # + EOB of every previous frame
    first_run_of_row = np.concatenate(([0], np.cumsum(runs_per_row)[:-1]))
    pos = row_start[row_of_run] + 2 * (
        np.arange(flat.size) - first_run_of_row[row_of_run]
    )
    frame_sizes = row_bytes.reshape(nf, height).sum(axis=1) + 2
    out = np.zeros(int(frame_sizes.sum()), np.uint8)
    out[pos] = lengths.astype(np.uint8)
    out[pos + 1] = vals
    frame_ends = np.cumsum(frame_sizes)
    out[frame_ends - 1] = 1  # EOB = 00 01 (the 00 is already there)
    ob = out.tobytes()
    offs = np.concatenate(([0], frame_ends))
    return [ob[offs[i] : offs[i + 1]] for i in range(nf)]


def _rle8_decode_many(bodies: list[bytes], width: int, height: int) -> list[bytes] | None:
    """Vectorized MS-RLE8 decode of runs-only streams (the shape our
    encoder emits: 2-byte-aligned run pairs, exactly ``height`` EOLs
    per chunk each closing a row that sums to ``width``, EOB last) —
    value-identical to per-chunk ``rle8_decode`` on that shape (pinned
    by ``test_rle8_vectorized_matches_loop``). Returns None the moment
    anything else appears (absolute/delta escapes, odd sizes, early or
    missing EOB, short/overfull rows, runs after the last EOL): the
    caller falls back to the full four-mode loop decoder, which
    handles foreign streams and raises the proper errors. Detection is
    sound because every escape in a runs-only prefix sits on a pair
    boundary — the first non-run byte pair is seen as written."""
    import numpy as np

    n = len(bodies)
    if n == 0 or width == 0 or height == 0:
        return None
    sizes = np.fromiter((len(b) for b in bodies), np.int64, n)
    if np.any(sizes < 2) or np.any(sizes % 2):
        return None
    pairs = np.frombuffer(b"".join(bodies), np.uint8).reshape(-1, 2)
    c = pairs[:, 0].astype(np.int64)
    v = pairs[:, 1]
    esc = c == 0
    if np.any(esc & (v > 1)):
        return None  # delta / absolute mode
    ends = np.cumsum(sizes) // 2 - 1  # pair index of each chunk's last pair
    eob_idx = np.flatnonzero(esc & (v == 1))
    if eob_idx.size != n or not np.array_equal(eob_idx, ends):
        return None  # early or missing EOB
    eol = esc & (v == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    if not np.all(np.add.reduceat(eol.astype(np.int64), starts) == height):
        return None  # wrong row count somewhere
    run = ~esc
    grow = np.cumsum(eol) - eol  # EOLs strictly before each pair = global row id
    run_idx = np.flatnonzero(run)
    if run_idx.size == 0:
        return None  # all-empty rows: loop decoder (zero fill) is authoritative
    chunk_of_run = np.searchsorted(ends, run_idx)
    run_rows = grow[run_idx]
    if np.any(run_rows >= (chunk_of_run + 1) * height):
        return None  # run after its chunk's last EOL
    rowsum = np.bincount(run_rows, weights=c[run_idx], minlength=n * height)
    if not np.all(rowsum == width):
        return None  # short or overfull row (incl. zero-fill semantics)
    px = np.repeat(v[run_idx], c[run_idx])  # stream order = bottom-up rows
    ab = px.reshape(n, height, width)[:, ::-1, :].tobytes()
    fs = width * height
    return [ab[i * fs : (i + 1) * fs] for i in range(n)]


def encode_avi(
    frames: list[bytes],
    width: int,
    height: int,
    fps_rate: int = 8,
    fps_scale: int = 1,
    codec: str = "dib",
) -> bytes:
    """Build a spec-compliant AVI from top-down grayscale frames
    (``width*height`` bytes each). ``codec='dib'`` stores bottom-up
    8-bpp palettized DIBs in ``00db`` chunks; ``codec='rle8'`` stores
    REAL MS-RLE8 (BI_RLE8 / 'mrle') compressed frames in ``00dc``
    chunks — a registered lossless video codec, so the engine's
    "compressed video" path is an actual compression format, not a
    stub. ``idx1`` offsets are relative to the ``movi`` fourcc (first
    chunk at offset 4), the convention VfW writers use."""
    stride = (width + 3) & ~3
    frame_sz = stride * height
    rle = codec == "rle8"
    assert codec in ("dib", "rle8"), codec

    def dib(frame: bytes) -> bytes:
        assert len(frame) == width * height, (len(frame), width, height)
        rows = []
        for r in range(height - 1, -1, -1):  # bottom-up
            rows.append(frame[r * width : (r + 1) * width].ljust(stride, b"\x00"))
        return b"".join(rows)

    usec_per_frame = 1_000_000 * fps_scale // fps_rate
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        usec_per_frame,
        frame_sz * fps_rate // fps_scale,  # max bytes/sec
        0,
        _AVIF_HASINDEX,
        len(frames),
        0,
        1,  # one stream
        frame_sz,
        width,
        height,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"mrle" if rle else b"DIB ", 0, 0, 0, 0,
        fps_scale, fps_rate, 0, len(frames), frame_sz, 0, 0,
        0, 0, width, height,
    )
    palette = b"".join(struct.pack("<BBBB", g, g, g, 0) for g in range(256))
    strf = (
        struct.pack(
            "<IiiHHIIiiII",
            40, width, height, 1, 8,
            _BI_RLE8 if rle else _BI_RGB,
            frame_sz, 2835, 2835, 256, 0,
        )
        + palette
    )
    hdrl = riff_list(
        b"hdrl",
        riff_chunk(b"avih", avih),
        riff_list(b"strl", riff_chunk(b"strh", strh), riff_chunk(b"strf", strf)),
    )
    fourcc = b"00dc" if rle else b"00db"
    if rle:
        bodies = _rle8_encode_many(frames, width, height) or [
            rle8_encode(f, width, height) for f in frames
        ]
    else:
        bodies = [dib(f) for f in frames]
    chunks = [riff_chunk(fourcc, body) for body in bodies]
    idx_entries, off = [], 4  # first chunk 4 bytes past 'movi'
    for body, chunk in zip(bodies, chunks):
        idx_entries.append(struct.pack("<4sIII", fourcc, _AVIIF_KEYFRAME, off, len(body)))
        off += len(chunk)
    return riff_file(
        b"AVI ", hdrl, riff_list(b"movi", *chunks), riff_chunk(b"idx1", b"".join(idx_entries))
    )


def parse_avi(blob: bytes) -> dict:
    """Parse an AVI back: validates the RIFF/'AVI ' magic, reads avih
    and the vids strh/strf headers, walks the movi list for the frame
    chunks — uncompressed bottom-up DIBs in ``00db`` (BI_RGB) or REAL
    MS-RLE8 compressed frames in ``00dc`` (BI_RLE8 / 'mrle', decoded
    with the full four-mode ``rle8_decode``) — and cross-checks every
    idx1 entry's offset/size against the chunks actually found: a
    header, stride, index, or run-length bug raises instead of
    silently yielding garbage pixels. Returns ``{width, height,
    fps_rate, fps_scale, n_frames, codec, frames}`` with frames as
    top-down ``width*height`` grayscale bytes."""
    assert riff_form_type(blob) == b"AVI ", blob[:12]
    meta: dict = {}
    chunks: list[tuple[int, bytes]] = []  # (offset rel to movi fourcc, frame body)
    idx: list[tuple[int, int]] = []

    def walk(pos: int, end: int, in_movi: bool, movi_base: int) -> None:
        for cid, body_at, sz in riff_walk(blob, pos, end):
            if cid == b"LIST":
                ltype = blob[body_at : body_at + 4]
                walk(
                    body_at + 4,
                    body_at + sz,
                    ltype == b"movi",
                    body_at if ltype == b"movi" else movi_base,
                )
            elif cid == b"avih":
                a = struct.unpack_from("<14I", blob, body_at)
                meta.update(n_frames=a[4], width=a[8], height=a[9])
                assert a[3] & _AVIF_HASINDEX and a[6] == 1, a
            elif cid == b"strh":
                s = struct.unpack_from("<4s4sIHHIIIII", blob, body_at)
                assert s[0] == b"vids" and s[1] in (b"DIB ", b"mrle"), s
                meta.update(fps_scale=s[6], fps_rate=s[7])
                meta["codec"] = "rle8" if s[1] == b"mrle" else "dib"
                assert s[9] == meta.get("n_frames"), (s[9], meta)
            elif cid == b"strf":
                b = struct.unpack_from("<IiiHHI", blob, body_at)
                assert b[0] == 40 and b[3] == 1 and b[4] == 8, b
                assert b[5] == (_BI_RLE8 if meta.get("codec") == "rle8" else _BI_RGB), b
                assert (b[1], b[2]) == (meta["width"], meta["height"]), b
            elif cid in (b"00db", b"00dc") and in_movi:
                assert (cid == b"00dc") == (meta.get("codec") == "rle8"), cid
                chunks.append((body_at - 8 - movi_base, blob[body_at : body_at + sz]))
            elif cid == b"idx1":
                want = b"00dc" if meta.get("codec") == "rle8" else b"00db"
                for i in range(0, sz, 16):
                    e = struct.unpack_from("<4sIII", blob, body_at + i)
                    assert e[0] == want and e[1] == _AVIIF_KEYFRAME, e
                    idx.append((e[2], e[3]))

    walk(12, len(blob), False, -1)
    w, h = meta["width"], meta["height"]
    stride = (w + 3) & ~3
    assert len(chunks) == meta["n_frames"] == len(idx), (len(chunks), meta, len(idx))
    assert [(o, len(d)) for o, d in chunks] == idx, "idx1 disagrees with movi"
    frames = []
    if meta.get("codec") == "rle8" and chunks:
        fast = _rle8_decode_many([body for _, body in chunks], w, h)
        if fast is not None:
            frames = fast
    if not frames:
        for _, body in chunks:
            if meta.get("codec") == "rle8":
                frames.append(rle8_decode(body, w, h))
            else:
                assert len(body) == stride * h, (len(body), stride, h)
                frames.append(
                    b"".join(body[r * stride : r * stride + w] for r in range(h - 1, -1, -1))
                )
    meta["frames"] = frames
    meta["frame_bytes"] = [len(body) for _, body in chunks]
    return meta


AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame_ms", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def _sampled_avi_frames(blob: bytes, every_n: int) -> Iterator[tuple]:
    """``(frame_no, frame_ms, n_frames, duration_ms, frame)`` for every
    ``every_n``-th frame of an AVI (``parse_avi``) — the one per-row
    sampler ``sample_avi_frames`` and x55 share."""
    v = parse_avi(blob)
    per_ms = 1000 * v["fps_scale"] // v["fps_rate"]
    for i in range(0, v["n_frames"], every_n):
        yield i, i * per_ms, v["n_frames"], v["n_frames"] * per_ms, v["frames"][i]


def sample_avi_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """REAL video frame-sampling: parse each AVI container
    (``parse_avi``), keep every ``every_n``-th frame, fan out one
    OUTPUT row per sampled frame (flatMap-shaped ``map_rows`` — the
    same fan-out contract as ``sample_video_frames``, now with a real
    codec behind it). Downstream queries should prune the ``frame``
    payload before any shuffle; only per-frame features need to cross
    the wire."""

    def _frames(media_id, b):
        if b is not None:
            for sampled in _sampled_avi_frames(b, every_n):
                yield media_id, *sampled

    return map_rows(media.select("media_id", "content"), _frames, AVI_FRAME_SCHEMA)


def pcm_fingerprint(
    pcm: DataFrame,
    id_col: str = "media_id",
    sample_col: str = "samples",
    frame: int = 8,
    bands: int = 4,
    chunk_frames: int = 4,
) -> DataFrame:
    """Haitsma–Kalker-style audio fingerprint (ISMIR 2002, "A Highly
    Robust Audio Fingerprint System") over a centered-PCM int array:
    per frame, ``bands`` contiguous-sample energy bands; each
    fingerprint bit is the sign of the band-energy difference's
    TIME-derivative,

        bit(f, b) = [(E[f][b] − E[f][b+1]) − (E[f−1][b] − E[f−1][b+1]) > 0]

    — the paper's robust sign feature (contiguous-sample bands stand
    in for its Fourier bands: same shape, codec-free). The per-frame
    (bands−1)-bit words pack ``chunk_frames`` at a time into integer
    CHUNKS — the paper's sub-fingerprint lookup unit. All integer
    arithmetic, native array expressions (zero UDFs), one map pass.

    Returns (id, n_frames, chunks: array<bigint>).
    """
    bsz = frame // bands
    bits = bands - 1
    s = sample_col
    # Guard: sequence(0, n-1) with n == 0 yields [0, -1] (descending
    # default step) and the inner lambda then indexes out of bounds —
    # any row shorter than one frame must produce array(), matching
    # DuckDB's empty range(0, 0).
    energies = (
        f"CASE WHEN size({s}) >= {frame} THEN "
        f"transform(sequence(0, size({s}) DIV {frame} - 1), f -> "
        f"transform(sequence(0, {bands - 1}), b -> "
        f"aggregate(slice({s}, {frame} * f + {bsz} * b + 1, {bsz}), "
        f"0L, (a, x) -> a + CAST(x AS BIGINT) * x))) "
        f"ELSE array() END"
    )
    # NB: Spark SQL bracket indexing on arrays is 0-BASED (unlike
    # element_at and DuckDB brackets) — f is the current frame, f-1
    # the previous, bands b / b+1 adjacent.
    word = " + ".join(
        f"(CASE WHEN (_e[f][{b}] - _e[f][{b + 1}]) - "
        f"(_e[f - 1][{b}] - _e[f - 1][{b + 1}]) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return (
        pcm.select(
            id_col,
            F.expr(energies).alias("_e"),
        )
        .select(
            id_col,
            F.size("_e").cast("long").alias("n_frames"),
            F.expr(
                f"CASE WHEN size(_e) >= 2 THEN "
                f"transform(sequence(1, size(_e) - 1), f -> {word}) "
                f"ELSE array() END"
            ).alias("_v"),
        )
        .select(
            id_col,
            "n_frames",
            F.expr(
                f"CASE WHEN size(_v) >= {chunk_frames} THEN "
                f"transform(sequence(0, size(_v) DIV {chunk_frames} - 1), c -> "
                f"aggregate(sequence(0, {chunk_frames - 1}), 0L, "
                f"(a, k) -> a + shiftleft(CAST(_v[c * {chunk_frames} + k] AS BIGINT), {bits} * k))) "
                f"ELSE array() END"
            ).alias("chunks"),
        )
        # NO trailing filter on the computed column: PushDownPredicate
        # substitutes aliases with no cost check, so filter(size(chunks)
        # >= 1) here inlines the ENTIRE _e -> _v -> chunks chain into
        # one Filter condition — an exponentially blown-up expression
        # evaluated on the interpreted higher-order path (the round-4
        # x75 hang). Rows with fewer than frame*chunk_frames samples
        # keep an empty chunks array; explode-based consumers drop
        # them for free, others filter after a barrier.
    )


def fingerprint_match_pairs(
    fps: DataFrame,
    max_hamming: int = 4,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate audio matching over ``pcm_fingerprint`` output:
    candidate pairs share at least one (position, chunk) — the
    Haitsma–Kalker sub-fingerprint block lookup, so matching is a
    bucketed equi-join, never all-pairs — then verify by FULL Hamming
    distance over the aligned chunk arrays (bit_count of xor, summed),
    keeping pairs with distance <= ``max_hamming``. Same-length
    fingerprints only (a re-encode preserves duration); a true match
    that flips bits in EVERY chunk is missed — the paper's documented
    lookup-miss mode, mitigated by more chunks (pigeonhole: <=
    max_hamming bit flips can dirty at most max_hamming chunks, so
    any fingerprint with more chunks than that is guaranteed found).

    Scale: the exploded (pos, chunk) join hits only colliding blocks
    (the 100 TB layout keys the fingerprint store by chunk value);
    the verify join retrieves two k-chunk arrays per candidate pair.
    """
    # Materialize the fingerprint store once (lazy local checkpoint)
    # before matching. Three consumers branch off fps (two explode
    # sides + the array re-attach), so without a barrier the whole
    # fingerprint chain is recomputed per branch — and worse, the
    # optimizer's InferFiltersFromGenerate inserts size(chunks) > 0
    # below the explode and PushDownPredicate substitutes the chain
    # into it all the way to the scan: an exponentially inlined
    # (~250 copies of the sample-extraction expr) interpreted Filter
    # that hung round 4's bench. At production scale this checkpoint
    # IS the fingerprint store you'd key by chunk value; at query
    # scale it is a few longs per media row.
    fps = fps.localCheckpoint(eager=False)
    # Candidate generation on BARE (id, pos, chunk) rows — the full
    # chunk arrays are re-attached only AFTER the pair distinct.
    # Carrying both arrays through the explode+join+distinct (round-4
    # shape) made every colliding block copy two arrays and made
    # DISTINCT group on array values; with 12-bit sub-fingerprints
    # over skewed text energy that went near-quadratic (BENCH_r04
    # rc=124). Join keys must be EXPLODE OUTPUTS or scan columns only:
    # a computed key like size(chunks) makes InferFiltersFromConstraints
    # push isnotnull(<computed>) below every Project with full alias
    # substitution — a ~100 KB interpreted Filter expression at the
    # scan, re-deriving the whole fingerprint chain per row per
    # reference (the other half of the round-4 hang). The equal-length
    # requirement is enforced after re-attach instead, where the
    # predicate spans both join sides and cannot be pushed.
    flat = fps.select(
        F.col(id_col).alias("_id"),
        F.posexplode("chunks").alias("_pos", "_chunk"),
    )
    cand = (
        flat.select(F.col("_id").alias("id_a"), "_pos", "_chunk")
        .join(
            flat.select(F.col("_id").alias("id_b"), "_pos", "_chunk"),
            ["_pos", "_chunk"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    arrs = fps.select(F.col(id_col).alias("_rid"), F.col("chunks").alias("_c"))
    ham = F.expr(
        "aggregate(zip_with(_ca, _cb, (x, y) -> bit_count(x ^ y)), 0, (a, x) -> a + x)"
    )
    return (
        cand.join(arrs.select(F.col("_rid").alias("id_a"), F.col("_c").alias("_ca")), "id_a")
        .join(arrs.select(F.col("_rid").alias("id_b"), F.col("_c").alias("_cb")), "id_b")
        .filter(F.size("_ca") == F.size("_cb"))
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM audio (WAVE_FORMAT_IMA_ADPCM, wFormatTag 0x11) — a REAL
# compressed audio codec per the public IMA Digital Audio spec (the
# 4-bit code, 89-entry step table, and index-adjust table are the
# standard ones; the same algorithm ships in RFC 3551 / every VfW
# "Microsoft IMA ADPCM" WAV). 4:1 compression of PCM16. Transform
# codecs (mp3 etc.) stay out of scope; run-length (video) + ADPCM
# (audio) are the honest compressed-codec classes this engine decodes
# for real.
# ---------------------------------------------------------------------------

_IMA_INDEX_ADJUST = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_ADPCM_BLOCK_ALIGN = 256  # bytes -> (256-4)*2+1 = 505 samples per block
_ADPCM_SAMPLES_PER_BLOCK = (_ADPCM_BLOCK_ALIGN - 4) * 2 + 1


def _ima_step(predictor: int, index: int, code: int) -> tuple[int, int]:
    """One IMA reconstruction step (shared by encoder and decoder —
    the encoder tracks the decoder's state exactly, which is what
    makes the scheme self-synchronizing)."""
    step = _IMA_STEPS[index]
    vpdiff = step >> 3
    if code & 4:
        vpdiff += step
    if code & 2:
        vpdiff += step >> 1
    if code & 1:
        vpdiff += step >> 2
    predictor = predictor - vpdiff if code & 8 else predictor + vpdiff
    predictor = max(-32768, min(32767, predictor))
    index = max(0, min(88, index + _IMA_INDEX_ADJUST[code & 7]))
    return predictor, index


def _adpcm_encode_block_ex(samples: list[int], index: int = 0) -> tuple[bytes, int]:
    """Encode one block (<= _ADPCM_SAMPLES_PER_BLOCK PCM16 samples):
    4-byte header (predictor int16 = sample 0 stored EXACTLY, step
    index, reserved 0) + one 4-bit code per remaining sample, low
    nibble first, zero-padded to the block's nibble capacity.

    Returns ``(block_bytes, end_index)`` — the encoder tracks the
    decoder's state exactly (that is what makes IMA
    self-synchronizing), so the end-of-block step index is already
    here; r11 exposes it so ``encode_wav_adpcm`` no longer re-DECODES
    every block (505 extra state steps per block) just to recover it.
    The inner loop inlines ``_ima_step`` (integer-identical by
    construction; the shared function stays as the reference the unit
    vectors pin) with the tables bound to locals — the per-sample
    call overhead was the hottest line in x79's profile (guide §4.4).
    """
    steps = _IMA_STEPS
    adjust = _IMA_INDEX_ADJUST
    predictor = samples[0]
    out = bytearray(struct.pack("<hBB", predictor, index, 0))
    nibbles: list[int] = []
    append = nibbles.append
    for s in samples[1:]:
        step = steps[index]
        diff = s - predictor
        code = 8 if diff < 0 else 0
        diff = abs(diff)
        if diff >= step:
            code |= 4
            diff -= step
        half = step >> 1
        if diff >= half:
            code |= 2
            diff -= half
        if diff >= step >> 2:
            code |= 1
        # _ima_step inlined
        vpdiff = step >> 3
        if code & 4:
            vpdiff += step
        if code & 2:
            vpdiff += half
        if code & 1:
            vpdiff += step >> 2
        predictor = predictor - vpdiff if code & 8 else predictor + vpdiff
        if predictor > 32767:
            predictor = 32767
        elif predictor < -32768:
            predictor = -32768
        index += adjust[code & 7]
        if index < 0:
            index = 0
        elif index > 88:
            index = 88
        append(code)
    cap = (_ADPCM_BLOCK_ALIGN - 4) * 2
    nibbles += [0] * (cap - len(nibbles))
    for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
        out.append(lo | (hi << 4))
    return bytes(out), index


def adpcm_encode_block(samples: list[int], index: int = 0) -> bytes:
    """Public single-block encode (bytes only); see
    ``_adpcm_encode_block_ex`` for the state-returning form."""
    return _adpcm_encode_block_ex(samples, index)[0]


def encode_wav_adpcm(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Pack PCM16 samples into a spec-compliant IMA-ADPCM WAV:
    RIFF/WAVE, fmt chunk with wFormatTag=0x11 + the cbSize=2
    wSamplesPerBlock extension, a fact chunk carrying the TRUE sample
    count (mandatory for compressed formats), and a data chunk of
    fixed-align blocks. ~4:1 vs PCM16."""
    blocks = []
    index = 0
    for i in range(0, len(samples), _ADPCM_SAMPLES_PER_BLOCK):
        chunk = samples[i : i + _ADPCM_SAMPLES_PER_BLOCK]
        # carry the ADAPTED (end-of-block) step index into the next
        # block header. r11: taken from the encoder's own state track
        # (bit-identical to a decoder replay — the encoder steps the
        # same (predictor, index) machine on the same codes; pinned by
        # test_adpcm_encoder_end_index_matches_decoder_replay) instead
        # of re-decoding the block, which doubled encode cost. Blocks
        # stay independently decodable: each header stores its start
        # state.
        block, index = _adpcm_encode_block_ex(chunk, index)
        blocks.append(block)
    byte_rate = sample_rate * _ADPCM_BLOCK_ALIGN // _ADPCM_SAMPLES_PER_BLOCK
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate, byte_rate,
        _ADPCM_BLOCK_ALIGN, 4, 2, _ADPCM_SAMPLES_PER_BLOCK,
    )
    return riff_file(
        b"WAVE",
        riff_chunk(b"fmt ", fmt),
        riff_chunk(b"fact", struct.pack("<I", len(samples))),
        riff_chunk(b"data", b"".join(blocks)),
    )


def adpcm_decode_block(block: bytes, n_samples: int) -> tuple[list[int], int]:
    """Decode one block; returns (samples, end index state).

    ``n_samples`` must be >= 1: the block header itself carries the
    first sample (the predictor), so "decode zero samples of a block"
    is not a meaningful request. On a WELL-FORMED file
    (``parse_wav_adpcm``) every take is >= 1 — ``remaining`` hits 0
    only at a block boundary, where the loop breaks before the next
    call; a MALFORMED file (fact n_samples=0 with a non-empty data
    chunk) now fails here with a clear message instead of falling
    through to the length assert. Raising states the contract
    explicitly (ADVICE r11: the old behavior for n_samples=0 was
    incidental — ~503 garbage padding samples before r11, a single
    [predictor] row after).

    r11: the per-sample ``_ima_step`` call is inlined with the tables
    bound to locals (integer-identical; the shared function remains
    the unit-vector reference) and the nibble fan-out only expands the
    bytes actually consumed — same per-sample cost discipline as the
    encoder (guide §4.4)."""
    if n_samples < 1:
        raise ValueError(
            f"adpcm_decode_block: n_samples must be >= 1, got {n_samples} "
            "(the block header carries the first sample)"
        )
    steps = _IMA_STEPS
    adjust = _IMA_INDEX_ADJUST
    predictor, index, _ = struct.unpack_from("<hBB", block, 0)
    out = [predictor]
    append = out.append
    nb = n_samples - 1
    nibbles: list[int] = []
    nap = nibbles.append
    for byte in block[4 : 4 + (nb + 1) // 2]:
        nap(byte & 0xF)
        nap(byte >> 4)
    for code in nibbles[:nb]:
        # _ima_step inlined
        step = steps[index]
        vpdiff = step >> 3
        if code & 4:
            vpdiff += step
        if code & 2:
            vpdiff += step >> 1
        if code & 1:
            vpdiff += step >> 2
        predictor = predictor - vpdiff if code & 8 else predictor + vpdiff
        if predictor > 32767:
            predictor = 32767
        elif predictor < -32768:
            predictor = -32768
        index += adjust[code & 7]
        if index < 0:
            index = 0
        elif index > 88:
            index = 88
        append(predictor)
    return out, index


def parse_wav_adpcm(blob: bytes) -> dict:
    """Parse + fully DECODE an IMA-ADPCM WAV: validates RIFF/WAVE,
    reads the 0x11 fmt (+extension), takes the true length from fact,
    walks the fixed-align data blocks through the four-table IMA state
    machine. Returns {sample_rate, n_samples, samples}."""
    assert riff_form_type(blob) == b"WAVE", blob[:12]
    fmt = n_samples = data = None
    for cid, at, sz in riff_walk(blob):
        body = blob[at : at + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHHHH", body, 0)
            assert fmt[0] == 0x11 and fmt[1] == 1 and fmt[5] == 4, fmt
            assert fmt[4] == _ADPCM_BLOCK_ALIGN and fmt[7] == _ADPCM_SAMPLES_PER_BLOCK, fmt
        elif cid == b"fact":
            (n_samples,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
    assert fmt is not None and n_samples is not None and data is not None
    samples: list[int] = []
    remaining = n_samples
    for off in range(0, len(data), _ADPCM_BLOCK_ALIGN):
        take = min(remaining, _ADPCM_SAMPLES_PER_BLOCK)
        block_samples, _ = adpcm_decode_block(data[off : off + _ADPCM_BLOCK_ALIGN], take)
        samples.extend(block_samples)
        remaining -= take
        if remaining == 0:
            break
    assert len(samples) == n_samples, (len(samples), n_samples)
    return {
        "sample_rate": fmt[2],
        "n_samples": n_samples,
        "samples": samples,
        "data_bytes": len(data),
    }
