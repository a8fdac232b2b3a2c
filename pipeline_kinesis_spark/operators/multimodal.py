"""Multimodal column plumbing (SURVEY.md §2C C5).

Media (image/audio/video) are opaque ``binary`` payloads + typed metadata
structs. The Spark-side plumbing — schema, partition-aware batch iteration,
Arrow-batched mapInPandas signatures — is real and tested, and
``decode_media`` REALLY decodes PPM P6, 24-bit BMP, PCM16 WAV — and,
since r06, the COMPRESSED formats: 8-bit PNG (stdlib zlib inflate +
all five spec filters unapplied in numpy), GIF (variable-width LZW
implemented from the spec), G.711 companded and IMA ADPCM audio
(u-law/A-law/fmt-0x11 WAV), plus the full transform codec JPEG — both
baseline (SOF0) and, since r07, PROGRESSIVE (SOF2: spectral selection,
successive approximation with DC/AC refinement scans and EOB runs, per
ITU-T T.81 G) — generic-DHT Huffman, dequantize, vectorized IDCT,
chroma upsampling, no codec libraries involved. r07 also adds the two
fully-algorithmic archival formats: FLAC (Rice residuals, fixed + LPC
predictors, stereo decorrelation, CRC/MD5 — ``flac.py``) and baseline
TIFF (strips, PackBits/TIFF-LZW/Deflate, predictor 2, both byte orders
— ``tiff.py``). Only MP3/H.264 (MDCT / motion compensation) stay
behind ``NotImplementedError`` — their big constant tables (Huffman /
synthesis windows) can't be derived from the spec text alone — with a
deterministic fake for their plumbing tests. Video is REAL via MJPEG
AVI (``avi.py``: RIFF container walk + per-frame in-repo JPEG decode),
the standard capture-pipeline fallback codec.

At 100 TB the pattern is: binary parquet columns, ``mapInPandas`` with
modest ``spark.sql.execution.arrow.maxRecordsPerBatch`` (payloads are big),
and metadata-only predicates pushed to the scan so decode touches only
selected rows.
"""

from __future__ import annotations

import array
import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_kinesis_spark.io import load, spread
from pipeline_kinesis_spark.operators import QuerySpec
from pipeline_kinesis_spark.operators.decode_guard import (
    check_dims,
    foreign_file_guard,
)

# Canonical media-row schema: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType(), True),
                    StructField("n_bytes", LongType(), True),
                    StructField("width", LongType(), True),
                    StructField("height", LongType(), True),
                    StructField("duration_ms", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def decode_media(payload: bytes, mime: str = "") -> object:
    """Decode media containers in pure numpy/stdlib — no codec
    libraries needed: PPM P6 (binary RGB), BMP (24-bit uncompressed
    BI_RGB), WAV (PCM16, G.711 u-law/A-law, IMA ADPCM), FLAC, 8-bit
    PNG (zlib inflate + filter unapply), GIF (spec LZW), baseline TIFF
    (none/PackBits/LZW/Deflate strips), and JPEG — baseline SOF0 and
    progressive SOF2 (T.81 G successive approximation + spectral
    selection). Dispatch is by magic bytes, so the mime hint is
    advisory. Returns an ``(h, w, 3) uint8`` pixel array for images,
    ``(sample_rate, (n, channels) int16 array)`` for audio, and
    ``(fps, (n, h, w, 3) uint8 frames)`` for MJPEG AVI video (each
    frame chunk runs through the in-repo JPEG decoder). MP3/H.264 stay
    environment-gated — cluster deployments plug a real decoder into
    this same dispatch.
    """
    if payload is None:
        raise ValueError("empty payload")
    if payload[:2] == b"P6":
        with foreign_file_guard("PPM"):
            return _decode_ppm(payload)
    if payload[:2] == b"BM":
        with foreign_file_guard("BMP"):
            return _decode_bmp(payload)
    if payload[:8] == _PNG_MAGIC:
        with foreign_file_guard("PNG"):
            return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        with foreign_file_guard("GIF"):
            return _decode_gif(payload)
    if payload[:2] == b"\xff\xd8":
        with foreign_file_guard("JPEG"):
            return _decode_jpeg(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        with foreign_file_guard("WAV"):
            return _decode_wav(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from pipeline_kinesis_spark.operators.avi import decode_avi

        return decode_avi(payload)
    if payload[:4] == b"fLaC":
        from pipeline_kinesis_spark.operators.flac import decode_flac

        return decode_flac(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from pipeline_kinesis_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    raise NotImplementedError(
        f"no pure-numpy decoder for this container (mime={mime!r}); "
        "MP3/H.264 require decoder libraries not present in this "
        "container — use fake_features() for plumbing tests"
    )


# -- PPM (P6): the simplest interchange image format ------------------------


def _ppm_tokens(buf: bytes, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated ASCII integer tokens after the
    magic, skipping ``#`` comments; returns (values, offset past the
    single whitespace byte that terminates the header)."""
    vals: list[int] = []
    i = 2  # past the 2-byte magic
    cur = b""
    while len(vals) < n:
        c = buf[i : i + 1]
        if not c:
            raise ValueError("truncated PPM header")
        if c == b"#":  # comment to end of line
            while buf[i : i + 1] not in (b"\n", b""):
                i += 1
        elif c in b" \t\r\n":
            if cur:
                vals.append(int(cur))
                cur = b""
        else:
            cur += c
        i += 1
    return vals, i


def _decode_ppm(payload: bytes) -> "np.ndarray":
    import numpy as np

    (w, h, maxval), off = _ppm_tokens(payload, 3)
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    need = w * h * 3
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    return raster.reshape(h, w, 3)


def encode_ppm(pixels) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6). Fixture/export helper."""
    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = a.shape
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


# -- BMP: 24-bit uncompressed BI_RGB ----------------------------------------


def _decode_bmp(payload: bytes) -> "np.ndarray":
    import struct

    import numpy as np

    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BI_RGB BMP supported "
            f"(bpp={bpp}, compression={compression})"
        )
    top_down = h < 0
    h = abs(h)
    check_dims("BMP", w, h, 3)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]  # stored bottom-up
    return rows[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(pixels) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BI_RGB BMP."""
    import struct

    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # RGB→BGR, flip
    body = raster.tobytes()
    off = 14 + 40
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + body


# -- PNG: DEFLATE over filtered scanlines (stdlib zlib + numpy) -------------
#
# PNG's "compression" is zlib/DEFLATE over per-row filtered scanlines —
# both pieces are stdlib/numpy territory, so unlike transform codecs
# (JPEG's DCT, MP3's MDCT) a COMPRESSED image format decodes here for
# real: parse chunks, inflate IDAT, unapply the five spec filters.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_COLOR_FOR = {1: 0, 2: 4, 3: 2, 4: 6}  # channels → color type


def _decode_png(payload: bytes) -> "np.ndarray":
    """PNG → (h, w, 3) uint8 RGB, from the spec: gray / RGB /
    gray+alpha / RGBA / PALETTE color types, bit depths 1/2/4/8/16,
    Adam7 INTERLACED or not. Sub and Up filters unapply vectorized
    (per-lane cumsum / row add); Average and Paeth rows fall back to a
    per-byte loop — encoders overwhelmingly emit 0-2 for synthetic
    data, and correctness beats speed on the rare rows. Sub-8-bit
    samples unpack from bit runs and scale to 8-bit (palette indices
    never scale); 16-bit samples keep their high byte (the standard
    16→8 reduction). Gray replicates, alpha drops — same
    normalization as the other image decoders."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    palette = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            check_dims("PNG", w, h, 4)
            valid = {
                0: (1, 2, 4, 8, 16),  # grayscale
                2: (8, 16),  # RGB
                3: (1, 2, 4, 8),  # palette
                4: (8, 16),  # gray+alpha
                6: (8, 16),  # RGBA
            }
            if (
                color not in valid
                or depth not in valid[color]
                or comp != 0
                or filt != 0
                or interlace not in (0, 1)
            ):
                raise NotImplementedError(
                    f"invalid/unsupported PNG (depth={depth}, "
                    f"color={color}, interlace={interlace})"
                )
            ch = 1 if color == 3 else _PNG_CHANNELS[color]
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    if color == 3 and palette is None:
        raise ValueError("palette PNG missing PLTE chunk")
    # Adam7 pass grids (PNG spec 8.2): (row0, col0) starts and
    # (row, col) increments per pass; non-interlaced = one full pass
    if interlace:
        starts = [(0, 0), (0, 4), (4, 0), (0, 2), (2, 0), (0, 1), (1, 0)]
        steps = [(8, 8), (8, 8), (8, 4), (4, 4), (4, 2), (2, 2), (2, 1)]
    else:
        starts, steps = [(0, 0)], [(1, 1)]

    # Deflate-bomb guard (the WAV/IMA pattern, ADVICE r10 #4): the
    # raster walk below consumes a KNOWN byte count — per pass,
    # rows x (1 filter byte + stride) — so cap inflation there
    # instead of letting a few-KB IDAT inflate gigabytes under tiny
    # declared dimensions (check_dims bounds w*h, not the stream).
    # Inflate output beyond the raster was always ignored by the
    # walk; now it is never materialized.
    need_total = 0
    for (row0, col0), (rstep, cstep) in zip(starts, steps):
        pw = (w - col0 + cstep - 1) // cstep
        ph = (h - row0 + rstep - 1) // rstep
        if pw > 0 and ph > 0:
            need_total += ph * ((pw * ch * depth + 7) // 8 + 1)
    dec = zlib.decompressobj()
    raw_stream = dec.decompress(bytes(idat), need_total)
    # The cap dropped the end-of-stream/adler32 validation that plain
    # zlib.decompress performed for streams whose inflate output lands
    # exactly on the raster size (ADVICE r11 #2). Probe ONE more byte
    # (never flush() — a bomb could buffer gigabytes there):
    # - probe empty → the stream claims to end at the raster, so the
    #   trailer must parse (zlib.error surfaces a bad adler32) and eof
    #   must be reached — truncated/corrupt streams dead-letter just
    #   as they did before the bomb guard;
    # - probe non-empty → the inflate output extends past the raster.
    #   Plain decompress always accepted these (the raster walk
    #   ignores the excess) and the r10 bomb test pins that, so keep
    #   the lenient contract WITHOUT materializing the excess. Their
    #   adler32 goes unvalidated by design — checking it would mean
    #   inflating the bomb; that is the documented relaxation.
    if not dec.decompress(dec.unconsumed_tail, 1) and not dec.eof:
        raise ValueError("PNG IDAT stream truncated or corrupt")
    stream = np.frombuffer(raw_stream, dtype=np.uint8)

    out_samples = np.zeros((h, w, ch), dtype=np.uint16)
    off = 0
    for (row0, col0), (rstep, cstep) in zip(starts, steps):
        pw = (w - col0 + cstep - 1) // cstep
        ph = (h - row0 + rstep - 1) // rstep
        if pw == 0 or ph == 0:
            continue
        stride = (pw * ch * depth + 7) // 8
        bpp = max(1, ch * depth // 8)
        need = ph * (stride + 1)
        raw = stream[off : off + need].reshape(ph, stride + 1)
        off += need
        recon = _png_unfilter(raw, stride, bpp)
        samples = _png_rows_to_samples(recon, pw, ch, depth)
        out_samples[
            row0 : row0 + ph * rstep : rstep,
            col0 : col0 + pw * cstep : cstep,
        ] = samples.reshape(ph, pw, ch)

    if color == 3:
        idx = out_samples[:, :, 0].astype(np.int64)
        if idx.max() >= len(palette):
            raise ValueError("palette index out of range")
        return palette[idx]
    if depth == 16:
        px = (out_samples >> 8).astype(np.uint8)  # high byte
    elif depth < 8:
        scale = 255 // ((1 << depth) - 1)
        px = (out_samples * scale).astype(np.uint8)
    else:
        px = out_samples.astype(np.uint8)
    if ch == 1:
        return np.repeat(px, 3, axis=2)
    if ch == 2:  # gray + alpha: replicate gray, drop alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    if ch == 4:
        return px[:, :, :3].copy()
    return px


def _png_unfilter(raw, stride, bpp):
    """Unapply PNG scanline filters over one (sub)image: raw is
    (h, stride+1) with the filter byte leading each row; bpp is the
    byte distance to the left neighbor (1 for sub-byte depths, the
    spec's rule)."""
    import numpy as np

    h = raw.shape[0]
    ftypes = raw[:, 0]
    rows = raw[:, 1:].astype(np.int64)
    recon = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f, row = int(ftypes[y]), rows[y]
        if f == 0:
            cur = row
        elif f == 1 and stride % bpp == 0:
            # Sub: left-neighbor chain = per-lane cumsum
            cur = (
                np.cumsum(row.reshape(stride // bpp, bpp), axis=0)
                .reshape(stride)
                % 256
            )
        elif f == 2:  # Up
            cur = (row + prev) % 256
        elif f in (1, 3, 4):  # sequential left dependency — the scan
            # runs on plain-int lists (numpy scalar indexing costs
            # ~10x more per element than list access in this loop)
            rl = row.tolist()
            pl = prev.tolist()
            out = [0] * stride
            if f == 1:  # Sub (stride not a multiple of bpp)
                for i in range(stride):
                    a = out[i - bpp] if i >= bpp else 0
                    out[i] = (rl[i] + a) & 0xFF
            elif f == 3:  # Average
                for i in range(stride):
                    a = out[i - bpp] if i >= bpp else 0
                    out[i] = (rl[i] + ((a + pl[i]) >> 1)) & 0xFF
            else:  # Paeth
                for i in range(stride):
                    a = out[i - bpp] if i >= bpp else 0
                    b = pl[i]
                    c = pl[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa = p - a
                    if pa < 0:
                        pa = -pa
                    pb = p - b
                    if pb < 0:
                        pb = -pb
                    pc = p - c
                    if pc < 0:
                        pc = -pc
                    out[i] = (
                        rl[i]
                        + (
                            a
                            if pa <= pb and pa <= pc
                            else (b if pb <= pc else c)
                        )
                    ) & 0xFF
            cur = np.asarray(out, dtype=np.int64)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        recon[y] = cur
        prev = cur
    return recon


def _png_rows_to_samples(recon, w, ch, depth):
    """(h, stride) filtered-out bytes → (h, w*ch) samples at the
    stream's native depth (uint16 so 16-bit survives)."""
    import numpy as np

    h = recon.shape[0]
    if depth == 8:
        return recon[:, : w * ch].astype(np.uint16)
    if depth == 16:
        pairs = recon.reshape(h, -1)[:, : w * ch * 2].reshape(
            h, w * ch, 2
        )
        return (
            pairs[:, :, 0].astype(np.uint16) << 8
        ) | pairs[:, :, 1].astype(np.uint16)
    # sub-byte: unpack MSB-first bit runs, regroup to `depth`-bit values
    bits = np.unpackbits(recon, axis=1)
    vals = np.zeros((h, w * ch), dtype=np.uint16)
    for b in range(depth):
        vals = (vals << 1) | bits[
            :, b : w * ch * depth : depth
        ].astype(np.uint16)
    return vals


def encode_png(pixels, filter_type: int = 0) -> bytes:
    """uint8 pixels → 8-bit non-interlaced PNG. Accepts (h, w) gray,
    (h, w, 2) gray+alpha, (h, w, 3) RGB, (h, w, 4) RGBA. filter_type
    applies that spec filter (0-4) to EVERY row, so decoder filter
    coverage is testable per type. Fixture/export helper."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = _PNG_COLOR_FOR[ch]
    rows = a.reshape(h, w * ch).astype(np.int64)
    body = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    zeros = np.zeros(ch, dtype=np.int64)
    for y in range(h):
        cur = rows[y]
        left = np.concatenate([zeros, cur[:-ch]])
        upleft = np.concatenate([zeros, prev[:-ch]])
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = (cur - left) % 256
        elif filter_type == 2:
            filt = (cur - prev) % 256
        elif filter_type == 3:
            filt = (cur - (left + prev) // 2) % 256
        elif filter_type == 4:
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = (cur - pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {filter_type}")
        body.append(filter_type)
        body += filt.astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )


def encode_png_variant(
    samples,
    depth: int = 8,
    color: int = 0,
    palette=None,
    interlaced: bool = False,
) -> bytes:
    """Encoder twin for the PNG edge variants the decoder covers:
    sub-8-bit grayscale (depth 1/2/4), 16-bit gray/RGB, PALETTE
    (color=3, `samples` are indices, `palette` is (n, 3) uint8), and
    Adam7 interlacing — all with filter type 0 scanlines (filter-type
    coverage lives in encode_png's 8-bit cycling). `samples` is
    (h, w) for 1-channel types or (h, w, 3) for RGB, holding values at
    the target depth."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(samples, dtype=np.uint16)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if color == 3:
        assert palette is not None and depth in (1, 2, 4, 8)
    elif color == 0:
        assert depth in (1, 2, 4, 8, 16)
    elif color == 2:
        assert depth == 16 and ch == 3
    else:
        raise ValueError("variant encoder covers color 0/2/3")

    if interlaced:
        starts = [(0, 0), (0, 4), (4, 0), (0, 2), (2, 0), (0, 1), (1, 0)]
        steps = [(8, 8), (8, 8), (8, 4), (4, 4), (4, 2), (2, 2), (2, 1)]
    else:
        starts, steps = [(0, 0)], [(1, 1)]

    body = bytearray()
    for (row0, col0), (rstep, cstep) in zip(starts, steps):
        sub = a[row0::rstep, col0::cstep]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        flat = sub.reshape(ph, pw * ch)
        for y in range(ph):
            body.append(0)  # filter type 0
            row = flat[y]
            if depth == 16:
                be = np.zeros(pw * ch * 2, dtype=np.uint8)
                be[0::2] = row >> 8
                be[1::2] = row & 0xFF
                body += be.tobytes()
            elif depth == 8:
                body += row.astype(np.uint8).tobytes()
            else:
                bits = np.zeros(pw * ch * depth, dtype=np.uint8)
                for b in range(depth):
                    bits[b::depth] = (row >> (depth - 1 - b)) & 1
                body += np.packbits(bits).tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlaced else 0
    )
    out = _PNG_MAGIC + chunk(b"IHDR", ihdr)
    if color == 3:
        out += chunk(
            b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes()
        )
    return (
        out
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )


# -- JPEG: baseline DCT (SOF0), pure numpy ----------------------------------
#
# The full transform-codec pipeline implemented from ITU-T T.81: marker
# parse, generic DHT Huffman decode (ANY tables — nothing transcribed
# from Annex K), dequantize, inverse zigzag, vectorized 8x8 IDCT
# (matrix form, einsum over all blocks at once), chroma upsampling,
# YCbCr→RGB. Baseline sequential only (SOF0, 8-bit, 4:4:4 / 4:2:0 /
# 4:2:2, restart markers honored). Progressive (SOF2) decodes too:
# _decode_progressive_scan accumulates each scan's spectral band at
# its successive-approximation stage into shared coefficient planes
# (T.81 G.2), finalized by the same IDCT/color tail.


def _zigzag_order() -> list[tuple[int, int]]:
    """The spec's zigzag scan, generated (not transcribed): diagonals
    d=i+j in order; odd diagonals run top→down (i ascending), even
    ones bottom→up."""
    return sorted(
        ((i, j) for i in range(8) for j in range(8)),
        key=lambda p: (
            p[0] + p[1],
            p[0] if (p[0] + p[1]) % 2 else -p[0],
        ),
    )


def _dct_matrix():
    import numpy as np

    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2 / 8)
    c[0] = np.sqrt(1 / 8)
    return c


# standard Annex-K-shaped flat quality tables are NOT required for
# correctness (tables travel in DQT); a mild uniform table keeps the
# encoder twin simple and the round-trip error small
_JPEG_QTABLE_LUMA = 8
_JPEG_QTABLE_CHROMA = 12


class _RestartMarker(Exception):
    def __init__(self, code: int) -> None:
        self.code = code


def _entropy_segment(d: bytes, pos: int):
    """One marker-free entropy-coded segment starting at `pos`,
    byte-unstuffed (F.1.2.3: 0xFF in entropy data is always followed
    by a stuffed 0x00). Returns (unstuffed bytes, terminator marker
    byte or -1 at EOF, index of the terminator's 0xFF). Splitting
    once up front lets the scan hot loop refill its accumulator four
    bytes at a time with `int.from_bytes` instead of a per-byte
    0xFF-test walk."""
    size = len(d)
    p = pos
    while True:
        q = d.find(b"\xff", p)
        if q == -1 or q + 1 >= size:
            # trailing lone 0xFF (if any) is never entropy data: the
            # old reader stopped before consuming it, so exclude it
            end = size if q == -1 else q
            return d[pos:end].replace(b"\xff\x00", b"\xff"), -1, size
        if d[q + 1] == 0x00:
            p = q + 2
            continue
        return d[pos:q].replace(b"\xff\x00", b"\xff"), d[q + 1], q


_HUFF_LUT_CACHE: dict = {}


def _build_huff_decoder(bits: list[int], vals: list[int], is_dc: bool = False):
    """16-bit lookup tables from a DHT's BITS/HUFFVAL lists (canonical
    code assignment, T.81 C.2): a code of length L at canonical value
    c owns every 16-bit word whose top L bits equal c, so one
    16-bit peek + two byte-table reads decode any symbol. (sym, len) as
    Python bytes — the fastest random-access container here; length 0
    marks a hole in the canonical code space (invalid code).

    Two extra COMBINED tables fold the amplitude that follows the
    code into the same 16-bit window (F.2.2.1: a code is followed by
    `size` raw magnitude bits): `tot[idx]` = code length + size when
    the whole pair fits in 16 bits (0 = take the two-step slow path),
    `val[idx]` = the fully EXTENDed signed amplitude (DC: size is the
    symbol itself; AC: size = sym & 0xF). One lookup then replaces
    code decode + amplitude extraction + EXTEND in the scan hot loop.
    Tables are cached by their DHT bytes — encoders overwhelmingly
    ship the K.3 standard tables, so a corpus decode builds them
    once."""
    key = (bytes(bits), bytes(vals), is_dc)
    hit = _HUFF_LUT_CACHE.get(key)
    if hit is not None:
        return hit
    # T.81 C.2 validity: the canonical code space must fit 16 bits and
    # HUFFVAL must cover every declared code. Without this, a hostile
    # DHT (e.g. BITS all 255) drives `lo` past the 64 KiB table and the
    # bytearray slice-assign below silently RESIZES instead of writing
    # in place — each straddling assign memmoves the whole (growing)
    # table, a CPU bomb measured at ~53 s for one 2.5 KB payload
    # (decoder fuzz r13, seed 130816 avi/36/40).
    if sum(bits) > len(vals):
        raise ValueError("invalid DHT: BITS declares more codes than HUFFVAL")
    if sum(n << (16 - length) for length, n in enumerate(bits, 1)) > (1 << 16):
        raise ValueError("invalid DHT: canonical code space overflows 16 bits")
    import numpy as np

    sym = bytearray(1 << 16)
    ln = bytearray(1 << 16)
    code = 0
    i = 0
    for length in range(1, 17):
        span = 1 << (16 - length)
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            sym[lo : lo + span] = vals[i].to_bytes(1, "big") * span
            ln[lo : lo + span] = length.to_bytes(1, "big") * span
            code += 1
            i += 1
        code <<= 1
    sym_a = np.frombuffer(bytes(sym), dtype=np.uint8).astype(np.int64)
    len_a = np.frombuffer(bytes(ln), dtype=np.uint8).astype(np.int64)
    size = sym_a if is_dc else (sym_a & 0x0F)
    tot = len_a + size
    ok = (len_a > 0) & (tot <= 16)
    idx = np.arange(1 << 16, dtype=np.int64)
    shift = np.maximum(16 - tot, 0)
    size_safe = np.maximum(size, 1)
    full = np.left_shift(1, size_safe)
    half = np.left_shift(1, size_safe - 1)
    amp = (idx >> shift) & (full - 1)
    val = np.where(amp >= half, amp, amp - full + 1)
    val = np.where((size == 0) | ~ok, 0, val)
    # array('i'), not a list: 65536 Python ints cost MBs per table and
    # up to 64 cached entries would hold 100-250 MB per executor
    # process; array stores them in 256 KB with the same O(1) int
    # indexing in the scan hot loop.
    out = (
        bytes(sym),
        bytes(ln),
        np.where(ok, tot, 0).astype(np.uint8).tobytes(),
        array.array("i", val.astype(np.int32)),
    )
    # evict oldest-first (dict preserves insertion order), not clear():
    # an adversarial corpus with unique per-image DHTs must not thrash
    # the hot K.3 standard tables every 64th build
    if len(_HUFF_LUT_CACHE) >= 64:
        _HUFF_LUT_CACHE.pop(next(iter(_HUFF_LUT_CACHE)))
    _HUFF_LUT_CACHE[key] = out
    return out


def _decode_jpeg(payload: bytes) -> "np.ndarray":
    """Baseline sequential (SOF0) or progressive (SOF2) JPEG →
    (h, w, 3) uint8 RGB."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, "np.ndarray"] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    comps: list[dict] = []
    h = w = None
    restart_interval = 0
    progressive = False
    # progressive state, shared across the frame's many scans
    prog_planes: dict[int, "np.ndarray"] | None = None
    prog_pred: dict[int, int] = {}
    zz = _zigzag_order()
    while pos < len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01, 0x00) or 0xD0 <= marker <= 0xD7:
            # 0x00 = byte-stuffing remnant after an entropy segment
            continue
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (Pq=0: 8-bit entries; Pq=1: 16-bit)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                t = np.zeros((8, 8), dtype=np.int32)
                if pq == 0:
                    for k, (i, j) in enumerate(zz):
                        t[i, j] = seg[p + k]
                    p += 64
                elif pq == 1:
                    for k, (i, j) in enumerate(zz):
                        t[i, j] = (seg[p + 2 * k] << 8) | seg[
                            p + 2 * k + 1
                        ]
                    p += 128
                else:
                    raise ValueError(f"bad DQT precision {pq}")
                qtables[tq] = t
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            _, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            check_dims("JPEG", w, h, 3)
            p = 6
            for _ in range(nc):
                cid, hv, tq = seg[p], seg[p + 1], seg[p + 2]
                comps.append(
                    {
                        "id": cid,
                        "h": hv >> 4,
                        "v": hv & 0x0F,
                        "tq": tq,
                    }
                )
                p += 3
        elif marker in (0xC1, 0xC3):
            raise NotImplementedError(
                "only baseline (SOF0) and progressive (SOF2) JPEG "
                "supported"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = (
                    _build_huff_decoder(bits, vals, is_dc=tc == 0)
                )
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = seg[0]
            scan = []
            for ci in range(ns):
                cid, tables = seg[1 + 2 * ci], seg[2 + 2 * ci]
                comp = next(c for c in comps if c["id"] == cid)
                scan.append(
                    (comp, tables >> 4, tables & 0x0F)
                )
            data_start = pos + seg_len
            if not progressive:
                return _decode_scan(
                    payload,
                    data_start,
                    scan,
                    qtables,
                    huff_dc,
                    huff_ac,
                    h,
                    w,
                    restart_interval,
                )
            # progressive: Ss/Se spectral band, Ah/Al approximation
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if prog_planes is None:
                # coefficient planes live as ZIGZAG-ordered Python int
                # lists (bh × bw × 64) for the whole frame — the
                # successive-approximation scans hit every band
                # position of every block many times, and plain-int
                # list ops are ~10x cheaper than numpy scalar
                # indexing; converted to numpy ONCE at frame end
                # (was: a tolist/asarray round-trip per scan)
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                prog_planes = {
                    c["id"]: [
                        [[0] * 64 for _ in range(mcux * c["h"])]
                        for _ in range(mcuy * c["v"])
                    ]
                    for c in comps
                }
                prog_pred = {c["id"]: 0 for c in comps}
            pos = _decode_progressive_scan(
                payload,
                data_start,
                scan,
                ss,
                se,
                ah,
                al,
                prog_planes,
                prog_pred,
                huff_dc,
                huff_ac,
                restart_interval,
                comps,
                h,
                w,
            )
            continue
        pos += seg_len
    if progressive and prog_planes is not None:
        zzpos = np.array([8 * i + j for i, j in zz])
        np_planes = {}
        for cid, rows in prog_planes.items():
            bh, bw = len(rows), len(rows[0])
            plane = np.zeros((bh, bw, 8, 8), dtype=np.int32)
            plane.reshape(bh, bw, 64)[:, :, zzpos] = np.asarray(
                rows, dtype=np.int32
            )
            np_planes[cid] = plane
        return _finalize_jpeg(np_planes, comps, qtables, h, w)
    raise ValueError("JPEG has no SOS scan")


def _decode_scan(
    payload,
    data_start,
    scan,
    qtables,
    huff_dc,
    huff_ac,
    h,
    w,
    restart_interval,
):
    import numpy as np

    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # per-component coefficient planes (in blocks)
    planes = {}
    for comp, _, _ in scan:
        bw, bh = mcux * comp["h"], mcuy * comp["v"]
        planes[comp["id"]] = np.zeros((bh, bw, 8, 8), dtype=np.int32)
    # flat raster position of each zigzag index: one fancy-indexed
    # store un-zigzags a whole block
    zzpos = np.array([8 * i + j for i, j in _zigzag_order()])
    pred = {comp["id"]: 0 for comp, _, _ in scan}
    n_mcu = mcux * mcuy
    mcu = 0
    # Hot-loop form (r08): the bit-reader state lives in plain locals
    # and the refill / peek16 / Huffman-LUT / EXTEND steps are inlined
    # — the method-call form spent more time on ~5 Python calls per
    # symbol than on the decode itself. r09 on top of that:
    # (1) the entropy stream is split ONCE into marker-free segments
    #     and byte-unstuffed (_entropy_segment), so refill becomes a
    #     multi-byte int.from_bytes with no per-byte 0xFF test;
    # (2) the combined (code+amplitude) LUTs from _build_huff_decoder
    #     resolve code length, run/size AND the EXTENDed amplitude in
    #     one 16-bit lookup when the pair fits 16 bits (the common
    #     case). The two-step path below remains for longer pairs and
    #     for the zero-padded stream tail, with exact
    #     starvation/marker semantics: refill never crosses a
    #     real marker (segments end at markers), peeks past
    #     end-of-bits are zero-padded, starvation raises
    #     _RestartMarker on RSTn / ValueError otherwise.
    d = payload
    acc = nbits = 0
    u, term, term_pos = _entropy_segment(d, data_start)
    upos, ulen = 0, len(u)

    def _starved_inline(m):
        if m is not None and 0xD0 <= m <= 0xD7:
            raise _RestartMarker(m)
        if m is None or m == -1:
            raise ValueError("truncated JPEG entropy data")
        raise ValueError(f"unexpected marker 0xFF{m:02x} in entropy data")

    def _next_restart_segment(start_pos):
        # align_past_restart semantics: scan forward from the current
        # terminator for the next RSTn, resume just past it (drops
        # buffered padding bits; IndexError past EOF matches the old
        # reader's behavior on a truncated tail)
        p = start_pos
        while not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        return _entropy_segment(d, p + 2)

    scan_tabs = [
        (comp, huff_dc[tdc], huff_ac[tac]) for comp, tdc, tac in scan
    ]
    # Decoded blocks are collected per component (zigzag-order int
    # lists + flat block positions) and scattered into the coefficient
    # planes in ONE fancy-indexed store per component at scan end —
    # the per-block reshape+scatter was ~2 numpy calls per block.
    # acc is only truncated at refill entry (extractions mask anyway);
    # between refills it stays < 64 bits, machine-word arithmetic.
    blk_acc: dict = {comp["id"]: [] for comp, _, _ in scan}
    blk_pos: dict = {comp["id"]: [] for comp, _, _ in scan}
    bwidths = {
        comp["id"]: planes[comp["id"]].shape[1] for comp, _, _ in scan
    }
    while mcu < n_mcu:
        try:
            my, mx = divmod(mcu, mcux)
            for comp, dc_t, ac_t in scan_tabs:
                dc_sym, dc_len, dc_tot, dc_val = dc_t
                ac_sym, ac_len, ac_tot, ac_val = ac_t
                cid = comp["id"]
                cv, ch = comp["v"], comp["h"]
                ba, bp, bwc = blk_acc[cid], blk_pos[cid], bwidths[cid]
                for by in range(cv):
                    for bx in range(ch):
                        blk = [0] * 64  # zigzag order; permuted below
                        p = pred[cid]
                        k = 0  # 0 = DC step, then AC from 1
                        while k < 64:
                            # refill to >=32 bits (16-bit code +
                            # 16-bit amplitude covers any symbol
                            # pair), topping the accumulator up to
                            # ~256 bits: Python ints are arbitrary
                            # precision, and one 32-byte from_bytes
                            # amortized over ~20 symbols beats the
                            # extra cost of 4-limb shifts (measured:
                            # 39-bit ceiling 0.80 MB/s/core, 263-bit
                            # 1.23, 519-bit 1.16 — the optimum sits
                            # near 256 bits)
                            if nbits < 32 and upos < ulen:
                                acc &= (1 << nbits) - 1
                                while nbits < 32 and upos < ulen:
                                    take = (263 - nbits) >> 3
                                    if take > ulen - upos:
                                        take = ulen - upos
                                    acc = (
                                        acc << (take << 3)
                                    ) | int.from_bytes(
                                        u[upos : upos + take], "big"
                                    )
                                    upos += take
                                    nbits += take << 3
                            idx = (
                                (acc >> (nbits - 16)) & 0xFFFF
                                if nbits >= 16
                                else ((acc & ((1 << nbits) - 1)) << (16 - nbits))
                                & 0xFFFF
                            )
                            if k == 0:
                                tb = dc_tot[idx]
                                if tb and tb <= nbits:
                                    nbits -= tb
                                    p += dc_val[idx]
                                else:
                                    # two-step path: long code+amp
                                    # pair, invalid code, or the
                                    # zero-padded stream tail
                                    length = dc_len[idx]
                                    if length == 0 or length > nbits:
                                        if nbits < 16:
                                            _starved_inline(
                                                term
                                                if upos >= ulen
                                                else None
                                            )
                                        raise ValueError(
                                            "invalid Huffman code in JPEG"
                                            " stream"
                                        )
                                    nbits -= length
                                    s = dc_sym[idx]
                                    if s:
                                        if nbits < s:
                                            _starved_inline(
                                                term
                                                if upos >= ulen
                                                else None
                                            )
                                        nbits -= s
                                        v = (acc >> nbits) & ((1 << s) - 1)
                                        p += (
                                            v
                                            if v >= 1 << (s - 1)
                                            else v - (1 << s) + 1
                                        )
                                blk[0] = p
                                pred[cid] = p
                                k = 1
                                continue
                            tb = ac_tot[idx]
                            if tb and tb <= nbits:
                                nbits -= tb
                                rs = ac_sym[idx]
                                s = rs & 0x0F
                                if s:
                                    k += rs >> 4
                                    blk[k] = ac_val[idx]
                                    k += 1
                                    continue
                                if rs == 0xF0:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            length = ac_len[idx]
                            if length == 0 or length > nbits:
                                if nbits < 16:
                                    _starved_inline(
                                        term if upos >= ulen else None
                                    )
                                raise ValueError(
                                    "invalid Huffman code in JPEG stream"
                                )
                            nbits -= length
                            rs = ac_sym[idx]
                            s = rs & 0x0F
                            if s == 0:
                                if rs == 0xF0:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if nbits < s:
                                _starved_inline(
                                    term if upos >= ulen else None
                                )
                            nbits -= s
                            v = (acc >> nbits) & ((1 << s) - 1)
                            blk[k] = (
                                v
                                if v >= 1 << (s - 1)
                                else v - (1 << s) + 1
                            )
                            k += 1
                        ba.append(blk)
                        bp.append(
                            (my * cv + by) * bwc + mx * ch + bx
                        )
            mcu += 1
            if (
                restart_interval
                and mcu % restart_interval == 0
                and mcu < n_mcu
            ):
                u, term, term_pos = _next_restart_segment(term_pos)
                upos, ulen = 0, len(u)
                acc = nbits = 0
                pred = {cid: 0 for cid in pred}
        except _RestartMarker:
            # premature restart: resync (decoder robustness)
            u, term, term_pos = _next_restart_segment(term_pos)
            upos, ulen = 0, len(u)
            acc = nbits = 0
            pred = {cid: 0 for cid in pred}
    inv_zz = np.argsort(zzpos)
    for cid, blks in blk_acc.items():
        if not blks:
            continue
        bpos = blk_pos[cid]
        if len(set(bpos)) != len(bpos):
            # restart-resync retries re-emit a block: keep the LAST
            # decode of each position (the original loop's overwrite
            # semantics)
            keep = {q: i for i, q in enumerate(bpos)}
            idxs = sorted(keep.values())
            blks = [blks[i] for i in idxs]
            bpos = [bpos[i] for i in idxs]
        arr = np.asarray(blks, dtype=np.int32)[:, inv_zz]
        planes[cid].reshape(-1, 64)[bpos] = arr
    return _finalize_jpeg(
        planes, [comp for comp, _, _ in scan], qtables, h, w
    )


def _decode_progressive_scan(
    payload,
    data_start,
    scan,
    ss,
    se,
    ah,
    al,
    planes,
    pred,
    huff_dc,
    huff_ac,
    restart_interval,
    comps,
    h,
    w,
):
    """One progressive scan (T.81 G.2): spectral selection [Ss, Se] at
    successive-approximation stage (Ah → Al) accumulated into the
    frame's shared coefficient planes. Four cases: DC first / DC
    refinement (interleaved over MCUs when the scan lists several
    components), AC first / AC refinement (single-component, block
    raster over that component's own grid). Returns the position just
    past the scan's entropy-coded data.

    `planes` holds each component's blocks as ZIGZAG-ordered Python
    int lists (bh × bw × 64, built by the caller, converted to numpy
    once at frame end). The coefficient loops below touch every band
    position of every block (the AC-refinement sweep in particular),
    and plain-int list ops are ~10x cheaper than numpy scalar
    indexing. Zigzag index k IS the list index, so the spec's zigzag
    table disappears from the inner loops entirely."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    eobrun = 0  # per-scan EOB-run state (never crosses scans)
    p1 = 1 << al

    # Segment-based bit state (same scheme as the baseline scan, r09):
    # the entropy stream is split once into marker-free byte-unstuffed
    # segments (_entropy_segment), the accumulator is topped up to
    # ~256 bits in one from_bytes gulp, and the combined
    # (code+amplitude) LUTs resolve most symbols in a single 16-bit
    # lookup. The two AC loops below are the progressive hot path (an
    # AC refinement scan touches every band position of every block);
    # they copy the shared state `st` = [acc, nbits, upos] into plain
    # locals and sync back in try/finally, so the restart-resync path
    # always sees consistent state. Starvation/zero-pad/marker
    # semantics match the baseline scan's: starvation can only occur
    # once the segment is exhausted, so the terminator marker decides
    # _RestartMarker vs ValueError.
    d = payload
    u, term, term_pos = _entropy_segment(d, data_start)
    ulen = len(u)
    st = [0, 0, 0]  # acc, nbits, upos

    def _starved_inline(m):
        if m is not None and 0xD0 <= m <= 0xD7:
            raise _RestartMarker(m)
        if m is None or m == -1:
            raise ValueError("truncated JPEG entropy data")
        raise ValueError(f"unexpected marker 0xFF{m:02x} in entropy data")

    def dc_vals(vals, comp, tdc):
        acc, nbits, upos = st
        try:
            if nbits < 32 and upos < ulen:
                acc &= (1 << nbits) - 1
                while nbits < 32 and upos < ulen:
                    take = (263 - nbits) >> 3
                    if take > ulen - upos:
                        take = ulen - upos
                    acc = (acc << (take << 3)) | int.from_bytes(
                        u[upos : upos + take], "big"
                    )
                    upos += take
                    nbits += take << 3
            if ah == 0:
                idx = (
                    (acc >> (nbits - 16)) & 0xFFFF
                    if nbits >= 16
                    else ((acc & ((1 << nbits) - 1)) << (16 - nbits))
                    & 0xFFFF
                )
                dc_sym, dc_len, dc_tot, dc_val = huff_dc[tdc]
                tb = dc_tot[idx]
                if tb and tb <= nbits:
                    nbits -= tb
                    pred[comp["id"]] += dc_val[idx]
                else:
                    length = dc_len[idx]
                    if length == 0 or length > nbits:
                        if nbits < 16:
                            _starved_inline(term if upos >= ulen else None)
                        raise ValueError(
                            "invalid Huffman code in JPEG stream"
                        )
                    nbits -= length
                    s = dc_sym[idx]
                    if s:
                        if nbits < s:
                            _starved_inline(term if upos >= ulen else None)
                        nbits -= s
                        v = (acc >> nbits) & ((1 << s) - 1)
                        pred[comp["id"]] += (
                            v if v >= 1 << (s - 1) else v - (1 << s) + 1
                        )
                vals[0] = pred[comp["id"]] << al
            else:
                if nbits == 0:
                    _starved_inline(term if upos >= ulen else None)
                nbits -= 1
                if (acc >> nbits) & 1:
                    # DC refinement appends one magnitude bit
                    # (G.1.2.1); OR is the spec's arithmetic on the
                    # two's-complement value
                    vals[0] |= p1
        finally:
            st[0], st[1], st[2] = acc, nbits, upos

    def ac_first_vals(vals, ac_sym, ac_len, ac_tot, ac_val):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        acc, nbits, upos = st
        try:
            k = ss
            while k <= se:
                if nbits < 32 and upos < ulen:
                    acc &= (1 << nbits) - 1
                    while nbits < 32 and upos < ulen:
                        take = (263 - nbits) >> 3
                        if take > ulen - upos:
                            take = ulen - upos
                        acc = (acc << (take << 3)) | int.from_bytes(
                            u[upos : upos + take], "big"
                        )
                        upos += take
                        nbits += take << 3
                idx = (
                    (acc >> (nbits - 16)) & 0xFFFF
                    if nbits >= 16
                    else ((acc & ((1 << nbits) - 1)) << (16 - nbits))
                    & 0xFFFF
                )
                tb = ac_tot[idx]
                if tb and tb <= nbits:
                    nbits -= tb
                    rs = ac_sym[idx]
                    s = rs & 0x0F
                    if s:
                        k += rs >> 4
                        vals[k] = ac_val[idx] << al
                        k += 1
                        continue
                    r = rs >> 4
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        if nbits < r:
                            _starved_inline(term if upos >= ulen else None)
                        nbits -= r
                        eobrun += (acc >> nbits) & ((1 << r) - 1)
                    break  # EOBn: this block (and eobrun more) done
                length = ac_len[idx]
                if length == 0 or length > nbits:
                    if nbits < 16:
                        _starved_inline(term if upos >= ulen else None)
                    raise ValueError("invalid Huffman code in JPEG stream")
                nbits -= length
                rs = ac_sym[idx]
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        if nbits < r:
                            _starved_inline(term if upos >= ulen else None)
                        nbits -= r
                        eobrun += (acc >> nbits) & ((1 << r) - 1)
                    break  # EOBn: this block (and eobrun more) done
                k += r
                if nbits < s:
                    _starved_inline(term if upos >= ulen else None)
                nbits -= s
                v = (acc >> nbits) & ((1 << s) - 1)
                vals[k] = (
                    v if v >= 1 << (s - 1) else v - (1 << s) + 1
                ) << al
                k += 1
        finally:
            st[0], st[1], st[2] = acc, nbits, upos

    def ac_refine_vals(vals, ac_sym, ac_len, ac_tot, ac_val):
        nonlocal eobrun
        k = ss
        acc, nbits, upos = st
        try:
            if eobrun == 0:
                while k <= se:
                    if nbits < 32 and upos < ulen:
                        acc &= (1 << nbits) - 1
                        while nbits < 32 and upos < ulen:
                            take = (263 - nbits) >> 3
                            if take > ulen - upos:
                                take = ulen - upos
                            acc = (acc << (take << 3)) | int.from_bytes(
                                u[upos : upos + take], "big"
                            )
                            upos += take
                            nbits += take << 3
                    idx = (
                        (acc >> (nbits - 16)) & 0xFFFF
                        if nbits >= 16
                        else ((acc & ((1 << nbits) - 1)) << (16 - nbits))
                        & 0xFFFF
                    )
                    rs = ac_sym[idx]
                    r, s = rs >> 4, rs & 0x0F
                    tb = ac_tot[idx]
                    # fast path only for s < 2: a refinement scan
                    # reads exactly ONE sign bit after the code (the
                    # combined LUT's EXTEND of that bit is exactly
                    # ±1), and the two-step path below preserves the
                    # old tolerance of corrupt s >= 2 symbols (one
                    # bit read regardless of s)
                    if tb and tb <= nbits and s < 2:
                        nbits -= tb
                        if s:
                            val = ac_val[idx] << al  # ±2^Al
                        elif r != 15:
                            # NOT the AC-first (1<<r)-1: the block
                            # reading the EOB symbol still owes its
                            # correction-bit sweep, so the run counts
                            # it and decrements AFTER the sweep below
                            # (G.1.2.3)
                            eobrun = 1 << r
                            if r:
                                if nbits < r:
                                    _starved_inline(
                                        term if upos >= ulen else None
                                    )
                                nbits -= r
                                eobrun += (acc >> nbits) & ((1 << r) - 1)
                            break  # remaining coeffs → EOB sweep
                        else:
                            val = 0  # ZRL: skip 16 zero-history coeffs
                    else:
                        length = ac_len[idx]
                        if length == 0 or length > nbits:
                            if nbits < 16:
                                _starved_inline(
                                    term if upos >= ulen else None
                                )
                            raise ValueError(
                                "invalid Huffman code in JPEG stream"
                            )
                        nbits -= length
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    if nbits < r:
                                        _starved_inline(
                                            term if upos >= ulen else None
                                        )
                                    nbits -= r
                                    eobrun += (acc >> nbits) & (
                                        (1 << r) - 1
                                    )
                                break  # remaining coeffs → EOB sweep
                            val = 0  # ZRL
                        else:
                            # s must be 1 in a refinement scan: a
                            # coeff becoming visible at this
                            # precision, ±2^Al
                            if nbits == 0:
                                _starved_inline(
                                    term if upos >= ulen else None
                                )
                            nbits -= 1
                            val = p1 if (acc >> nbits) & 1 else -p1
                    # advance past `r` zero-history coefficients,
                    # emitting correction bits for nonzero ones along
                    # the way (G.1.2.3: grow an already-nonzero
                    # magnitude away from zero when the bit arrives
                    # set and this 2^Al bit is not yet present — the &
                    # works on two's complement because every stored
                    # coefficient is a multiple of 2^Al at this stage)
                    while k <= se:
                        v = vals[k]
                        if v != 0:
                            if nbits == 0:
                                while nbits < 32 and upos < ulen:
                                    take = (263 - nbits) >> 3
                                    if take > ulen - upos:
                                        take = ulen - upos
                                    acc = (
                                        acc << (take << 3)
                                    ) | int.from_bytes(
                                        u[upos : upos + take], "big"
                                    )
                                    upos += take
                                    nbits += take << 3
                                if nbits == 0:
                                    _starved_inline(
                                        term if upos >= ulen else None
                                    )
                                acc &= (1 << nbits) - 1  # stale high bits
                            nbits -= 1
                            if (acc >> nbits) & 1 and not (v & p1):
                                vals[k] = v + (p1 if v > 0 else -p1)
                        else:
                            if r == 0:
                                if val:
                                    vals[k] = val
                                k += 1
                                break
                            r -= 1
                        k += 1
            if eobrun > 0:
                # inside an EOB run: correction bits still arrive for
                # the nonzero coefficients of the remaining band
                while k <= se:
                    v = vals[k]
                    if v != 0:
                        if nbits == 0:
                            while nbits < 32 and upos < ulen:
                                take = (263 - nbits) >> 3
                                if take > ulen - upos:
                                    take = ulen - upos
                                acc = (
                                    acc << (take << 3)
                                ) | int.from_bytes(
                                    u[upos : upos + take], "big"
                                )
                                upos += take
                                nbits += take << 3
                            if nbits == 0:
                                _starved_inline(
                                    term if upos >= ulen else None
                                )
                            acc &= (1 << nbits) - 1  # stale high bits
                        nbits -= 1
                        if (acc >> nbits) & 1 and not (v & p1):
                            vals[k] = v + (p1 if v > 0 else -p1)
                    k += 1
                eobrun -= 1
        finally:
            st[0], st[1], st[2] = acc, nbits, upos

    def advance_restart():
        # align_past_restart semantics: scan forward from the current
        # segment terminator for the next RSTn, resume just past it,
        # drop buffered bits, reset DC predictors + EOB run
        nonlocal u, term, term_pos, ulen, eobrun
        p = term_pos
        while not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        u, term, term_pos = _entropy_segment(d, p + 2)
        ulen = len(u)
        st[0] = st[1] = st[2] = 0
        eobrun = 0
        for cid in pred:
            pred[cid] = 0

    if len(scan) > 1:
        # interleaved scan (DC only in progressive mode): MCU order,
        # each MCU carrying h×v blocks per component
        rows = {comp["id"]: planes[comp["id"]] for comp, _, _ in scan}
        n_mcu = mcux * mcuy
        mcu = 0
        while mcu < n_mcu:
            try:
                my, mx = divmod(mcu, mcux)
                for comp, tdc, _ in scan:
                    cid = comp["id"]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            dc_vals(
                                rows[cid][my * comp["v"] + by][
                                    mx * comp["h"] + bx
                                ],
                                comp,
                                tdc,
                            )
                mcu += 1
                if (
                    restart_interval
                    and mcu % restart_interval == 0
                    and mcu < n_mcu
                ):
                    advance_restart()
            except _RestartMarker:
                advance_restart()
    else:
        # single-component scan (AC always; DC when ns == 1): raster
        # over the COMPONENT's own block grid, which can be smaller
        # than the MCU-padded plane (T.81 A.2.2 non-interleaved order)
        comp, tdc, tac = scan[0]
        comp_w = -(-w * comp["h"] // hmax)
        comp_h = -(-h * comp["v"] // vmax)
        cw = -(-comp_w // 8)
        ch = -(-comp_h // 8)
        rows = planes[comp["id"]]
        n_blk = cw * ch
        blk_i = 0
        if ss != 0:
            ac_sym, ac_len, ac_tot, ac_val = huff_ac[tac]
        while blk_i < n_blk:
            try:
                byi, bxi = divmod(blk_i, cw)
                if ss == 0:
                    dc_vals(rows[byi][bxi], comp, tdc)
                elif ah == 0:
                    ac_first_vals(
                        rows[byi][bxi], ac_sym, ac_len, ac_tot, ac_val
                    )
                else:
                    ac_refine_vals(
                        rows[byi][bxi], ac_sym, ac_len, ac_tot, ac_val
                    )
                blk_i += 1
                if (
                    restart_interval
                    and blk_i % restart_interval == 0
                    and blk_i < n_blk
                ):
                    advance_restart()
            except _RestartMarker:
                advance_restart()
    # term_pos indexes the 0xFF of the next real marker (or EOF):
    # byte-aligned, past all consumed bytes — the outer marker scan
    # picks the marker up directly
    return term_pos


def _finalize_jpeg(planes, comps, qtables, h, w):
    """Shared tail of both JPEG modes: dequantize + IDCT every block of
    every component at once, upsample chroma, YCbCr→RGB. `planes` maps
    component id → (bh, bw, 8, 8) int32 coefficient blocks."""
    import numpy as np

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    c = _dct_matrix()
    out_planes = {}
    for comp in comps:
        coeff = planes[comp["id"]].astype(np.float64)
        coeff *= qtables[comp["tq"]][None, None, :, :]
        bh, bw = coeff.shape[:2]
        flat = coeff.reshape(-1, 8, 8)
        # batched BLAS gemm: ~19x faster than the c_einsum loop for the
        # same C^T.F.C contraction (differences are 1e-14 rounding)
        px = np.matmul(np.matmul(c.T, flat), c) + 128.0
        px = px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
        px = px.reshape(bh * 8, bw * 8)
        # upsample to full resolution (nearest — matches the simple
        # box-downsampling encoder closely enough for stats work)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            px = np.repeat(np.repeat(px, ry, axis=0), rx, axis=1)
        out_planes[comp["id"]] = px[:h, :w]
    ids = [comp["id"] for comp in comps]
    if len(ids) == 1:
        y = np.clip(out_planes[ids[0]], 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = (out_planes[i] for i in ids[:3])
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def encode_jpeg(
    pixels, subsampling: str = "4:4:4", restart_interval: int = 0
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF-style JPEG (SOF0). Huffman
    tables are BUILT per image (fixed-length canonical codes emitted in
    DHT) — legal per T.81, which is why the decoder reads DHT
    generically instead of assuming Annex K. `restart_interval` > 0
    emits DRI + RSTn markers every that many MCUs (byte-aligned, DC
    predictors reset — T.81 F.1.2.2.3), exercising the decoder's
    restart resync. Lossy: round-trips within quantization error.
    Fixture/export helper."""
    import struct

    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8).astype(np.float64)
    h, w = a.shape[:2]
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if subsampling == "4:4:4":
        sh = sv = 1
    elif subsampling == "4:2:0":
        sh = sv = 2
    else:
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")

    def pad_to(img, mult):
        ph = -(-img.shape[0] // mult) * mult
        pw = -(-img.shape[1] // mult) * mult
        return np.pad(
            img,
            ((0, ph - img.shape[0]), (0, pw - img.shape[1])),
            mode="edge",
        )

    def downsample(img, f):
        if f == 1:
            return img
        p = pad_to(img, f)
        return p.reshape(
            p.shape[0] // f, f, p.shape[1] // f, f
        ).mean(axis=(1, 3))

    planes = [
        (1, pad_to(y, 8 * sh), 0),
        (2, pad_to(downsample(cb, sv), 8), 1),
        (3, pad_to(downsample(cr, sv), 8), 1),
    ]
    qt = {
        0: np.full((8, 8), _JPEG_QTABLE_LUMA, dtype=np.int32),
        1: np.full((8, 8), _JPEG_QTABLE_CHROMA, dtype=np.int32),
    }
    c = _dct_matrix()
    zz = _zigzag_order()

    # quantized blocks per component, in MCU order
    mcux = planes[0][1].shape[1] // (8 * sh)
    mcuy = planes[0][1].shape[0] // (8 * sv)
    comp_blocks = []
    for cid, img, tq in planes:
        fac = sh if cid == 1 else 1
        coeff = img - 128.0
        bh, bw = img.shape[0] // 8, img.shape[1] // 8
        blocks = coeff.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        f = np.matmul(np.matmul(c, blocks), c.T)
        q = np.round(f / qt[tq][None, None]).astype(np.int32)
        comp_blocks.append((cid, q, tq, fac))

    # entropy symbols (interleaved MCU order)
    def category(v):
        return int(v).bit_length() if v else 0

    sym_stream = []  # (kind 'dc'/'ac', table_id, symbol, bits, nbits)
    pred = {1: 0, 2: 0, 3: 0}
    rst_cnt = 0
    for my in range(mcuy):
        for mx in range(mcux):
            mcu_i = my * mcux + mx
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                # sentinel: flush to a byte boundary and emit RSTn
                sym_stream.append(("rst", rst_cnt & 7, 0, 0, 0))
                rst_cnt += 1
                pred = {1: 0, 2: 0, 3: 0}
            for cid, q, tq, fac in comp_blocks:
                for by in range(fac if cid == 1 else 1):
                    for bx in range(fac if cid == 1 else 1):
                        if cid == 1:
                            blk = q[my * sv + by, mx * sh + bx]
                        else:
                            blk = q[my, mx]
                        seq = [blk[i, j] for i, j in zz]
                        diff = seq[0] - pred[cid]
                        pred[cid] = seq[0]
                        s = category(abs(diff))
                        amp = diff if diff >= 0 else diff + (1 << s) - 1
                        sym_stream.append(
                            ("dc", 0 if cid == 1 else 1, s, amp, s)
                        )
                        run = 0
                        last_nz = max(
                            (k for k in range(1, 64) if seq[k]),
                            default=0,
                        )
                        for k in range(1, last_nz + 1):
                            v = seq[k]
                            if v == 0:
                                run += 1
                                if run == 16:
                                    sym_stream.append(
                                        (
                                            "ac",
                                            0 if cid == 1 else 1,
                                            0xF0,
                                            0,
                                            0,
                                        )
                                    )
                                    run = 0
                                continue
                            s = category(abs(v))
                            amp = v if v >= 0 else v + (1 << s) - 1
                            sym_stream.append(
                                (
                                    "ac",
                                    0 if cid == 1 else 1,
                                    (run << 4) | s,
                                    amp,
                                    s,
                                )
                            )
                            run = 0
                        if last_nz < 63:
                            sym_stream.append(
                                ("ac", 0 if cid == 1 else 1, 0x00, 0, 0)
                            )

    # fixed-length canonical Huffman per (kind, table): legal + simple
    tables = {}
    for kind in ("dc", "ac"):
        for tid in (0, 1):
            syms = sorted(
                {
                    s[2]
                    for s in sym_stream
                    if s[0] == kind and s[1] == tid
                }
            )
            if not syms:
                syms = [0]
            length = max((len(syms) + 1 - 1).bit_length(), 1)
            codes = {
                sym: (i, length) for i, sym in enumerate(syms)
            }
            bits = [0] * 16
            bits[length - 1] = len(syms)
            tables[(kind, tid)] = (codes, bits, syms)

    out_bits = []
    for kind, tid, sym, amp, nbits in sym_stream:
        if kind == "rst":
            out_bits.append((tid, -1))  # n = -1: restart sentinel
            continue
        code, length = tables[(kind, tid)][0][sym]
        out_bits.append((code, length))
        if nbits:
            out_bits.append((amp, nbits))
    body = bytearray()
    acc = accn = 0
    for v, n in out_bits:
        if n < 0:
            # restart: 1-pad to byte boundary, emit unstuffed RSTn
            if accn:
                byte = (
                    (acc << (8 - accn)) | ((1 << (8 - accn)) - 1)
                ) & 0xFF
                body.append(byte)
                if byte == 0xFF:
                    body.append(0x00)
                acc = accn = 0
            body.append(0xFF)
            body.append(0xD0 + v)
            continue
        acc = (acc << n) | (v & ((1 << n) - 1))
        accn += n
        while accn >= 8:
            byte = (acc >> (accn - 8)) & 0xFF
            body.append(byte)
            if byte == 0xFF:
                body.append(0x00)
            accn -= 8
    if accn:
        byte = ((acc << (8 - accn)) | ((1 << (8 - accn)) - 1)) & 0xFF
        body.append(byte)
        if byte == 0xFF:
            body.append(0x00)

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload_):
        out.extend(
            bytes([0xFF, marker])
            + struct.pack(">H", len(payload_) + 2)
            + payload_
        )

    for tq in (0, 1):
        t = bytes([tq]) + bytes(
            int(qt[tq][i, j]) for i, j in zz
        )
        seg(0xDB, t)
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (sh << 4) | sv, 0])
    sof += bytes([2, 0x11, 1])
    sof += bytes([3, 0x11, 1])
    seg(0xC0, sof)
    for (kind, tid), (codes, bits, syms) in tables.items():
        tc = 0 if kind == "dc" else 1
        seg(0xC4, bytes([(tc << 4) | tid]) + bytes(bits) + bytes(syms))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    seg(0xDA, sos)
    out.extend(body)
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg_progressive(
    pixels, subsampling: str = "4:4:4", restart_interval: int = 0
) -> bytes:
    """(h, w, 3) uint8 RGB → PROGRESSIVE JPEG (SOF2, 4:4:4 or 4:2:0),
    using the classic ten-scan script (DC first at Al=1 + DC
    refinement; per-component AC bands with successive approximation
    Al=2→1→0 for luma, 1→0 for chroma) so every T.81 G.1.2 case —
    spectral selection, EOB runs, ZRL-with-corrections, AC/DC
    refinement bits, and (4:2:0) multi-block interleaved DC MCUs with
    per-component non-interleaved AC grids — appears in the stream.
    Same quantization tables and downsampling as encode_jpeg, so the
    progressive decode is bit-identical to the baseline decode of the
    same pixels (the round-trip test's anchor). Encoder twin of
    _decode_progressive_scan; per-scan fixed-length canonical DHTs,
    like the baseline encoder. ``restart_interval`` > 0 emits DRI and
    inserts RSTn markers every that-many MCUs in every scan (with the
    spec's per-interval DC-predictor and EOB-run resets) — real
    progressive encoders do, and it exercises the decoder's
    restart-resync paths."""
    import struct

    import numpy as np

    a = np.asarray(pixels, dtype=np.uint8).astype(np.float64)
    h, w = a.shape[:2]
    r_, g_, b_ = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
    cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
    if subsampling == "4:4:4":
        sh = sv = 1
    elif subsampling == "4:2:0":
        sh = sv = 2
    else:
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")

    def pad_to(img, mult):
        ph = -(-img.shape[0] // mult) * mult
        pw = -(-img.shape[1] // mult) * mult
        return np.pad(
            img,
            ((0, ph - img.shape[0]), (0, pw - img.shape[1])),
            mode="edge",
        )

    def downsample(img, f):
        if f == 1:
            return img
        p = pad_to(img, f)
        return p.reshape(
            p.shape[0] // f, f, p.shape[1] // f, f
        ).mean(axis=(1, 3))

    qt = {
        0: np.full((8, 8), _JPEG_QTABLE_LUMA, dtype=np.int32),
        1: np.full((8, 8), _JPEG_QTABLE_CHROMA, dtype=np.int32),
    }
    c = _dct_matrix()
    zz = _zigzag_order()
    comp_zz: dict[int, "np.ndarray"] = {}  # cid → (nblk, 64) zigzag coefs
    grids: dict[int, tuple[int, int]] = {}  # padded (MCU) block grid
    samp = {1: (sh, sv), 2: (1, 1), 3: (1, 1)}
    planes_src = (
        (1, pad_to(y, 8 * sh), 0),
        (2, pad_to(downsample(cb, sv), 8), 1),
        (3, pad_to(downsample(cr, sv), 8), 1),
    )
    for cid, img, tq in planes_src:
        coeff = img - 128.0
        bh, bw = img.shape[0] // 8, img.shape[1] // 8
        blocks = coeff.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        f = np.matmul(np.matmul(c, blocks), c.T)
        q = np.round(f / qt[tq][None, None]).astype(np.int64)
        flat = q.reshape(bh * bw, 8, 8)
        zzv = np.stack(
            [flat[:, i, j] for (i, j) in zz], axis=1
        )  # (nblk, 64) in zigzag order, raster over the padded grid
        comp_zz[cid] = zzv
        grids[cid] = (bh, bw)
    mcuy = grids[1][0] // sv
    mcux = grids[1][1] // sh

    def spec_grid(cid):
        """The T.81 A.2.2 non-interleaved grid: ceil(comp_dim / 8)
        where comp_dim = ceil(image_dim * h_i / hmax) — can be one
        block SHORT of the padded MCU grid (those blocks carry DC via
        interleaved scans but never AC)."""
        ch_, cv_ = samp[cid]
        cw_px = -(-w * ch_ // sh)
        ch_px = -(-h * cv_ // sv)
        return (-(-ch_px // 8), -(-cw_px // 8))

    def category(v: int) -> int:
        return int(abs(int(v))).bit_length()

    def pt(v: int, al: int) -> int:
        """AC point transform: magnitude shift, sign preserved."""
        v = int(v)
        m = abs(v) >> al
        return m if v >= 0 else -m

    def dc_mcus(comp_ids):
        """DC-scan MCUs in interleaved order: each yields the MCU's
        (cid, block_index) list — h×v blocks per component (reduces to
        one block per component for 4:4:4)."""
        for my in range(mcuy):
            for mx in range(mcux):
                mcu = []
                for cid in comp_ids:
                    ch_, cv_ = samp[cid]
                    _, bw = grids[cid]
                    for by in range(cv_):
                        for bx in range(ch_):
                            mcu.append(
                                (
                                    cid,
                                    (my * cv_ + by) * bw
                                    + (mx * ch_ + bx),
                                )
                            )
                yield mcu

    def rst_points(total):
        """Interval boundaries (MCU counts after which an RSTn goes),
        excluding the end of the scan."""
        if not restart_interval:
            return set()
        return {
            i
            for i in range(restart_interval, total, restart_interval)
        }

    def ac_blocks(cid):
        """Non-interleaved raster over the component's SPEC grid."""
        sh_, sw_ = spec_grid(cid)
        _, bw = grids[cid]
        for by in range(sh_):
            for bx in range(sw_):
                yield comp_zz[cid][by * bw + bx]

    # token stream per scan: ("s", tkey, symbol) | ("b", value, nbits)
    # | ("rst", m) — byte-align and emit the RSTm marker
    def encode_dc_first(comp_ids, al):
        toks = []
        pred = {cid: 0 for cid in comp_ids}
        marks = rst_points(mcux * mcuy)
        m = 0
        for n, mcu in enumerate(dc_mcus(comp_ids), start=1):
            for cid, bi in mcu:
                tkey = ("dc", 0 if cid == 1 else 1)
                v = int(comp_zz[cid][bi, 0]) >> al  # arithmetic shift
                diff = v - pred[cid]
                pred[cid] = v
                s = category(diff)
                amp = diff if diff >= 0 else diff + (1 << s) - 1
                toks.append(("s", tkey, s))
                if s:
                    toks.append(("b", amp, s))
            if n in marks:
                toks.append(("rst", m))
                m = (m + 1) % 8
                pred = {cid: 0 for cid in comp_ids}
        return toks

    def encode_dc_refine(comp_ids, al):
        toks = []
        marks = rst_points(mcux * mcuy)
        m = 0
        for n, mcu in enumerate(dc_mcus(comp_ids), start=1):
            for cid, bi in mcu:
                toks.append(
                    ("b", (int(comp_zz[cid][bi, 0]) >> al) & 1, 1)
                )
            if n in marks:
                toks.append(("rst", m))
                m = (m + 1) % 8
        return toks

    def encode_ac_first(cid, ss_, se_, al):
        toks = []
        tkey = ("ac", 0 if cid == 1 else 1)
        eob = [0]

        def flush_eob():
            if eob[0]:
                r = eob[0].bit_length() - 1
                toks.append(("s", tkey, r << 4))
                if r:
                    toks.append(("b", eob[0] - (1 << r), r))
                eob[0] = 0

        sh_, sw_ = spec_grid(cid)
        marks = rst_points(sh_ * sw_)  # non-interleaved: MCU = block
        m = 0
        for bn, blk in enumerate(ac_blocks(cid), start=1):
            band = [pt(blk[k], al) for k in range(ss_, se_ + 1)]
            if not any(band):
                eob[0] += 1
                if eob[0] == 0x7FFF:
                    flush_eob()
            else:
                flush_eob()
                run = 0
                last_nz = max(k for k, v in enumerate(band) if v)
                for k in range(last_nz + 1):
                    v = band[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        toks.append(("s", tkey, 0xF0))
                        run -= 16
                    s = category(v)
                    amp = v if v >= 0 else v + (1 << s) - 1
                    toks.append(("s", tkey, (run << 4) | s))
                    toks.append(("b", amp, s))
                    run = 0
                if last_nz < len(band) - 1:
                    eob[0] += 1
                    if eob[0] == 0x7FFF:
                        flush_eob()
            if bn in marks:
                # interval boundary: EOB runs never cross a restart
                flush_eob()
                toks.append(("rst", m))
                m = (m + 1) % 8
        flush_eob()
        return toks

    def encode_ac_refine(cid, ss_, se_, al):
        # T.81 G.1.2.3 encoder: newly-visible coefficients (magnitude
        # 1 at this stage) emit run/sign symbols; already-visible ones
        # emit buffered correction bits; trailing all-zero tails fold
        # into EOB runs whose buffered bits ride along
        toks = []
        tkey = ("ac", 0 if cid == 1 else 1)
        eob = [0]
        be: list[int] = []  # correction bits pending with the EOB run

        def flush_eob():
            if eob[0] or be:
                r = eob[0].bit_length() - 1 if eob[0] else 0
                toks.append(("s", tkey, r << 4))
                if r:
                    toks.append(("b", eob[0] - (1 << r), r))
                for bit in be:
                    toks.append(("b", bit, 1))
                be.clear()
                eob[0] = 0

        sh_, sw_ = spec_grid(cid)
        marks = rst_points(sh_ * sw_)  # non-interleaved: MCU = block
        m = 0
        for bn, blk in enumerate(ac_blocks(cid), start=1):
            band = [int(blk[k]) for k in range(ss_, se_ + 1)]
            absv = [abs(v) >> al for v in band]
            # last newly-visible position: ZRLs are only emitted while
            # another new coefficient lies ahead; trailing zero runs
            # fold into the EOB run instead (G.1.2.3)
            eob_pos = max(
                (k for k, t in enumerate(absv) if t == 1), default=-1
            )
            br: list[int] = []
            run = 0
            for k, v in enumerate(band):
                t = absv[k]
                if t == 0:
                    run += 1
                    continue
                # the >15-zero-run flush happens at EVERY nonzero
                # coefficient (history or new): each ZRL's window must
                # carry exactly the correction bits of the history
                # coefficients interleaved in ITS 16 skipped zeros, so
                # the buffer may never span more than one window
                while run > 15 and k <= eob_pos:
                    flush_eob()
                    toks.append(("s", tkey, 0xF0))
                    for bit in br:
                        toks.append(("b", bit, 1))
                    br.clear()
                    run -= 16
                if t > 1:
                    br.append(t & 1)  # history coef: correction bit
                    continue
                # newly visible (t == 1)
                flush_eob()
                toks.append(("s", tkey, (run << 4) | 1))
                toks.append(("b", 1 if v > 0 else 0, 1))
                for bit in br:
                    toks.append(("b", bit, 1))
                br.clear()
                run = 0
            if run > 0 or br:
                eob[0] += 1
                be.extend(br)
                if eob[0] == 0x7FFF:
                    flush_eob()
            if bn in marks:
                # interval boundary: EOB runs (and their buffered
                # correction bits) never cross a restart
                flush_eob()
                toks.append(("rst", m))
                m = (m + 1) % 8
        flush_eob()
        return toks

    # the scan script (libjpeg's classic default, spelled explicitly)
    scans = [
        (("dcf", [1, 2, 3]), 0, 0, 0, 1),
        (("acf", [1]), 1, 5, 0, 2),
        (("acf", [3]), 1, 63, 0, 1),
        (("acf", [2]), 1, 63, 0, 1),
        (("acf", [1]), 6, 63, 0, 2),
        (("acr", [1]), 1, 63, 2, 1),
        (("dcr", [1, 2, 3]), 0, 0, 1, 0),
        (("acr", [3]), 1, 63, 1, 0),
        (("acr", [2]), 1, 63, 1, 0),
        (("acr", [1]), 1, 63, 1, 0),
    ]

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload_):
        out.extend(
            bytes([0xFF, marker])
            + struct.pack(">H", len(payload_) + 2)
            + payload_
        )

    for tq in (0, 1):
        seg(0xDB, bytes([tq]) + bytes(int(qt[tq][i, j]) for i, j in zz))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (sh << 4) | sv, 0])
    sof += bytes([2, 0x11, 1])
    sof += bytes([3, 0x11, 1])
    seg(0xC2, sof)
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))

    for (kind, cids), ss_, se_, ah_, al_ in scans:
        if kind == "dcf":
            toks = encode_dc_first(cids, al_)
        elif kind == "dcr":
            toks = encode_dc_refine(cids, al_)
        elif kind == "acf":
            toks = encode_ac_first(cids[0], ss_, se_, al_)
        else:
            toks = encode_ac_refine(cids[0], ss_, se_, al_)
        # per-scan fixed-length canonical Huffman over this scan's
        # symbols (legal per T.81 — tables may be redefined per scan)
        by_key: dict[tuple, set] = {}
        for t in toks:
            if t[0] == "s":
                by_key.setdefault(t[1], set()).add(t[2])
        tables = {}
        for tkey, syms in by_key.items():
            syms = sorted(syms)
            length = max((len(syms) + 1 - 1).bit_length(), 1)
            codes = {sym: (i, length) for i, sym in enumerate(syms)}
            bits = [0] * 16
            bits[length - 1] = len(syms)
            tables[tkey] = (codes, bits, syms)
            tc = 0 if tkey[0] == "dc" else 1
            seg(
                0xC4,
                bytes([(tc << 4) | tkey[1]]) + bytes(bits) + bytes(syms),
            )
        sos = bytes([len(cids)])
        for cid in cids:
            tid = 0 if cid == 1 else 1
            sos += bytes([cid, (tid << 4) | tid])
        sos += bytes([ss_, se_, (ah_ << 4) | al_])
        seg(0xDA, sos)
        body = bytearray()
        acc = accn = 0

        def pad_byte():
            nonlocal acc, accn
            if accn:
                byte = (
                    (acc << (8 - accn)) | ((1 << (8 - accn)) - 1)
                ) & 0xFF
                body.append(byte)
                if byte == 0xFF:
                    body.append(0x00)
                acc = accn = 0

        for t in toks:
            if t[0] == "rst":
                # byte-align with 1-fill, then the bare RSTm marker
                # (markers are never byte-stuffed)
                pad_byte()
                body += bytes([0xFF, 0xD0 + t[1]])
                continue
            if t[0] == "s":
                v, n = tables[t[1]][0][t[2]]
            else:
                v, n = t[1], t[2]
            if n == 0:
                continue
            acc = (acc << n) | (v & ((1 << n) - 1))
            accn += n
            while accn >= 8:
                byte = (acc >> (accn - 8)) & 0xFF
                body.append(byte)
                if byte == 0xFF:
                    body.append(0x00)
                accn -= 8
            acc &= (1 << accn) - 1
        pad_byte()
        out.extend(body)
    out.extend(b"\xff\xd9")
    return bytes(out)


# -- GIF: LZW-compressed indexed color (pure-Python LZW + numpy) ------------
#
# GIF's compression is variable-width LZW over palette indices — a
# dictionary coder, implementable exactly from the spec with no codec
# library. First image frame only (animation = repeated frames of the
# same machinery); interlaced row order supported.

# the four interlace passes: (row offset, row step)
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_lzw_decode(data: bytes, min_code: int, npix: int) -> list[int]:
    """Variable-width LZW per the GIF spec: codes start at
    min_code+1 bits, the width bumps when the NEXT code would not fit
    (post-insert, cap 12 bits), CLEAR resets the table, and the KwKwK
    case (code == next unassigned entry) resolves to prev + prev[0].

    Throughput: codes are pulled from an LSB-first accumulator (one
    byte append per refill instead of 9-12 single-bit reads per code)
    and the string table is a plain list indexed by code — the same
    shape as the TIFF LZW decoder (tiff.py), which profiled ~5x faster
    than the original per-bit/dict form of this function."""
    if not 1 <= min_code <= 11:
        # GIF89a appendix F: root codes are 2..8 bits (image data is at
        # most 256 colors; many encoders emit 2 even for 2-color
        # images) and total code width caps at 12 bits, so min_code+1
        # must leave room to grow — a forged size byte here otherwise
        # sizes the base table as 2**min_code (r10 fuzz: min_code=0x87
        # allocated a 2**135-entry list -> MemoryError, killing the
        # task instead of dead-lettering the file).
        raise ValueError(f"GIF LZW minimum code size {min_code} out of range")
    clear, end = 1 << min_code, (1 << min_code) + 1
    code_size = min_code + 1
    base: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    table = base.copy()
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = nacc = 0
    pos, nbytes = 0, len(data)
    while len(out) < npix:
        while nacc < code_size:
            if pos >= nbytes:
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nacc
            pos += 1
            nacc += 8
        c = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nacc -= code_size
        if c == clear:
            del table[end + 1 :]
            code_size, prev = min_code + 1, None
            continue
        if c == end:
            break
        ncodes = len(table)
        if prev is None:
            entry = table[c]
        elif c < ncodes:
            entry = table[c]
            if ncodes < 4096:
                table.append(prev + entry[:1])
                ncodes += 1
        elif c == ncodes:
            entry = prev + prev[:1]
            if ncodes < 4096:
                table.append(entry)
                ncodes += 1
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {c})")
        out += entry
        prev = entry
        if ncodes == (1 << code_size) and code_size < 12:
            code_size += 1
    if len(out) < npix:
        raise ValueError("truncated GIF LZW stream")
    return out[:npix]


def _decode_gif(payload: bytes) -> "np.ndarray":
    """First frame of an 87a/89a GIF: parse the logical screen + color
    table, skip extensions, inflate the LZW index stream, map through
    the palette, de-interlace if flagged. Returns (h, w, 3) uint8."""
    import struct

    import numpy as np

    w, h = struct.unpack_from("<HH", payload, 6)
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label then sub-blocks
            pos += 1
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        _, _, iw, ih = struct.unpack_from("<HHHH", payload, pos)
        check_dims("GIF", iw, ih, 3)
        pos += 8
        iflags = payload[pos]
        pos += 1
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(
                n, 3
            )
            pos += n * 3
        if table is None:
            raise ValueError("GIF image without a color table")
        min_code = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos] != 0:
            sz = payload[pos]
            data += payload[pos + 1 : pos + 1 + sz]
            pos += 1 + sz
        pos += 1
        idx = _gif_lzw_decode(bytes(data), min_code, iw * ih)
        px = table[np.asarray(idx, dtype=np.int32)].reshape(ih, iw, 3)
        if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
            out = np.empty_like(px)
            src = 0
            for off, step in _GIF_PASSES:
                rows = range(off, ih, step)
                out[list(rows)] = px[src : src + len(rows)]
                src += len(rows)
            px = out
        return px.copy()
    raise ValueError("no image data in GIF payload")


def encode_gif(
    palette, indices, interlaced: bool = False
) -> bytes:
    """(n≤256, 3) uint8 palette + (h, w) uint8 indices → GIF89a with a
    REAL variable-width LZW encoder (table resets at 4096 codes, width
    bumps mirrored post-insert with the decoder). Fixture/export
    helper."""
    import struct

    import numpy as np

    pal = np.asarray(palette, dtype=np.uint8)
    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    # color-table size: power of two ≥ max(palette size, 2)
    bits = max(int(np.ceil(np.log2(max(len(pal), 2)))), 1)
    n = 1 << bits
    table_bytes = np.zeros((n, 3), dtype=np.uint8)
    table_bytes[: len(pal)] = pal
    min_code = max(bits, 2)  # spec: LZW minimum code size ≥ 2

    if interlaced:
        order = [
            r for off, step in _GIF_PASSES for r in range(off, h, step)
        ]
        seq = idx[order].reshape(-1)
    else:
        seq = idx.reshape(-1)

    clear, end = 1 << min_code, (1 << min_code) + 1
    codes: list[tuple[int, int]] = []  # (code, width)
    code_size = min_code + 1
    table: dict[tuple[int, ...], int] = {
        (i,): i for i in range(1 << min_code)
    }
    next_code = end + 1
    codes.append((clear, code_size))
    wseq: tuple[int, ...] = ()
    for k in map(int, seq):
        wk = wseq + (k,)
        if wk in table:
            wseq = wk
            continue
        codes.append((table[wseq], code_size))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # the DECODER's table is one entry behind (its first data
            # code after a clear inserts nothing), so the width bump
            # lands one insert later than the decoder's own rule
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:  # table full: reset, mirroring the decoder
            codes.append((clear, code_size))
            table = {(i,): i for i in range(1 << min_code)}
            next_code, code_size = end + 1, min_code + 1
        wseq = (k,)
    if wseq:
        codes.append((table[wseq], code_size))
    codes.append((end, code_size))

    bits_out = bytearray()
    acc = nbits = 0
    for code, width in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            bits_out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        bits_out.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (bits - 1))  # GCT present, size bits
    out += b"\x00\x00"  # background, aspect
    out += table_bytes.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out.append(0x40 if interlaced else 0x00)
    out.append(min_code)
    for i in range(0, len(bits_out), 255):
        block = bits_out[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


# -- WAV: PCM16 RIFF --------------------------------------------------------


def _decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """PCM16 (fmt 1) plus the COMPRESSED audio codecs: G.711 μ-law
    (fmt 7) / A-law (fmt 6) companding (2:1, the telephony standard)
    and IMA ADPCM (fmt 0x11, 4:1 adaptive differential) — all pure
    numpy/python from the specs."""
    import struct

    import numpy as np

    pos, rate, channels, fmt = 12, None, None, None
    block_align = spb = n_total = None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if cid == b"fact":  # total sample count (compressed formats)
            (n_total,) = struct.unpack_from("<I", payload, pos)
        elif cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", payload, pos)
            block_align, bits = struct.unpack_from(
                "<HH", payload, pos + 12
            )
            if fmt == 0x11:
                if size < 20 or bits != 4:
                    # the wSamplesPerBlock extension is mandatory for
                    # fmt 0x11 — reading past a minimal fmt chunk
                    # would take the NEXT chunk's bytes as spb
                    raise ValueError(
                        f"IMA ADPCM fmt chunk missing its "
                        f"samples-per-block extension "
                        f"(size={size}, bits={bits})"
                    )
                (spb,) = struct.unpack_from("<H", payload, pos + 18)
                # forged-field pre-allocation guard (ADVICE r10 #4,
                # mirroring TIFF's value-overruns-payload pattern):
                # the vectorized decoder allocates (blocks, channels,
                # spb) int64 BEFORE any per-block validation, so a
                # wSamplesPerBlock far beyond the block's nibble
                # capacity would size a huge mostly-garbage allocation
                # from a tiny payload (65535 ch x 65535 spb = 34 GB
                # from ~256 KB). A conforming block carries
                # (block_align - 4*channels) body bytes = 2 nibbles
                # each, interleaved across channels.
                if channels < 1 or block_align < 4 * channels:
                    raise ValueError(
                        f"corrupt WAV: IMA block_align {block_align} "
                        f"cannot hold {channels}-channel headers"
                    )
                cap = (block_align - 4 * channels) * 2 // channels + 1
                if spb > cap:
                    raise ValueError(
                        f"corrupt WAV: samples-per-block {spb} "
                        f"overruns block capacity {cap} "
                        f"(block_align {block_align}, "
                        f"{channels} channels)"
                    )
            elif not (
                (fmt == 1 and bits == 16)
                or (fmt in (6, 7) and bits == 8)
            ):
                raise NotImplementedError(
                    f"only PCM16 / G.711 u-law / A-law / IMA ADPCM WAV "
                    f"supported (fmt={fmt}, bits={bits})"
                )
        elif cid == b"data":
            if rate is None:
                raise ValueError("WAV data chunk before fmt chunk")
            if fmt == 1:
                samples = np.frombuffer(
                    payload, dtype="<i2", count=size // 2, offset=pos
                )
            elif fmt == 0x11:
                if n_total is None:
                    # fact is mandatory for compressed WAV — without
                    # it the final block's zero-pad nibbles would
                    # decode as bogus trailing samples; fail loudly
                    raise ValueError(
                        "IMA ADPCM WAV missing its fact chunk "
                        "(total sample count)"
                    )
                # blocks are INDEPENDENT (each header carries its own
                # predictor + step index), so the sequential nibble
                # recurrence runs once per sample POSITION, vectorized
                # across every full block at once; only a ragged tail
                # block falls back to the scalar walker
                n_full = size // block_align
                # cap the total decoded elements like the image paths
                # do (the fmt-chunk capacity check above makes this
                # linear in the payload, so it only fires on
                # pathological giant records)
                check_dims("WAV/IMA", n_full + 1, channels, spb)
                parts: list[list] = [[] for _ in range(channels)]
                if (block_align - 4 * channels) % (4 * channels) != 0:
                    # nonconforming foreign block_align whose body is
                    # not whole 4-byte-per-channel nibble groups: the
                    # (b, -1, channels, 4) reshape below would raise,
                    # so decode every block with the tolerant scalar
                    # walker (partial trailing group allowed), same as
                    # the ragged-tail path
                    for bi in range(n_full):
                        blk = payload[
                            pos + bi * block_align :
                            pos + (bi + 1) * block_align
                        ]
                        for c, vals in enumerate(
                            _ima_decode_block(blk, spb, channels)
                        ):
                            parts[c].append(
                                np.asarray(vals, dtype=np.int64)
                            )
                    n_full_vec = 0
                else:
                    n_full_vec = n_full
                if n_full_vec:
                    full = np.frombuffer(
                        payload,
                        dtype=np.uint8,
                        count=n_full_vec * block_align,
                        offset=pos,
                    ).reshape(n_full_vec, block_align)
                    dec = _ima_decode_blocks_vec(full, spb, channels)
                    for c in range(channels):
                        parts[c].append(dec[c])
                tail = payload[pos + n_full * block_align : pos + size]
                if len(tail) >= 4 * channels:
                    for c, vals in enumerate(
                        _ima_decode_block(tail, spb, channels)
                    ):
                        parts[c].append(np.asarray(vals, dtype=np.int64))
                chans_arr = [
                    np.concatenate(p)
                    if p
                    else np.empty(0, dtype=np.int64)
                    for p in parts
                ]
                samples = np.asarray(
                    [a[:n_total] for a in chans_arr], dtype=np.int16
                ).T.reshape(-1)
            else:
                codes = np.frombuffer(
                    payload, dtype=np.uint8, count=size, offset=pos
                )
                expand = _alaw_expand if fmt == 6 else _ulaw_expand
                samples = expand(codes)
            return rate, samples.reshape(-1, channels)
        pos += size + (size & 1)  # chunks pad to even length
    raise ValueError("no data chunk in WAV payload")


def _ulaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 μ-law byte → int16 (ITU-T spec expansion)."""
    import numpy as np

    u = (~codes.astype(np.int64)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = ((mant << 3) + 0x84) << exp
    out = mag - 0x84
    return np.where(sign != 0, -out, out).astype(np.int16)


def _ulaw_compress(samples: "np.ndarray") -> "np.ndarray":
    """int16 → G.711 μ-law byte (encoder twin for round-trip tests)."""
    import numpy as np

    x = samples.astype(np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = np.floor(np.log2(mag)).astype(np.int64) - 7
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def _alaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 A-law byte → int16 (ITU-T spec expansion)."""
    import numpy as np

    a = codes.astype(np.int64) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(
        exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (exp - 1)
    )
    # A-law sign convention (G.711 / SUN reference): the 0x80 bit of
    # the UNXORED code marks a POSITIVE sample — opposite of μ-law
    return np.where(sign != 0, mag, -mag).astype(np.int16)


def _alaw_compress(samples: "np.ndarray") -> "np.ndarray":
    """int16 → G.711 A-law byte (encoder twin for round-trip tests)."""
    import numpy as np

    x = samples.astype(np.int64)
    sign = np.where(x >= 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32767)
    exp = np.maximum(
        np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 7, 0
    )
    mant = np.where(exp == 0, mag >> 4, (mag >> (exp + 3)) & 0x0F)
    return ((sign | (exp << 4) | mant) ^ 0x55).astype(np.uint8)


def encode_wav(rate: int, samples) -> bytes:
    """(n, channels) int16 → PCM16 RIFF/WAVE."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    channels = a.shape[1]
    body = a.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    chunks = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunks) - 4) + chunks


# -- IMA ADPCM (WAV fmt 0x11): 4:1 adaptive differential audio --------------

# ITU/IMA step-size table (89 entries, ~1.1x geometric growth) and the
# per-nibble index adjustments — the complete codec state machine.
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
]
_IMA_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step_nibble(nibble: int, pred: int, idx: int) -> tuple[int, int]:
    """One decoder state transition (shared by the encoder so both
    sides track identical reconstruction state)."""
    step = _IMA_STEP[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_ADJ[nibble & 7]))
    return pred, idx


def _ima_decode_block(
    data: bytes, n_samples: int, channels: int = 1
) -> list[list[int]]:
    """One IMA block: a 4-byte header per channel (predictor int16,
    step index, reserved), then 4-byte nibble groups alternating
    across channels (the spec's stereo interleave); two low-nibble-
    first samples per byte. Returns per-channel sample lists."""
    import struct

    preds, idxs, chans = [], [], []
    for c in range(channels):
        pred, idx = struct.unpack_from("<hB", data, 4 * c)
        preds.append(pred)
        idxs.append(max(0, min(88, idx)))
        chans.append([pred])
    pos = 4 * channels
    while pos < len(data) and len(chans[0]) < n_samples:
        for c in range(channels):
            for byte in data[pos : pos + 4]:
                for nibble in (byte & 0x0F, byte >> 4):
                    if len(chans[c]) >= n_samples:
                        break
                    preds[c], idxs[c] = _ima_step_nibble(
                        nibble, preds[c], idxs[c]
                    )
                    chans[c].append(preds[c])
            pos += 4
    return chans


def _ima_decode_blocks_vec(
    blocks: "np.ndarray", n_samples: int, channels: int
) -> list["np.ndarray"]:
    """All full IMA blocks at once: (B, block_align) uint8 → per-channel
    (B * n_samples,) int64 sample arrays. The per-sample recurrence is
    inherently sequential WITHIN a block, but every block starts from
    its own header state, so the state machine steps once per sample
    position with (B, channels)-vectorized arithmetic — the same
    transition as _ima_step_nibble, verified by the scalar/vector
    equivalence test."""
    import numpy as np

    b = blocks.shape[0]
    # headers: per channel 4 bytes — predictor int16 LE, step index
    hdr = blocks[:, : 4 * channels].reshape(b, channels, 4)
    pred = (
        hdr[:, :, 0].astype(np.int64)
        | (hdr[:, :, 1].astype(np.int64) << 8)
    )
    pred = np.where(pred >= 0x8000, pred - 0x10000, pred)
    idx = np.clip(hdr[:, :, 2].astype(np.int64), 0, 88)
    # nibble matrix: 4-byte groups alternate across channels; within a
    # byte the LOW nibble is the earlier sample
    body = blocks[:, 4 * channels :]
    groups = body.reshape(b, -1, channels, 4)
    nib = np.empty((*groups.shape, 2), dtype=np.uint8)
    nib[..., 0] = groups & 0x0F
    nib[..., 1] = groups >> 4
    # (B, G, ch, 4, 2) → (B, ch, G*8) in sample order
    nib = nib.reshape(b, -1, channels, 8).transpose(0, 2, 1, 3)
    nib = nib.reshape(b, channels, -1).astype(np.int64)
    steps_tbl = np.asarray(_IMA_STEP, dtype=np.int64)
    adj_tbl = np.asarray(_IMA_ADJ, dtype=np.int64)
    out = np.empty((b, channels, n_samples), dtype=np.int64)
    out[:, :, 0] = pred
    nsteps = min(n_samples - 1, nib.shape[2])
    for i in range(nsteps):
        n = nib[:, :, i]
        step = steps_tbl[idx]
        diff = (
            (step >> 3)
            + np.where(n & 1, step >> 2, 0)
            + np.where(n & 2, step >> 1, 0)
            + np.where(n & 4, step, 0)
        )
        pred = np.clip(
            np.where(n & 8, pred - diff, pred + diff), -32768, 32767
        )
        idx = np.clip(idx + adj_tbl[n & 7], 0, 88)
        out[:, :, i + 1] = pred
    if nsteps < n_samples - 1:
        # foreign file whose body holds fewer nibbles than spb-1
        out = out[:, :, : nsteps + 1]
    return [out[:, c, :].reshape(-1) for c in range(channels)]


def _ima_quantize(s: int, pred: int, idx: int) -> int:
    """Quantize one delta against the current step (encoder side of
    the shared state machine)."""
    delta = s - pred
    n = 0
    if delta < 0:
        n |= 8
        delta = -delta
    step = _IMA_STEP[idx]
    if delta >= step:
        n |= 4
        delta -= step
    if delta >= step >> 1:
        n |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        n |= 1
    return n


def encode_wav_ima(rate: int, samples, block_align: int = 256) -> bytes:
    """(n,) mono or (n, channels) int16 → IMA ADPCM RIFF/WAVE
    (fmt 0x11, 4 bits/sample ≈ 4:1; stereo interleaves 4-byte nibble
    groups per channel, per the spec). The encoder quantizes each
    delta against the same state machine the decoder steps, so both
    reconstruct the identical waveform. Fixture/export helper."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    ch = a.shape[1]
    data_bytes = block_align - 4 * ch
    if data_bytes <= 0 or data_bytes % (4 * ch):
        raise ValueError(
            f"block_align {block_align} incompatible with {ch} channels"
        )
    per_ch_nibbles = data_bytes * 2 // ch
    spb = per_ch_nibbles + 1  # sample frames per block incl. header
    body = bytearray()
    pos = 0
    idx = [0] * ch  # step index carries across blocks via headers
    while pos < len(a):
        chunk = a[pos : pos + spb]
        preds = [int(chunk[0, c]) for c in range(ch)]
        for c in range(ch):
            body += struct.pack("<hBB", preds[c], idx[c], 0)
        nibs: list[list[int]] = [[] for _ in range(ch)]
        for si in range(1, len(chunk)):
            for c in range(ch):
                n = _ima_quantize(int(chunk[si, c]), preds[c], idx[c])
                nibs[c].append(n)
                preds[c], idx[c] = _ima_step_nibble(
                    n, preds[c], idx[c]
                )
        for c in range(ch):
            nibs[c] += [0] * (per_ch_nibbles - len(nibs[c]))
        for g in range(per_ch_nibbles // 8):
            for c in range(ch):
                seg = nibs[c][g * 8 : (g + 1) * 8]
                for lo, hi in zip(seg[::2], seg[1::2]):
                    body.append(lo | (hi << 4))
        pos += spb
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        ch,
        rate,
        rate * block_align // spb,
        block_align,
        4,
        2,
        spb,
    )
    chunks = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"fact" + struct.pack("<II", 4, len(a))
    chunks += b"data" + struct.pack("<I", len(body)) + bytes(body)
    if len(body) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks) - 4) + chunks


def encode_wav_g711(rate: int, samples, law: str = "ulaw") -> bytes:
    """(n, channels) int16 → 8-bit G.711 companded RIFF/WAVE
    (fmt 7 μ-law / fmt 6 A-law). Lossy 2:1 compression — the decoder
    recovers the quantized value. Fixture/export helper."""
    import struct

    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    channels = a.shape[1]
    if law == "ulaw":
        fmt_code, codes = 7, _ulaw_compress(a)
    elif law == "alaw":
        fmt_code, codes = 6, _alaw_compress(a)
    else:
        raise ValueError(f"law must be 'ulaw' or 'alaw', got {law!r}")
    body = codes.tobytes()
    fmt = struct.pack(
        "<HHIIHH", fmt_code, channels, rate, rate * channels, channels, 8
    )
    chunks = b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunks += b"\x00"  # chunks pad to even length
    return b"RIFF" + struct.pack("<I", 4 + len(chunks) - 4) + chunks


def fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in feature extractor: sha256 → FEATURE_DIM floats
    in [0, 1). Keeps the full Arrow/pandas path real and reproducible."""
    h = hashlib.sha256(payload or b"").digest()
    return [
        int.from_bytes(h[2 * i : 2 * i + 2], "big") / 65536.0
        for i in range(FEATURE_DIM)
    ]


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over media rows (Arrow-batched).

    Input must have media_id/modality/payload columns. Batch shape: the
    iterator yields pandas frames sized by arrow.maxRecordsPerBatch, so
    executor memory stays bounded no matter the payload size distribution.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "features": pdf["payload"].map(fake_features),
                }
            )

    return df.mapInPandas(run, FEATURES_SCHEMA)


PIXEL_STATS_SCHEMA = (
    "media_id BIGINT, width BIGINT, height BIGINT, "
    "mean_px DOUBLE, min_px BIGINT, max_px BIGINT"
)


def decode_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL-decode path over image payloads (PPM/BMP/PNG/GIF/JPEG,
    dispatched per payload by magic bytes): Arrow-batched
    mapInPandas decoding each payload to pixels and emitting per-image
    statistics — the shape every image-quality/dedup filter at 100 TB
    takes (decode confined to executor-side batches, stats columns out).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_media(bytes(payload))
                recs.append(
                    (
                        mid,
                        px.shape[1],
                        px.shape[0],
                        float(px.mean()),
                        int(px.min()),
                        int(px.max()),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "mean_px",
                    "min_px",
                    "max_px",
                ],
            )

    return df.mapInPandas(run, PIXEL_STATS_SCHEMA)


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: utf-8 payload bytes +
    metadata struct. Stands in for real image/audio parquet."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode("text", "utf-8"))
            .cast("long")
            .alias("n_bytes"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation over binary payload sizes — the query
    shape that must NOT decode payloads (column pruning keeps the binary
    column unread)."""
    m = media_from_documents(spark, sf_dir)
    return m.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
    )


MULTIMODAL_META_SQL = """
SELECT
  'text' AS modality,
  count(*) AS n_media,
  CAST(sum(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes,
  max(CAST(octet_length(encode(text)) AS BIGINT)) AS max_bytes
FROM documents
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full plumbing query: binary payloads → mapInPandas feature
    extraction → per-row feature norm. The deterministic stand-in
    extractor (sha256 → 16 dyadic floats) is reproducible in DuckDB
    (sha256 + hex cast), so the ENTIRE Arrow batch path — binary column
    in, Python worker, Arrow back — is oracle-checked end to end; both
    engines sum squares in the same ascending order, so the IEEE result
    is bit-identical."""
    feats = extract_features(media_from_documents(spark, sf_dir))
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("features", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    return feats.select(
        "media_id", "modality", "n_bytes", norm.alias("feat_norm")
    )


def _features_sql() -> str:
    feats = ",\n         ".join(
        f"CAST(concat('0x', substr(h, {4 * i + 1}, 4)) AS INTEGER)"
        f" / 65536.0 AS f{i}"
        for i in range(FEATURE_DIM)
    )
    sq_sum = " + ".join(f"f{i}*f{i}" for i in range(FEATURE_DIM))
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, 'text' AS modality,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS h  -- VARCHAR overload hashes the UTF-8 bytes
  FROM documents
), f AS (
  SELECT media_id, modality, n_bytes,
         {feats}
  FROM m
)
SELECT media_id, modality, n_bytes,
       round(sqrt({sq_sum}), 6) AS feat_norm
FROM f
"""


MULTIMODAL_FEATURES_SQL = _features_sql()


def mixed_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized mixed-modality media: documents cycled through
    image/audio/video with deterministic column-arithmetic metadata, so
    downstream operators have an oracle-expressible input."""
    d = load(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    is_image = F.col("doc_id") % 3 == 0
    is_video = F.col("doc_id") % 3 == 2
    return d.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.concat(F.lit("x/"), modality).alias("mime"),
            F.octet_length(F.encode("text", "utf-8"))
            .cast("long")
            .alias("n_bytes"),
            F.when(is_image, 64 + (F.col("n_chars") % 8) * 16)
            .cast("long")
            .alias("width"),
            F.when(is_image, 64 + (F.col("n_chars") % 6) * 16)
            .cast("long")
            .alias("height"),
            F.when(is_video, (F.col("n_chars") % 7 + 1) * 900)
            .cast("long")
            .alias("duration_ms"),
        ).alias("meta"),
    )


RESIZE_W, RESIZE_H = 224, 224


def resize_images(df: DataFrame) -> DataFrame:
    """Image resize plumbing via mapInPandas: Arrow-batched rows in, rows
    with target dimensions out. The pixel transform itself is the stubbed
    decode step (decode_media) — payload passes through; everything
    Spark-side (schema, pruning, batch shape) is the production path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_w": RESIZE_W,
                    "out_h": RESIZE_H,
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                }
            )

    return df.mapInPandas(
        run, "media_id BIGINT, out_w BIGINT, out_h BIGINT, n_bytes BIGINT"
    )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every image to 224×224 (C5 resize surface)."""
    m = mixed_media_table(spark, sf_dir).filter(
        F.col("modality") == "image"
    )
    return resize_images(m.select("media_id", "payload"))


MULTIMODAL_RESIZE_SQL = """
SELECT
  doc_id AS media_id,
  CAST(224 AS BIGINT) AS out_w,
  CAST(224 AS BIGINT) AS out_h,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id % 3 = 0
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (C5): one row per sampled frame per video — a pure
    JVM explode over the duration metadata (sequence + explode), so frame
    fan-out never touches Python; the frame DECODE would hang off each
    row via extract_features/decode_media on a real cluster."""
    step = 1000
    v = mixed_media_table(spark, sf_dir).filter(
        F.col("modality") == "video"
    )
    return (
        v.select(
            "media_id",
            F.col("meta.duration_ms").alias("duration_ms"),
            F.explode(
                F.sequence(
                    F.lit(0),
                    (F.col("meta.duration_ms") / step).cast("long"),
                )
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            "duration_ms",
            "frame_idx",
            (F.col("frame_idx") * step).alias("frame_ts_ms"),
        )
    )


MULTIMODAL_FRAME_SAMPLE_SQL = """
SELECT
  doc_id AS media_id,
  CAST((n_chars % 7 + 1) * 900 AS BIGINT) AS duration_ms,
  CAST(unnest(range(0, (n_chars % 7 + 1) * 900 // 1000 + 1)) AS BIGINT)
    AS frame_idx,
  CAST(unnest(range(0, (n_chars % 7 + 1) * 900 // 1000 + 1)) * 1000
    AS BIGINT) AS frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2
"""


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL codec decoders under the correctness gate (C5): every
    document becomes a solid grayscale image whose level and container
    derive from doc_id — PPM, BMP, PNG (filter cycling), GIF, baseline
    + progressive JPEG, and TIFF (compression/predictor/byte-order
    cycling) round-robin — encoded AND decoded inside Arrow
    -batched mapInPandas through the same magic-byte dispatch
    production payloads take, then aggregated per language. A solid
    grayscale image decodes to its exact level in every container
    (JPEG included: the luma transform of r=g=b is identity and the
    chroma planes quantize to exactly zero; progressive JPEG's many
    scans rebuild the same DC-only spectrum), so DuckDB can oracle the
    result with pure column arithmetic — a misdecode in ANY of the
    seven codec paths hash-fails the gate. Scale shape: decode is confined
    to executor batches; the shuffle carries only (lang, 3 ints)."""
    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 16.7 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        encoders = (
            "ppm", "bmp", "png", "gif", "jpeg", "jpeg_prog", "tiff",
        )
        tiff_comps = ("none", "packbits", "lzw", "deflate")
        for pdf in batches:
            recs = []
            for did, lang in zip(pdf["doc_id"], pdf["lang"]):
                did = int(did)
                level = did % 256
                px = np.full((6, 4, 3), level, dtype=np.uint8)
                kind = encoders[did % 7]
                if kind == "ppm":
                    payload = encode_ppm(px)
                elif kind == "bmp":
                    payload = encode_bmp(px)
                elif kind == "png":
                    # the router fixes did % 7 for every PNG-routed doc
                    # — cycle filters on an independent digit so all
                    # five filter paths face the gate
                    payload = encode_png(
                        px, filter_type=(did // 7) % 5
                    )
                elif kind == "gif":
                    pal = np.full((1, 3), level, dtype=np.uint8)
                    payload = encode_gif(
                        pal, np.zeros((6, 4), dtype=np.uint8)
                    )
                elif kind == "jpeg":
                    payload = encode_jpeg(px)
                elif kind == "tiff":
                    # r07: baseline TIFF, cycling strip compression and
                    # the horizontal-differencing predictor
                    from pipeline_kinesis_spark.operators.tiff import (
                        encode_tiff,
                    )

                    payload = encode_tiff(
                        px,
                        compression=tiff_comps[(did // 7) % 4],
                        predictor=1 + (did // 28) % 2,
                        byte_order="II" if (did // 56) % 2 == 0 else "MM",
                        rows_per_strip=2,
                    )
                else:
                    # SOF2: ten-scan successive approximation through
                    # the same magic-byte dispatch (r07)
                    payload = encode_jpeg_progressive(px)
                decoded = decode_media(payload)
                recs.append(
                    (
                        lang,
                        int(decoded.min()),
                        int(decoded.max()),
                        int(round(float(decoded.mean()))),
                    )
                )
            yield pd.DataFrame(
                recs, columns=["lang", "min_px", "max_px", "mean_px"]
            )

    stats = d.mapInPandas(
        run, "lang STRING, min_px BIGINT, max_px BIGINT, mean_px BIGINT"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("min_px").alias("sum_level"),
        F.max("max_px").alias("max_level"),
        F.sum("mean_px").alias("sum_mean"),
    )


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOSSLESS audio codecs under the correctness gate (C5): every
    document becomes a deterministic int16 ramp clip — mono or stereo by
    doc_id — encoded through PCM16 WAV and FLAC (cycling subframe models
    fixed/LPC/verbatim, all four stereo decorrelation modes, Rice
    partition orders) and decoded back through the same magic-byte
    dispatch production payloads take. Both containers are bit-exact, so
    DuckDB can oracle the per-language sample statistics with pure
    column arithmetic — a misdecode anywhere in the WAV or FLAC paths
    (predictor math, Rice coding, stereo reconstruction, CRC/MD5
    bookkeeping) hash-fails the gate. Scale shape: encode+decode confined
    to executor batches; the shuffle carries (lang, 4 ints) per doc."""
    from pipeline_kinesis_spark.operators.flac import encode_flac

    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 31.1 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        stereo_modes = ("independent", "left_side", "right_side", "mid_side")
        subframes = ("fixed", "lpc", "verbatim", "auto")
        for pdf in batches:
            recs = []
            for did, lang in zip(pdf["doc_id"], pdf["lang"]):
                did = int(did)
                n = 64 + did % 64
                i = np.arange(n, dtype=np.int64)
                v0 = (did * 7 + i * 13) % 4096 - 2048
                if did % 2:  # stereo
                    v1 = (did * 11 + i * 5) % 4096 - 2048
                    clip = np.stack([v0, v1], axis=1).astype(np.int16)
                else:
                    clip = v0[:, None].astype(np.int16)
                if did % 3 == 0:
                    payload = encode_wav(8000, clip)
                else:
                    # the router fixes did % 3 (codec) and did % 2
                    # (channels) — i.e. did % 6 — so every knob cycles
                    # on digits of q = did // 6, keeping each
                    # independent of the routing (the image gate's
                    # discipline): ALL four stereo modes and all
                    # subframe models face the gate on stereo docs
                    q = did // 6
                    payload = encode_flac(
                        8000,
                        clip,
                        block_size=64,  # multi-frame for n > 64
                        subframe=subframes[(q // 4) % 4],
                        stereo=stereo_modes[q % 4],
                        partition_order=(q // 16) % 3,
                    )
                rate, dec = decode_media(payload)
                flat = dec.astype(np.int64).reshape(-1)
                recs.append(
                    (
                        lang,
                        int(flat.sum()),
                        int(flat.min()),
                        int(flat.max()),
                        int(flat.size),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["lang", "clip_sum", "clip_min", "clip_max", "n_s"],
            )

    stats = d.mapInPandas(
        run,
        "lang STRING, clip_sum BIGINT, clip_min BIGINT, "
        "clip_max BIGINT, n_s BIGINT",
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("clip_sum").alias("sum_amp"),
        F.min("clip_min").alias("min_amp"),
        F.max("clip_max").alias("max_amp"),
        F.sum("n_s").alias("n_samples"),
    )


def audio_signal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over DECODED audio (C5): every third document
    becomes a deterministic mono int16 ramp, FLAC-encoded (fixed
    predictors) and decoded back through the production dispatch, then
    reduced to the classic signal features — energy (sum of squares) and
    zero-crossing count — per clip, aggregated per language. Both
    features are integer arithmetic over the exact samples, so DuckDB
    recomputes them from the ramp formula with a window lag for the
    crossings: any decode error (a single wrong sample) shifts the
    energy sum and hash-fails the gate. Spectral features (FFT) live in
    pytest (see test_multimodal_decode) — not SQL-expressible. Scale
    shape: decode+reduce per executor batch; shuffle carries
    (lang, 3 ints) per clip."""
    from pipeline_kinesis_spark.operators.flac import encode_flac

    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 16.6 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .filter(F.col("doc_id") % 3 == 2),
        "doc_id",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            recs = []
            for did, lang in zip(pdf["doc_id"], pdf["lang"]):
                did = int(did)
                n = 96 + did % 32
                i = np.arange(n, dtype=np.int64)
                clip = ((did * 7 + i * 13) % 4096 - 2048).astype(np.int16)
                rate, dec = decode_media(encode_flac(8000, clip))
                v = dec.astype(np.int64).reshape(-1)
                neg = v < 0  # sign convention: v >= 0 is positive
                crossings = int((neg[1:] != neg[:-1]).sum())
                recs.append(
                    (lang, int((v * v).sum()), crossings, int(v.size))
                )
            yield pd.DataFrame(
                recs, columns=["lang", "energy", "crossings", "n_s"]
            )

    stats = d.mapInPandas(
        run, "lang STRING, energy BIGINT, crossings BIGINT, n_s BIGINT"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("energy").alias("total_energy"),
        F.sum("crossings").alias("total_crossings"),
        F.sum("n_s").alias("n_samples"),
    )


# FLAC is lossless, so the oracle recomputes energy and crossings from
# the ramp formula — the lag window reproduces the sign-transition count
AUDIO_SIGNAL_FEATURES_SQL = """
WITH samp AS (
  SELECT doc_id, lang,
         unnest(range(0, 96 + doc_id % 32)) AS i
  FROM documents
  WHERE doc_id % 3 = 2
), vals AS (
  SELECT doc_id, lang, i,
         (doc_id * 7 + i * 13) % 4096 - 2048 AS v
  FROM samp
), marked AS (
  SELECT doc_id, lang, v,
         CASE WHEN (v < 0) != lag(v < 0) OVER (
           PARTITION BY doc_id ORDER BY i
         ) THEN 1 ELSE 0 END AS crossed
  FROM vals
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips,
       CAST(sum(v * v) AS BIGINT) AS total_energy,
       CAST(sum(crossed) AS BIGINT) AS total_crossings,
       CAST(count(*) AS BIGINT) AS n_samples
FROM marked
GROUP BY lang
"""


def dhash64(pixels) -> int:
    """64-bit difference hash (dHash), the standard perceptual image
    fingerprint: grayscale → 8x9 block-mean downsample → horizontal
    gradient sign bits. Deterministic pure numpy; robust to re-encoding
    because it depends only on decoded pixels."""
    import numpy as np

    a = np.asarray(pixels, dtype=np.float64)
    gray = a.mean(axis=2) if a.ndim == 3 else a
    h, w = gray.shape
    # block-mean resample to 8 rows x 9 cols (edges padded by repeat)
    ys = (np.arange(8 + 1) * h / 8).astype(int)
    xs = (np.arange(9 + 1) * w / 9).astype(int)
    small = np.empty((8, 9))
    for i in range(8):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(9):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            small[i, j] = gray[
                min(y0, h - 1) : min(y1, h), min(x0, w - 1) : min(x1, w)
            ].mean()
    bits = (small[:, 1:] > small[:, :-1]).reshape(-1)
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # fold to signed int64 so the value survives a BIGINT column
    return out - (1 << 64) if out >= 1 << 63 else out


def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (C2 for media): a quarter of the documents
    become 16x16 gradient images whose PATTERN derives from
    ``doc_id % 17`` while the CONTAINER cycles PNG / BMP / TIFF by
    doc_id — so docs sharing a pattern carry byte-identical pixels in
    different encodings. Each payload is decoded through the production
    dispatch and dHashed; grouping by the hash must therefore reunite
    every pattern class ACROSS codecs (a PNG that decodes even one
    pixel off its BMP twin splits a group and shifts the histogram).
    The oracle recomputes the group-size histogram from the doc_id
    arithmetic alone. Scale shape: decode+hash per executor batch, one
    groupBy on a 64-bit key, then a histogram over group sizes —
    exactly the exact-dedup plan with sha256 swapped for dHash."""
    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 7.2 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 4 == 3),
        "doc_id",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from pipeline_kinesis_spark.operators.tiff import encode_tiff

        def pattern(p: int) -> "np.ndarray":
            # seeded high-entropy texture per pattern id: dHash bits are
            # effectively random per class (measured min pairwise
            # Hamming distance 23/64 across the 17 classes — linear
            # gradients would saturate the diff signs and collide)
            rng = np.random.default_rng(1000 + p)
            return rng.integers(0, 256, size=(16, 16, 3)).astype(np.uint8)

        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                px = pattern(did % 17)
                enc = (encode_png, encode_bmp, encode_tiff)[did % 3]
                decoded = decode_media(enc(px))
                recs.append((dhash64(decoded),))
            yield pd.DataFrame(recs, columns=["h"])

    hashes = d.mapInPandas(run, "h BIGINT")
    sizes = hashes.groupBy("h").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .orderBy("group_size")
    )


# distinct gradient patterns hash distinctly and identical pixels hash
# identically whatever the container, so the histogram is pure doc_id
# arithmetic: group sizes = per-pattern doc counts
IMAGE_DHASH_SQL = """
WITH sel AS (
  SELECT doc_id % 17 AS pat FROM documents WHERE doc_id % 4 = 3
), grp AS (
  SELECT pat, count(*) AS group_size FROM sel GROUP BY pat
)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups
FROM grp
GROUP BY group_size
ORDER BY group_size
"""


def audio_fingerprint64(samples) -> int:
    """64-bit spectral fingerprint (chromaprint-style shape): the mono
    signal is cut into 8 time slices, each rfft'd into 9 linear band
    energies, and the sign of the 8 adjacent-band energy differences
    yields 8x8 bits. Depends only on decoded samples, so any lossless
    container of the same audio fingerprints identically."""
    import numpy as np

    v = np.asarray(samples, dtype=np.float64).reshape(-1)
    if v.size == 0:
        return 0
    n_slices, n_bands = 8, 9
    step = max(1, v.size // n_slices)
    bits: list[int] = []
    for s in range(n_slices):
        seg = v[s * step : (s + 1) * step]
        if seg.size == 0:
            seg = np.zeros(4)
        mag = np.abs(np.fft.rfft(seg))
        # linear band edges guarantee n_bands DISTINCT non-empty bands
        # even for short slices (geomspace edges collapse under int
        # truncation and would zero-pad — leaving structurally-constant
        # bits in the fingerprint)
        edges = np.linspace(0, mag.size, n_bands + 1).astype(int)
        e = [float(mag[a:b].sum()) for a, b in zip(edges[:-1], edges[1:])]
        bits.extend(int(e[k + 1] > e[k]) for k in range(n_bands - 1))
    out = 0
    for b in bits[:64]:
        out = (out << 1) | b
    return out - (1 << 64) if out >= 1 << 63 else out


def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO dedup (C2 for media, the image_dhash_dedup
    twin): a quarter of the documents become seeded-noise clips whose
    CLASS derives from ``doc_id % 13`` while the lossless CONTAINER
    alternates WAV-PCM / FLAC by doc_id — so docs sharing a class carry
    identical samples in different encodings. Decode through the
    production dispatch + spectral fingerprint; grouping by the
    fingerprint must reunite every class ACROSS containers (one wrong
    sample anywhere in the WAV or FLAC decode flips band energies and
    splits a group). Oracle = the class-size histogram from doc_id
    arithmetic. Scale shape: exact-dedup plan, decode+FFT per executor
    batch, one groupBy on a 64-bit key."""
    from pipeline_kinesis_spark.operators.flac import encode_flac

    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 26.2 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 4 == 2),
        "doc_id",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def clip(c: int) -> "np.ndarray":
            rng = np.random.default_rng(2000 + c)
            return rng.integers(-20000, 20000, size=(512, 1)).astype(
                np.int16
            )

        for pdf in batches:
            recs = []
            for did in pdf["doc_id"]:
                did = int(did)
                x = clip(did % 13)
                # the selector fixes did % 4 == 2 (all even), so the
                # container must cycle on a digit that varies within
                # the selected set: did // 4 alternates parity
                if (did // 4) % 2:
                    payload = encode_flac(8000, x, subframe="lpc")
                else:
                    payload = encode_wav(8000, x)
                _, dec = decode_media(payload)
                recs.append((audio_fingerprint64(dec),))
            yield pd.DataFrame(recs, columns=["h"])

    hashes = d.mapInPandas(run, "h BIGINT")
    sizes = hashes.groupBy("h").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .orderBy("group_size")
    )


AUDIO_FINGERPRINT_SQL = """
WITH sel AS (
  SELECT doc_id % 13 AS cls FROM documents WHERE doc_id % 4 = 2
), grp AS (
  SELECT cls, count(*) AS group_size FROM sel GROUP BY cls
)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups
FROM grp
GROUP BY group_size
ORDER BY group_size
"""


def resize_nearest(pixels, out_h: int, out_w: int) -> "np.ndarray":
    """Nearest-neighbor resize (floor index mapping): the standard
    cheap kernel for normalizing training images to model input dims.
    out[y, x] = in[floor(y*h/out_h), floor(x*w/out_w)] — pure numpy
    fancy indexing, vectorized per image."""
    import numpy as np

    a = np.asarray(pixels)
    h, w = a.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return a[ys[:, None], xs[None, :]]


def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize under the gate (C5): a fifth of the documents
    become deterministic gradient images (dims and pixel formula from
    doc_id), encoded through PNG/BMP/TIFF round-robin, decoded through
    the production dispatch, and resized with the nearest-neighbor
    kernel to doc_id-derived target dims. The reported per-language
    pixel sums depend on every decoded source pixel the floor mapping
    selects, so DuckDB can oracle them exactly by recomputing the
    gradient at the mapped indices — a wrong decode OR a wrong index
    mapping (off-by-one, swapped axes, rounding instead of floor)
    hash-fails. Scale shape: decode+resize per executor batch,
    (lang, 3 ints) shuffle."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .filter(F.col("doc_id") % 5 == 4)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from pipeline_kinesis_spark.operators.tiff import encode_tiff

        for pdf in batches:
            recs = []
            for did, lang in zip(pdf["doc_id"], pdf["lang"]):
                did = int(did)
                h0, w0 = 12 + did % 5, 8 + did % 7
                y, x = np.mgrid[0:h0, 0:w0]
                px = np.stack(
                    [(x * 3 + y * 7 + c * 11) % 256 for c in range(3)],
                    axis=-1,
                ).astype(np.uint8)
                enc = (encode_png, encode_bmp, encode_tiff)[did % 3]
                decoded = decode_media(enc(px))
                out_h, out_w = 5 + did % 4, 4 + did % 3
                small = resize_nearest(decoded, out_h, out_w)
                recs.append(
                    (
                        lang,
                        int(small.astype(np.int64).sum()),
                        int(small.shape[0] * small.shape[1]),
                    )
                )
            yield pd.DataFrame(
                recs, columns=["lang", "pix_sum", "n_out_px"]
            )

    stats = d.mapInPandas(
        run, "lang STRING, pix_sum BIGINT, n_out_px BIGINT"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("pix_sum").alias("total_pixel_sum"),
        F.sum("n_out_px").alias("total_out_pixels"),
    )


# the floor index mapping and the gradient formula are both plain
# integer arithmetic, so the oracle regenerates the resized pixel sums
IMAGE_RESIZE_SQL = """
WITH docs AS (
  SELECT doc_id, lang,
         12 + doc_id % 5 AS h0, 8 + doc_id % 7 AS w0,
         5 + doc_id % 4 AS oh, 4 + doc_id % 3 AS ow
  FROM documents
  WHERE doc_id % 5 = 4
), grid AS (
  SELECT doc_id, lang, h0, w0, oh, ow,
         unnest(range(0, oh)) AS y
  FROM docs
), cells AS (
  SELECT doc_id, lang, h0, w0, ow,
         y, unnest(range(0, ow)) AS x
  FROM grid
), mapped AS (
  SELECT doc_id, lang,
         (y * h0) // (5 + doc_id % 4) AS sy,
         (x * w0) // (4 + doc_id % 3) AS sx
  FROM cells
), vals AS (
  SELECT doc_id, lang,
         (sx * 3 + sy * 7) % 256
         + (sx * 3 + sy * 7 + 11) % 256
         + (sx * 3 + sy * 7 + 22) % 256 AS v
  FROM mapped
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images,
       CAST(sum(v) AS BIGINT) AS total_pixel_sum,
       CAST(count(*) AS BIGINT) AS total_out_pixels
FROM vals
GROUP BY lang
"""


def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode under the correctness gate (C5): a quarter of
    the documents become short MJPEG AVI clips — solid frames whose
    levels and count derive from doc_id — encoded with the in-repo JPEG
    encoder, wrapped in the RIFF/AVI container, and decoded back through
    the production magic-byte dispatch (container walk + per-frame JPEG
    decode). Solid r=g=b frames decode EXACTLY (the image gate's
    property), so DuckDB oracles the per-language frame statistics with
    pure arithmetic — a misparse of the container or a frame misdecode
    hash-fails the gate. Scale shape: decode confined to executor
    batches; the shuffle carries (lang, 4 ints) per clip."""
    from pipeline_kinesis_spark.operators.avi import encode_avi_mjpeg

    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 27.5 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .filter(F.col("doc_id") % 4 == 1),
        "doc_id",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            recs = []
            for did, lang in zip(pdf["doc_id"], pdf["lang"]):
                did = int(did)
                n_frames = 2 + did % 4
                levels = [(did * 13 + i * 29) % 256 for i in range(n_frames)]
                frames = np.stack(
                    [np.full((6, 4, 3), lv, np.uint8) for lv in levels]
                )
                fps = float(10 + did % 20)
                fps_dec, dec = decode_media(
                    encode_avi_mjpeg(fps, frames)
                )
                if fps_dec != fps:
                    raise ValueError(
                        f"fps mismatch for doc {did}: {fps_dec} != {fps}"
                    )
                per_frame = dec.reshape(dec.shape[0], -1)
                recs.append(
                    (
                        lang,
                        int(dec.shape[0]),
                        int(per_frame[:, 0].sum()),  # solid: level/frame
                        int(per_frame.max()),
                    )
                )
            yield pd.DataFrame(
                recs, columns=["lang", "n_frames", "sum_level", "max_level"]
            )

    stats = d.mapInPandas(
        run, "lang STRING, n_frames BIGINT, sum_level BIGINT, max_level BIGINT"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_videos"),
        F.sum("n_frames").alias("total_frames"),
        F.sum("sum_level").alias("sum_level"),
        F.max("max_level").alias("max_level"),
    )


# solid MJPEG frames decode to their exact level, so the oracle is the
# same doc_id arithmetic with a per-frame unnest
MULTIMODAL_VIDEO_SQL = """
WITH clip AS (
  SELECT doc_id, lang,
         unnest(range(0, 2 + doc_id % 4)) AS i
  FROM documents
  WHERE doc_id % 4 = 1
), lv AS (
  SELECT doc_id, lang, (doc_id * 13 + i * 29) % 256 AS level FROM clip
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_videos,
       CAST(count(*) AS BIGINT) AS total_frames,
       CAST(sum(level) AS BIGINT) AS sum_level,
       CAST(max(level) AS BIGINT) AS max_level
FROM lv
GROUP BY lang
"""


# both audio containers are lossless, so the oracle recomputes the ramp
# arithmetic directly — no decoder involved
MULTIMODAL_AUDIO_SQL = """
WITH samp AS (
  SELECT doc_id, lang,
         unnest(range(0, 64 + doc_id % 64)) AS i,
         1 + doc_id % 2 AS ch
  FROM documents
), vals AS (
  SELECT doc_id, lang, (doc_id * 7 + i * 13) % 4096 - 2048 AS v FROM samp
  UNION ALL
  SELECT doc_id, lang, (doc_id * 11 + i * 5) % 4096 - 2048 FROM samp
  WHERE ch = 2
)
SELECT lang,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips,
       CAST(sum(v) AS BIGINT) AS sum_amp,
       CAST(min(v) AS BIGINT) AS min_amp,
       CAST(max(v) AS BIGINT) AS max_amp,
       CAST(count(*) AS BIGINT) AS n_samples
FROM vals
GROUP BY lang
"""


# solid grayscale decodes to its exact level in every container, so the
# oracle needs no decoder — just the same doc_id arithmetic
MULTIMODAL_DECODE_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(doc_id % 256) AS BIGINT) AS sum_level,
       CAST(max(doc_id % 256) AS BIGINT) AS max_level,
       CAST(sum(doc_id % 256) AS BIGINT) AS sum_mean
FROM documents
GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "multimodal_decode_stats": QuerySpec(
        multimodal_decode_stats, MULTIMODAL_DECODE_SQL
    ),
    "multimodal_audio_stats": QuerySpec(
        multimodal_audio_stats, MULTIMODAL_AUDIO_SQL
    ),
    "multimodal_video_stats": QuerySpec(
        multimodal_video_stats, MULTIMODAL_VIDEO_SQL
    ),
    "audio_signal_features": QuerySpec(
        audio_signal_features, AUDIO_SIGNAL_FEATURES_SQL
    ),
    "image_dhash_dedup": QuerySpec(image_dhash_dedup, IMAGE_DHASH_SQL),
    "audio_fingerprint_dedup": QuerySpec(
        audio_fingerprint_dedup, AUDIO_FINGERPRINT_SQL
    ),
    "image_resize_stats": QuerySpec(image_resize_stats, IMAGE_RESIZE_SQL),
    "multimodal_meta_stats": QuerySpec(
        multimodal_meta_stats, MULTIMODAL_META_SQL
    ),
    "multimodal_features": QuerySpec(
        multimodal_features, MULTIMODAL_FEATURES_SQL
    ),
    "multimodal_resize": QuerySpec(multimodal_resize, MULTIMODAL_RESIZE_SQL),
    "multimodal_frame_sample": QuerySpec(
        multimodal_frame_sample, MULTIMODAL_FRAME_SAMPLE_SQL
    ),
}
