"""Multimodal column plumbing (BASELINE.json north star): image/audio/video
as opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

Decode kernels are REAL for the formats this environment can handle
without codec libraries — PCM16 / IMA ADPCM / G.711 µ-law WAV and
lossless FLAC audio (own RIFF parse + codecs in ``audio_codecs.py`` /
``flac.py``), binary PPM, non-interlaced 8-bit RGB PNG (stdlib ``zlib``
inflate + full five-filter un-filtering), baseline AND progressive JPEG
(own T.81 codec in ``jpeg.py``: Huffman + dequant + vectorized IDCT,
grayscale/4:4:4/4:2:0, restart intervals, SOF2 multi-scan successive
approximation), LZW GIF incl. animated (own codec in ``gif.py``), MJPEG
AVI video (``avi.py``), and gzip/bz2/xz containers — plus a
deterministic FAKE codec for plumbing tests. MP3 and H.264 remain
documented extension points: a conformant implementation requires the
ISO entropy/filterbank constant tables (11172-3 Annex B windows, 14496-10
CAVLC tables), which are not reproducible from first principles offline —
every format whose spec is self-contained is implemented for real. The
dispatch in ``_decode`` is the single extension point, and the
distributed plan does not move when a codec is added.

Scale notes:
- Payloads stay in executors end-to-end (mapInPandas streams Arrow batches;
  nothing collects to the driver).
- Feature extraction emits fixed-width ``array<float>`` columns that feed
  the ANN/dedup operators in this package unchanged.
- At 100 TB the media table is partitioned by (kind, ingest_date) and the
  binary column is stored with parquet page-level compression; the decode
  stage's parallelism is the file-split count, no shuffle anywhere.
"""

from __future__ import annotations

import functools
import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import corpus_memo

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),          # image | audio
    T.StructField("payload", T.BinaryType(), False),        # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType(), True),      # e.g. FAKE, PNG, WAV
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]), True),
])

DECODED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("n_values", T.IntegerType(), True),
    T.StructField("mean_value", T.DoubleType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),  # fixed 16-dim
])

FEATURE_DIM = 16
_MAGIC = b"FAKE"


def encode_fake_payload(media_id: int, kind: str, n_values: int) -> bytes:
    """Deterministic synthetic codec: 'FAKE' magic + count + md5-seeded
    bytes. Stands in for PNG/WAV bytes so the pipeline has real binary to
    push through Arrow."""
    seed = hashlib.md5(f"{kind}:{media_id}".encode()).digest()
    body = (seed * (n_values // len(seed) + 1))[:n_values]
    return _MAGIC + struct.pack("<i", n_values) + body


def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Build a deterministic media table (alternating image/audio)."""
    rows = []
    for i in range(n):
        kind = "image" if i % 2 == 0 else "audio"
        n_values = 64 + (i * 17) % 192
        meta = {
            "format": "FAKE",
            "width": n_values if kind == "image" else None,
            "height": 1 if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "n_samples": n_values if kind == "audio" else None,
            "n_frames": None,
        }
        rows.append((i, kind, encode_fake_payload(i, kind, n_values), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_fake(payload: bytes) -> list[float]:
    """The synthetic plumbing codec (FAKE magic)."""
    if payload[:4] != _MAGIC:
        raise NotImplementedError(
            "only the FAKE synthetic codec is available in this environment; "
            "install PIL/librosa and extend _decode for real formats"
        )
    (n,) = struct.unpack("<i", payload[4:8])
    body = payload[8:8 + n]
    return [b / 255.0 for b in body]


# --- real uncompressed codecs (no external libraries needed) -----------------

def encode_wav_payload(media_id: int, n_samples: int,
                       sample_rate: int = 16000) -> bytes:
    """Real PCM16 mono WAV bytes (stdlib ``wave``): deterministic md5-seeded
    samples so executors and the driver-side oracle mirror agree exactly."""
    import io
    import wave as wave_mod

    # center the unsigned byte stream so samples span negative and positive
    samples = struct.pack("<%dh" % n_samples,
                          *_seeded_samples(media_id, n_samples))
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples)
    return buf.getvalue()


def encode_flac_payload(media_id: int, n_samples: int,
                        sample_rate: int = 16000) -> bytes:
    """Real FLAC bytes (own Rice/FIXED-predictor codec, operators/flac.py)
    over the SAME md5-seeded samples as ``encode_wav_payload`` — FLAC is
    lossless, so decode(flac(id)) == decode(wav(id)) sample-exact."""
    import numpy as np

    from .flac import encode_flac

    samples = np.array(_seeded_samples(media_id, n_samples), dtype=np.int16)
    return encode_flac(samples, sample_rate)


def _decode_flac(payload: bytes) -> list[float]:
    """FLAC → floats in [-1, 1) (mono; stereo interleaves channels),
    matching _decode_wav's PCM16 normalization."""
    from .flac import decode_flac

    samples, _rate = decode_flac(payload)
    return [float(s) / 32768.0 for s in samples.reshape(-1)]


def _decode_wav(payload: bytes) -> list[float]:
    """WAV → floats in [-1, 1). Own RIFF parse (operators/audio_codecs.py)
    dispatching on the fmt chunk's format tag: PCM16 (1), G.711 µ-law (7),
    IMA ADPCM (0x11) — the latter two are REAL compressed-audio decodes."""
    from .audio_codecs import decode_wav_any

    samples, _rate = decode_wav_any(payload)
    return [s / 32768.0 for s in samples]


def _seeded_samples(media_id: int, n_samples: int) -> list[int]:
    """The shared md5-seeded int16 sample source every audio fixture codec
    encodes (WAV/FLAC carry it losslessly; ADPCM/µ-law quantize it)."""
    seed = hashlib.md5(f"wav:{media_id}".encode()).digest()
    noise = (seed * (2 * n_samples // len(seed) + 1))[:2 * n_samples]
    return [(noise[2 * i] | (noise[2 * i + 1] << 8)) - 32768
            for i in range(n_samples)]


def encode_adpcm_payload(media_id: int, n_samples: int,
                         sample_rate: int = 16000) -> bytes:
    """Real IMA ADPCM WAV bytes (own 4-bit codec, operators/audio_codecs.py)
    over the SAME md5-seeded samples as ``encode_wav_payload`` — 4:1
    compressed, lossy; the decode is deterministic so the oracle mirror
    reproduces it exactly."""
    from .audio_codecs import encode_wav_ima_adpcm

    return encode_wav_ima_adpcm(_seeded_samples(media_id, n_samples),
                                sample_rate)


def encode_wav_float32_payload(media_id: int, n_samples: int,
                               sample_rate: int = 16000) -> bytes:
    """Real IEEE float32 mono WAV bytes (fmt tag 3) carrying the SAME
    md5-seeded samples — int16/32768.0 is float32-exact, so the decode
    round-trip equals the PCM16 one bit-for-bit."""
    from .audio_codecs import encode_wav_float32

    return encode_wav_float32(_seeded_samples(media_id, n_samples),
                              sample_rate)


def encode_mulaw_payload(media_id: int, n_samples: int,
                         sample_rate: int = 16000) -> bytes:
    """Real G.711 µ-law WAV bytes (operators/audio_codecs.py) over the
    SAME md5-seeded samples — 2:1 companded telephony PCM."""
    from .audio_codecs import encode_wav_mulaw

    return encode_wav_mulaw(_seeded_samples(media_id, n_samples),
                            sample_rate)


def encode_alaw_payload(media_id: int, n_samples: int,
                        sample_rate: int = 16000) -> bytes:
    """Real G.711 A-law WAV bytes (operators/audio_codecs.py) over the
    SAME md5-seeded samples — the other G.711 companding law."""
    from .audio_codecs import encode_wav_alaw

    return encode_wav_alaw(_seeded_samples(media_id, n_samples),
                           sample_rate)


def encode_ppm_payload(media_id: int, width: int, height: int) -> bytes:
    """Real binary PPM (P6) bytes with deterministic md5-seeded RGB."""
    seed = hashlib.md5(f"ppm:{media_id}".encode()).digest()
    n = 3 * width * height
    body = (seed * (n // len(seed) + 1))[:n]
    return b"P6\n%d %d\n255\n" % (width, height) + body


def encode_bmp_payload(media_id: int, width: int, height: int) -> bytes:
    """Real 24-bit BMP bytes (bottom-up BGR rows, 4-byte row padding) with
    the SAME md5-seeded RGB recipe as the PPM fixture."""
    from .bmp import encode_bmp_rgb

    seed = hashlib.md5(f"bmp:{media_id}".encode()).digest()
    n = 3 * width * height
    body = (seed * (n // len(seed) + 1))[:n]
    rows = [[(body[3 * (y * width + x)], body[3 * (y * width + x) + 1],
              body[3 * (y * width + x) + 2]) for x in range(width)]
            for y in range(height)]
    return encode_bmp_rgb(rows)


def encode_tiff_payload(media_id: int, width: int, height: int) -> bytes:
    """Real baseline TIFF bytes (operators/tiff.py) over the SAME
    md5-seeded RGB recipe as the PPM/BMP fixtures. The codec variants
    rotate by id: PackBits vs uncompressed, MM vs II byte order, and a
    2-row multi-strip layout — every branch of the IFD walk gets gate
    coverage."""
    from .tiff import COMP_NONE, COMP_PACKBITS, encode_tiff_rgb

    seed = hashlib.md5(f"tiff:{media_id}".encode()).digest()
    n = 3 * width * height
    body = (seed * (n // len(seed) + 1))[:n]
    rows = [[(body[3 * (y * width + x)], body[3 * (y * width + x) + 1],
              body[3 * (y * width + x) + 2]) for x in range(width)]
            for y in range(height)]
    k = (media_id // 24) % 4
    return encode_tiff_rgb(
        rows,
        compression=COMP_PACKBITS if k in (1, 3) else COMP_NONE,
        byteorder=">" if k in (2, 3) else "<",
        rows_per_strip=2 if k == 3 else None,
    )


def _decode_ppm(payload: bytes) -> list[float]:
    """Binary PPM (P6) → per-pixel luma floats in [0, 1] (BT.601 weights)."""
    if not payload.startswith(b"P6"):
        raise NotImplementedError("only binary PPM (P6) images are decoded here")
    parts = payload.split(b"\n", 3)
    width, height = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    body = parts[3][: 3 * width * height]
    return [
        (0.299 * body[3 * i] + 0.587 * body[3 * i + 1] + 0.114 * body[3 * i + 2])
        / maxval
        for i in range(width * height)
    ]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png_payload(media_id: int, width: int, height: int) -> bytes:
    """Real non-interlaced 8-bit RGB PNG bytes (stdlib ``zlib`` only):
    deterministic md5-seeded RGB, one IHDR/IDAT/IEND chunk each with spec
    CRCs. Rows cycle through all five scanline filters (None/Sub/Up/
    Average/Paeth) so fixtures exercise the decoder's whole un-filter
    path, not just filter 0."""
    import zlib

    seed = hashlib.md5(f"png:{media_id}".encode()).digest()
    n = 3 * width * height
    raw = (seed * (n // len(seed) + 1))[:n]
    bpp, stride = 3, 3 * width
    out = bytearray()
    prior = bytes(stride)
    for y in range(height):
        row = raw[y * stride:(y + 1) * stride]
        f = y % 5
        out.append(f)
        for x in range(stride):
            left = row[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - left
            elif f == 2:
                v = row[x] - up
            elif f == 3:
                v = row[x] - ((left + up) >> 1)
            else:
                v = row[x] - _paeth(left, up, ul)
            out.append(v & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


def _decode_png(payload: bytes) -> list[float]:
    """Non-interlaced 8-bit RGB PNG → per-pixel luma floats in [0, 1]
    (BT.601, matching _decode_ppm). Stdlib ``zlib`` inflate + spec
    un-filtering of all five scanline filters; IDAT may span multiple
    chunks (they concatenate into one zlib stream). Palette, alpha,
    16-bit, and interlaced variants raise — they need a real imaging
    library (the JPEG extension point's story)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG payload")
    pos, width = 8, 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, ctype_id, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if (depth, ctype_id, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only non-interlaced 8-bit RGB PNG is decoded here; "
                    "palette/alpha/16-bit/interlaced need an imaging library")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    raw = zlib.decompress(bytes(idat))
    bpp, stride = 3, 3 * width
    prior = bytes(stride)
    pixels = bytearray()
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)]
        recon = bytearray(stride)
        for x in range(stride):
            left = recon[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] + left
            elif f == 2:
                v = line[x] + up
            elif f == 3:
                v = line[x] + ((left + up) >> 1)
            elif f == 4:
                v = line[x] + _paeth(left, up, ul)
            else:
                raise NotImplementedError(f"unknown PNG filter {f}")
            recon[x] = v & 0xFF
        prior = bytes(recon)
        pixels += recon
    return [
        (0.299 * pixels[3 * i] + 0.587 * pixels[3 * i + 1]
         + 0.114 * pixels[3 * i + 2]) / 255
        for i in range(width * height)
    ]


def encode_jpeg_payload(media_id: int, width: int, height: int) -> bytes:
    """Real JFIF bytes (own T.81 codec, numpy-only): deterministic
    md5-seeded smooth RGB content. Rotates decoder paths by id: 4:4:4 and
    4:2:0 subsampling, restart markers (DRI/RSTn) on every 8th, and
    PROGRESSIVE (SOF2 multi-scan successive approximation) on ids with
    id % 8 == 0 (even, so the gate fixture's image slots carry it)."""
    import numpy as np

    from .jpeg import encode_jpeg_progressive, encode_jpeg_rgb

    rgb = _fixture_rgb(f"jpeg:{media_id}", width, height)
    if media_id % 8 == 0:
        return encode_jpeg_progressive(
            rgb.astype(np.uint8), quality=90, subsampling="444")
    return encode_jpeg_rgb(
        rgb.astype(np.uint8),
        quality=90,
        subsampling="420" if media_id % 4 == 2 else "444",
        restart_interval=2 if media_id % 8 == 6 else 0,
    )


def _fixture_rgb(seed_text: str, width: int, height: int):
    """Deterministic md5-seeded smooth RGB content shared by the JPEG and
    AVI fixture encoders (and their oracle mirrors)."""
    import numpy as np

    seed = hashlib.md5(seed_text.encode()).digest()
    n = 3 * width * height
    noise = np.frombuffer(
        (seed * (n // len(seed) + 1))[:n], dtype=np.uint8
    ).astype(np.float64).reshape(height, width, 3)
    yy, xx = np.mgrid[0:height, 0:width]
    base = 128.0 + 60.0 * np.sin(xx / 5.0) + 50.0 * np.cos(yy / 3.0)
    return np.clip(base[:, :, None] + (noise - 128.0) * 0.15, 0, 255)


def encode_avi_payload(media_id: int, width: int, height: int,
                       n_frames: int, fps: int = 10) -> bytes:
    """Real MJPEG AVI bytes (operators/avi.py mux over our own T.81
    encoder): n_frames deterministic JPEG frames whose content varies per
    frame index."""
    import numpy as np

    from .avi import encode_mjpeg_avi
    from .jpeg import encode_jpeg_rgb

    frames = [
        encode_jpeg_rgb(
            _fixture_rgb(f"avi:{media_id}:{fi}", width, height)
            .astype(np.uint8), quality=90)
        for fi in range(n_frames)
    ]
    return encode_mjpeg_avi(frames, width, height, fps)


def _decode_avi(payload: bytes, every_n: int = 1) -> list[float]:
    """MJPEG AVI → concatenated per-frame luma floats in [0, 1]; frame
    sampling (every_n) happens at DEMUX, before any pixel decode."""
    from .avi import demux_avi

    frames, _meta = demux_avi(payload, every_n)
    out: list[float] = []
    for f in frames:
        out.extend(_decode_jpeg(f))
    return out


def _gif_fixture(seed_text: str, width: int, height: int,
                 n_frames: int = 1) -> tuple[bytes, list[bytes]]:
    """Deterministic md5-seeded 64-color palette + per-frame indices for
    the GIF fixtures (shared by the Spark fixture and the oracle mirror)."""
    pal_seed = hashlib.md5(f"{seed_text}:pal".encode()).digest()
    palette = (pal_seed * (64 * 3 // len(pal_seed) + 1))[:64 * 3]
    frames = []
    for fi in range(n_frames):
        seed = hashlib.md5(f"{seed_text}:{fi}".encode()).digest()
        n = width * height
        frames.append(bytes(b % 64 for b in
                            (seed * (n // len(seed) + 1))[:n]))
    return palette, frames


def encode_gif_payload(media_id: int, width: int, height: int) -> bytes:
    """Real static GIF bytes (own LZW codec, operators/gif.py): 64-color
    md5-seeded palette + indices. GIF is lossless for indexed color, so
    decode is byte-exact against the fixture. Every other id stores
    interlaced (the spec's 4-pass row order) so the de-interlace path
    stays in the gate rotation."""
    from .gif import encode_gif

    palette, frames = _gif_fixture(f"gif:{media_id}", width, height)
    return encode_gif(frames, palette, width, height,
                      interlace=(media_id // 16) % 2 == 1)


def encode_animated_gif_payload(media_id: int, width: int, height: int,
                                n_frames: int) -> bytes:
    """Real animated GIF bytes: one Graphic Control Extension + LZW image
    per frame — the second video container next to MJPEG AVI. Odd frames
    carry their own Local Color Table (the real-world shape where each
    frame re-quantizes), so the LCT decode path rides the gate fixture."""
    from .gif import encode_gif

    palette, frames = _gif_fixture(f"agif:{media_id}", width, height,
                                   n_frames)
    local_palettes: list[bytes | None] = []
    for fi in range(n_frames):
        if fi % 2 == 0:
            local_palettes.append(None)
        else:
            seed = hashlib.md5(f"agif:{media_id}:lpal:{fi}".encode()).digest()
            local_palettes.append((seed * (64 * 3 // len(seed) + 1))[:64 * 3])
    return encode_gif(frames, palette, width, height, delay_cs=10,
                      local_palettes=local_palettes)


def _decode_gif(payload: bytes, every_n: int = 1) -> list[float]:
    """GIF → concatenated per-frame luma floats in [0, 1] (BT.601,
    matching the other image decoders). For animated GIFs, frame
    sampling (every_n) happens at the container level: sampled-out
    frames' LZW streams are never decompressed (operators/gif.py).
    Palette→luma is a 256-entry LUT applied with numpy — only the LZW
    stream itself is sequential."""
    import numpy as np

    from .gif import decode_gif

    frames, palettes, _w, _h = decode_gif(payload, every_n)
    luts: dict[bytes, object] = {}
    out: list[float] = []
    for f, palette in zip(frames, palettes):
        lut = luts.get(palette)
        if lut is None:
            pal = np.frombuffer(palette, dtype=np.uint8).astype(np.float64)
            pal = pal.reshape(-1, 3)
            lut = (0.299 * pal[:, 0] + 0.587 * pal[:, 1]
                   + 0.114 * pal[:, 2]) / 255
            luts[palette] = lut
        out.extend(lut[np.frombuffer(bytes(f), dtype=np.uint8)].tolist())
    return out


def _decode_jpeg(payload: bytes) -> list[float]:
    """Baseline JPEG → per-pixel luma floats in [0, 1] (BT.601, matching
    _decode_ppm/_decode_png). Full entropy decode via operators.jpeg."""
    from .jpeg import decode_jpeg

    rgb = decode_jpeg(payload).astype("float64")
    luma = (0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
            + 0.114 * rgb[:, :, 2]) / 255.0
    return [float(v) for v in luma.reshape(-1)]


def encode_gzip_payload(inner: bytes) -> bytes:
    """Wrap any encoded payload in a gzip container (mtime pinned to 0 so
    the bytes are deterministic)."""
    import gzip as gzip_mod
    import io

    buf = io.BytesIO()
    with gzip_mod.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(inner)
    return buf.getvalue()


def _decode(payload: bytes) -> list[float]:
    """Format dispatch by magic bytes — the one place a new codec plugs in."""
    if payload[:4] == _MAGIC:
        return _decode_fake(payload)
    if payload[:4] == b"RIFF":
        if payload[8:12] == b"AVI ":
            return _decode_avi(payload)
        return _decode_wav(payload)
    if payload[:4] == b"fLaC":
        return _decode_flac(payload)
    if payload[:4] == b"GIF8":
        return _decode_gif(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        from .bmp import decode_bmp_luma

        return decode_bmp_luma(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff_luma

        return decode_tiff_luma(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:2] == b"\x1f\x8b":
        # gzip container (stdlib): decompress and re-dispatch on the inner
        # magic — a REAL compressed codec path; gzip'd WAV/PPM round-trip
        import gzip as gzip_mod

        return _decode(gzip_mod.decompress(payload))
    if payload[:3] == b"BZh":
        import bz2

        return _decode(bz2.decompress(payload))
    if payload[:6] == b"\xfd7zXZ\x00":
        import lzma

        return _decode(lzma.decompress(payload))
    if payload[:4] == b"PK\x03\x04":
        # ZIP container (stdlib): decode the archive's FIRST entry by its
        # own magic — the media-in-archive landing format
        import io
        import zipfile

        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            names = zf.namelist()
            if not names:
                raise NotImplementedError("empty ZIP media payload")
            return _decode(zf.read(names[0]))
    if payload[257:262] == b"ustar":
        # POSIX tar container (stdlib): first regular member, re-dispatch
        import io
        import tarfile

        with tarfile.open(fileobj=io.BytesIO(payload)) as tf:
            for m in tf:
                if m.isfile():
                    return _decode(tf.extractfile(m).read())
        raise NotImplementedError("tar payload carries no regular file")
    # entropy-coded image/audio formats need PIL/librosa/ffmpeg — absent
    # in this container
    return _decode_fake(payload)  # raises the canonical NotImplementedError


def _audio_payload(i: int, n_samples: int) -> tuple[bytes, str]:
    """Audio fixture codec rotation by i%8: PCM16-or-float32 WAV (1,
    split by i%16 — both carry identical samples, float32 storage is
    int16-exact), lossless FLAC (3), IMA ADPCM (5), G.711 µ-law/A-law
    (7, split by i%16). All encode the SAME md5-seeded samples (WAV/FLAC
    losslessly; ADPCM/G.711 through their deterministic quantizers). One
    helper shared by the Spark fixture and the driver-side oracle mirror
    so the two can never drift."""
    slot = i % 8
    if slot == 3:
        return encode_flac_payload(i, n_samples), "FLAC"
    if slot == 5:
        return encode_adpcm_payload(i, n_samples), "ADPCM"
    if slot == 7:
        if i % 16 == 15:
            return encode_alaw_payload(i, n_samples), "ALAW"
        return encode_mulaw_payload(i, n_samples), "MULAW"
    if i % 16 == 9:
        return encode_wav_float32_payload(i, n_samples), "WAV"
    return encode_wav_payload(i, n_samples), "WAV"


def _image_payload(i: int, width: int, height: int) -> tuple[bytes, str]:
    """Image fixture codec rotation: PPM-or-BMP-or-TIFF / PNG /
    baseline-or-progressive JPEG / GIF by (i//2)%4 (the simple-container
    slot rotates PPM, BMP and TIFF by i//8). One helper shared by the
    Spark fixture and the driver-side oracle mirror so the two can never
    drift."""
    slot = (i // 2) % 4
    if slot == 0:
        k = (i // 8) % 3
        if k == 1:
            return encode_bmp_payload(i, width, height), "BMP"
        if k == 2:
            return encode_tiff_payload(i, width, height), "TIFF"
        return encode_ppm_payload(i, width, height), "PPM"
    if slot == 1:
        return encode_png_payload(i, width, height), "PNG"
    if slot == 2:
        return _jpeg_variant_payload(i, width, height), "JPEG"
    return encode_gif_payload(i, width, height), "GIF"


def _jpeg_variant_payload(i: int, width: int, height: int) -> bytes:
    """Gate JPEG image ids are ≡4 (mod 8) under the 4-format rotation, so
    the id-keyed variant rules in ``encode_jpeg_payload`` would never
    fire; rotate the codec variants explicitly by i//8 instead:
    progressive SOF2 → 4:2:0 → restart markers → plain baseline."""
    import numpy as np

    from .jpeg import encode_jpeg_progressive, encode_jpeg_rgb

    rgb = _fixture_rgb(f"jpeg:{i}", width, height).astype(np.uint8)
    k = (i // 8) % 4
    if k == 0:
        return encode_jpeg_progressive(rgb, quality=90, subsampling="444")
    return encode_jpeg_rgb(rgb, quality=90,
                           subsampling="420" if k == 1 else "444",
                           restart_interval=2 if k == 2 else 0)


def _video_payload(i: int, width: int, height: int,
                   n_frames: int) -> tuple[bytes, str]:
    """Video fixture codec rotation: MJPEG AVI (i%16==10) / animated GIF
    (i%16==14). One helper shared by the Spark fixture and the driver-side
    oracle mirror so the two can never drift."""
    if i % 16 == 14:
        return encode_animated_gif_payload(i, width, height, n_frames), "GIF"
    return encode_avi_payload(i, width, height, n_frames), "AVI"


def _fixture_row(i: int) -> tuple:
    """One deterministic media row: kind + payload + meta for id ``i``.
    Ids %16∈{10,14} are video (MJPEG AVI / animated GIF); other even ids
    rotate PPM/PNG/JPEG(incl. progressive)/GIF images; odd ids rotate
    WAV/FLAC/ADPCM/µ-law audio."""
    if i % 16 in (10, 14):
        width = 8 + (i * 5) % 24
        height = 4 + i % 6
        n_frames = 2 + i % 3
        payload, fmt = _video_payload(i, width, height, n_frames)
        return (i, "video", payload,
                {"format": fmt, "width": width, "height": height,
                 "sample_rate": None, "n_samples": None,
                 "n_frames": n_frames})
    if i % 2 == 0:
        width = 8 + (i * 5) % 24
        height = 4 + i % 6
        payload, fmt = _image_payload(i, width, height)
        return (i, "image", payload,
                {"format": fmt, "width": width, "height": height,
                 "sample_rate": None, "n_samples": None, "n_frames": None})
    n_samples = 64 + (i * 17) % 192
    payload, fmt = _audio_payload(i, n_samples)
    return (i, "audio", payload,
            {"format": fmt, "width": None, "height": None,
             "sample_rate": 16000, "n_samples": n_samples,
             "n_frames": None})


@corpus_memo(table=None)
def synthetic_media_real(spark: SparkSession, n: int = 64) -> DataFrame:
    """Media table carrying REAL encoded bytes: images rotate binary PPM,
    zlib-compressed RGB PNG, entropy-coded JPEG (baseline and
    progressive), and LZW GIF; audio rotates PCM16 WAV, lossless FLAC,
    IMA ADPCM, and G.711 µ-law; video ids carry MJPEG AVI clips and
    animated GIFs. All built by ``_fixture_row`` — the same helper the
    oracle mirror runs."""
    rows = [_fixture_row(i) for i in range(n)]
    # A driver-built demo table parallelizes into one slice per core — for
    # 64 rows that is 32 near-empty Arrow batches, each paying a Python
    # worker round-trip in the decode stage. Pack the demo into a few
    # real batches; a production media table gets its partitioning from
    # the file layout instead. Memoized per (session, n) — the encode loop
    # and createDataFrame dominate this fixed fixture's cost.
    # r11: localCheckpoint additionally pins the encoded payloads as
    # JVM-resident blocks — without it every action re-ran the Python-
    # worker deserialization of the pickled row RDD (the pii_scrub
    # finding: the fixture scan, not the codecs, was the per-call tax)
    return (spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(4)
            .localCheckpoint())


def _feature(values: list[float]) -> list[float]:
    """Fixed-width pooled feature: mean-pool into FEATURE_DIM buckets."""
    if not values:
        return [0.0] * FEATURE_DIM
    out = []
    step = max(len(values) // FEATURE_DIM, 1)
    for j in range(FEATURE_DIM):
        chunk = values[j * step:(j + 1) * step] or [0.0]
        out.append(sum(chunk) / len(chunk))
    return out


def decode_media(media: DataFrame) -> DataFrame:
    """The decode/feature-extract stage: Arrow-batched, partition-preserving
    (mapInPandas), no driver involvement."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            values = pdf["payload"].map(lambda p: _decode(bytes(p)))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_values": values.map(len).astype("int32"),
                "mean_value": values.map(lambda v: sum(v) / len(v) if v else None),
                "feature": values.map(_feature),
            })

    return media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def decode_media_arrow(media: DataFrame) -> DataFrame:
    """``mapInArrow`` variant of :func:`decode_media`: the UDF consumes
    and produces ``pyarrow.RecordBatch`` directly, skipping the
    Arrow→pandas→Arrow conversion ``mapInPandas`` pays on every batch.
    For a binary-payload table the pandas leg is pure overhead — payloads
    become Python ``bytes`` either way, but pandas wraps every column in
    Series/block structures first. Same rows, same schema, same plan
    shape (one partition-preserving Python stage); pinned equal to
    decode_media in tests, throughput compared in the stress harness."""
    import pyarrow as pa

    target = pa.schema([
        pa.field("media_id", pa.int64(), False),
        pa.field("kind", pa.string(), False),
        pa.field("n_values", pa.int32()),
        pa.field("mean_value", pa.float64()),
        pa.field("feature", pa.list_(pa.float32())),
    ])

    def decode_batches(batches: "Iterator[pa.RecordBatch]"):
        for batch in batches:
            payloads = batch.column(batch.schema.get_field_index("payload"))
            values = [_decode(p.as_py()) for p in payloads]
            yield pa.RecordBatch.from_arrays([
                batch.column(batch.schema.get_field_index("media_id")),
                batch.column(batch.schema.get_field_index("kind")),
                pa.array([len(v) for v in values], pa.int32()),
                pa.array([sum(v) / len(v) if v else None for v in values],
                         pa.float64()),
                pa.array([_feature(v) for v in values],
                         pa.list_(pa.float32())),
            ], schema=target)

    return media.mapInArrow(decode_batches, schema=DECODED_SCHEMA)


def resize_images_2d(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL 2-D bilinear image resize: decode → (h, w) luma plane →
    bilinear sample onto an (out_h, out_w) grid → flatten. numpy-vectorized
    per image inside Arrow batches; audio rows are filtered out (resize is
    an image op). Align-corners convention: the four grid corners map
    exactly, interior samples interpolate between the four neighboring
    pixels — so a constant image stays constant and a linear ramp is
    reproduced exactly (both pinned in tests)."""
    import numpy as np

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "image"]

            def one(row):
                # Arrow null-able struct ints surface as floats in pandas
                w = int(row["meta"]["width"])
                h = int(row["meta"]["height"])
                plane = np.asarray(_decode(bytes(row["payload"])),
                                   dtype=np.float64).reshape(h, w)
                ys = (np.linspace(0, h - 1, out_h) if out_h > 1
                      else np.zeros(1))
                xs = (np.linspace(0, w - 1, out_w) if out_w > 1
                      else np.zeros(1))
                y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
                x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
                y1 = np.minimum(y0 + 1, h - 1)
                x1 = np.minimum(x0 + 1, w - 1)
                fy = (ys - y0)[:, None]
                fx = (xs - x0)[None, :]
                top = plane[y0][:, x0] * (1 - fx) + plane[y0][:, x1] * fx
                bot = plane[y1][:, x0] * (1 - fx) + plane[y1][:, x1] * fx
                return (top * (1 - fy) + bot * fy).reshape(-1).tolist()

            vals = pdf.apply(one, axis=1) if len(pdf) else pd.Series([], dtype=object)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_values": vals.map(len).astype("int32"),
                "mean_value": vals.map(lambda v: sum(v) / len(v) if v else None),
                "feature": vals.map(_feature),
            })

    return media.mapInPandas(resize_batches, schema=DECODED_SCHEMA)


def resize_images(media: DataFrame, width: int) -> DataFrame:
    """1-D stream resize (nearest-neighbor over the decoded value list) —
    kept as the cheap thumbnail-vector path; ``resize_images_2d`` above is
    the real bilinear image resize."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "image"]
            vals = pdf["payload"].map(lambda p: _decode(bytes(p)))
            resized = vals.map(
                lambda v: [v[int(i * len(v) / width)] for i in range(width)] if v else []
            )
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_values": resized.map(len).astype("int32"),
                "mean_value": resized.map(lambda v: sum(v) / len(v) if v else None),
                "feature": resized.map(_feature),
            })

    return media.mapInPandas(resize_batches, schema=DECODED_SCHEMA)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: decode a media table of REAL encoded bytes — PPM / PNG
    / JPEG (baseline + progressive) / GIF images, WAV / FLAC / ADPCM /
    G.711 audio, AVI + animated-GIF video — by the actual codecs above,
    inside the Arrow-native ``mapInArrow`` stage (the measured-fastest
    decode path: no pandas conversion, payloads never touch the driver)
    — and roll the extracted features up per kind. The oracle is a
    literal-VALUES table computed by running the same codecs in plain
    Python (the media table is built in-memory, so DuckDB can't scan it —
    but its expected output is exact)."""
    dec = decode_media_arrow(synthetic_media_real(spark, 64))
    feat_sum = F.aggregate("feature", F.lit(0.0),
                           lambda acc, v: acc + v.cast("double"))
    return (
        dec.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_values").alias("total_values"),
            F.round(F.avg("mean_value"), 4).alias("avg_mean"),
            F.round(F.avg(feat_sum), 4).alias("avg_feature_sum"),
        )
    )


def _expected_feature_rollup() -> list[tuple]:
    """Mirror of q_multimodal_features in driver-side Python, running the
    SAME codecs over the same deterministic payloads. Feature values
    round-trip through Arrow float32 (DECODED_SCHEMA), so emulate that
    truncation before summing in double, exactly as the Spark side does."""
    import numpy as np

    acc: dict[str, list] = {}
    for i in range(64):
        _mid, kind, payload, _meta = _fixture_row(i)
        vals = _decode(payload)
        feat_sum = sum(float(np.float32(v)) for v in _feature(vals))
        a = acc.setdefault(kind, [0, 0, 0.0, 0.0])
        a[0] += 1
        a[1] += len(vals)
        a[2] += sum(vals) / len(vals)
        a[3] += feat_sum
    return [
        (k, a[0], a[1], round(a[2] / a[0], 4), round(a[3] / a[0], 4))
        for k, a in sorted(acc.items())
    ]


QUERIES = {"multimodal_features": q_multimodal_features}

@functools.cache
def oracles() -> dict[str, str]:
    """Oracle SQL for the gate, built LAZILY on first call (memoized).

    The literal-VALUES table runs 32 codec encode+decode round-trips
    (JPEG/PPM/PNG/WAV), so it must never execute at module import time:
    a codec regression should fail exactly the ``multimodal_features``
    gate row, not the whole-engine import (round-4 post-mortem)."""
    return {
        "multimodal_features": "SELECT * FROM (VALUES "
        + ", ".join(
            f"('{k}', CAST({n} AS BIGINT), CAST({tv} AS BIGINT), "
            f"CAST({am} AS DOUBLE), CAST({af} AS DOUBLE))"
            for k, n, tv, am, af in _expected_feature_rollup()
        )
        + ") AS t(kind, n_media, total_values, avg_mean, avg_feature_sum)",
    }


def sample_video_frames(media: DataFrame, every_n: int) -> DataFrame:
    """REAL video frame sampling: keep every n-th FRAME of MJPEG AVI /
    animated-GIF payloads, selected at the container level — sampled-out
    frames are never pixel-decoded (AVI: demux skips the JPEG, GIF: the
    LZW stream is skipped byte-wise). That is the property that matters
    at 100 TB: a 1-in-n sample pays ~1/n of the decode cost, not a
    post-decode slice. Non-video payloads decode whole. NOTE: a static
    GIF is a 1-frame container, so frame 0 always survives sampling —
    image rows are untouched, exactly like the AVI path."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            def one(p) -> list[float]:
                p = bytes(p)
                if p[:4] == b"RIFF" and p[8:12] == b"AVI ":
                    return _decode_avi(p, every_n)
                if p[:4] == b"GIF8":
                    return _decode_gif(p, every_n)
                return _decode(p)
            vals = pdf["payload"].map(one)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_values": vals.map(len).astype("int32"),
                "mean_value": vals.map(lambda v: sum(v) / len(v) if v else None),
                "feature": vals.map(_feature),
            })

    return media.mapInPandas(sample_batches, schema=DECODED_SCHEMA)


def sample_frames(media: DataFrame, every_n: int) -> DataFrame:
    """Value-level sampling (audio decimation): keep every n-th decoded
    value. For frame-level video sampling use ``sample_video_frames``."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = pdf["payload"].map(lambda p: _decode(bytes(p))[::every_n])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_values": vals.map(len).astype("int32"),
                "mean_value": vals.map(lambda v: sum(v) / len(v) if v else None),
                "feature": vals.map(_feature),
            })

    return media.mapInPandas(sample_batches, schema=DECODED_SCHEMA)
