"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` payload columns with typed metadata
structs; decode / feature-extraction / resize / frame-sampling run as
Arrow-batched ``mapInPandas`` stages so the heavy per-item work stays
in vectorized Python workers and the rest of the pipeline stays
Catalyst.

Codec capability layering: the REAL decode paths need NO external
libraries — ``decode_image`` uses Pillow when it imports (full codec
coverage) and otherwise a stdlib PNG/BMP decoder (struct + zlib +
numpy), ``decode_audio`` uses soundfile when it imports and otherwise
a stdlib PCM-WAV decoder — so both real paths run and are tested
unconditionally in codec-less containers like this one. Payloads the
selected decoder cannot parse become ``decode_ok=False`` rows, never
task failures. ``fake=True`` selects deterministic stub decoders
(payload hash → synthetic stats) — the engine-portable oracle path.
The Spark-side contract — schemas, Arrow batch iteration, partition
sizing — is identical across every decoder.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

IMAGE_META_SCHEMA = (
    "doc_id long, payload binary, media_type string, "
    "width int, height int, mean_luma double, decode_ok boolean"
)


def attach_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Test scaffolding: wrap a text column as a binary payload with a
    media-type tag (standing in for real image/audio bytes)."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake decoder: payload digest → (w, h, mean_luma)."""
    digest = hashlib.sha256(payload).digest()
    width = 16 + digest[0] % 240
    height = 16 + digest[1] % 240
    mean_luma = digest[2] / 255.0
    return width, height, mean_luma


def _digest_byte(digest_col, i: int):
    """Byte ``i`` of a sha256 hex digest COLUMN as an int column — the
    Catalyst rendering of ``hashlib.sha256(payload).digest()[i]``:
    ``sha2`` emits the digest as lowercase hex, so byte i is hex chars
    [2i, 2i+2) parsed base-16. Bit-identical to the Python stubs by
    construction (same digest, same integer arithmetic) — the oracle
    SQL replays the identical device against DuckDB's sha256."""
    return F.conv(F.substring(digest_col, 2 * i + 1, 2), 16, 10).cast("int")


def _fake_metric(value, zero):
    """A fake decoder's metric, or the real decoders' failed-row
    ``zero`` where the payload, and so its ``__dig`` digest, is NULL."""
    return F.when(F.col("__dig").isNotNull(), value).otherwise(zero)


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        return False


def _pil_decode(payload: bytes) -> tuple[int, int, float]:
    """Real decoder: bytes → (width, height, mean luma in [0,1])."""
    import io

    import numpy as np
    from PIL import Image

    with Image.open(io.BytesIO(payload)) as img:
        width, height = img.size
        luma = np.asarray(img.convert("L"), dtype=np.float64)
        return width, height, float(luma.mean() / 255.0)


def _luma_mean(px) -> float:
    """Mean Rec.601 luma in [0,1] over an (h, w, channels) uint8 array
    (1=gray, 2=gray+alpha, 3=RGB, 4=RGBA; alpha ignored)."""
    import numpy as np

    x = px.astype(np.float64)
    c = x.shape[2]
    if c in (1, 2):
        luma = x[:, :, 0]
    else:
        luma = 0.299 * x[:, :, 0] + 0.587 * x[:, :, 1] + 0.114 * x[:, :, 2]
    return float(luma.mean() / 255.0)


def _png_decode(payload: bytes) -> tuple[int, int, float]:
    """Real PNG decoder with NO external codec — stdlib ``struct`` +
    ``zlib`` parse the container and inflate IDAT, numpy vectorizes the
    per-row unfiltering (all five PNG filter types). Covers 8-bit-depth
    gray / gray+alpha / RGB / RGBA non-interlaced PNGs — the shapes a
    training pipeline's thumbnails actually use. Palette, 16-bit, and
    interlaced variants are VALID PNGs this decoder cannot handle, so
    they raise ``MissingCodecError`` (install Pillow) under the same
    loud-fail contract as JPEG/GIF/TIFF/WebP — a palette-PNG corpus on
    a Pillow-less cluster must fail the job, not be silently discarded
    as ``decode_ok=False``; only genuinely corrupt payloads raise
    ``ValueError``. Returns (width, height, mean luma in [0,1])."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, idat, dims = 8, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        chunk = payload[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if w == 0 or h == 0:
                # zero-dim images would yield NaN mean-luma with
                # decode_ok=True, poisoning downstream aggregates
                raise ValueError(f"degenerate PNG dimensions {w}x{h}")
            if color not in (0, 2, 3, 4, 6):
                raise ValueError(f"corrupt PNG: invalid color type {color}")
            if depth != 8 or interlace != 0 or color == 3:
                raise MissingCodecError(
                    "valid PNG variant the stdlib decoder cannot handle "
                    f"(depth={depth} color={color} interlace={interlace}; "
                    "need 8-bit non-interlaced non-palette) — install "
                    "Pillow on driver and executors to decode this corpus"
                )
            channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
            dims = (w, h)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if dims is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h = dims
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    img = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        f = raw[off]
        row = np.frombuffer(raw, np.uint8, count=stride, offset=off + 1).copy()
        if f == 0:
            pass
        elif f == 2:  # up — fully vectorized
            row += prev
        elif f in (1, 3, 4):
            # sub/average/paeth recur along x; loop pixels, vectorize
            # nothing — rows are short (w*channels) next to the corpus
            p = prev.astype(np.int64)
            r = row.astype(np.int64)
            for x in range(stride):
                a = r[x - channels] if x >= channels else 0
                if f == 1:
                    r[x] = (r[x] + a) & 0xFF
                elif f == 3:
                    r[x] = (r[x] + ((a + p[x]) >> 1)) & 0xFF
                else:
                    b = p[x]
                    c = p[x - channels] if x >= channels else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    r[x] = (r[x] + pred) & 0xFF
            row = r.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        img[y] = row
        prev = row
    return w, h, _luma_mean(img.reshape(h, w, channels))


def _bmp_decode(payload: bytes) -> tuple[int, int, float]:
    """Real decoder for uncompressed 24/32-bit BI_RGB BMP (stdlib-only,
    BGR(A) rows padded to 4 bytes, bottom-up or top-down)."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP signature")
    (data_off,) = struct.unpack("<I", payload[10:14])
    w, h_signed = struct.unpack("<ii", payload[18:26])
    bpp, compression = struct.unpack("<HI", payload[28:34])
    if compression != 0 or bpp not in (24, 32) or w <= 0 or h_signed == 0:
        raise ValueError(
            f"unsupported BMP (bpp={bpp} comp={compression} "
            f"w={w} h={h_signed})"
        )
    h = abs(h_signed)
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    px = np.empty((h, w, 3), dtype=np.uint8)
    for y in range(h):
        src_y = (h - 1 - y) if h_signed > 0 else y  # bottom-up default
        off = data_off + src_y * row_bytes
        row = np.frombuffer(payload, np.uint8, count=w * nch, offset=off)
        px[y] = row.reshape(w, nch)[:, 2::-1][:, :3]  # BGR(A) -> RGB
    return w, h, _luma_mean(px)


class MissingCodecError(RuntimeError):
    """A payload is a RECOGNIZED format that the selected decoder cannot
    handle because the optional codec library is absent. Deliberately
    NOT caught by the decode loops: a corpus of JPEGs on a cluster
    without Pillow is a misconfiguration (install the library), not bad
    data — degrading every row to ``decode_ok=False`` would let the job
    'succeed' while silently discarding the whole corpus downstream."""


#: magic-byte signatures for formats Pillow handles but the stdlib
#: decoder does not — sniffed to fail loudly (see MissingCodecError)
_PIL_ONLY_IMAGE_MAGIC = (
    (b"\xff\xd8\xff", "JPEG"),
    (b"GIF87a", "GIF"),
    (b"GIF89a", "GIF"),
    (b"II*\x00", "TIFF"),
    (b"MM\x00*", "TIFF"),
)

def _sniff_codec_audio(payload: bytes) -> str | None:
    """Name of a KNOWN audio format the stdlib WAV decoder cannot parse
    (→ ``MissingCodecError``), or None. Only strong signatures qualify:
    a job-fatal classification must not fire on random corrupt bytes —
    a 2-byte MPEG sync word (0xFFFB/0xFFF3) would hit ~1/32k of random
    garbage and kill the job with a misleading 'install soundfile', so
    raw ID3-less MP3 frames deliberately degrade per-row instead."""
    if payload[:4] == b"fLaC":
        return "FLAC"
    if payload[:4] == b"OggS":
        return "OGG"
    if payload[:3] == b"ID3":
        return "MP3"
    if len(payload) > 11 and payload[4:8] == b"ftyp":
        return "M4A/AAC (ISO-BMFF)"
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return "AIFF"
    return None


def _stdlib_image_decode(payload: bytes) -> tuple[int, int, float]:
    """Codec-less real image decode: PNG or BMP by signature. A payload
    carrying a KNOWN non-PNG/BMP image signature (JPEG/GIF/TIFF/WebP)
    raises ``MissingCodecError`` — install Pillow for those formats;
    unrecognized bytes raise ``ValueError`` (bad data → decode_ok
    False)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_decode(payload)
    if payload[:2] == b"BM":
        return _bmp_decode(payload)
    for magic, name in _PIL_ONLY_IMAGE_MAGIC:
        if payload[: len(magic)] == magic:
            raise MissingCodecError(
                f"payload is {name} but Pillow is not installed — the "
                "stdlib decoder covers PNG/BMP only; install Pillow on "
                "driver and executors to decode this corpus"
            )
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        raise MissingCodecError(
            "payload is WebP but Pillow is not installed — install "
            "Pillow on driver and executors to decode this corpus"
        )
    raise ValueError("stdlib image decoder supports PNG and BMP payloads")


def decode_image(
    df: DataFrame,
    payload_col: str = "payload",
    fake: bool = False,
    batch_hint: int = 1024,
) -> DataFrame:
    """Decode binary payloads to image metadata + stats via mapInPandas.

    The Arrow batch loop is the production shape: one pandas batch in,
    one out, no per-row Python dispatch overhead. The REAL path is
    always available: Pillow when the library imports (full codec
    coverage), else the stdlib PNG/BMP decoder (struct + zlib + numpy
    — no external dependency), so ``fake=False`` genuinely decodes in
    codec-less containers like this one. Unrecognized/corrupt payloads
    yield ``decode_ok=False`` rows; a payload in a RECOGNIZED format
    the selected decoder cannot handle (JPEG/GIF/TIFF/WebP without
    Pillow) raises ``MissingCodecError`` and fails the job — a missing
    library is a misconfiguration, not bad data. ``fake=True`` selects
    the deterministic stub (the portable-oracle path).
    """
    if fake:
        # The stub is pure sha256-digest arithmetic, so it compiles to
        # Catalyst built-ins (guide §4.1 — prefer built-ins over ANY
        # Python boundary): no ArrowEvalPython node, no worker spin-up,
        # no JVM↔Python transpose for the payload bytes. Values are
        # bit-identical to _fake_decode (same digest, same integer
        # arithmetic, same float division). The REAL decode paths below
        # stay mapInPandas — they are the sanctioned Python site. A
        # NULL payload has a NULL digest and reads as the real decoders
        # read a payload they cannot decode: zeros, decode_ok=False.
        dig = df.withColumn("__dig", F.sha2(F.col(payload_col), 256))
        b = lambda i: _digest_byte(F.col("__dig"), i)  # noqa: E731
        return dig.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(payload_col).cast("binary").alias("payload"),
            F.col("media_type").cast("string").alias("media_type"),
            _fake_metric(F.lit(16) + b(0) % 240, 0).alias("width"),
            _fake_metric(F.lit(16) + b(1) % 240, 0).alias("height"),
            _fake_metric(b(2) / F.lit(255.0), 0.0).alias("mean_luma"),
            F.col("__dig").isNotNull().alias("decode_ok"),
        )

    # decoder selection happens ONCE on the driver and is captured by
    # the closure, so every executor uses the same decoder even on a
    # heterogeneous image where Pillow exists only on some nodes
    use_pil = _pil_available()

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = []
            ok = []
            for p in pdf[payload_col]:
                try:
                    meta.append(
                        _pil_decode(bytes(p))
                        if use_pil
                        else _stdlib_image_decode(bytes(p))
                    )
                    ok.append(True)
                except (ImportError, MissingCodecError):
                    # misconfiguration, not bad data: the executor
                    # lacks PIL despite the driver check, or the
                    # corpus is a known format the stdlib decoder
                    # cannot parse — fail the job loudly instead of
                    # silently discarding the whole corpus as
                    # decode_ok=False
                    raise
                except Exception:
                    meta.append((0, 0, 0.0))
                    ok.append(False)
            out = pdf.copy()
            out["width"] = [m[0] for m in meta]
            out["height"] = [m[1] for m in meta]
            out["mean_luma"] = [m[2] for m in meta]
            out["decode_ok"] = ok
            yield out

    return df.mapInPandas(decode_batches, schema=IMAGE_META_SCHEMA)


AUDIO_META_SCHEMA = (
    "doc_id long, payload binary, media_type string, "
    "sample_rate int, n_samples long, rms double, decode_ok boolean"
)


def _fake_audio_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic fake audio decoder: payload digest →
    (sample_rate, n_samples, rms in [0,1])."""
    digest = hashlib.sha256(payload).digest()
    sample_rate = (8, 16, 22, 44)[digest[0] % 4] * 1000
    n_samples = 1000 + (digest[1] * 256 + digest[2]) * 37
    rms = digest[3] / 255.0
    return sample_rate, n_samples, rms


def _soundfile_available() -> bool:
    try:
        import soundfile  # noqa: F401
        return True
    except ImportError:
        return False


def _soundfile_decode(payload: bytes) -> tuple[int, int, float]:
    """Real decoder: bytes → (sample_rate, n_samples, rms in [0,1])."""
    import io
    import math

    import soundfile as sf

    data, rate = sf.read(io.BytesIO(payload), dtype="float64", always_2d=True)
    mono = data.mean(axis=1)
    rms = math.sqrt(float((mono * mono).mean())) if len(mono) else 0.0
    return int(rate), int(len(mono)), rms


def _wav_decode(payload: bytes) -> tuple[int, int, float]:
    """Real PCM-WAV decoder with NO external codec — stdlib ``wave``
    parses the container, numpy vectorizes the sample math. Covers
    8/16/32-bit PCM mono/multichannel WAV (channel-averaged to mono for
    the RMS, matching ``_soundfile_decode``); anything else raises and
    becomes a ``decode_ok=False`` row upstream. This is the decoder
    that makes ``decode_audio``'s REAL path live in codec-less
    containers like this one. A payload carrying a KNOWN non-WAV audio
    signature (FLAC/OGG/MP3) raises ``MissingCodecError`` — install
    soundfile for those formats; unrecognized bytes raise the codec's
    own error (bad data → decode_ok False)."""
    import io
    import wave

    import numpy as np

    known = _sniff_codec_audio(payload)
    if known:
        raise MissingCodecError(
            f"payload is {known} but soundfile is not installed — "
            "the stdlib decoder covers PCM WAV only; install "
            "soundfile on driver and executors to decode this corpus"
        )
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        nch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 1:  # unsigned 8-bit
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif width == 2:  # signed little-endian 16-bit
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:  # signed little-endian 32-bit
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width: {width} bytes")
    if nch > 1:
        x = x[: (x.size // nch) * nch].reshape(-1, nch).mean(axis=1)
    rms = float(np.sqrt((x * x).mean())) if x.size else 0.0
    return int(rate), int(x.size), rms


def decode_audio(
    df: DataFrame, payload_col: str = "payload", fake: bool = False
) -> DataFrame:
    """Audio twin of ``decode_image``: binary payloads → sample rate /
    length / RMS level via the same Arrow ``mapInPandas`` shape. The
    REAL path is always available: soundfile when the library imports
    (full codec coverage — flac/ogg/mp3/…), else the stdlib PCM-WAV
    decoder ``_wav_decode`` (wave + numpy — no external dependency), so
    ``fake=False`` genuinely decodes in codec-less containers like this
    one. Unrecognized/corrupt payloads yield ``decode_ok=False`` rows;
    a payload in a RECOGNIZED format the selected decoder cannot handle
    (FLAC/OGG/ID3-MP3/M4A/AIFF without soundfile) raises
    ``MissingCodecError`` and fails the job — a missing library is a
    misconfiguration, not bad data. ``fake=True`` selects the
    deterministic stub (the portable-oracle path). Schema, batching,
    and partitioning are identical across all three."""
    if fake:
        # Catalyst rendering of _fake_audio_decode — see decode_image's
        # fake branch for the rationale (guide §4.1; bit-identical by
        # construction) and for its NULL-payload row
        dig = df.withColumn("__dig", F.sha2(F.col(payload_col), 256))
        b = lambda i: _digest_byte(F.col("__dig"), i)  # noqa: E731
        return dig.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(payload_col).cast("binary").alias("payload"),
            F.col("media_type").cast("string").alias("media_type"),
            _fake_metric(
                F.element_at(
                    F.array(F.lit(8), F.lit(16), F.lit(22), F.lit(44)),
                    b(0) % 4 + 1,
                )
                * 1000,
                0,
            ).cast("int").alias("sample_rate"),
            _fake_metric(F.lit(1000) + (b(1) * 256 + b(2)) * 37, 0)
            .cast("long")
            .alias("n_samples"),
            _fake_metric(b(3) / F.lit(255.0), 0.0).alias("rms"),
            F.col("__dig").isNotNull().alias("decode_ok"),
        )

    # decoder selection happens ONCE on the driver and is captured by
    # the closure, so every executor uses the same decoder even on a
    # heterogeneous image where soundfile exists only on some nodes
    use_soundfile = _soundfile_available()

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = []
            ok = []
            for p in pdf[payload_col]:
                try:
                    meta.append(
                        _soundfile_decode(bytes(p))
                        if use_soundfile
                        else _wav_decode(bytes(p))
                    )
                    ok.append(True)
                except (ImportError, MissingCodecError):
                    # misconfiguration, not bad data: the executor
                    # lacks soundfile despite the driver check
                    # (heterogeneous cluster image), or the corpus
                    # is a known format the WAV decoder cannot
                    # parse — fail the task loudly instead of
                    # marking the whole corpus undecodable
                    raise
                except Exception:
                    meta.append((0, 0, 0.0))
                    ok.append(False)
            out = pdf.copy()
            out["sample_rate"] = [m[0] for m in meta]
            out["n_samples"] = [m[1] for m in meta]
            out["rms"] = [m[2] for m in meta]
            out["decode_ok"] = ok
            yield out

    return df.mapInPandas(decode_batches, schema=AUDIO_META_SCHEMA)


VIDEO_META_SCHEMA = (
    "doc_id long, payload binary, media_type string, "
    "width int, height int, fps double, n_frames long, "
    "duration_sec double, mean_luma double, decode_ok boolean"
)

def _sniff_codec_video(payload: bytes) -> str | None:
    """Name of a KNOWN video container the stdlib y4m decoder cannot
    parse (→ ``MissingCodecError``), or None. Same strong-signature
    rule as ``_sniff_codec_audio`` — MPEG-TS's 1-byte 0x47 sync only
    qualifies because it must repeat at the 188-byte packet stride."""
    if payload[:4] == b"\x1aE\xdf\xa3":
        return "Matroska/WebM"
    if len(payload) > 11 and payload[4:8] == b"ftyp":
        return "ISO-BMFF (MP4/MOV)"
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return "AVI"
    if payload[:4] == b"OggS":
        return "Ogg (Theora/…)"
    if payload[:4] == b"FLV\x01":
        return "FLV"
    if payload[:4] == b"\x00\x00\x01\xba":
        return "MPEG-PS"
    if (
        len(payload) > 188 * 2
        and payload[0] == 0x47
        and payload[188] == 0x47
        and payload[376] == 0x47
    ):
        return "MPEG-TS"
    if payload[:16] == bytes.fromhex("3026b2758e66cf11a6d900aa0062ce6c"):
        return "ASF/WMV"
    return None


def _fake_video_decode(payload: bytes) -> tuple[int, int, float, int, float]:
    """Deterministic fake video decoder: payload digest →
    (width, height, fps, n_frames, mean_luma) — the engine-portable
    oracle stub, same device as ``_fake_decode``/``_fake_audio_decode``."""
    digest = hashlib.sha256(payload).digest()
    width = 32 + digest[0] % 224
    height = 32 + digest[1] % 224
    fps = float((12, 24, 25, 30)[digest[2] % 4])
    n_frames = 1 + (digest[3] * 256 + digest[4]) % 2000
    mean_luma = digest[5] / 255.0
    return width, height, fps, n_frames, mean_luma


def _y4m_decode(
    payload: bytes, max_frames: int = 16
) -> tuple[int, int, float, int, float]:
    """Real video decoder for YUV4MPEG2 (y4m) with NO external codec —
    the uncompressed interchange format every ffmpeg toolchain can
    emit. Parses the stream header (W/H/F and the C colorspace tag;
    C420*/C422/C444/Cmono plane sizes), walks the FRAME markers, and
    computes mean luma over an up-to-``max_frames`` uniform sample of
    frames (the Y plane is always the first w·h bytes of a frame — the
    whole point of planar YUV). Compressed containers (MP4/MKV/AVI)
    raise ``MissingCodecError`` → install PyAV; other bytes raise
    ``ValueError`` (bad data → decode_ok=False upstream)."""
    import numpy as np

    known = _sniff_codec_video(payload)
    if known:
        raise MissingCodecError(
            f"payload is {known} but PyAV is not installed — the "
            "stdlib decoder covers YUV4MPEG2 (y4m) only; install "
            "av on driver and executors to decode this corpus"
        )
    nl = payload.find(b"\n")
    if not payload.startswith(b"YUV4MPEG2") or nl < 0:
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = 0
    fps = 0.0
    csp = "420"
    for param in payload[9:nl].split(b" "):
        if not param:
            continue
        tag, val = param[:1], param[1:].decode("ascii", "replace")
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            num, den = val.split(":")
            fps = int(num) / int(den)
        elif tag == b"C":
            csp = val
    if width <= 0 or height <= 0 or fps <= 0:
        raise ValueError(f"degenerate y4m header W{width} H{height} F{fps}")
    y_size = width * height
    if csp.startswith("420"):
        frame_size = y_size * 3 // 2
    elif csp.startswith("422"):
        frame_size = y_size * 2
    elif csp.startswith("444"):
        frame_size = y_size * 3
    elif csp.startswith("mono"):
        frame_size = y_size
    else:
        raise ValueError(f"unsupported y4m colorspace C{csp}")
    # first pass: locate every frame's Y-plane offset (FRAME marker
    # lines may carry parameters, so the scan follows the newlines)
    offsets = []
    pos = nl + 1
    n = len(payload)
    while pos < n:
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError(f"missing FRAME marker at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + frame_size > n:
            raise ValueError("truncated y4m frame")
        offsets.append(fnl + 1)
        pos = fnl + 1 + frame_size
    if not offsets:
        raise ValueError("y4m stream has no frames")
    n_frames = len(offsets)
    # uniform sample of up to max_frames frames (frame_sample_plan's
    # stride semantics), vectorized luma mean per sampled Y plane
    step = max(1, -(-n_frames // max_frames))  # ceil division
    sampled = offsets[::step][:max_frames]
    total = 0.0
    for off in sampled:
        y = np.frombuffer(payload, np.uint8, count=y_size, offset=off)
        total += float(y.mean())
    return width, height, fps, n_frames, total / len(sampled) / 255.0


def _av_available() -> bool:
    try:
        import av  # noqa: F401
        return True
    except ImportError:
        return False


def _av_video_decode(
    payload: bytes, max_frames: int = 16
) -> tuple[int, int, float, int, float]:
    """Real decoder via PyAV (full codec coverage) — exercised only
    where the library exists; same contract as ``_y4m_decode``.

    Memory shape: frames are decoded ONE AT A TIME and reduced to a
    scalar per-frame mean immediately — never a retained frame list.
    A minute of 1080p30 is ~1800 frames; holding them (even as uint8)
    for one row would OOM the executor, while 1800 floats is nothing.
    The exact uniform-stride sample is then taken over the scalar
    means, matching ``_y4m_decode``'s sampling semantics."""
    import io

    import av

    with av.open(io.BytesIO(payload)) as container:
        stream = container.streams.video[0]
        fps = float(stream.average_rate or stream.base_rate or 0)
        w = h = 0
        means: list[float] = []
        for f in container.decode(stream):
            gray = f.to_ndarray(format="gray")
            h, w = gray.shape
            means.append(float(gray.mean()))
    if not means:
        raise ValueError("no decodable video frames")
    n_frames = len(means)
    step = max(1, -(-n_frames // max_frames))
    sampled = means[::step][:max_frames]
    return w, h, fps, n_frames, sum(sampled) / len(sampled) / 255.0


def decode_video(
    df: DataFrame,
    payload_col: str = "payload",
    fake: bool = False,
    max_frames: int = 16,
) -> DataFrame:
    """Video sibling of ``decode_image``/``decode_audio``: binary
    payloads → container metadata (dimensions, fps, frame count,
    duration) + mean luma over a uniform ≤``max_frames`` frame sample,
    via the same Arrow ``mapInPandas`` shape. The REAL path is always
    available: PyAV when the library imports (full codec coverage),
    else the stdlib YUV4MPEG2 decoder; known compressed containers
    without PyAV raise ``MissingCodecError`` (misconfiguration must
    fail the job — see that class), unparseable bytes degrade to
    ``decode_ok=False`` rows. ``fake=True`` selects the deterministic
    stub (the portable-oracle path)."""
    if fake:
        # Catalyst rendering of _fake_video_decode — see decode_image's
        # fake branch for the rationale (guide §4.1; bit-identical by
        # construction) and for its NULL-payload row
        dig = df.withColumn("__dig", F.sha2(F.col(payload_col), 256))
        b = lambda i: _digest_byte(F.col("__dig"), i)  # noqa: E731
        fps = F.element_at(
            F.array(F.lit(12.0), F.lit(24.0), F.lit(25.0), F.lit(30.0)),
            b(2) % 4 + 1,
        )
        n_frames = (F.lit(1) + (b(3) * 256 + b(4)) % 2000).cast("long")
        return dig.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(payload_col).cast("binary").alias("payload"),
            F.col("media_type").cast("string").alias("media_type"),
            _fake_metric(F.lit(32) + b(0) % 224, 0).alias("width"),
            _fake_metric(F.lit(32) + b(1) % 224, 0).alias("height"),
            _fake_metric(fps, 0.0).alias("fps"),
            _fake_metric(n_frames, 0).alias("n_frames"),
            _fake_metric(n_frames / fps, 0.0).alias("duration_sec"),
            _fake_metric(b(5) / F.lit(255.0), 0.0).alias("mean_luma"),
            F.col("__dig").isNotNull().alias("decode_ok"),
        )

    use_av = _av_available()

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = []
            ok = []
            for p in pdf[payload_col]:
                try:
                    meta.append(
                        _av_video_decode(bytes(p), max_frames)
                        if use_av
                        else _y4m_decode(bytes(p), max_frames)
                    )
                    ok.append(True)
                except (ImportError, MissingCodecError):
                    raise  # misconfiguration — fail loudly
                except Exception:
                    meta.append((0, 0, 0.0, 0, 0.0))
                    ok.append(False)
            out = pdf.copy()
            out["width"] = [m[0] for m in meta]
            out["height"] = [m[1] for m in meta]
            out["fps"] = [m[2] for m in meta]
            out["n_frames"] = [m[3] for m in meta]
            out["duration_sec"] = [
                (m[3] / m[2]) if m[2] else 0.0 for m in meta
            ]
            out["mean_luma"] = [m[4] for m in meta]
            out["decode_ok"] = ok
            yield out

    return df.mapInPandas(decode_batches, schema=VIDEO_META_SCHEMA)


def resample_plan(
    df: DataFrame, target_rate: int = 16000
) -> DataFrame:
    """Audio resample bookkeeping (target length after rate conversion,
    duration) as pure Catalyst expressions — the sample-level resample
    itself would live in the decode ``mapInPandas`` stage."""
    return df.withColumns(
        {
            "duration_sec": F.col("n_samples") / F.col("sample_rate"),
            # double multiply-then-divide, the oracle's exact op order
            "out_samples": F.ceil(
                F.col("n_samples").cast("double")
                * F.lit(float(target_rate))
                / F.col("sample_rate")
            ).cast("long"),
        }
    )


def resize_plan(
    df: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """Resize bookkeeping (scale factors, letterboxing) as pure
    Catalyst expressions over decoded metadata — the pixel resample
    itself would live in the same mapInPandas stage as decode."""
    sw = F.lit(target_w) / F.col("width")
    sh = F.lit(target_h) / F.col("height")
    scale = F.least(sw, sh)
    return df.withColumns(
        {
            "scale": scale,
            "out_w": F.round(F.col("width") * scale).cast("int"),
            "out_h": F.round(F.col("height") * scale).cast("int"),
            "pad_x": (F.lit(target_w) - F.round(F.col("width") * scale)).cast("int"),
            "pad_y": (F.lit(target_h) - F.round(F.col("height") * scale)).cast("int"),
        }
    )


def frame_sample_plan(
    df: DataFrame, duration_col: str, fps: float, max_frames: int
) -> DataFrame:
    """Video frame-sampling plan: deterministic timestamps (uniform
    stride, capped) as an array column; the decoder stage consumes it.
    Pure expression — no Python."""
    n = F.least(
        F.floor(F.col(duration_col) * fps).cast("int"), F.lit(max_frames)
    )
    return df.withColumn(
        "frame_ts",
        F.transform(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))),
            lambda i: i / F.lit(fps),
        ),
    )
