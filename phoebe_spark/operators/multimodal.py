"""Multimodal column operators: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Design for 100 TB: media bytes ride in a ``binary`` column next to typed
metadata (mime, width/height, sample rate, duration); decode/transform
stages are ``mapInPandas`` pipelines so bytes never round-trip through the
driver and flow executor-side in Arrow batches. Batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py) so a
batch of large blobs cannot blow executor memory; re-partitioning by a size
bucket keeps per-task byte volume even (big-blob skew is the common failure
mode at scale).

Codec status: the audio (:func:`wav_decode`, stdlib ``wave``) and image
(:func:`png_decode`, stdlib ``zlib`` + numpy unfiltering;
:func:`jpeg_decode`, stdlib ``struct`` + numpy Huffman/IDCT for baseline
JFIF) paths are REAL decoders with zero external dependencies. The
default decoder is :func:`auto_decode_image` / :func:`auto_decode_audio`,
which sniffs magic bytes and dispatches PNG/JPEG/WAV to the real decoder
— unknown formats RAISE rather than silently producing fake features.
Video is REAL for MJPEG-in-AVI: :func:`avi_mjpeg_frames` demuxes the
RIFF container (stdlib) and :func:`video_frame_features` decodes sampled
frames through the baseline-JPEG decoder; other codecs raise through the
``frame_decoder=`` hook (no ffmpeg in this container — plug a real codec
stack there in production). The ``_fake_decode_image`` stub remains
available as an explicit opt-in test double. Everything around the
codecs — schemas, UDF signatures, batching, partitioning — is real and
tested either way.
"""

from __future__ import annotations

import functools
import hashlib
import struct as _struct
import wave as _wave
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _malformed_guard(kind: str):
    """Decode-error contract for pipeline use: a corrupt blob somewhere in
    100 TB must produce ONE classifiable exception type (ValueError) a
    curation stage can count/quarantine on — not whatever internal
    exception (struct.error, KeyError, IndexError, zlib.error,
    wave.Error...) the byte-level parser happened to trip over. Decoder
    bugs on VALID input still surface unchanged (only parse-layer error
    types are translated)."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except ValueError:
                raise
            except (
                _struct.error,
                zlib.error,
                _wave.Error,
                KeyError,
                IndexError,
                EOFError,
                OverflowError,
                TypeError,
                # stdlib wave/chunk raise bare RuntimeError/OSError on
                # truncated RIFF chunks (chunk.py seek past chunksize)
                RuntimeError,
                OSError,
            ) as ex:
                raise ValueError(
                    f"malformed {kind} byte stream: {type(ex).__name__}: {ex}"
                ) from ex

        return wrapper

    return deco

# Typed metadata schema conventions
IMAGE_META_SCHEMA = (
    "media_id LONG, mime STRING, width INT, height INT, n_bytes LONG, content BINARY"
)
AUDIO_META_SCHEMA = (
    "media_id LONG, mime STRING, sample_rate INT, n_samples LONG, n_bytes LONG, content BINARY"
)


def _fake_decode_image(content: bytes, width: int, height: int) -> np.ndarray:
    """STUB decoder: deterministic pixels from the content hash. A real
    deployment replaces this with PIL/turbojpeg; the Spark plumbing is
    identical (bytes in -> HxWx3 uint8 out)."""
    seed = int.from_bytes(hashlib.sha256(content).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


@_malformed_guard("WAV")
def wav_decode(content: bytes, n_samples: int = -1) -> np.ndarray:
    """REAL decoder for RIFF/WAVE PCM via stdlib ``wave`` — zero external
    dependencies, so this path is fully functional in any environment.
    Returns mono float32 in [-1, 1] (multi-channel averaged); accepts
    8/16/32-bit integer PCM. The default :func:`auto_decode_audio`
    dispatches WAV bytes here."""
    import io
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        sw = w.getsampwidth()
        nch = w.getnchannels()
        raw = w.readframes(w.getnframes())
    if sw == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width: {sw} bytes")
    if nch > 1:
        x = x[: len(x) - len(x) % nch].reshape(-1, nch).mean(axis=1, dtype=np.float32)
    if n_samples is not None and n_samples > 0:
        x = x[:n_samples]
    return x.astype(np.float32, copy=False)


def attach_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Cheap metadata pass without decoding: byte length, crc32, and a magic
    -byte mime sniff — pure column expressions over the binary column."""
    c = F.col(content_col)
    mime = (
        F.when(F.substring(c, 1, 3) == bytes([0xFF, 0xD8, 0xFF]), "image/jpeg")
        .when(F.substring(c, 1, 4) == b"\x89PNG", "image/png")
        .when(
            (F.substring(c, 1, 4) == b"RIFF") & (F.substring(c, 9, 4) == b"WAVE"),
            "audio/wav",
        )
        .when(
            (F.substring(c, 1, 4) == b"RIFF") & (F.substring(c, 9, 4) == b"AVI "),
            "video/avi",
        )
        .otherwise("application/octet-stream")
    )
    return df.withColumn("n_bytes", F.length(c).cast("long")).withColumn("sniffed_mime", mime)


def image_features(
    df: DataFrame,
    decoder: Callable[[bytes, int, int], np.ndarray] | None = None,
    batch_limit: int = 256,
) -> DataFrame:
    """Decode + feature-extract: per image, mean/std per RGB channel and a
    perceptual-ish 64-bit average-hash. mapInPandas so decode runs
    executor-side per Arrow batch; ``batch_limit`` re-chunks outsized
    batches defensively (blob-size skew)."""
    decoder = decoder or auto_decode_image

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for lo in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[lo : lo + batch_limit]
                rows = []
                for r in chunk.itertuples(index=False):
                    img = decoder(bytes(r.content), int(r.width), int(r.height))
                    small = img[:: max(1, img.shape[0] // 8), :: max(1, img.shape[1] // 8)]
                    gray = small.mean(axis=2)
                    bits = (gray > gray.mean()).flatten()[:64]
                    ahash = int("".join("1" if b else "0" for b in bits).ljust(64, "0"), 2)
                    rows.append(
                        {
                            "media_id": r.media_id,
                            "mean_r": float(img[..., 0].mean()),
                            "mean_g": float(img[..., 1].mean()),
                            "mean_b": float(img[..., 2].mean()),
                            "std_gray": float(img.mean(axis=2).std()),
                            "ahash": np.int64(ahash - (1 << 63)),
                        }
                    )
                yield pd.DataFrame(rows)

    return df.mapInPandas(
        _extract,
        "media_id LONG, mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE, std_gray DOUBLE, ahash LONG",
    )


def image_resize(
    df: DataFrame,
    target: tuple[int, int] = (64, 64),
    decoder: Callable[[bytes, int, int], np.ndarray] | None = None,
) -> DataFrame:
    """Decode -> nearest-neighbor resize -> re-encode (zlib of raw pixels as
    the stand-in codec). Output keeps the binary-column convention so
    stages compose: resize |> features |> dedup."""
    decoder = decoder or auto_decode_image
    th, tw = target

    def _resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decoder(bytes(r.content), int(r.width), int(r.height))
                ys = (np.arange(th) * img.shape[0] // th).clip(0, img.shape[0] - 1)
                xs = (np.arange(tw) * img.shape[1] // tw).clip(0, img.shape[1] - 1)
                resized = img[np.ix_(ys, xs)]
                rows.append(
                    {
                        "media_id": r.media_id,
                        "mime": "image/raw+zlib",
                        "width": tw,
                        "height": th,
                        "n_bytes": np.int64(resized.nbytes),
                        "content": zlib.compress(resized.tobytes()),
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(_resize, IMAGE_META_SCHEMA)


def audio_features(
    df: DataFrame,
    decoder: Callable[[bytes, int], np.ndarray] | None = None,
) -> DataFrame:
    """Decode audio -> RMS energy, zero-crossing rate, spectral-centroid
    stand-in (FFT-free: mean abs diff ratio)."""
    decoder = decoder or auto_decode_audio

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                pcm = decoder(bytes(r.content), int(r.n_samples))
                zc = float(np.mean(np.abs(np.diff(np.signbit(pcm).astype(np.int8)))))
                rows.append(
                    {
                        "media_id": r.media_id,
                        "rms": float(np.sqrt(np.mean(pcm**2))),
                        "zero_crossing_rate": zc,
                        "duration_s": float(r.n_samples) / float(max(r.sample_rate, 1)),
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        _extract, "media_id LONG, rms DOUBLE, zero_crossing_rate DOUBLE, duration_s DOUBLE"
    )


def partition_by_size(df: DataFrame, num_buckets: int = 64, content_col: str = "content") -> DataFrame:
    """Even out blob-size skew before a decode stage: hash-salt rows into
    ``num_buckets`` partitions keyed off the content bytes so each decode
    task sees a comparable byte volume regardless of upstream file layout.
    (At 100 TB, pick num_buckets ~ total_bytes / 64 MB.)"""
    return df.repartition(
        num_buckets, F.pmod(F.xxhash64(F.col(content_col)), F.lit(num_buckets)).cast("int")
    )


@_malformed_guard("PNG")
def png_decode(content: bytes, width: int = -1, height: int = -1) -> np.ndarray:
    """REAL decoder for PNG via stdlib ``zlib`` + numpy scanline
    unfiltering — zero external codec dependencies, so the image path is
    fully functional in any environment (the audio analog is
    :func:`wav_decode`). Supports the common cases: 8-bit greyscale (0),
    truecolor RGB (2), and RGBA (6), all five PNG scanline filters
    (None/Sub/Up/Average/Paeth, RFC 2083 §6), non-interlaced. Returns an
    ``HxWx3 uint8`` array (alpha dropped, grey replicated) — the
    ``image_features``/``image_resize`` contract. ``width``/``height``
    arguments are ignored (the IHDR is authoritative); they exist to
    match the ``decoder=`` hook signature."""
    import struct
    import zlib

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG byte stream")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(content):
        (length,), ctype = struct.unpack(">I", content[pos : pos + 4]), content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG: bit_depth={bit_depth} interlace={interlace}")
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type: {color_type}")

    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, scans = arr[:, 0], arr[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at bit depth 8
    for y in range(h):
        f, line = int(filters[y]), scans[y].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, dtype=np.int32)
        cur = np.zeros(stride, dtype=np.int32)
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = line + prev
        else:  # Sub/Average/Paeth need the just-reconstructed left pixel,
            # and reconstruction is mod-256 PER BYTE (RFC 2083 §6.3) — a
            # row-end mask would feed >255 left neighbors forward
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 1:
                    rec = line[x] + a
                elif f == 3:
                    rec = line[x] + (a + b) // 2
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec = line[x] + pr
                else:
                    raise ValueError(f"bad PNG filter byte: {f}")
                cur[x] = rec & 0xFF
        out[y] = (cur & 0xFF).astype(np.uint8)

    px = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    return np.ascontiguousarray(px[..., :3])


# ---------------------------------------------------------------------------
# Baseline JPEG decode (stdlib struct + numpy — no PIL/turbojpeg needed)
# ---------------------------------------------------------------------------

# zigzag index -> raster index (ITU T.81 Figure 5)
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II basis: spatial = C.T @ coef @ C
_DCT_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8)) * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _idct_8x8(coef: np.ndarray) -> np.ndarray:
    """2-D inverse DCT of one 8x8 coefficient block (orthonormal scaling —
    matches the T.81 normalization when quant tables carry no extra scale)."""
    return _DCT_C.T @ coef @ _DCT_C


class _JpegBits:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00 byte
    de-stuffing and restart-marker resync (T.81 §B.1.1.5, §E.2.4)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos
        self.cur = 0
        self.n = 0

    def read_bit(self) -> int:
        if self.n == 0:
            if self.p >= len(self.d):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.d[self.p]
            if byte == 0xFF:
                nxt = self.d[self.p + 1] if self.p + 1 < len(self.d) else 0xD9
                if nxt == 0x00:
                    self.p += 2
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02X} in entropy stream")
            else:
                self.p += 1
            self.cur = byte
            self.n = 8
        self.n -= 1
        return (self.cur >> self.n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        self.n = 0  # discard pad bits to the byte boundary
        if self.p + 1 >= len(self.d) or self.d[self.p] != 0xFF or not (
            0xD0 <= self.d[self.p + 1] <= 0xD7
        ):
            raise ValueError("expected JPEG restart marker")
        self.p += 2


def _jpeg_huff_decode(bits: _JpegBits, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | bits.read_bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    # T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed value
    return v - ((1 << t) - 1) if v < (1 << (t - 1)) else v


def _jpeg_decode_block(
    bits: _JpegBits,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    pred: int,
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)
    t = _jpeg_huff_decode(bits, dc_tab)
    diff = _jpeg_extend(bits.receive(t), t) if t else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        rs = _jpeg_huff_decode(bits, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: skip 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run overflows block")
        zz[k] = _jpeg_extend(bits.receive(s), s)
        k += 1
    return zz, pred


@_malformed_guard("JPEG")
def jpeg_decode(content: bytes, width: int = -1, height: int = -1) -> np.ndarray:
    """REAL decoder for baseline sequential JFIF (SOF0) via stdlib
    ``struct`` + numpy — Huffman entropy decode, dequantize, un-zigzag,
    orthonormal IDCT, chroma upsample (nearest, any Hi/Vi sampling incl.
    4:2:0), BT.601 YCbCr->RGB. Grayscale (1 component) and YCbCr (3
    components) streams; restart intervals (DRI/RSTn) supported.
    Progressive (SOF2), arithmetic coding, and 12-bit precision raise.
    Returns ``HxWx3 uint8`` (grey replicated) — the ``decoder=`` hook
    contract of :func:`image_features` / :func:`image_resize`;
    ``width``/``height`` arguments are ignored (SOF0 is authoritative)."""
    import struct

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG byte stream")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    scan_comps: dict[int, tuple[int, int]] = {}
    while pos + 2 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {pos}")
        marker = content[pos + 1]
        pos += 2
        if marker == 0xFF:  # 0xFF fill byte before a marker (T.81 B.1.1.2)
            pos -= 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            continue
        (seg_len,) = struct.unpack(">H", content[pos : pos + 2])
        seg = content[pos + 2 : pos + seg_len]
        pos += seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int32)
                    i += 64
                else:
                    qt[tq] = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int32)
                    i += 128
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                counts = seg[i : i + 16]
                i += 16
                table: dict[tuple[int, int], int] = {}
                code = 0
                for ln in range(1, 17):
                    for _ in range(counts[ln - 1]):
                        table[(ln, code)] = seg[i]
                        i += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker == 0xC0:  # SOF0 baseline
            prec = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision: {prec}")
            comps = []
            for ci in range(seg[5]):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type: SOF marker 0x{marker:02X}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            for si in range(seg[0]):
                cs, tdta = seg[1 + 2 * si], seg[2 + 2 * si]
                scan_comps[cs] = (tdta >> 4, tdta & 0x0F)
            break
        # APPn / COM: skipped
    if frame is None or not scan_comps:
        raise ValueError("JPEG missing SOF0/SOS")

    h, w, comps = frame
    if h == 0 or w == 0 or not comps:
        raise ValueError("malformed JPEG: empty SOF0 frame")
    if int(h) * int(w) > 64_000_000:
        raise ValueError(f"JPEG dimensions {w}x{h} exceed the 64 MP decode guard")
    if any(not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4) for c in comps):
        raise ValueError("malformed JPEG: sampling factors outside 1..4")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        c["id"]: np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.uint8) for c in comps
    }
    preds = {c["id"]: 0 for c in comps}
    bits = _JpegBits(content, pos)
    mcu_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                bits.sync_restart()
                preds = {c["id"]: 0 for c in comps}
            for c in comps:
                dc_tab = huff[(0, scan_comps[c["id"]][0])]
                ac_tab = huff[(1, scan_comps[c["id"]][1])]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz, preds[c["id"]] = _jpeg_decode_block(bits, dc_tab, ac_tab, preds[c["id"]])
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_JPEG_ZIGZAG] = (zz * qt[c["tq"]]).astype(np.float64)
                        spatial = _idct_8x8(blk.reshape(8, 8)) + 128.0
                        px = np.clip(np.round(spatial), 0, 255).astype(np.uint8)
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_idx += 1

    # upsample each component to full resolution (nearest / replicate) + crop
    full = []
    for c in comps:
        p = planes[c["id"]]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w].astype(np.float64))
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    if len(full) != 3:
        raise ValueError(f"unsupported JPEG component count: {len(full)}")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Magic-byte decoder dispatch — the default for the feature/resize stages
# ---------------------------------------------------------------------------


def sniff_mime(content: bytes) -> str:
    """Python mirror of :func:`attach_media_metadata`'s column-expression
    magic-byte sniff, for executor-side dispatch inside decode UDFs."""
    if content[:3] == b"\xff\xd8\xff":
        return "image/jpeg"
    if content[:4] == b"\x89PNG":
        return "image/png"
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "audio/wav"
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        return "video/avi"
    return "application/octet-stream"


def auto_decode_image(content: bytes, width: int = -1, height: int = -1) -> np.ndarray:
    """Default image decoder: sniff magic bytes and dispatch to the real
    codec — PNG -> :func:`png_decode`, JPEG -> :func:`jpeg_decode`, and the
    ``image/raw+zlib`` stand-in container :func:`image_resize` emits (zlib
    stream whose payload is exactly width*height*3 raw pixels). Unknown
    bytes RAISE rather than silently producing hash-noise features; pass
    ``decoder=`` explicitly to override (e.g. ``_fake_decode_image`` as a
    test double)."""
    mime = sniff_mime(content)
    if mime == "image/png":
        return png_decode(content, width, height)
    if mime == "image/jpeg":
        return jpeg_decode(content, width, height)
    if len(content) >= 2 and content[0] == 0x78 and width > 0 and height > 0:
        try:
            raw = zlib.decompress(bytes(content))
        except zlib.error:
            raw = None
        if raw is not None and len(raw) == width * height * 3:
            return np.frombuffer(raw, dtype=np.uint8).reshape(height, width, 3)
    raise ValueError(
        f"auto_decode_image: unrecognized image bytes (sniffed {mime}); "
        "supported: PNG, baseline JPEG, raw+zlib. Pass decoder= to override."
    )


def auto_decode_audio(content: bytes, n_samples: int = -1) -> np.ndarray:
    """Default audio decoder: RIFF/WAVE -> :func:`wav_decode`; anything
    else raises (pass ``decoder=`` to override)."""
    if sniff_mime(content) == "audio/wav":
        return wav_decode(content, n_samples)
    raise ValueError(
        "auto_decode_audio: unrecognized audio bytes; supported: RIFF/WAVE PCM. "
        "Pass decoder= to override."
    )


@_malformed_guard("AVI")
def avi_mjpeg_frames(content: bytes) -> list[bytes]:
    """REAL video-container demux, stdlib-only: walk the RIFF/AVI chunk
    tree and return each video-stream frame payload ('##dc'/'##db'
    chunks inside the 'movi' LIST, including 'rec ' interleave sublists).
    For MJPEG streams every payload is a standalone baseline JPEG that
    :func:`jpeg_decode` handles, which makes MJPEG-in-AVI the one video
    path this container can decode end-to-end without ffmpeg."""
    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("avi_mjpeg_frames: not a RIFF/'AVI ' container")
    # honor the RIFF size header: copy tools commonly append metadata or
    # padding after the declared payload, and players ignore it — walking
    # to len(content) would misparse those trailing bytes as chunks
    declared_end = 8 + int.from_bytes(content[4:8], "little")
    riff_end = min(len(content), declared_end)
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = content[pos : pos + 4]
            size = int.from_bytes(content[pos + 4 : pos + 8], "little")
            data_start, data_end = pos + 8, pos + 8 + size
            if data_end > end:
                raise ValueError("avi_mjpeg_frames: chunk overruns its parent")
            if fourcc == b"LIST":
                if content[data_start : data_start + 4] in (b"movi", b"rec "):
                    walk(data_start + 4, data_end)
            elif fourcc[2:4] in (b"dc", b"db") and size > 0:
                frames.append(content[data_start:data_end])
            pos = data_end + (size & 1)  # RIFF chunks pad to even offsets

    walk(12, riff_end)
    return frames


VIDEO_FRAME_SCHEMA = (
    "media_id LONG, frame_index INT, n_frames INT, mean_gray DOUBLE, "
    "std_gray DOUBLE, motion DOUBLE, ahash LONG"
)


def video_frame_features(
    df: DataFrame,
    every_n: int = 30,
    max_frames: int = 8,
    frame_decoder: Callable[[bytes], np.ndarray] | None = None,
) -> DataFrame:
    """REAL video frame sampling + per-frame features: demux the AVI
    container (:func:`avi_mjpeg_frames`), decode every ``every_n``-th
    frame (capped at ``max_frames``) with the baseline-JPEG decoder, and
    emit per-frame brightness/contrast, a 64-bit average-hash, and a
    motion proxy (mean |Δgray| vs the previous SAMPLED frame — 0 for the
    first). Non-MJPEG payloads raise through the decoder rather than
    faking features; pass ``frame_decoder=`` to plug a real codec stack.

    Scale shape: videos stay as one binary cell until this mapInPandas
    stage, so bytes cross the cluster once; output is rows-per-sampled-
    frame (the natural downstream unit). Pair with
    :func:`partition_by_size` first — video blobs are the most
    size-skewed media class."""
    decode = frame_decoder or (lambda payload: jpeg_decode(payload))

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                payloads = avi_mjpeg_frames(bytes(r.content))
                prev: np.ndarray | None = None
                for fi in list(range(0, len(payloads), every_n))[:max_frames]:
                    img = decode(payloads[fi])
                    gray = (img if img.ndim == 2 else img.mean(axis=2)).astype(np.float64)
                    small = gray[:: max(1, gray.shape[0] // 8), :: max(1, gray.shape[1] // 8)]
                    bits = (small > small.mean()).flatten()[:64]
                    ahash = int("".join("1" if b else "0" for b in bits).ljust(64, "0"), 2)
                    motion = (
                        float(np.abs(gray - prev).mean())
                        if prev is not None and prev.shape == gray.shape
                        else 0.0
                    )
                    rows.append(
                        {
                            "media_id": r.media_id,
                            "frame_index": fi,
                            "n_frames": len(payloads),
                            "mean_gray": float(gray.mean()),
                            "std_gray": float(gray.std()),
                            "motion": motion,
                            "ahash": np.int64(ahash - (1 << 63)),
                        }
                    )
                    prev = gray
            yield pd.DataFrame(rows)

    return df.mapInPandas(_extract, VIDEO_FRAME_SCHEMA)


def audio_spectral_features(
    df: DataFrame,
    decoder: Callable[[bytes, int], np.ndarray] | None = None,
) -> DataFrame:
    """REAL spectral analysis: decode audio and run an rFFT over the
    first ``n_samples`` samples — dominant frequency (argmax magnitude
    bin, DC excluded) and spectral centroid in Hz. Complements
    :func:`audio_features`' FFT-free time-domain stand-ins with the
    true frequency-domain features a speech/music router needs.

    Scale shape: Arrow-batched ``mapInPandas`` like every codec kernel
    here — numpy batches the FFTs, nothing but (media_id, 2 doubles)
    leaves the worker. Frequencies resolve to bin centers
    ``k * sample_rate / n_samples``; q185 exploits exactly that to
    oracle-check the whole encode->decode->FFT loop analytically."""
    decoder = decoder or auto_decode_audio

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                pcm = decoder(bytes(r.content), int(r.n_samples)).astype(np.float64)
                n = len(pcm)
                sr = float(max(r.sample_rate, 1))
                mag = np.abs(np.fft.rfft(pcm))
                if len(mag) > 1:
                    k = int(np.argmax(mag[1:])) + 1  # skip DC
                    dom = k * sr / n
                    centroid = float(
                        np.sum(np.arange(len(mag)) * mag) / max(np.sum(mag), 1e-12)
                    ) * sr / n
                else:
                    dom, centroid = 0.0, 0.0
                rows.append(
                    {
                        "media_id": r.media_id,
                        "dominant_freq_hz": float(dom),
                        "spectral_centroid_hz": float(centroid),
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        _extract,
        "media_id LONG, dominant_freq_hz DOUBLE, spectral_centroid_hz DOUBLE",
    )


# --- DCT perceptual hash (pHash) -------------------------------------------

DCT_PHASH_Q = 10000


@functools.lru_cache(maxsize=None)
def dct_basis_q(n: int = 8, q: int = DCT_PHASH_Q) -> tuple[tuple[int, ...], ...]:
    """Integer-quantized DCT-II basis: ``Tq[u][x] = round(q * cos(pi *
    (2x+1) * u / (2n)))``. The orthonormal scaling constants are dropped
    on purpose — pHash bits compare coefficients against their own mean,
    which is invariant under any positive per-hash scale — so with an
    integer basis every coefficient is an EXACT integer sum and the bit
    decisions cannot drift with float accumulation order. The same table
    is embedded as literals in the q208 oracle, making the hash
    engine-replayable down to the last bit."""
    import math

    return tuple(
        tuple(int(round(q * math.cos(math.pi * (2 * x + 1) * u / (2 * n)))) for x in range(n))
        for u in range(n)
    )


def image_dct_phash(
    df: DataFrame,
    decoder: Callable[[bytes, int, int], np.ndarray] | None = None,
    batch_limit: int = 256,
) -> DataFrame:
    """DCT perceptual hash: decode, integer-subsample to 8x8, integer
    2D DCT (quantized basis, see :func:`dct_basis_q`), then one bit per
    low-frequency coefficient (the 4x4 block minus DC): ``1`` iff
    ``15*C[u,v] > sum`` of the 15 — the classic pHash mean threshold in
    exact integer arithmetic. The grey plane is the RGB channel SUM
    (integer; the mean compare is scale-invariant, so the factor of 3
    never matters). Returns (media_id, phash LONG, n_on LONG).

    Like :func:`image_features`, a mapInPandas Arrow kernel: blobs never
    leave the executor; only 15-bit hashes cross the wire."""
    decoder = decoder or auto_decode_image
    t = np.array(dct_basis_q(8), dtype=np.int64)

    def _hash(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for lo in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[lo : lo + batch_limit]
                rows = []
                for r in chunk.itertuples(index=False):
                    img = decoder(bytes(r.content), int(r.width), int(r.height))
                    small = img[:: max(1, img.shape[0] // 8), :: max(1, img.shape[1] // 8)][:8, :8]
                    g = small.sum(axis=2, dtype=np.int64)
                    coef = t @ g @ t.T
                    low = coef[:4, :4].flatten()[1:]  # row-major, DC dropped
                    tot = int(low.sum())
                    bits = [1 if 15 * int(c) > tot else 0 for c in low]
                    phash = 0
                    for b in bits:
                        phash = (phash << 1) | b
                    rows.append(
                        {
                            "media_id": r.media_id,
                            "phash": np.int64(phash),
                            "n_on": np.int64(sum(bits)),
                        }
                    )
                yield pd.DataFrame(rows)

    return df.mapInPandas(_hash, "media_id LONG, phash LONG, n_on LONG")
