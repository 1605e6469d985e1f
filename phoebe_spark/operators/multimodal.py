"""Multimodal column operators: images and audio as opaque binary
columns, processed via Arrow-batched ``mapInPandas``.

Design for 100 TB: media bytes ride in a ``binary`` column next to typed
metadata (byte length, sniffed mime, sample rate); decode and feature
stages are ``mapInPandas`` pipelines, so bytes stay on the executors and
flow through them in Arrow batches. Batch size is bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py) so
a batch of large blobs cannot blow executor memory.

Codecs: :func:`png_decode` (stdlib ``zlib`` + numpy unfiltering) and
:func:`wav_decode` (stdlib ``wave``) are real decoders with zero external
dependencies. :func:`image_features` and :func:`image_dct_phash` decode
PNG, :func:`audio_spectral_features` decodes WAV; other bytes raise
``ValueError``. :func:`attach_media_metadata` labels JPEG, PNG, WAV and
AVI by their magic bytes without decoding them; this module decodes
neither JPEG nor video.
"""

from __future__ import annotations

import functools
import struct as _struct
import wave as _wave
import zlib
from collections.abc import Iterator

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


@_malformed_guard("WAV")
def wav_decode(content: bytes, n_samples: int = -1) -> np.ndarray:
    """REAL decoder for RIFF/WAVE PCM via stdlib ``wave`` — zero external
    dependencies, so this path is fully functional in any environment.
    Returns mono float32 in [-1, 1] (multi-channel averaged); accepts
    8/16/32-bit integer PCM; ``n_samples > 0`` keeps the first
    ``n_samples``."""
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


def image_features(df: DataFrame) -> DataFrame:
    """Decode PNG (:func:`png_decode`) + feature-extract: per image,
    mean/std per RGB channel and a perceptual-ish 64-bit average-hash.
    mapInPandas so decode runs executor-side per Arrow batch."""

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                img = png_decode(bytes(r.content))
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


@_malformed_guard("PNG")
def png_decode(content: bytes) -> np.ndarray:
    """REAL decoder for PNG via stdlib ``zlib`` + numpy scanline
    unfiltering — zero external codec dependencies, so the image path is
    fully functional in any environment (the audio analog is
    :func:`wav_decode`). Supports the common cases: 8-bit greyscale (0),
    truecolor RGB (2), and RGBA (6), all five PNG scanline filters
    (None/Sub/Up/Average/Paeth, RFC 2083 §6), non-interlaced. Returns an
    ``HxWx3 uint8`` array (alpha dropped, grey replicated); the IHDR
    sets the size."""
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


def audio_spectral_features(df: DataFrame) -> DataFrame:
    """REAL spectral analysis: decode WAV (:func:`wav_decode`) and run an
    rFFT over the first ``n_samples`` samples — dominant frequency
    (argmax magnitude bin, DC excluded) and spectral centroid in Hz, the
    frequency-domain features a speech/music router needs.

    Scale shape: Arrow-batched ``mapInPandas`` like every codec kernel
    here — numpy batches the FFTs, nothing but (media_id, 2 doubles)
    leaves the worker. Frequencies resolve to bin centers
    ``k * sample_rate / n_samples``; q185 exploits exactly that to
    oracle-check the whole encode->decode->FFT loop analytically."""

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                pcm = wav_decode(bytes(r.content), int(r.n_samples)).astype(np.float64)
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


def image_dct_phash(df: DataFrame) -> DataFrame:
    """DCT perceptual hash: decode PNG (:func:`png_decode`),
    integer-subsample to 8x8, integer
    2D DCT (quantized basis, see :func:`dct_basis_q`), then one bit per
    low-frequency coefficient (the 4x4 block minus DC): ``1`` iff
    ``15*C[u,v] > sum`` of the 15 — the classic pHash mean threshold in
    exact integer arithmetic. The grey plane is the RGB channel SUM
    (integer; the mean compare is scale-invariant, so the factor of 3
    never matters). Returns (media_id, phash LONG, n_on LONG).

    Like :func:`image_features`, a mapInPandas Arrow kernel: blobs never
    leave the executor; only 15-bit hashes cross the wire."""
    t = np.array(dct_basis_q(8), dtype=np.int64)

    def _hash(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                img = png_decode(bytes(r.content))
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
