"""Multimodal-column tests: binary columns + typed metadata through
Arrow-batched mapInPandas stages. The decode paths are REAL (stdlib
PNG/JPEG/WAV decoders with magic-byte dispatch); the in-test baseline-JPEG
encoder below exists only to synthesize genuine byte streams with known
expected reconstructions."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from phoebe_spark.operators.multimodal import (
    attach_media_metadata,
    audio_features,
    image_features,
    image_resize,
    partition_by_size,
)

JPEG_MAGIC = bytes([0xFF, 0xD8, 0xFF]) + b"fakejpegbytes"
PNG_MAGIC = b"\x89PNG\r\n" + b"fakepngbytes"
# real RIFF/WAVE layout: 'WAVE' tag at offset 8 (the sniff requires it —
# a bare 'RIFF' prefix could be AVI or any other RIFF container)
WAV_MAGIC = b"RIFF" + (20).to_bytes(4, "little") + b"WAVE" + b"fakewavbytes"

# --- in-test baseline JPEG encoder (independent of the product decoder:
# its own DCT matrix, zigzag table, Huffman assignment, and bit writer) ---

_ZIG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_mat():
    C = np.zeros((8, 8))
    for k in range(8):
        for n in range(8):
            C[k, n] = (np.sqrt(1 / 8) if k == 0 else 0.5) * np.cos((2 * n + 1) * k * np.pi / 16)
    return C


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def pad_to_byte(self) -> None:
        while self.n:
            self.write(1, 1)


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _mag_bits(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def _fixed_huff(symbols):
    """Canonical table with every symbol at one code length (capacity
    2^L - 1 keeps the all-ones code unused, as T.81 recommends)."""
    syms = sorted(set(symbols))
    L = 1
    while (1 << L) - 1 < len(syms):
        L += 1
    counts = [0] * 16
    counts[L - 1] = len(syms)
    codes = {s: (L, i) for i, s in enumerate(syms)}
    return counts, syms, codes


def _encode_jpeg(img: np.ndarray, samp=(1, 1), q: int = 1, restart_interval: int = 0):
    """Encode uint8 gray (HxW) or RGB (HxWx3) as baseline JFIF. Returns
    (jpeg_bytes, expected_rgb) where expected_rgb is the mathematically
    implied reconstruction (quantize -> dequantize -> IDCT -> clip ->
    upsample -> color-convert) computed with THIS module's independent
    numerics, for exact-match assertions against the product decoder."""
    C = _dct_mat()
    gray = img.ndim == 2
    H, W = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        samps = [(1, 1)]
    else:
        R, G, B = (img[..., i].astype(np.float64) for i in range(3))
        Y = 0.299 * R + 0.587 * G + 0.114 * B
        Cb = 128.0 - 0.168736 * R - 0.331264 * G + 0.5 * B
        Cr = 128.0 + 0.5 * R - 0.418688 * G - 0.081312 * B
        sh, sv = samp

        def _ds(p):
            if sh == 1 and sv == 1:
                return p
            hh, ww = -(-H // sv) * sv, -(-W // sh) * sh
            pp = np.pad(p, ((0, hh - H), (0, ww - W)), mode="edge")
            return pp.reshape(hh // sv, sv, ww // sh, sh).mean(axis=(1, 3))

        planes = [Y, _ds(Cb), _ds(Cr)]
        samps = [samp, (1, 1), (1, 1)]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux, mcuy = -(-W // (8 * hmax)), -(-H // (8 * vmax))
    qtab = np.full(64, q, dtype=np.int64)  # uniform, so zigzag order is moot

    # FDCT + quantize every block; keep coefficients for the bitstream and
    # build the expected reconstruction per plane
    comp_coeffs = []  # [comp][(by, bx)] -> 64 quantized zigzag coeffs
    recon_planes = []
    for p, (sh_, sv_) in zip(planes, samps):
        ph, pw = mcuy * 8 * sv_, mcux * 8 * sh_
        pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge")
        coeffs = {}
        rec = np.zeros((ph, pw))
        for by in range(ph // 8):
            for bx in range(pw // 8):
                blk = pp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                coef = C @ blk @ C.T
                zz = np.round(coef.flatten()[_ZIG] / qtab).astype(np.int64)
                coeffs[(by, bx)] = zz
                rast = np.zeros(64)
                rast[_ZIG] = (zz * qtab).astype(np.float64)
                spatial = C.T @ rast.reshape(8, 8) @ C + 128.0
                rec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                    np.round(spatial), 0, 255
                )
        comp_coeffs.append(coeffs)
        recon_planes.append(rec)

    # expected final RGB: upsample reconstructed planes, crop, color-convert
    ups = []
    for rec, (sh_, sv_) in zip(recon_planes, samps):
        u = np.repeat(np.repeat(rec, vmax // sv_, axis=0), hmax // sh_, axis=1)
        ups.append(u[:H, :W])
    if gray:
        expected = np.repeat(
            np.clip(np.round(ups[0]), 0, 255).astype(np.uint8)[..., None], 3, axis=2
        )
    else:
        y, cb, cr = ups
        er = y + 1.402 * (cr - 128.0)
        eg = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        eb = y + 1.772 * (cb - 128.0)
        expected = np.clip(np.round(np.stack([er, eg, eb], axis=2)), 0, 255).astype(np.uint8)

    # gather Huffman symbols (pass 1), then emit (pass 2)
    def _blocks_in_mcu_order():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (sh_, sv_) in enumerate(samps):
                    for by in range(sv_):
                        for bx in range(sh_):
                            yield ci, comp_coeffs[ci][(my * sv_ + by, mx * sh_ + bx)]

    def _block_symbols(zz, pred):
        dc_syms, ac_syms = [], []
        diff = int(zz[0]) - pred
        dc_syms.append(_category(diff))
        k, run = 1, 0
        while k < 64:
            v = int(zz[k])
            if v == 0:
                run += 1
            else:
                while run > 15:
                    ac_syms.append(0xF0)
                    run -= 16
                ac_syms.append((run << 4) | _category(v))
                run = 0
            k += 1
        if run:
            ac_syms.append(0x00)
        return dc_syms, ac_syms, int(zz[0])

    all_dc, all_ac = [], []
    preds = [0] * len(planes)
    for ci, zz in _blocks_in_mcu_order():
        d, a, new_pred = _block_symbols(zz, preds[ci])
        preds[ci] = new_pred
        all_dc += d
        all_ac += a
    all_ac.append(0x00)  # ensure EOB is always in the table
    dc_counts, dc_syms, dc_codes = _fixed_huff(all_dc)
    ac_counts, ac_syms, ac_codes = _fixed_huff(all_ac)

    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_idx = 0
    rst = 0
    blocks = list(_blocks_in_mcu_order())
    per_mcu = sum(sh_ * sv_ for sh_, sv_ in samps)
    for bi, (ci, zz) in enumerate(blocks):
        if bi % per_mcu == 0:  # MCU boundary
            mcu_idx = bi // per_mcu
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                bw.pad_to_byte()
                bw.buf += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * len(planes)
        diff = int(zz[0]) - preds[ci]
        preds[ci] = int(zz[0])
        t = _category(diff)
        ln, code = dc_codes[t]
        bw.write(code, ln)
        if t:
            bw.write(_mag_bits(diff, t), t)
        k, run = 1, 0
        while k < 64:
            v = int(zz[k])
            if v == 0:
                run += 1
            else:
                while run > 15:
                    ln, code = ac_codes[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s = _category(v)
                ln, code = ac_codes[(run << 4) | s]
                bw.write(code, ln)
                bw.write(_mag_bits(v, s), s)
                run = 0
            k += 1
        if run:
            ln, code = ac_codes[0x00]
            bw.write(code, ln)
    bw.pad_to_byte()

    def _seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def _dht(tc, counts, syms):
        return _seg(0xC4, bytes([tc << 4]) + bytes(counts) + bytes(syms))

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes(int(x) for x in qtab))
    ncomp = len(planes)
    sof = bytes([8]) + struct.pack(">HH", H, W) + bytes([ncomp])
    for ci, (sh_, sv_) in enumerate(samps):
        sof += bytes([ci + 1, (sh_ << 4) | sv_, 0])
    out += _seg(0xC0, sof)
    out += _dht(0, dc_counts, dc_syms)
    out += _dht(1, ac_counts, ac_syms)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out), expected


def _encode_wav(pcm_f32: np.ndarray, sr: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes((np.clip(pcm_f32, -1, 1) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


@pytest.fixture(scope="module")
def images(spark):
    """REAL baseline-JPEG byte streams (in-test encoder) — the default
    auto_decode_image dispatch must decode these with no decoder= arg."""
    rng = np.random.default_rng(42)
    rows = []
    for i in range(20):
        w, h = 16 + int(rng.integers(0, 16)), 16 + int(rng.integers(0, 12))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        jpg, _ = _encode_jpeg(img, samp=(1, 1), q=4)
        rows.append((i, "image/jpeg", w, h, len(jpg), bytearray(jpg)))
    return spark.createDataFrame(
        rows, "media_id LONG, mime STRING, width INT, height INT, n_bytes LONG, content BINARY"
    )


@pytest.fixture(scope="module")
def audio(spark):
    """REAL RIFF/WAVE byte streams — default auto_decode_audio dispatch."""
    rng = np.random.default_rng(7)
    sr = 16000
    rows = []
    for i in range(10):
        freq = 100.0 + 50.0 * i
        t = np.arange(sr * 2) / sr
        pcm = (0.5 * np.sin(2 * np.pi * freq * t)).astype(np.float32)
        wav = _encode_wav(pcm, sr)
        rows.append((i, "audio/wav", sr, sr * 2, len(wav), bytearray(wav)))
    return spark.createDataFrame(
        rows, "media_id LONG, mime STRING, sample_rate INT, n_samples LONG, n_bytes LONG, content BINARY"
    )


def test_metadata_sniff(spark, images):
    out = attach_media_metadata(images).collect()
    assert all(r["sniffed_mime"] == "image/jpeg" for r in out)
    assert all(r["n_bytes"] == len(bytes(r["content"])) for r in out)
    mixed = spark.createDataFrame(
        [(1, PNG_MAGIC), (2, WAV_MAGIC), (3, b"garbage")], "media_id LONG, content BINARY"
    )
    sniffed = {r["media_id"]: r["sniffed_mime"] for r in attach_media_metadata(mixed).collect()}
    assert sniffed == {1: "image/png", 2: "audio/wav", 3: "application/octet-stream"}


def test_image_features_deterministic(images):
    # no decoder= argument: the default magic-byte dispatch must route the
    # real JPEG bytes to jpeg_decode
    a = {r["media_id"]: r["ahash"] for r in image_features(images).collect()}
    b = {r["media_id"]: r["ahash"] for r in image_features(images).collect()}
    assert a == b
    rows = image_features(images).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r["mean_r"] <= 255 and 0 <= r["mean_b"] <= 255
        assert r["std_gray"] > 0


def test_image_resize_composes_with_features(images):
    resized = image_resize(images, target=(16, 16))
    rows = resized.collect()
    assert all(r["width"] == 16 and r["height"] == 16 for r in rows)
    assert all(len(zlib.decompress(bytes(r["content"]))) == 16 * 16 * 3 for r in rows)
    # composition with NO decoder= anywhere: auto dispatch recognizes the
    # raw+zlib container image_resize emits (zlib stream, exact w*h*3 payload)
    feats = image_features(resized).collect()
    assert len(feats) == 20


def test_audio_features(audio):
    # no decoder= argument: RIFF/WAVE dispatches to the real wav_decode
    rows = audio_features(audio).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["duration_s"] == pytest.approx(2.0)
        assert r["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=1e-2)  # sine, amp 0.5
        assert 0 < r["zero_crossing_rate"] < 1


def test_partition_by_size_spreads(images):
    out = partition_by_size(images, num_buckets=8)
    assert out.rdd.getNumPartitions() == 8
    assert out.count() == 20


def test_wav_decode_real_riff_end_to_end(spark):
    """The stdlib-wave decoder is REAL: synthesize an actual RIFF/WAVE PCM
    byte string, run the full audio_features pipeline over it, and check
    the physics (a sine's RMS is amplitude/sqrt(2), zero crossings track
    frequency) — no stub anywhere in the path."""
    import io
    import wave

    from phoebe_spark.operators.multimodal import wav_decode

    sr, freq, amp, dur_s = 8000, 440.0, 0.5, 2.0
    t = np.arange(int(sr * dur_s)) / sr
    pcm = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    wav_bytes = buf.getvalue()
    assert wav_bytes[:4] == b"RIFF"  # genuine container magic

    # direct decode round-trip
    x = wav_decode(wav_bytes)
    assert x.dtype == np.float32 and len(x) == len(pcm)
    assert float(np.max(np.abs(x))) <= 1.0

    df = spark.createDataFrame(
        [(1, "audio/wav", sr, len(pcm), len(wav_bytes), bytearray(wav_bytes))],
        "media_id LONG, mime STRING, sample_rate INT, n_samples LONG, n_bytes LONG, content BINARY",
    )
    r = audio_features(df, decoder=wav_decode).collect()[0]
    assert r["duration_s"] == pytest.approx(dur_s)
    assert r["rms"] == pytest.approx(amp / np.sqrt(2), rel=1e-3)
    # a 440 Hz sine crosses zero 2*440 times/s -> rate ~= 2*freq/sr
    assert r["zero_crossing_rate"] == pytest.approx(2 * freq / sr, rel=0.05)


def test_wav_decode_stereo_and_8bit(spark):
    import io
    import wave

    from phoebe_spark.operators.multimodal import wav_decode

    # stereo 16-bit: L = sine, R = -sine -> mono mean ~ 0
    sr = 4000
    t = np.arange(sr) / sr
    s = (0.25 * np.sin(2 * np.pi * 100 * t) * 32767).astype("<i2")
    inter = np.empty(2 * len(s), dtype="<i2")
    inter[0::2], inter[1::2] = s, -s
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(inter.tobytes())
    x = wav_decode(buf.getvalue())
    assert len(x) == len(s)
    assert float(np.max(np.abs(x))) < 1e-4

    # 8-bit unsigned PCM silence decodes to ~0
    buf8 = io.BytesIO()
    with wave.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sr)
        w.writeframes(bytes([128] * sr))
    x8 = wav_decode(buf8.getvalue())
    assert float(np.max(np.abs(x8))) == 0.0


def _encode_png(img: np.ndarray, filters) -> bytes:
    """Minimal PNG writer for the decoder tests: 8-bit, non-interlaced,
    per-row filter choice (exercises all five RFC 2083 filters)."""
    import struct
    import zlib as _zlib

    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 3: 2, 4: 6}[c]

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", _zlib.crc32(t + d))

    flat = img.reshape(h, w * c).astype(np.int32)
    bpp = c
    raw = b""
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        if f == 0:
            filt = line
        elif f == 1:
            filt = line - left
        elif f == 2:
            filt = line - prev
        elif f == 3:
            filt = line - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            filt = line - pred
        raw += bytes([f]) + bytes((filt % 256).astype(np.uint8))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_roundtrip():
    """png_decode must invert every PNG scanline filter exactly: encode a
    known image cycling through None/Sub/Up/Average/Paeth rows, decode,
    compare pixel-for-pixel."""
    from phoebe_spark.operators.multimodal import png_decode

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(15, 9, 3), dtype=np.uint8)
    got = png_decode(_encode_png(img, filters=[0, 1, 2, 3, 4]))
    assert got.shape == img.shape
    assert np.array_equal(got, img)

    # greyscale replicates to 3 channels; RGBA drops alpha
    grey = rng.integers(0, 256, size=(7, 5), dtype=np.uint8)
    g3 = png_decode(_encode_png(grey, filters=[4, 3, 2, 1, 0]))
    assert np.array_equal(g3, np.repeat(grey[:, :, None], 3, axis=2))
    rgba = rng.integers(0, 256, size=(6, 4, 4), dtype=np.uint8)
    got_rgba = png_decode(_encode_png(rgba, filters=[2, 4]))
    assert np.array_equal(got_rgba, rgba[..., :3])


def test_png_decode_through_image_pipeline(spark):
    """End-to-end: REAL PNG bytes through image_features and image_resize —
    no stub anywhere in the path."""
    from phoebe_spark.operators.multimodal import image_features, image_resize, png_decode

    rng = np.random.default_rng(5)
    rows = []
    imgs = {}
    for i in range(6):
        img = rng.integers(0, 256, size=(16 + i, 12 + i, 3), dtype=np.uint8)
        imgs[i] = img
        png = _encode_png(img, filters=[0, 1, 2, 3, 4])
        rows.append((i, "image/png", img.shape[1], img.shape[0], len(png), bytearray(png)))
    df = spark.createDataFrame(
        rows, "media_id LONG, mime STRING, width INT, height INT, n_bytes LONG, content BINARY"
    )
    feats = {r["media_id"]: r for r in image_features(df, decoder=png_decode).collect()}
    for i, img in imgs.items():
        assert feats[i]["mean_r"] == pytest.approx(float(img[..., 0].mean()))
        assert feats[i]["mean_b"] == pytest.approx(float(img[..., 2].mean()))
    resized = image_resize(df, target=(8, 8), decoder=png_decode).collect()
    assert all(r["width"] == 8 and r["height"] == 8 for r in resized)


def test_image_neardup_via_ahash_hamming(spark):
    """Multimodal dedup composition on REAL bytes: PNG decode -> perceptual
    average-hash -> Hamming banding pairs. A slightly-noised copy of an
    image must pair with its original at low distance; unrelated images
    must not pair."""
    from phoebe_spark.operators.dedup import hamming_pairs
    from phoebe_spark.operators.multimodal import image_features, png_decode

    rng = np.random.default_rng(21)
    imgs = {i: rng.integers(0, 256, size=(24, 24, 3), dtype=np.uint8) for i in range(6)}
    # planted near-dup: image 6 = image 0 plus faint noise
    noisy = imgs[0].astype(np.int16) + rng.integers(-6, 7, size=imgs[0].shape)
    imgs[6] = np.clip(noisy, 0, 255).astype(np.uint8)
    rows = []
    for i, img in imgs.items():
        png = _encode_png(img, filters=[0, 1, 2, 3, 4])
        rows.append((i, "image/png", img.shape[1], img.shape[0], len(png), bytearray(png)))
    df = spark.createDataFrame(
        rows, "media_id LONG, mime STRING, width INT, height INT, n_bytes LONG, content BINARY"
    )
    hashes = image_features(df, decoder=png_decode).select(
        "media_id", F.col("ahash").alias("hash64")
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_pairs(hashes, id_col="media_id", max_hamming=8, bands=16).collect()
    }
    assert (0, 6) in pairs and pairs[(0, 6)] <= 8
    assert all(p == (0, 6) for p in pairs), f"false pairs: {pairs}"


# ---------------------------------------------------------------------------
# Baseline JPEG decoder — exact-match tests against the in-test encoder
# ---------------------------------------------------------------------------


def test_jpeg_idct_matches_naive_cosine_sum():
    """Module IDCT (matrix form) vs a literal T.81 A.3.3 double cosine sum."""
    from phoebe_spark.operators.multimodal import _idct_8x8

    rng = np.random.default_rng(3)
    coef = rng.normal(0, 50, size=(8, 8))
    naive = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = np.sqrt(1 / 8) if u == 0 else 0.5
                    cv = np.sqrt(1 / 8) if v == 0 else 0.5
                    s += (
                        cu * cv * coef[u, v]
                        * np.cos((2 * y + 1) * u * np.pi / 16)
                        * np.cos((2 * x + 1) * v * np.pi / 16)
                    )
            naive[y, x] = s
    assert np.allclose(_idct_8x8(coef), naive, atol=1e-9)
    # DC-only block decodes to a constant
    dc = np.zeros((8, 8))
    dc[0, 0] = 80.0
    assert np.allclose(_idct_8x8(dc), 10.0)


def test_jpeg_decode_grayscale_exact():
    """Grayscale baseline JFIF: decode must equal the encoder's implied
    reconstruction pixel-for-pixel (validates marker parsing, Huffman
    decode, EXTEND, dequant, un-zigzag, IDCT, clipping, edge-block crop)."""
    from phoebe_spark.operators.multimodal import jpeg_decode

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(21, 13), dtype=np.uint8)  # non-multiple of 8
    jpg, expected = _encode_jpeg(img, q=1)
    got = jpeg_decode(jpg)
    assert got.shape == (21, 13, 3)
    assert np.array_equal(got, expected)
    # coarser quantization still matches exactly (dequant path)
    jpg_q, expected_q = _encode_jpeg(img, q=16)
    assert np.array_equal(jpeg_decode(jpg_q), expected_q)


def test_jpeg_decode_color_444_exact():
    from phoebe_spark.operators.multimodal import jpeg_decode

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, size=(18, 10, 3), dtype=np.uint8)
    jpg, expected = _encode_jpeg(img, samp=(1, 1), q=2)
    got = jpeg_decode(jpg)
    assert got.shape == img.shape
    assert np.array_equal(got, expected)


def test_jpeg_decode_color_420_exact():
    """4:2:0 chroma subsampling: MCU interleave (4 Y blocks + Cb + Cr),
    nearest-neighbor upsample, odd dimensions."""
    from phoebe_spark.operators.multimodal import jpeg_decode

    rng = np.random.default_rng(19)
    img = rng.integers(0, 256, size=(19, 23, 3), dtype=np.uint8)
    jpg, expected = _encode_jpeg(img, samp=(2, 2), q=4)
    got = jpeg_decode(jpg)
    assert got.shape == img.shape
    assert np.array_equal(got, expected)


def test_jpeg_decode_restart_markers():
    from phoebe_spark.operators.multimodal import jpeg_decode

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)  # 15 MCUs
    jpg, expected = _encode_jpeg(img, q=2, restart_interval=4)
    assert b"\xff\xd0" in jpg or b"\xff\xd1" in jpg  # RSTn actually present
    assert np.array_equal(jpeg_decode(jpg), expected)


def test_jpeg_decode_smooth_image_close_to_source():
    """Sanity beyond bit-exactness: a smooth gradient at q=1 must decode
    to within 1 intensity level of the source (DCT roundoff only)."""
    from phoebe_spark.operators.multimodal import jpeg_decode

    yy, xx = np.mgrid[0:16, 0:16]
    img = ((yy * 8 + xx * 4) % 256).astype(np.uint8)
    jpg, _ = _encode_jpeg(img, q=1)
    got = jpeg_decode(jpg)
    assert np.max(np.abs(got[..., 0].astype(int) - img.astype(int))) <= 1


def test_jpeg_decode_rejects_progressive_and_garbage():
    from phoebe_spark.operators.multimodal import jpeg_decode

    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    jpg, _ = _encode_jpeg(img)
    prog = jpg.replace(b"\xff\xc0", b"\xff\xc2", 1)  # masquerade as SOF2
    with pytest.raises(ValueError, match="SOF"):
        jpeg_decode(prog)
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_decode(b"garbage")


# ---------------------------------------------------------------------------
# Magic-byte dispatch (auto_decode_image / auto_decode_audio defaults)
# ---------------------------------------------------------------------------


def test_auto_dispatch_mixed_png_jpeg_column(spark):
    """One binary column holding PNG and JPEG bytes side by side: the
    DEFAULT image_features path must produce the correct real features for
    both formats with no decoder= argument."""
    rng = np.random.default_rng(31)
    png_img = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
    png = _encode_png(png_img, filters=[0, 1, 2, 3, 4])
    jpg_img = rng.integers(0, 256, size=(11, 14, 3), dtype=np.uint8)
    jpg, jpg_expected = _encode_jpeg(jpg_img, q=2)
    df = spark.createDataFrame(
        [
            (1, "image/png", 9, 12, len(png), bytearray(png)),
            (2, "image/jpeg", 14, 11, len(jpg), bytearray(jpg)),
        ],
        "media_id LONG, mime STRING, width INT, height INT, n_bytes LONG, content BINARY",
    )
    feats = {r["media_id"]: r for r in image_features(df).collect()}
    assert feats[1]["mean_r"] == pytest.approx(float(png_img[..., 0].mean()))
    assert feats[2]["mean_r"] == pytest.approx(float(jpg_expected[..., 0].mean()))


def test_auto_dispatch_unknown_bytes_raise(spark):
    from phoebe_spark.operators.multimodal import auto_decode_audio, auto_decode_image

    with pytest.raises(ValueError, match="unrecognized image bytes"):
        auto_decode_image(b"\x00\x01\x02 definitely not an image", 4, 4)
    with pytest.raises(ValueError, match="unrecognized audio bytes"):
        auto_decode_audio(b"mp3?-no", 100)
    # and through the Spark pipeline: the task must fail, not fake features
    df = spark.createDataFrame(
        [(1, "application/octet-stream", 4, 4, 7, bytearray(b"garbage"))],
        "media_id LONG, mime STRING, width INT, height INT, n_bytes LONG, content BINARY",
    )
    with pytest.raises(Exception, match="unrecognized image bytes"):
        image_features(df).collect()


def test_sniff_mime_python_matches_sql_sniff(spark):
    """The executor-side sniff must agree with attach_media_metadata's
    column-expression sniff on every format class."""
    from phoebe_spark.operators.multimodal import sniff_mime

    rng = np.random.default_rng(37)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    jpg, _ = _encode_jpeg(img)
    png = _encode_png(img, filters=[0])
    wavb = _encode_wav(np.zeros(16, dtype=np.float32), 8000)
    samples = [(1, bytearray(jpg)), (2, bytearray(png)), (3, bytearray(wavb)), (4, bytearray(b"xx"))]
    df = spark.createDataFrame(samples, "media_id LONG, content BINARY")
    sql_sniff = {r["media_id"]: r["sniffed_mime"] for r in attach_media_metadata(df).collect()}
    py_sniff = {i: sniff_mime(bytes(c)) for i, c in samples}
    assert sql_sniff == py_sniff


def test_jpeg_decode_tolerates_fill_bytes():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker;
    inject some between header segments and confirm identical decode."""
    from phoebe_spark.operators.multimodal import jpeg_decode

    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    jpg, expected = _encode_jpeg(img, q=2)
    # insert fill bytes immediately after SOI (before the DQT marker)
    padded = jpg[:2] + b"\xff\xff\xff" + jpg[2:]
    assert np.array_equal(jpeg_decode(padded), expected)


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    return (
        fourcc + len(data).to_bytes(4, "little") + data
        + (b"\x00" if len(data) % 2 else b"")
    )


def _encode_avi(jpegs: list[bytes]) -> bytes:
    """Minimal RIFF/AVI writer: LIST(hdrl) with a zeroed avih header (the
    demuxer ignores it, real files have it) + LIST(movi) of 00dc frames."""
    hdrl = _riff_chunk(b"LIST", b"hdrl" + _riff_chunk(b"avih", bytes(56)))
    movi = _riff_chunk(b"LIST", b"movi" + b"".join(_riff_chunk(b"00dc", j) for j in jpegs))
    payload = b"AVI " + hdrl + movi
    return b"RIFF" + len(payload).to_bytes(4, "little") + payload


def test_avi_demux_roundtrip():
    from phoebe_spark.operators.multimodal import avi_mjpeg_frames, sniff_mime

    rng = np.random.default_rng(11)
    jpegs = []
    for _ in range(5):
        img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
        jpg, _ = _encode_jpeg(img, q=2)
        jpegs.append(jpg)
    avi = _encode_avi(jpegs)
    assert sniff_mime(avi) == "video/avi"
    assert avi_mjpeg_frames(avi) == jpegs
    # odd-sized frame exercises the RIFF even-padding rule
    odd = jpegs[0] + b"\xff\xd9"[:1]
    assert avi_mjpeg_frames(_encode_avi([odd, jpegs[1]])) == [odd, jpegs[1]]
    # trailing garbage after the declared RIFF payload must be ignored
    # (copy tools append metadata/padding; players accept it)
    assert avi_mjpeg_frames(avi + b"\xde\xad\xbe\xef" * 5) == jpegs
    with pytest.raises(ValueError, match="not a RIFF"):
        avi_mjpeg_frames(b"\x89PNG....")


def test_video_frame_features_real_decode(spark):
    """video_frame_features must decode the sampled MJPEG frames exactly:
    mean/std per frame match the encoder's implied reconstruction, frame
    indices follow every_n/max_frames, and motion is |gray delta| between
    consecutive SAMPLED frames."""
    from phoebe_spark.operators.multimodal import video_frame_features

    rng = np.random.default_rng(23)
    frames, expected = [], []
    for _ in range(7):
        img = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
        jpg, exp = _encode_jpeg(img, q=2)
        frames.append(jpg)
        expected.append(exp.astype(np.float64))
    avi = _encode_avi(frames)
    df = spark.createDataFrame(
        [(1, bytearray(avi))], "media_id LONG, content BINARY"
    )
    got = {
        r["frame_index"]: r
        for r in video_frame_features(df, every_n=3, max_frames=2).collect()
    }
    assert sorted(got) == [0, 3]
    for fi in (0, 3):
        exp_gray = expected[fi] if expected[fi].ndim == 2 else expected[fi].mean(axis=2)
        assert got[fi]["n_frames"] == 7
        assert got[fi]["mean_gray"] == pytest.approx(exp_gray.mean(), abs=1e-9)
        assert got[fi]["std_gray"] == pytest.approx(exp_gray.std(), abs=1e-9)
    g0 = expected[0] if expected[0].ndim == 2 else expected[0].mean(axis=2)
    g3 = expected[3] if expected[3].ndim == 2 else expected[3].mean(axis=2)
    assert got[0]["motion"] == 0.0
    assert got[3]["motion"] == pytest.approx(np.abs(g3 - g0).mean(), abs=1e-9)


# --- property-based demux robustness (hypothesis) ---

from hypothesis import given, settings
from hypothesis import strategies as st


_frame_payloads = st.lists(st.binary(min_size=1, max_size=33), min_size=0, max_size=6)
_junk_fourccs = st.sampled_from([b"idx1", b"JUNK", b"strh", b"vprp"])


@settings(max_examples=60, deadline=None)
@given(
    frames=_frame_payloads,
    junk=st.lists(st.tuples(_junk_fourccs, st.binary(max_size=17)), max_size=4),
    use_rec=st.booleans(),
    stream_no=st.integers(min_value=0, max_value=3),
)
def test_avi_demux_property(frames, junk, use_rec, stream_no):
    """Whatever junk chunks surround them and however frames are nested
    ('rec ' interleave lists, arbitrary stream numbers, odd-size padding),
    the demuxer must return exactly the planted frame payloads in order."""
    from phoebe_spark.operators.multimodal import avi_mjpeg_frames

    dc = f"{stream_no:02d}dc".encode()
    frame_chunks = b"".join(_riff_chunk(dc, f) for f in frames)
    if use_rec:
        frame_chunks = _riff_chunk(b"LIST", b"rec " + frame_chunks)
    junk_chunks = b"".join(_riff_chunk(fc, d) for fc, d in junk)
    movi = _riff_chunk(b"LIST", b"movi" + junk_chunks + frame_chunks)
    payload = b"AVI " + _riff_chunk(b"LIST", b"hdrl" + _riff_chunk(b"avih", bytes(56))) + movi
    avi = b"RIFF" + len(payload).to_bytes(4, "little") + payload
    assert avi_mjpeg_frames(avi) == frames


@settings(max_examples=40, deadline=None)
@given(garbage=st.binary(max_size=64))
def test_avi_demux_rejects_non_avi(garbage):
    from phoebe_spark.operators.multimodal import avi_mjpeg_frames

    if garbage[:4] == b"RIFF" and garbage[8:12] == b"AVI ":
        return  # astronomically unlikely; not the property under test
    with pytest.raises(ValueError):
        avi_mjpeg_frames(garbage)


# --- malformed-input decode contract (hypothesis) ---
#
# The pipeline contract (multimodal._malformed_guard): a corrupt blob must
# either decode to a well-formed result or raise ValueError — never leak a
# parser-internal exception type (struct.error, KeyError, IndexError,
# zlib.error, wave.Error), because a 100 TB curation stage classifies and
# quarantines decode failures by exception type.


@settings(max_examples=80, deadline=None)
@given(
    pos=st.integers(min_value=2, max_value=10_000),
    val=st.integers(min_value=0, max_value=255),
    n_hits=st.integers(min_value=1, max_value=8),
)
def test_jpeg_corruption_decodes_or_valueerror(pos, val, n_hits):
    from phoebe_spark.operators.multimodal import jpeg_decode

    img = (np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3) * 7) % 256
    base = bytearray(_encode_jpeg(img)[0])
    for i in range(n_hits):
        base[(pos * (i + 1)) % (len(base) - 2) + 2] = (val + i) % 256
    try:
        out = jpeg_decode(bytes(base))
    except ValueError:
        return
    assert isinstance(out, np.ndarray) and out.dtype == np.uint8
    assert out.ndim == 3 and out.shape[2] == 3


@settings(max_examples=60, deadline=None)
@given(cut=st.integers(min_value=0, max_value=200), val=st.integers(0, 255))
def test_wav_truncation_or_corruption_valueerror(cut, val):
    from phoebe_spark.operators.multimodal import wav_decode

    pcm = np.sin(np.linspace(0, 20, 400)).astype(np.float32)
    base = bytearray(_encode_wav(pcm, 8000))
    corrupted = bytes(base[: max(8, len(base) - cut)])
    mutated = bytearray(corrupted)
    if len(mutated) > 20:
        mutated[(val % 12) + 8] = val
    for blob in (corrupted, bytes(mutated)):
        try:
            out = wav_decode(blob)
        except ValueError:
            continue
        assert isinstance(out, np.ndarray) and out.dtype == np.float32


@settings(max_examples=60, deadline=None)
@given(pos=st.integers(min_value=8, max_value=5_000), val=st.integers(0, 255))
def test_png_corruption_decodes_or_valueerror(pos, val):
    from phoebe_spark.operators.multimodal import png_decode

    img = ((np.arange(12 * 9 * 3).reshape(12, 9, 3) * 11) % 256).astype(np.uint8)
    base = bytearray(_encode_png(img, filters=[0, 1, 2, 3, 4] * 3)[:])
    base[pos % (len(base) - 8) + 8] = val
    try:
        out = png_decode(bytes(base))
    except ValueError:
        return
    assert isinstance(out, np.ndarray) and out.dtype == np.uint8 and out.shape[2] == 3


def test_jpeg_decompression_bomb_guard():
    """A (corrupt or hostile) SOF0 claiming 60000x60000 must be refused by
    the 64 MP guard BEFORE plane allocation (~10 GB), with ValueError."""
    import struct

    from phoebe_spark.operators.multimodal import jpeg_decode

    seg_sof = b"\xff\xc0" + struct.pack(">H", 2 + 1 + 4 + 1 + 3) + bytes([8]) \
        + struct.pack(">HH", 60000, 60000) + bytes([1, 1, 0x11, 0])
    seg_sos = b"\xff\xda" + struct.pack(">H", 2 + 1 + 2 + 3) + bytes([1, 1, 0x00, 0, 63, 0])
    blob = b"\xff\xd8" + seg_sof + seg_sos + b"\x00" * 16 + b"\xff\xd9"
    with pytest.raises(ValueError, match="64 MP"):
        jpeg_decode(blob)


def test_audio_spectral_features_recovers_planted_bin(spark):
    """Real WAV encode -> wav_decode -> rFFT recovers the planted sine's
    exact bin frequency; spectral centroid lands within a bin of it."""
    from phoebe_spark.operators.multimodal import audio_spectral_features, wav_decode

    sr, n = 8000, 256
    rows = []
    for media_id, k in [(1, 8), (2, 32), (3, 64)]:
        x = 0.4 * np.sin(2 * np.pi * k * np.arange(n) / n).astype(np.float64)
        rows.append((media_id, _encode_wav(x.astype(np.float32), sr), n, sr))
    df = spark.createDataFrame(
        rows, "media_id LONG, content BINARY, n_samples LONG, sample_rate LONG"
    )
    out = {
        r["media_id"]: r
        for r in audio_spectral_features(df, decoder=wav_decode).collect()
    }
    binw = sr / n
    for media_id, k in [(1, 8), (2, 32), (3, 64)]:
        assert out[media_id]["dominant_freq_hz"] == pytest.approx(k * binw, abs=1e-9)
        assert abs(out[media_id]["spectral_centroid_hz"] - k * binw) < binw


def test_image_dct_phash_matches_reference_dct(spark, images):
    """The integer-DCT pHash must equal an independent float DCT-II
    computed with numpy on the same decoded pixels (quantization of the
    basis must not flip any bit on these images), and a constant image
    must hash to all-zero bits (no AC energy)."""
    import numpy as np

    from phoebe_spark.operators.multimodal import (
        auto_decode_image,
        dct_basis_q,
        image_dct_phash,
    )

    rows = {r["media_id"]: r for r in image_dct_phash(images).collect()}
    assert len(rows) == 20
    src = {r["media_id"]: bytes(r["content"]) for r in images.collect()}
    t = np.array(dct_basis_q(8), dtype=np.int64)
    for mid, blob in src.items():
        img = auto_decode_image(blob, -1, -1)
        small = img[:: max(1, img.shape[0] // 8), :: max(1, img.shape[1] // 8)][:8, :8]
        g = small.sum(axis=2, dtype=np.int64)
        low = (t @ g @ t.T)[:4, :4].flatten()[1:]
        tot = int(low.sum())
        bits = [1 if 15 * int(c) > tot else 0 for c in low]
        expect = 0
        for b in bits:
            expect = (expect << 1) | b
        assert rows[mid]["phash"] == expect
        assert rows[mid]["n_on"] == sum(bits)
    # constant image: every AC coefficient is exactly 0, mean is 0 -> no bit set
    flat = np.full((8, 8), 77, dtype=np.uint8)
    import struct
    import zlib as _z

    raw = b"".join(b"\x00" + bytes(np.repeat(flat[r], 3)) for r in range(8))
    def _chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", _z.crc32(tag + body) & 0xFFFFFFFF
        )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", _z.compress(raw))
        + _chunk(b"IEND", b"")
    )
    df = spark.createDataFrame([(1, png, 8, 8)], "media_id LONG, content BINARY, width INT, height INT")
    (r,) = image_dct_phash(df).collect()
    assert r["phash"] == 0 and r["n_on"] == 0
