"""The real image codec path: P6 PPM / uncompressed BMP decode,
nearest-neighbor resample, P6 re-encode — pixel-exact against a numpy
reference on NON-flat images (the oracle query certifies flat colors;
these tests pin the gradient/general case), plus the truncation
fallback for undecodable payloads."""

from __future__ import annotations

import numpy as np
import pytest

from securities_pricing_data_pipeline_spark.llmdata.multimodal import (
    ASSET_SCHEMA,
    decode_image,
    encode_ppm,
    resize_images,
    resize_nearest,
)


def _gradient(h: int, w: int) -> np.ndarray:
    j, i = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    return np.stack(
        [(j * 255 // max(h - 1, 1)), (i * 255 // max(w - 1, 1)), (j + i) % 256],
        axis=-1,
    ).astype(np.uint8)


def _bmp24(px: np.ndarray) -> bytes:
    """Minimal bottom-up 24-bit BI_RGB BMP around an H×W×3 RGB array."""
    h, w = px.shape[:2]
    bgr = px[:, :, ::-1]
    stride = (w * 3 + 3) & ~3
    body = b"".join(
        bgr[r].tobytes() + b"\x00" * (stride - w * 3) for r in range(h - 1, -1, -1)
    )
    return (
        b"BM"
        + (54 + len(body)).to_bytes(4, "little")
        + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"\x00" * 24
        + body
    )


def test_ppm_roundtrip_with_comments():
    px = _gradient(11, 7)
    annotated = b"P6\n# a comment\n7 11\n# more\n255\n" + px.tobytes()
    assert (decode_image(annotated) == px).all()
    assert (decode_image(encode_ppm(px)) == px).all()


def test_bmp_decode_matches_rgb_reference():
    px = _gradient(5, 6)
    out = decode_image(_bmp24(px))
    assert out.shape == (5, 6, 3)
    assert (out == px).all()


def test_resize_nearest_matches_index_formula():
    px = _gradient(13, 9)
    out = resize_nearest(px, 4, 6)
    ref = np.stack(
        [[px[(j * 13) // 6, (i * 9) // 4] for i in range(4)] for j in range(6)]
    )
    assert (out == ref).all()


@pytest.mark.parametrize(
    "payload",
    [b"\x89PNG\r\n\x1a\n....", b"P6\n3 3\n255\nxy", b"BMshort", b""],
)
def test_undecodable_payloads_raise(payload):
    with pytest.raises((NotImplementedError, ValueError)):
        decode_image(payload)


def test_resize_images_real_and_fallback_paths(spark):
    px = _gradient(10, 8)
    rows = [
        (1, "image", bytearray(encode_ppm(px)), {"k": "ppm-src"}),
        (2, "image", bytearray(_bmp24(px)), {"k": "bmp-src"}),
        (3, "image", bytearray(b"not an image" * 500), {"k": "raw-src"}),
        (4, "image", None, {}),
        # recognized P6 container, truncated pixel data: must be flagged
        # 'corrupt' (with the decode error kept), NOT silently 'raw'
        (5, "image", bytearray(encode_ppm(px)[:-7]), {"k": "trunc-src"}),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {
        r["asset_id"]: r
        for r in resize_images(assets, width=5, height=4).collect()
    }
    expected = encode_ppm(resize_nearest(px, 5, 4))
    for aid, codec in ((1, "ppm"), (2, "bmp")):
        assert bytes(got[aid]["content"]) == expected
        assert got[aid]["meta"]["codec"] == codec
        assert got[aid]["meta"]["resized"] == "5x4"
        assert got[aid]["meta"]["k"].endswith("-src")  # original meta kept
    assert bytes(got[3]["content"]) == (b"not an image" * 500)[:20]
    assert got[3]["meta"]["codec"] == "raw"
    assert "decode_error" not in got[3]["meta"]
    assert got[4]["content"] is None and got[4]["meta"]["codec"] == "raw"
    assert got[5]["meta"]["codec"] == "corrupt"
    assert "truncated" in got[5]["meta"]["decode_error"]
    assert bytes(got[5]["content"]) == encode_ppm(px)[:-7][:20]


# ---------------------------------------------------------------- JPEG


def test_jpeg_q100_roundtrip_error_bound():
    """At quality 100 every quantizer is 1, so a roundtrip loses only
    YCbCr round-off + DCT float noise — max |error| must stay within a
    few levels with no reference codec needed."""
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px = _gradient(24, 17)  # non-multiple-of-8 on one axis
    buf = encode_jpeg(px, quality=100)
    assert buf[:2] == b"\xff\xd8" and buf[-2:] == b"\xff\xd9"
    out = decode_jpeg(buf)
    assert out.shape == px.shape
    assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 4

    rng = np.random.RandomState(11)
    noisy = rng.randint(0, 256, (13, 9, 3)).astype(np.uint8)
    out2 = decode_jpeg(encode_jpeg(noisy, quality=100))
    assert int(np.abs(out2.astype(int) - noisy.astype(int)).max()) <= 4


def test_jpeg_lossy_quality_tradeoff():
    """Lower quality → smaller file, bounded loss on a smooth image."""
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px = _gradient(32, 32)
    b100 = encode_jpeg(px, quality=100)
    b50 = encode_jpeg(px, quality=50)
    assert len(b50) < len(b100)
    out = decode_jpeg(b50)
    # smooth gradient: mean error small even at q50
    assert float(np.abs(out.astype(int) - px.astype(int)).mean()) < 8.0


def test_jpeg_through_decode_image_and_resize_path(spark):
    """decode_image dispatches on the SOI marker, and resize_images
    records codec='jpeg'; a truncated JPEG is marked corrupt."""
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import encode_jpeg

    px = _gradient(16, 16)
    buf = encode_jpeg(px, quality=100)
    via_decode = decode_image(buf)
    assert int(np.abs(via_decode.astype(int) - px.astype(int)).max()) <= 4

    rows = [
        (1, "image", bytearray(buf), {"k": "jpeg-src"}),
        (2, "image", bytearray(buf[:40]), {}),  # SOI present, truncated
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in resize_images(assets, width=4, height=4).collect()}
    assert got[1]["meta"]["codec"] == "jpeg"
    assert got[1]["meta"]["resized"] == "4x4"
    # resized content decodes back (it is re-encoded as P6)
    assert decode_image(bytes(got[1]["content"])).shape == (4, 4, 3)
    assert got[2]["meta"]["codec"] == "corrupt"


def test_jpeg_progressive_raises_honestly():
    """A SOF2 (progressive) header must raise NotImplementedError, not
    decode wrong pixels."""
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    buf = bytearray(encode_jpeg(_gradient(8, 8), quality=100))
    i = bytes(buf).find(b"\xff\xc0")
    buf[i + 1] = 0xC2  # rewrite SOF0 → SOF2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(buf))


def test_jpeg_greyscale_roundtrip():
    """A 2-D input encodes as a single-component JPEG; the decoder
    replicates the luma into 3 channels with the same error bound."""
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(5)
    grey = rng.randint(0, 256, (19, 12)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grey, quality=100))
    assert out.shape == (19, 12, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 0] == out[:, :, 2]).all()
    assert int(np.abs(out[:, :, 0].astype(int) - grey.astype(int)).max()) <= 2


def test_jpeg_roundtrip_property():
    """Property test: for random geometry and content at quality 100, the
    roundtrip stays within the documented error bound and preserves dims."""
    from hypothesis import given, settings, strategies as st

    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=40),
        w=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def run(h, w, seed):
        rng = np.random.RandomState(seed)
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(px, quality=100))
        assert out.shape == (h, w, 3)
        assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 4

    run()


def test_jpeg_roundtrip_no_intermediate_ycbcr_rounding():
    """A 26x26 noise image whose roundtrip reached 5 levels when the
    YCbCr planes were rounded to integers on both sides of the DCT."""
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px = np.random.RandomState(1882692453).randint(0, 256, (26, 26, 3)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(px, quality=100))
    assert int(np.abs(out.astype(int) - px.astype(int)).max()) <= 3


# ---------------------------------------------------------------- PNG


def test_png_lossless_roundtrip_rgb_grey_rgba():
    from securities_pricing_data_pipeline_spark.llmdata.png import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (17, 13, 3)).astype(np.uint8)
    assert (decode_png(encode_png(rgb)) == rgb).all()
    grey = rng.randint(0, 256, (9, 4)).astype(np.uint8)
    out = decode_png(encode_png(grey))
    assert out.shape == (9, 4, 3) and (out[:, :, 0] == grey).all()
    rgba = rng.randint(0, 256, (6, 7, 4)).astype(np.uint8)
    assert (decode_png(encode_png(rgba)) == rgba[:, :, :3]).all()  # alpha dropped


def test_png_all_filter_types_decode():
    """Decode a hand-built PNG using every scanline filter (our encoder
    only emits filter 0, so filters 1–4 need an independent encoder)."""
    import struct
    import zlib

    from securities_pricing_data_pipeline_spark.llmdata.png import decode_png

    rng = np.random.RandomState(8)
    h, w, n = 6, 5, 3
    px = rng.randint(0, 256, (h, w, n)).astype(np.uint8)
    stride = w * n
    flat = px.reshape(h, stride).astype(np.int64)
    lines = []
    prev = np.zeros(stride, dtype=np.int64)
    for y, ft in enumerate([0, 1, 2, 3, 4, 4]):
        cur = flat[y]
        left = np.concatenate([np.zeros(n, dtype=np.int64), cur[:-n]])
        if ft == 0:
            f = cur
        elif ft == 1:
            f = (cur - left) % 256
        elif ft == 2:
            f = (cur - prev) % 256
        elif ft == 3:
            f = (cur - (left + prev) // 2) % 256
        else:
            f = np.zeros(stride, dtype=np.int64)
            for i in range(stride):
                a = cur[i - n] if i >= n else 0
                b, c = prev[i], (prev[i - n] if i >= n else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f[i] = (cur[i] - pred) % 256
        lines.append(bytes([ft]) + bytes(f.astype(np.uint8)))
        prev = cur
    raw = b"".join(lines)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    buf = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == px).all()


def test_png_corruption_and_unsupported_raise():
    from securities_pricing_data_pipeline_spark.llmdata.png import (
        decode_png,
        encode_png,
    )

    px = _gradient(8, 8)
    good = bytearray(encode_png(px))
    good[20] ^= 0xFF  # flip a bit inside IHDR
    with pytest.raises(ValueError):
        decode_png(bytes(good))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n\x00\x00")  # truncated
    # 16-bit depth header → honest NotImplementedError
    import struct
    import zlib

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    b16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(b16)


def test_png_through_decode_image_and_resize(spark):
    from securities_pricing_data_pipeline_spark.llmdata.png import encode_png

    px = _gradient(10, 8)
    buf = encode_png(px)
    assert (decode_image(buf) == px).all()  # lossless through the dispatcher
    assets = spark.createDataFrame(
        [(1, "image", bytearray(buf), {})], ASSET_SCHEMA
    )
    got = resize_images(assets, width=5, height=4).collect()[0]
    assert got["meta"]["codec"] == "png"
    assert bytes(got["content"]) == encode_ppm(resize_nearest(px, 5, 4))


# ---------------------------------------------------------------- WAV


def test_wav_roundtrip_mono_and_stereo():
    from securities_pricing_data_pipeline_spark.llmdata.audio import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.RandomState(4)
    mono = rng.randint(-32768, 32768, 777).astype(np.int16)
    s, rate = decode_wav(encode_wav(mono, sample_rate=16000))
    assert rate == 16000 and s.shape == (777, 1) and (s[:, 0] == mono).all()
    stereo = rng.randint(-32768, 32768, (100, 2)).astype(np.int16)
    s2, rate2 = decode_wav(encode_wav(stereo, sample_rate=44100))
    assert rate2 == 44100 and (s2 == stereo).all()


def test_wav_unsupported_and_corrupt_raise():
    import struct

    from securities_pricing_data_pipeline_spark.llmdata.audio import (
        decode_wav,
        encode_wav,
    )

    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")
    buf = bytearray(encode_wav(np.zeros(4, dtype=np.int16)))
    # flip audio_format (PCM=1) to 3 (IEEE float) inside fmt chunk
    fmt_off = bytes(buf).find(b"fmt ") + 8
    buf[fmt_off : fmt_off + 2] = struct.pack("<H", 3)
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(buf))
    with pytest.raises(ValueError):
        decode_wav(bytes(encode_wav(np.zeros(4, dtype=np.int16)))[:-3])  # truncated


def test_audio_features_exact_and_quality_marks(spark):
    from securities_pricing_data_pipeline_spark.llmdata.audio import (
        audio_features,
        encode_wav,
    )
    from securities_pricing_data_pipeline_spark.llmdata.multimodal import ASSET_SCHEMA

    s = np.array([3, -2, 0, -1, 5], dtype=np.int16)
    rows = [
        (1, "audio", bytearray(encode_wav(s, sample_rate=8000)), {}),
        (2, "audio", bytearray(b"not audio at all"), {}),
        (3, "audio", None, {}),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in audio_features(assets).collect()}
    ok = got[1]
    assert ok["codec"] == "wav" and ok["sample_rate"] == 8000
    assert ok["n_samples"] == 5
    assert ok["sumsq_units"] == 9 + 4 + 0 + 1 + 25
    # sign pattern (+,-,+,-,+) with 0 counted non-negative → 4 crossings
    assert ok["zero_crossings"] == 4
    assert got[2]["codec"] == "corrupt" and got[2]["n_samples"] is None
    assert got[3]["codec"] == "corrupt"


# ---------------------------------------------------------------- MJPEG/AVI


def test_avi_mjpeg_roundtrip_and_decode():
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import encode_jpeg
    from securities_pricing_data_pipeline_spark.llmdata.video import (
        encode_avi_mjpeg,
        extract_frames_avi,
    )

    frames, origs = [], []
    for i in range(6):
        px = np.full((16, 24, 3), [(i * 40) % 256, 100, 200], dtype=np.uint8)
        origs.append(px)
        frames.append(encode_jpeg(px, quality=100))
    avi = encode_avi_mjpeg(frames, 24, 16, fps=5)
    got = extract_frames_avi(avi)
    assert [bytes(g) for g in got] == frames  # byte-exact payload recovery
    for g, o in zip(got, origs):
        dec = decode_image(g)
        assert dec.shape == o.shape
        assert int(np.abs(dec.astype(int) - o.astype(int)).max()) <= 4


def test_avi_malformed_raises_and_features_mark_corrupt(spark):
    from securities_pricing_data_pipeline_spark.llmdata.jpeg import encode_jpeg
    from securities_pricing_data_pipeline_spark.llmdata.video import (
        decode_video_frames,
        encode_avi_mjpeg,
        extract_frames_avi,
    )

    with pytest.raises(ValueError):
        extract_frames_avi(b"RIFF\x00\x00\x00\x00WAVE")  # not AVI
    px = _gradient(8, 8)
    avi = encode_avi_mjpeg([encode_jpeg(px, quality=100)] * 3, 8, 8)
    with pytest.raises(ValueError):
        extract_frames_avi(avi[:40])  # truncated

    rows = [
        (1, "video", bytearray(avi), {}),
        (2, "video", bytearray(b"garbage bytes"), {}),
        # valid AVI whose frame payload is NOT a JPEG → unsupported, not crash
        (3, "video", bytearray(encode_avi_mjpeg([b"\x00\x01\x02\x03"], 2, 2)), {}),
    ]
    from securities_pricing_data_pipeline_spark.llmdata.multimodal import ASSET_SCHEMA

    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    got = {}
    for r in decode_video_frames(assets, n_frames=2).collect():
        got.setdefault(r["asset_id"], []).append(r)
    assert all(r["status"] == "ok" for r in got[1]) and len(got[1]) == 2
    assert got[1][0]["width"] == 8 and got[1][0]["height"] == 8
    assert got[2][0]["status"] == "corrupt"
    assert got[3][0]["status"] == "unsupported"


def test_jpeg_trailing_garbage_after_eoi():
    """The entropy-stream end is the FIRST FF D9 after SOS: appended junk
    that itself contains FF D9 must not shift the end forward (byte
    stuffing guarantees FF D9 can't occur inside valid entropy data, but
    not inside trailing garbage) — ADVICE r7 item."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(16, 24, 3)).astype(np.uint8)
    buf = encode_jpeg(px, quality=100)
    dirty = buf + b"\x00garbage\xff\xd9more\xff\xd9"
    out = decode_jpeg(dirty)
    ref = decode_jpeg(buf)
    assert out.shape == ref.shape == (16, 24, 3)
    assert (out == ref).all()


def test_image_dhash_hand_checked(spark):
    """A 6×11 image needs no resampling (identity index map): left half
    bright (100), right half dark (20) → within each row, the only
    descending adjacent pair is column 5→6, so bit i*10+5 is set for
    every row i: sig = Σ_{i<6} 2^(10i+5). A second identical image must
    hash identically; the horizontal mirror has only the ASCENDING step
    (dark→bright), which sets no bits — its dHash is exactly 0."""
    from securities_pricing_data_pipeline_spark.llmdata.multimodal import (
        encode_ppm,
        image_dhash,
    )
    import numpy as np

    def img(bright_left: bool) -> bytes:
        px = np.zeros((6, 11, 3), dtype=np.uint8)
        if bright_left:
            px[:, :6, :] = 100
            px[:, 6:, :] = 20
        else:
            px[:, :6, :] = 20
            px[:, 6:, :] = 100
        return encode_ppm(px)

    assets = spark.createDataFrame(
        [(0, img(True)), (1, img(True)), (2, img(False))],
        "asset_id long, content binary",
    )
    got = {r.id: r.simhash for r in image_dhash(assets).collect()}
    expected = sum(1 << (10 * i + 5) for i in range(6))
    assert got[0] == got[1] == expected
    assert got[2] == 0  # mirror: no descending adjacent pair anywhere


def test_audio_dhash_hand_checked(spark):
    """Constant-amplitude frames with strictly DECREASING amplitude
    (frame f holds value 61−f → energy 32·(61−f)², monotone down) set
    every one of the 60 bits: sig = 2^60 − 1; the strictly increasing
    twin sets none. A short clip must raise, not hash garbage."""
    import numpy as np
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.audio import (
        audio_dhash,
        encode_wav,
    )

    def clip(decreasing: bool) -> bytes:
        f = np.arange(61 * 32, dtype=np.int64) // 32
        v = (61 - f) if decreasing else (f + 1)
        return encode_wav(v.astype(np.int16), sample_rate=8000)

    assets = spark.createDataFrame(
        [(0, clip(True)), (1, clip(False))], "asset_id long, content binary"
    )
    got = {r.id: r.simhash for r in audio_dhash(assets).collect()}
    assert got[0] == (1 << 60) - 1
    assert got[1] == 0

    short = spark.createDataFrame(
        [(2, encode_wav(np.zeros(10, dtype=np.int16), 8000))],
        "asset_id long, content binary",
    )
    with pytest.raises(Exception, match="samples"):
        audio_dhash(short).collect()


def test_gif_lzw_hand_vector():
    """Hand-derived spec trace for pixels [0,1,1,2] at min-code-size 2:
    codes (CLEAR,0,1,1 at 3 bits; 2,EOI at 4 bits — the width grows
    exactly between the third and fourth data codes on BOTH sides of the
    one-entry encoder/decoder offset), LSB-packed to 44 22 05."""
    from securities_pricing_data_pipeline_spark.llmdata.gif import (
        _lzw_decode,
        _lzw_encode,
    )

    data = _lzw_encode([0, 1, 1, 2], 2)
    assert data == bytes([0x44, 0x22, 0x05])
    assert _lzw_decode(data, 2, 4) == bytes([0, 1, 1, 2])


def test_gif_roundtrip_and_dispatch():
    """encode_gif → decode_gif recovers every palette pixel exactly for
    stripe patterns across geometries (including >255-byte LZW payloads
    that span sub-blocks), and decode_image dispatches on the magic."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.gif import decode_gif, encode_gif
    from securities_pricing_data_pipeline_spark.llmdata.multimodal import decode_image

    palette = [(10, 20, 30), (200, 100, 0), (0, 255, 128), (77, 66, 55)]
    for w, h in [(3, 2), (16, 16), (61, 47)]:
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        idx = ((x + y) % 4).astype(np.uint8)
        payload = encode_gif(idx, palette)
        assert payload[:6] == b"GIF87a" and payload[-1:] == b"\x3b"
        px = decode_gif(payload)
        assert px.shape == (h, w, 3)
        expected = np.array(palette, dtype=np.uint8)[idx]
        assert (px == expected).all()
        assert (decode_image(payload) == expected).all()


def test_gif_lzw_table_overflow_clear():
    """A high-entropy 8-bit-palette stream long enough to fill the 4096
    LZW table must hit the CLEAR/reset path and still roundtrip."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.gif import decode_gif, encode_gif

    rng = np.random.RandomState(5)
    idx = rng.randint(0, 256, size=(120, 120)).astype(np.uint8)
    palette = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]
    px = decode_gif(encode_gif(idx, palette))
    assert (px == np.array(palette, dtype=np.uint8)[idx]).all()


def test_gif_feature_guards():
    """Interlaced flags and missing global tables raise honestly."""
    import numpy as np
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.gif import decode_gif, encode_gif

    payload = bytearray(
        encode_gif(np.zeros((2, 2), dtype=np.uint8), [(0, 0, 0), (1, 1, 1)])
    )
    flags_off = 6 + 7 + 3 * 2 + 9  # header + LSD + GCT + descriptor head
    payload[flags_off] |= 0x40  # interlace bit
    with pytest.raises(NotImplementedError):
        decode_gif(bytes(payload))
    no_gct = bytearray(payload)
    no_gct[10] &= 0x7F
    with pytest.raises(NotImplementedError):
        decode_gif(bytes(no_gct[:13] + no_gct[13 + 6:]))


def test_gif_truncation_raises_valueerror():
    """EVERY prefix truncation of a valid GIF must surface as ValueError
    or NotImplementedError — never IndexError — so resize_images' _one
    can take the codec='corrupt' fallback (the shared truncation
    contract across all codecs)."""
    import numpy as np
    import pytest

    from securities_pricing_data_pipeline_spark.llmdata.gif import decode_gif, encode_gif

    idx = (np.arange(48).reshape(6, 8) % 4).astype(np.uint8)
    payload = encode_gif(idx, [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)])
    # len-1 drops only the 0x3b trailer: all pixel data is present, and
    # decoding it successfully is the correct lenient behavior.
    for cut in range(len(payload) - 1):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_gif(payload[:cut])


def test_video_frame_dhash_matches_direct_computation(spark):
    """video_frame_dhash through a REAL AVI container must equal the
    dHash computed directly from the source pixel arrays (container walk
    + P6 decode are lossless), including the uniform frame-pick rule on
    a 10-frame video sampled down to 4."""
    import numpy as np

    from securities_pricing_data_pipeline_spark.llmdata.multimodal import (
        resize_nearest,
    )
    from securities_pricing_data_pipeline_spark.llmdata.video import (
        encode_avi_mjpeg,
        video_frame_dhash,
    )

    w, h, total = 20, 14, 10
    jj, ii = np.meshgrid(np.arange(w, dtype=np.int64), np.arange(h, dtype=np.int64))
    frames_px = [
        ((7 * f + 3 * jj * jj + 5 * ii + 2 * jj * ii) % 251).astype(np.uint8)
        for f in range(total)
    ]
    payloads = [
        f"P6\n{w} {h}\n255\n".encode() + np.repeat(px[:, :, None], 3, axis=2).tobytes()
        for px in frames_px
    ]
    avi = encode_avi_mjpeg(payloads, w, h)
    df = spark.createDataFrame([(1, bytearray(avi))], "asset_id long, content binary")
    rows = video_frame_dhash(df, n_frames=4).collect()
    got = {(r.id, r.frame_idx): r.simhash for r in rows}
    picks = sorted({i * total // 4 for i in range(4)})
    assert sorted(k[1] for k in got) == picks
    # pick_idx is the DENSE pack-safe ordinal: 0..3 even though the
    # container frame indices (0,2,5,7) exceed a fixed stride of 4
    assert sorted((r.pick_idx, r.frame_idx) for r in rows) == list(
        enumerate(picks)
    )
    for idx in picks:
        px3 = np.repeat(frames_px[idx][:, :, None], 3, axis=2)
        g = resize_nearest(px3, 11, 6).astype(np.int64)
        gray = g.sum(axis=2) // 3
        bits = (gray[:, :-1] > gray[:, 1:]).flatten()
        want = int(
            np.dot(
                bits.astype(np.int64),
                np.left_shift(np.int64(1), np.arange(60, dtype=np.int64)),
            )
        )
        assert got[(1, idx)] == want
