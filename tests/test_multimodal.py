"""Multimodal plumbing tests: schema/batch shape of the mapInPandas
stages with a deterministic fake codec, NumPy oracles for features/
resize/frame-sampling, and the NotImplementedError stub gate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vectorsearch_spark.operators.multimodal import (
    attach_media_metadata,
    extract_features,
    fake_decoder,
    resize_images,
    sample_frames,
)

PAYLOADS = [
    (1, bytes(range(100))),
    (2, b"abcdefgh" * 20),
    (3, b"x"),
    (4, b""),
]


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(PAYLOADS, "doc_id long, payload binary")
    return attach_media_metadata(df, id_col="doc_id", payload_col="payload")


def py_feature(payload: bytes, dim: int = 8) -> np.ndarray:
    arr = fake_decoder(payload).ravel()
    pad = (-len(arr)) % dim
    if pad:
        arr = np.pad(arr, (0, pad))
    return arr.reshape(dim, -1).mean(axis=1).astype(np.float32)


def test_metadata_schema_and_determinism(media):
    rows = {r["media_id"]: r for r in media.collect()}
    assert set(rows) == {1, 2, 3, 4}
    r = rows[1]
    assert r["media_type"] == "image"
    assert r["width"] == 64 + 100 % 64 and r["height"] == 64 + (100 // 64) % 64
    assert rows[4]["width"] == 64


def test_extract_features_matches_numpy(media):
    got = {r["media_id"]: r for r in extract_features(media, decoder=fake_decoder).collect()}
    for mid, payload in PAYLOADS:
        expect = py_feature(payload)
        assert got[mid]["n_bytes"] == len(payload)
        assert np.allclose(got[mid]["feature"], expect), mid


def test_extract_features_stub_raises_without_decoder(media):
    with pytest.raises(NotImplementedError, match="extract_features"):
        extract_features(media)


def test_resize_nearest_neighbor(media, spark):
    out = {r["media_id"]: r for r in resize_images(media, 4, 4, decoder=fake_decoder).collect()}
    for mid, payload in PAYLOADS:
        img = np.atleast_2d(fake_decoder(payload))
        ys = (np.arange(4) * img.shape[0] // 4).clip(0, img.shape[0] - 1)
        xs = (np.arange(4) * img.shape[1] // 4).clip(0, img.shape[1] - 1)
        expect = img[np.ix_(ys, xs)].astype(np.uint8).tobytes()
        assert bytes(out[mid]["payload"]) == expect, mid
        assert out[mid]["out_width"] == 4 and out[mid]["out_height"] == 4


def test_sample_frames_bounded_fanout(media):
    rows = sample_frames(media, every_nth=2, max_frames=3, decoder=fake_decoder).collect()
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, payload in PAYLOADS:
        frames = np.atleast_2d(fake_decoder(payload))
        keep = list(range(0, frames.shape[0], 2))[:3]
        got = sorted(by_media[mid], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == keep
        for r in got:
            assert bytes(r["payload"]) == frames[r["frame_idx"]].astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# Real codecs (functions/codecs.py): BMP + PPM, byte-exact
# ---------------------------------------------------------------------------

def test_bmp_roundtrip_various_shapes():
    """encode→decode identity on widths that exercise every row-padding
    residue (3w % 4 ∈ {0,1,2,3})."""
    from vectorsearch_spark.functions.codecs import decode_bmp, encode_bmp

    rng = np.random.default_rng(3)
    for w, h in [(1, 1), (2, 3), (3, 2), (4, 4), (5, 7), (6, 1), (7, 5), (16, 9)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img), (w, h)


def test_bmp_handcrafted_bytes_bottom_up_bgr_padding():
    """Decode a BMP constructed BY HAND (not by our encoder): 2×2, so a
    roundtrip-symmetric bug (both sides top-down, or both RGB) cannot
    hide. Pixel layout asserts all three container quirks at once:
    bottom-up row order, BGR byte order, 2-byte row padding at w=2."""
    import struct

    w, h = 2, 2
    row = lambda pixels_bgr: b"".join(bytes(p) for p in pixels_bgr) + b"\x00\x00"
    # file rows bottom-up: FIRST stored row is the BOTTOM image row
    bottom = row([(255, 0, 0), (0, 255, 0)])   # BGR: blue px, green px
    top = row([(0, 0, 255), (10, 20, 30)])     # BGR: red px, odd px
    body = bottom + top
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    from vectorsearch_spark.functions.codecs import decode_bmp

    img = decode_bmp(header + dib + body)
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0]    # top-left is RED (RGB)
    assert img[0, 1].tolist() == [30, 20, 10]   # BGR reversed
    assert img[1, 0].tolist() == [0, 0, 255]    # bottom-left BLUE
    assert img[1, 1].tolist() == [0, 255, 0]    # bottom-right GREEN


def test_bmp_top_down_negative_height():
    import struct

    from vectorsearch_spark.functions.codecs import decode_bmp, encode_bmp

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    data = bytearray(encode_bmp(img))
    # flip height sign → rows are now stored top-down; re-decode must
    # therefore see the VERTICALLY FLIPPED image
    struct.pack_into("<i", data, 22, -2)
    assert np.array_equal(decode_bmp(bytes(data)), img[::-1])


def test_bmp_rejects_unsupported():
    import pytest as _pytest

    from vectorsearch_spark.functions.codecs import decode_bmp

    with _pytest.raises(ValueError):
        decode_bmp(b"PNG....")
    import struct

    hdr = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 0, 0, 0, 0, 0
    )
    with _pytest.raises(ValueError):
        decode_bmp(hdr)  # 8bpp unsupported


def test_ppm_roundtrip_and_comment_header():
    from vectorsearch_spark.functions.codecs import decode_ppm, encode_ppm

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    # comment lines inside the header, per the Netpbm spec
    with_comment = b"P6\n# a comment\n6 # trailing\n4\n255\n" + img.tobytes()
    assert np.array_equal(decode_ppm(with_comment), img)


def test_decode_media_dispatch():
    import pytest as _pytest

    from vectorsearch_spark.functions.codecs import (
        decode_media,
        encode_bmp,
        encode_ppm,
    )

    img = np.full((3, 3, 3), 7, dtype=np.uint8)
    assert np.array_equal(decode_media(encode_bmp(img)), img)
    assert np.array_equal(decode_media(encode_ppm(img)), img)
    with _pytest.raises(ValueError):
        decode_media(b"\x89PNG\r\n")


def test_extract_features_with_real_bmp_codec(spark):
    """The real codec through the real operator: BMP payloads built in
    Spark rows, features extracted via decode_media — mean of the
    decoded pixels equals the mean of the source pixels (container
    overhead invisible), proving the seam takes a working decoder."""
    from vectorsearch_spark.functions.codecs import decode_media, encode_bmp
    from vectorsearch_spark.operators.multimodal import extract_features

    rng = np.random.default_rng(9)
    rows, means = [], {}
    for i in range(6):
        img = rng.integers(0, 256, size=(3 + i, 5 + i, 3), dtype=np.uint8)
        rows.append((i, bytearray(encode_bmp(img))))
        means[i] = float(img.astype(np.float64).mean())
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = extract_features(media, decoder=decode_media, feature_dim=4)
    for r in feats.collect():
        got = float(np.mean(r["feature"]))
        # feature_dim chunks may zero-pad the tail: recompute expected
        img_size = (3 + r["media_id"]) * (5 + r["media_id"]) * 3
        pad = (-img_size) % 4
        expect = means[r["media_id"]] * img_size / (img_size + pad) if pad else means[r["media_id"]]
        assert abs(got - expect) < 1e-3, r["media_id"]


def test_resize_and_frames_with_real_codec(spark):
    """resize_images and sample_frames through the REAL BMP codec:
    decode → NumPy resample → re-encode (BMP) → re-decode byte-exact.
    Nearest-neighbor resize of a solid-color image must stay solid."""
    from vectorsearch_spark.functions.codecs import decode_media, encode_bmp
    from vectorsearch_spark.operators.multimodal import resize_images

    rng = np.random.default_rng(13)
    rows = []
    for i in range(4):
        img = rng.integers(0, 256, size=(6 + i, 9 - i, 3), dtype=np.uint8)
        img[0, :] = [255, 0, 0]  # marker row survives nearest-neighbor
        rows.append((i, bytearray(encode_bmp(img))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = resize_images(
        media, out_width=4, out_height=3, decoder=decode_media,
        encoder=lambda a: encode_bmp(a.astype(np.uint8)),
    ).collect()
    assert len(out) == 4
    for r in out:
        back = decode_media(bytes(r["payload"]))
        assert back.shape == (3, 4, 3)
        assert back[0].tolist() == [[255, 0, 0]] * 4  # marker row kept


def test_png_roundtrip_all_filter_types():
    """Encode with each fixed scanline filter (None/Sub/Up/Average/
    Paeth) — the decoder must reconstruct the identical raster through
    every unfilter path, across shapes incl. 1-pixel edges."""
    import numpy as np

    from vectorsearch_spark.functions.codecs import decode_png, encode_png

    rng = np.random.default_rng(7)
    for shape in [(1, 1), (1, 7), (5, 1), (8, 6), (13, 13)]:
        img = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
        for ftype in range(5):
            data = encode_png(img, row_filter=ftype)
            out = decode_png(data)
            assert out.shape == img.shape, (shape, ftype)
            assert (out == img).all(), (shape, ftype)


def test_png_rgba_decode_drops_alpha():
    """Hand-built color-type-6 (RGBA) PNG: decode returns the RGB
    planes, alpha dropped."""
    import struct
    import zlib

    import numpy as np

    from vectorsearch_spark.functions.codecs import _PNG_SIG, _png_chunk, decode_png

    rng = np.random.default_rng(3)
    h, w = 4, 5
    rgba = rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
    lines = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    data = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(lines))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png(data)
    assert out.shape == (h, w, 3)
    assert (out == rgba[:, :, :3]).all()


def test_png_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from vectorsearch_spark.functions.codecs import decode_png, encode_png

    img = np.zeros((3, 3, 3), dtype=np.uint8)
    data = bytearray(encode_png(img))
    data[-5] ^= 0xFF  # corrupt IEND CRC
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"\x89PNX" + bytes(20))


def test_decode_media_dispatches_png():
    import numpy as np

    from vectorsearch_spark.functions.codecs import decode_media, encode_png

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (decode_media(encode_png(img)) == img).all()


# ---------------------------------------------------------------------------
# JPEG (functions/jpeg.py — ITU-T T.81 baseline sequential)
# ---------------------------------------------------------------------------


def test_jpeg_grayscale_constant_blocks_exact():
    """The exactness contract the hash gate relies on: constant 8x8
    blocks + all-ones quant table round-trip EXACTLY (single integer
    DC coefficient per block, AC all zero)."""
    import numpy as np

    from vectorsearch_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, size=(3, 5), dtype=np.uint8)
    img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    dec = decode_jpeg(encode_jpeg(img, quant=1))
    assert dec.shape == (24, 40, 3)
    assert (dec == img[..., None]).all()


def test_jpeg_gray_rgb_exact_through_color_paths():
    """Gray-valued RGB is a YCbCr fixed point (Cb=Cr=128): block-
    constant gray pixels decode exactly through 4:4:4 AND 4:2:0 —
    including the chroma Huffman tables, MCU interleave, and the box
    chroma down/up-sample."""
    import numpy as np

    from vectorsearch_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(8)
    vals = rng.integers(0, 256, size=(2, 3), dtype=np.uint8)
    gray = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    rgb = np.repeat(gray[..., None], 3, axis=2)
    for sub in ("4:4:4", "4:2:0"):
        dec = decode_jpeg(encode_jpeg(rgb, quant=1, subsampling=sub))
        assert (dec == rgb).all(), sub


def test_jpeg_nonmultiple_dims_and_edge_padding():
    """Dims not multiples of the MCU: encoder pads by edge replication,
    decoder crops back — padded-region coefficients must not corrupt
    the visible crop (block-constant input stays exact because edge
    replication preserves block constancy)."""
    import numpy as np

    from vectorsearch_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    vals = rng.integers(0, 256, size=(2, 2), dtype=np.uint8)
    img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))[:11, :13]
    dec = decode_jpeg(encode_jpeg(img, quant=1))
    assert dec.shape == (11, 13, 3)
    assert (dec == img[..., None]).all()
    # 4:2:0 with non-16-multiple dims
    rgb = np.repeat(np.kron(vals, np.ones((8, 8), dtype=np.uint8))[..., None], 3, axis=2)[:12, :14]
    dec2 = decode_jpeg(encode_jpeg(rgb, quant=1, subsampling="4:2:0"))
    assert dec2.shape == (12, 14, 3)
    assert (dec2 == rgb).all()


def test_jpeg_lossy_roundtrip_tolerance():
    """Arbitrary images are lossy but bounded: q=1 stays within a few
    code values; the default table stays visually close (the standard
    JPEG property — this is the documented non-exact path)."""
    import numpy as np

    from vectorsearch_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(10)
    arb = rng.integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    err = np.abs(
        decode_jpeg(encode_jpeg(arb, quant=1)).astype(int) - arb.astype(int)
    ).max()
    assert err <= 4, err
    xx, yy = np.meshgrid(np.arange(40), np.arange(32))
    smooth = np.stack(
        [(xx * 3 + yy * 2) % 256, (xx + yy) % 256, (xx * 2) % 256], axis=-1
    ).astype(np.uint8)
    err2 = np.abs(
        decode_jpeg(encode_jpeg(smooth)).astype(int) - smooth.astype(int)
    ).max()
    assert err2 <= 24, err2


def test_jpeg_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from vectorsearch_spark.functions.jpeg import decode_jpeg, encode_jpeg

    img = np.full((8, 8), 77, dtype=np.uint8)
    data = encode_jpeg(img, quant=1)
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00" + data)
    with _pytest.raises(ValueError, match="truncated|marker"):
        decode_jpeg(data[:-8])  # chop scan + EOI
    # progressive (SOF2) must be rejected, not mis-parsed
    prog = bytearray(data)
    sof = prog.find(b"\xFF\xC0")
    prog[sof + 1] = 0xC2
    with _pytest.raises(ValueError, match="SOF"):
        decode_jpeg(bytes(prog))


def test_decode_media_dispatches_jpeg():
    import numpy as np

    from vectorsearch_spark.functions.codecs import decode_media
    from vectorsearch_spark.functions.jpeg import encode_jpeg

    img = np.full((8, 16), 123, dtype=np.uint8)
    out = decode_media(encode_jpeg(img, quant=1))
    assert (out == 123).all() and out.shape == (8, 16, 3)


def test_mjpeg_split_decode_and_sample_frames(spark):
    """M-JPEG stream: split walks marker segments + entropy data (not a
    naive FFD9 byte scan), decode stacks frames, and the REAL
    sample_frames operator runs on it via decoder=decode_mjpeg."""
    import numpy as np

    from vectorsearch_spark.functions.jpeg import (
        decode_mjpeg,
        encode_mjpeg,
        split_mjpeg,
    )
    from vectorsearch_spark.operators.multimodal import sample_frames

    rng = np.random.default_rng(21)
    frames = [
        np.kron(rng.integers(0, 256, size=(2, 2), dtype=np.uint8),
                np.ones((8, 8), dtype=np.uint8))
        for _ in range(6)
    ]
    stream = encode_mjpeg(frames, quant=1)
    assert len(split_mjpeg(stream)) == 6
    dec = decode_mjpeg(stream)
    assert dec.shape == (6, 16, 16, 3)
    assert all((dec[i] == frames[i][..., None]).all() for i in range(6))

    media = spark.createDataFrame([(1, bytearray(stream))], "media_id long, payload binary")
    out = sample_frames(media, every_nth=2, max_frames=3, decoder=decode_mjpeg).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in out] == [(1, 0), (1, 2), (1, 4)]
    for r in out:
        a = np.frombuffer(bytes(r["payload"]), dtype=np.uint8).reshape(16, 16, 3)
        assert (a == frames[r["frame_idx"]][..., None]).all()


def test_mjpeg_rejects_truncation_and_mixed_dims():
    import numpy as np
    import pytest as _pytest

    from vectorsearch_spark.functions.jpeg import decode_mjpeg, encode_mjpeg

    a = np.full((8, 8), 10, dtype=np.uint8)
    b = np.full((16, 8), 20, dtype=np.uint8)
    with _pytest.raises(ValueError, match="mixed"):
        decode_mjpeg(encode_mjpeg([a, b], quant=1))
    stream = encode_mjpeg([a, a], quant=1)
    with _pytest.raises(ValueError, match="truncated|EOI"):
        decode_mjpeg(stream[:-3])


@pytest.mark.parametrize(
    "shape,subsampling",
    [((13, 21), "4:4:4"), ((13, 21, 3), "4:4:4"), ((13, 21, 3), "4:2:0"), ((7, 9, 3), "4:2:0")],
)
def test_encode_mjpeg_batched_equals_per_frame(shape, subsampling):
    """The batched path for same-shaped frames is byte-identical to
    concatenating per-frame ``encode_jpeg`` output. Odd sizes exercise
    edge padding, including 4:2:0's 16×16 chroma MCUs."""
    from vectorsearch_spark.functions.jpeg import encode_jpeg, encode_mjpeg

    rng = np.random.default_rng(11)
    ramp = np.add.outer(np.arange(shape[0]) * 9, np.arange(shape[1]) * 5) % 256
    if len(shape) == 3:
        ramp = np.stack([ramp, ramp[::-1], ramp[:, ::-1]], axis=-1)
    frames = [ramp.astype(np.uint8)] + [
        rng.integers(0, 256, size=shape, dtype=np.uint8) for _ in range(3)
    ]
    table = rng.integers(1, 40, size=(8, 8))
    for quant in (1, None, table):
        want = b"".join(encode_jpeg(f, quant=quant, subsampling=subsampling) for f in frames)
        assert encode_mjpeg(frames, quant=quant, subsampling=subsampling) == want


def test_mjpeg_scan_ending_in_bare_ff_raises_truncated():
    """Scan data cut right after a 0xFF byte must raise the
    truncated-frame ValueError — the in-scan marker rewind used to
    re-enter the marker walker at the last byte and IndexError on
    the missing marker id (ADVICE r6)."""
    import numpy as np
    import pytest as _pytest

    from vectorsearch_spark.functions.jpeg import encode_jpeg, split_mjpeg

    frame = encode_jpeg(np.full((8, 8), 10, dtype=np.uint8), quant=1)
    assert frame[-2:] == b"\xFF\xD9"
    cut = frame[:-2] + b"\xFF"  # drop EOI, end mid-scan on a bare 0xFF
    with _pytest.raises(ValueError, match="truncated"):
        split_mjpeg(cut)


def test_wav_roundtrip_chunk_walk_and_rejection():
    """RIFF/WAVE PCM: stereo/mono round-trips bit-exact; the parser
    walks chunks (skipping unknown, word-aligned) rather than assuming
    a fixed layout; non-PCM and non-RIFF reject."""
    import struct

    import numpy as np
    import pytest as _pytest

    from vectorsearch_spark.functions.codecs import decode_wav, encode_wav

    rng = np.random.default_rng(31)
    s = rng.integers(-32768, 32768, size=(321, 2), dtype=np.int16)
    data = encode_wav(s, 44100)
    out, rate = decode_wav(data)
    assert rate == 44100 and (out == s).all()

    # inject an unknown odd-sized chunk before fmt: parser must skip it
    # (word-aligned) and still find fmt/data
    junk = b"LIST" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    data2 = data[:12] + junk + data[12:]
    out2, rate2 = decode_wav(data2)
    assert rate2 == 44100 and (out2 == s).all()

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"XXXX" + data[4:])
    # 8-bit PCM flag must reject, not mis-decode
    bad = bytearray(data)
    fmt_off = data.find(b"fmt ") + 8
    struct.pack_into("<H", bad, fmt_off + 14, 8)
    with _pytest.raises(ValueError, match="16-bit"):
        decode_wav(bytes(bad))


def test_extract_audio_features_matches_numpy_model(spark):
    """extract_audio_features ≡ straight NumPy on the same samples:
    duration, RMS, zero-crossing rate, FFT spectral centroid — exact
    (same arithmetic, same rounding), incl. a stereo clip (features
    use channel 0) and a silent clip (centroid 0 guard)."""
    import numpy as np

    from vectorsearch_spark.functions.codecs import encode_wav
    from vectorsearch_spark.operators.multimodal import extract_audio_features

    rng = np.random.default_rng(41)
    clips = {
        1: (rng.integers(-30000, 30000, size=(400, 1), dtype=np.int16), 16000),
        2: (rng.integers(-30000, 30000, size=(333, 2), dtype=np.int16), 8000),
        3: (np.zeros((100, 1), dtype=np.int16), 22050),
    }
    media = spark.createDataFrame(
        [(mid, bytearray(encode_wav(s, r))) for mid, (s, r) in clips.items()],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    for mid, (s, rate) in clips.items():
        c0 = s[:, 0].astype(np.float64)
        n = len(c0)
        mag = np.abs(np.fft.rfft(c0))
        freqs = np.fft.rfftfreq(n, d=1.0 / rate)
        cent = float((freqs * mag).sum() / mag.sum()) if mag.sum() > 0 else 0.0
        r = got[mid]
        assert r["n_samples"] == n
        assert r["duration_s"] == round(n / rate, 6)
        assert r["rms"] == round(float(np.sqrt((c0 ** 2).mean())), 4)
        assert r["zcr"] == round(float(((c0[:-1] * c0[1:]) < 0).mean()), 6)
        assert r["spectral_centroid"] == round(cent, 4)
    assert got[3]["spectral_centroid"] == 0.0 and got[3]["rms"] == 0.0


def test_mjpeg_split_handles_in_scan_marker_segment():
    """A legal non-RST marker segment INSIDE a scan (e.g. DNL, 0xFFDC)
    must hand control back to the segment walker at the 0xFF byte —
    the r5 walker left pos past the 0xFF and raised 'expected marker'
    on any foreign M-JPEG stream carrying one."""
    import struct

    import numpy as np

    from vectorsearch_spark.functions.jpeg import encode_jpeg, split_mjpeg

    frame = np.kron(
        np.arange(4, dtype=np.uint8).reshape(2, 2) * 60,
        np.ones((8, 8), dtype=np.uint8),
    )
    jpg = encode_jpeg(frame, quant=1)
    assert jpg[-2:] == b"\xFF\xD9"
    # splice a DNL segment (marker 0xDC, 4-byte payload len incl. the
    # length field) between the scan data and the EOI
    dnl = b"\xFF\xDC" + struct.pack(">H", 4) + struct.pack(">H", 16)
    doctored = jpg[:-2] + dnl + b"\xFF\xD9"
    stream = doctored + jpg  # two frames: doctored then clean
    frames = split_mjpeg(stream)
    assert len(frames) == 2
    assert frames[0] == doctored and frames[1] == jpg


def test_image_dhash_known_and_invariance(spark):
    """dHash: handcrafted gradient bits on a tiny raster; identical
    images hash identically; a uniform brightness shift (gradient-
    preserving) keeps the hash; a horizontal flip changes it. Gray 2-D
    decoder outputs take the replicate-channels path."""
    import numpy as np

    from vectorsearch_spark.functions.codecs import decode_media, encode_bmp
    from vectorsearch_spark.operators.multimodal import image_dhash

    # 8 rows × 9 cols, strictly increasing left→right ⇒ all 64 bits set
    base = np.tile(np.arange(9, dtype=np.uint8) * 20, (8, 1))
    rgb = np.stack([base] * 3, axis=-1)
    bright = np.clip(rgb.astype(int) + 30, 0, 255).astype(np.uint8)
    flipped = rgb[:, ::-1, :]
    rows = [
        (1, encode_bmp(rgb)),
        (2, encode_bmp(rgb)),       # exact duplicate
        (3, encode_bmp(bright)),    # brightness shift: same gradients
        (4, encode_bmp(flipped)),   # reversed gradients
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["dhash"], r["n_gradient_bits"])
           for r in image_dhash(df, decoder=decode_media).collect()}
    assert got[1] == ("1" * 64, 64)
    assert got[2] == got[1]
    assert got[3][0] == got[1][0]          # near-dup: identical hash
    assert got[4] == ("0" * 64, 0)         # flip: all gradients reversed
    # hamming distance between original and flip is the full 64
    assert sum(a != b for a, b in zip(got[1][0], got[4][0])) == 64

    # 2-D grayscale decoder output replicates channels
    def gray_dec(payload: bytes):
        a = decode_media(payload)
        return a[..., 0]

    got_gray = {r["media_id"]: r["dhash"]
                for r in image_dhash(df, decoder=gray_dec).collect()}
    assert got_gray[1] == got[1][0]


def test_audio_spectral_bins_integer_exact(spark):
    """audio_spectral_bins ≡ the literal ±1-coefficient integer sums at
    the DC / quarter / Nyquist bins — the degenerate-exact DFT witness
    (the np.fft.rfft path must land on the integers exactly after
    rounding, asserted inside the operator)."""
    from vectorsearch_spark.functions.codecs import encode_wav
    from vectorsearch_spark.operators.multimodal import audio_spectral_bins

    rng = np.random.default_rng(3)
    rows, expect = [], {}
    for mid in range(12):
        n_samp = int(rng.integers(5, 40))  # some clips shorter than n_fft
        ch = 1 + mid % 2
        s = rng.integers(-32768, 32767, size=(n_samp, ch)).astype(np.int16)
        rows.append((mid, encode_wav(s, sample_rate=8000)))
        c0 = np.zeros(8, dtype=np.int64)
        c0[: min(8, n_samp)] = s[:8, 0]
        sgn = np.array([1, -1] * 4)
        q = np.array([1, 0, -1, 0] * 2)
        qi = np.array([0, -1, 0, 1] * 2)
        expect[(mid, 0)] = (int(c0.sum()), 0)
        expect[(mid, 2)] = (int((c0 * q).sum()), int((c0 * qi).sum()))
        expect[(mid, 4)] = (int((c0 * sgn).sum()), 0)

    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = audio_spectral_bins(df, n_fft=8).collect()
    assert len(got) == 36
    for r in got:
        re, im = expect[(r["media_id"], r["bin"])]
        assert (r["re"], r["im"]) == (re, im), r
        assert r["mag_sq"] == re * re + im * im

    # n_fft=16 exercises the generic quarter-frequency indices
    got16 = {
        (r["media_id"], r["bin"]): r
        for r in audio_spectral_bins(df, n_fft=16).collect()
    }
    assert {b for _, b in got16} == {0, 4, 8}

    with pytest.raises(ValueError):
        audio_spectral_bins(df, n_fft=6)
    with pytest.raises(ValueError):
        audio_spectral_bins(df, n_fft=0)


def test_audio_energy_hash_known_values_and_invariance(spark):
    """audio_energy_hash: handcrafted energy profile → known bits;
    uniform gain preserves the hash exactly; zero-pad path; additive
    near-tie noise flips at most a few bits (the near-dup property)."""
    import numpy as np

    from vectorsearch_spark.functions.codecs import encode_wav
    from vectorsearch_spark.operators.multimodal import audio_energy_hash

    rng = np.random.default_rng(3)
    base = rng.integers(-3000, 3000, size=65 * 8).astype(np.int16)
    rows = [
        (0, encode_wav(base.reshape(-1, 1), sample_rate=8000)),
        # x2 gain: energies x4 uniformly -> identical comparisons
        (1, encode_wav((base * 2).reshape(-1, 1), sample_rate=8000)),
        # small additive ripple: near-dup, not identical
        (2, encode_wav((base + (np.arange(65 * 8) % 5 - 2)).astype(np.int16).reshape(-1, 1), sample_rate=8000)),
        # short clip: zero-padded tail -> trailing frames all-zero
        (3, encode_wav(np.full((16, 1), 1000, dtype=np.int16), sample_rate=8000)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: (r["ehash"], r["n_rising"]) for r in audio_energy_hash(df).collect()}

    e = (base.astype(np.int64) ** 2).reshape(65, 8).sum(axis=1)
    exp_bits = "".join("1" if b else "0" for b in (e[1:] > e[:-1]))
    assert got[0][0] == exp_bits and len(exp_bits) == 64
    assert got[1][0] == got[0][0]  # gain invariance, exact
    ham = sum(a != b for a, b in zip(got[0][0], got[2][0]))
    assert 0 <= ham <= 7, ham  # near-dup lands inside the banding radius
    # short clip: frames 2..64 are zero-energy -> no rising edges there
    assert got[3][0][2:] == "0" * 62


def test_video_scene_cuts_known_values(spark):
    """video_scene_cuts on handcrafted frames: exact luma sums, the
    strict-inequality threshold edge, frame 0 never a cut, grayscale
    (nf, h, w) decoder output handled, and a real M-JPEG round trip."""
    import numpy as np

    from vectorsearch_spark.functions.jpeg import decode_mjpeg, encode_mjpeg
    from vectorsearch_spark.operators.multimodal import video_scene_cuts

    # fake decoder: payload byte i is frame i's constant gray value,
    # 2x2 frames -> luma_sum = 4 * value
    def dec(payload: bytes):
        vals = np.frombuffer(payload, dtype=np.uint8)
        return np.stack([np.full((2, 2), v, dtype=np.uint8) for v in vals])

    # values 10, 10, 35, 36: deltas 0, 100, 4 -> cuts with thr=4: only
    # |100| > 4; |4| is NOT > 4 (strict)
    df = spark.createDataFrame(
        [(1, bytearray([10, 10, 35, 36]))], "media_id long, payload binary"
    )
    got = {
        (r["media_id"], r["frame_idx"]): (r["luma_sum"], r["is_cut"])
        for r in video_scene_cuts(df, decoder=dec, threshold=4).collect()
    }
    assert got == {
        (1, 0): (40, 0),
        (1, 1): (40, 0),
        (1, 2): (140, 1),
        (1, 3): (144, 0),
    }

    # real codec round trip: two constant 8x8 frames, gray mode
    frames = [
        np.full((8, 8), 50, dtype=np.uint8),
        np.full((8, 8), 200, dtype=np.uint8),
    ]
    mj = encode_mjpeg(frames, quant=1)
    df2 = spark.createDataFrame(
        [(2, bytearray(mj))], "media_id long, payload binary"
    )
    got2 = {
        r["frame_idx"]: (r["luma_sum"], r["is_cut"])
        for r in video_scene_cuts(
            df2, decoder=decode_mjpeg, threshold=1000
        ).collect()
    }
    assert got2 == {0: (50 * 64, 0), 1: (200 * 64, 1)}
