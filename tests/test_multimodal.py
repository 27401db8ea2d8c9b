"""Multimodal plumbing tests: deterministic fake decode, scalar feature
schema, frame-sample explode shape, and the declared real-decode stub."""

import numpy as np
import pytest

from marginaliasearch_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    return multimodal.synth_media(spark, n=12).cache()


def test_decode_stub_declares_missing_libs():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x00\x01", fake=False)


def test_fake_decode_deterministic():
    img1 = multimodal.decode_image(b"payload", fake=True)
    img2 = multimodal.decode_image(b"payload", fake=True)
    assert img1.shape == (32, 32, 3) and img1.dtype == np.uint8
    assert np.array_equal(img1, img2)
    assert not np.array_equal(img1, multimodal.decode_image(b"other", fake=True))


def test_image_features_scalar_schema(spark, media):
    feats = multimodal.image_features(media, fake=True)
    assert feats.columns == ["media_id"] + multimodal.FEATURE_COLS
    rows = feats.collect()
    assert len(rows) == 12
    for r in rows:
        assert 0.0 <= r["mean_r"] <= 1.0
        hist = [r[f"h{b}"] for b in range(multimodal.HIST_BINS)]
        assert abs(sum(hist) - 1.0) < 1e-9


def test_frame_sample_explodes_by_duration(spark, media):
    vids = media.filter(media.kind == "video")
    frames = multimodal.frame_sample(vids).collect()
    durations = {r["media_id"]: r["duration_ms"] for r in vids.collect()}
    per_media: dict[int, int] = {}
    for r in frames:
        per_media[r["media_id"]] = per_media.get(r["media_id"], 0) + 1
        assert len(r["frame_hex"]) == 32  # md5 hex frame id
    for mid, n in per_media.items():
        assert n == max(1, durations[mid] // 1000)
    # every video row yields at least one frame
    assert set(per_media) == set(durations)


# --- real (pure-numpy) image decoders: PPM P6 + 24-bit BMP -----------------


def _ppm_bytes(img, comment=False):
    import numpy as np

    h, w, _ = img.shape
    hdr = b"P6\n"
    if comment:
        hdr += b"# a comment line\n"
    hdr += f"{w} {h}\n255\n".encode()
    return hdr + np.asarray(img, dtype=np.uint8).tobytes()


def _bmp_bytes(img):
    """Minimal bottom-up 24-bit BI_RGB BMP with 4-byte row padding."""
    import struct

    import numpy as np

    h, w, _ = img.shape
    row = (w * 3 + 3) // 4 * 4
    data_off = 14 + 40
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        line = bytearray()
        for x in range(w):
            r, g, b = img[y, x]
            line += bytes([b, g, r])  # BGR
        line += b"\x00" * (row - len(line))
        body += line
    head = b"BM" + struct.pack(
        "<IHHI", data_off + len(body), 0, 0, data_off
    )
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(head + dib + body)


def test_decode_ppm_roundtrip():
    import numpy as np

    from marginaliasearch_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_ppm_bytes(img)), img)
    assert np.array_equal(decode_image(_ppm_bytes(img, comment=True)), img)


def test_ppm_16bit_floor_scaled():
    img = np.array(
        [[[0, 1, 257], [65535, 32768, 999]]], np.uint64
    )  # 1x2 RGB
    payload = b"P6 2 1 65535\n" + img.astype(">u2").tobytes()
    want = (img.astype(np.int64) * 255 // 65535).astype(np.uint8)
    assert np.array_equal(multimodal.decode_image(payload), want)


def test_decode_bmp_roundtrip_with_padding():
    import numpy as np

    from marginaliasearch_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(8)
    # width 3 → 9 bytes/row, padded to 12: exercises the padding path
    img = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_bmp_bytes(img)), img)


def test_decode_compressed_still_raises():
    import pytest as _pytest

    from marginaliasearch_spark.operators.multimodal import decode_image

    # WebP (VP8 entropy coding) genuinely needs codec libs
    with _pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x10\x00\x00\x00WEBPVP8 fake")
    # TIFF has no decoder: a minimal little-endian header is an
    # unsupported format, not a parse error
    with _pytest.raises(NotImplementedError):
        decode_image(b"II*\x00\x08\x00\x00\x00")
    # JPEG now dispatches to the real decoder; a truncated stream is a
    # parse error, not a missing-codec stub
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0\x00\x04JFIF-fake-jpeg")


def test_image_features_over_real_ppm(spark):
    """image_features with fake=False over real PPM payloads — the same
    mapInPandas plumbing, a real decoder."""
    import numpy as np

    from marginaliasearch_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_features,
    )

    imgs = [
        np.full((4, 4, 3), 255, dtype=np.uint8),  # pure white
        np.zeros((2, 6, 3), dtype=np.uint8),  # pure black, non-square
    ]
    rows = [
        (i, "image", bytearray(_ppm_bytes(img)), "image/x-portable-pixmap",
         img.shape[1], img.shape[0], 0)
        for i, img in enumerate(imgs)
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in image_features(media, fake=False).collect()}
    assert got[0]["mean_r"] == got[0]["mean_g"] == got[0]["mean_b"] == 1.0
    assert got[0]["h7"] == 1.0  # 765 // 96 capped at bin 7
    assert got[1]["mean_r"] == 0.0 and got[1]["h0"] == 1.0


# --- real (pure-numpy) video decoder: YUV4MPEG2 (.y4m) ----------------------


def _y4m_bytes(lumas, fps=(25, 1), chroma="420", frame_params=False):
    """Build a y4m stream from (n, h, w) uint8 luma planes; chroma planes
    are filled with 0x80 (neutral)."""
    import numpy as np

    n, h, w = lumas.shape
    hdr = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{chroma}\n"
    out = bytearray(hdr.encode())
    for i in range(n):
        out += b"FRAME Xtest\n" if frame_params else b"FRAME\n"
        out += np.asarray(lumas[i], dtype=np.uint8).tobytes()
        if chroma.startswith("420"):
            out += b"\x80" * (w * h // 2)
        elif chroma == "444":
            out += b"\x80" * (w * h * 2)
    return bytes(out)


def test_decode_y4m_roundtrip():
    import numpy as np

    from marginaliasearch_spark.operators.multimodal import decode_video

    rng = np.random.default_rng(11)
    lumas = rng.integers(0, 256, size=(5, 4, 6), dtype=np.uint8)
    for chroma in ("420", "420jpeg", "444", "mono"):
        frames, fps = decode_video(_y4m_bytes(lumas, chroma=chroma))
        assert fps == 25.0
        assert np.array_equal(frames, lumas), chroma
    # FRAME lines with parameters parse too
    frames, _ = decode_video(_y4m_bytes(lumas, frame_params=True))
    assert np.array_equal(frames, lumas)


def test_frame_sample_real_y4m(spark):
    """fake=False samples one frame per every_ms at the stream's own fps
    and hashes real luma bytes."""
    import hashlib as _hashlib

    import numpy as np

    from marginaliasearch_spark.operators import multimodal

    rng = np.random.default_rng(12)
    lumas = rng.integers(0, 256, size=(10, 4, 4), dtype=np.uint8)
    payload = _y4m_bytes(lumas, fps=(4, 1))  # 4 fps → every 500ms = 2 frames
    media = spark.createDataFrame(
        [(7, "video", bytearray(payload), "video/x-y4m", 4, 4, 2500)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.frame_sample(media, every_ms=500, fake=False).collect()
    # step = round(4 * 0.5) = 2 → frames 0,2,4,6,8
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [
        0, 1, 2, 3, 4,
    ]
    expect = [_hashlib.md5(lumas[i].tobytes()).hexdigest() for i in (0, 2, 4, 6, 8)]
    got = [r["frame_hex"] for r in sorted(rows, key=lambda r: r["frame_idx"])]
    assert got == expect


def test_decode_video_compressed_raises():
    import pytest as _pytest

    from marginaliasearch_spark.operators.multimodal import decode_video

    with _pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x00\x18ftypmp42-fake-mp4")


# --- resize ------------------------------------------------------------------


def test_resize_nearest_and_box_reference():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
    nn = multimodal.resize_image(img, 3, 4, "nearest")
    assert nn.shape == (3, 4, 3)
    for i in range(3):
        for j in range(4):
            assert (nn[i, j] == img[(i * 12) // 3, (j * 16) // 4]).all()
    box = multimodal.resize_image(img, 3, 4, "box")
    blk = img[:4, :4].astype(np.int64)
    assert (box[0, 0] == blk.reshape(-1, 3).sum(axis=0) // 16).all()
    with pytest.raises(ValueError):
        multimodal.resize_image(img, 5, 4, "box")


def test_resize_images_real_ppm_end_to_end(spark):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes(img)))], "media_id long, payload binary"
    )
    out = multimodal.resize_images(media, 8, 8, fake=False).collect()
    got = np.frombuffer(bytes(out[0]["pixels"]), dtype=np.uint8).reshape(8, 8, 3)
    want = multimodal.resize_image(img, 8, 8, "nearest")
    assert (got == want).all()


# --- real PNG decode (stdlib zlib + numpy unfilter) -------------------------


def test_png_roundtrip_all_filters_and_color_types():
    from marginaliasearch_spark.operators.multimodal import (
        _decode_png,
        decode_image,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for shape in [(32, 32, 3), (5, 7, 3), (1, 1, 3), (16, 9, 4), (8, 8, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for filt in [0, 1, 2, 3, 4, "cycle"]:
            dec = _decode_png(encode_png(img, filters=filt))
            if shape[2] == 1:
                exp = np.repeat(img, 3, axis=2)
            elif shape[2] == 4:
                exp = img[:, :, :3]  # alpha dropped
            else:
                exp = img
            assert np.array_equal(dec, exp), (shape, filt)
    # gradient image (makes Sub/Paeth predictions non-trivial)
    g = np.arange(32 * 32 * 3, dtype=np.int64).reshape(32, 32, 3) % 256
    g = g.astype(np.uint8)
    assert np.array_equal(decode_image(encode_png(g)), g)


def _png_payload(w, h, depth, ctype, raw, plte=None, interlace=0):
    """Compose a valid PNG from already-filtered scanline bytes."""
    import struct
    import zlib

    from marginaliasearch_spark.operators.multimodal import _PNG_SIG

    def chunk(typ, data):
        c = typ + data
        return struct.pack(">I", len(data)) + c + struct.pack(
            ">I", zlib.crc32(c)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    out += chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    return out


def test_png_unsupported_shapes_raise():
    import pytest as _pytest

    from marginaliasearch_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png,
        encode_png,
    )

    ok = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))

    def patch_ihdr(payload: bytes, off: int, val: int) -> bytes:
        # IHDR data starts at sig+8(len,type); depth/ctype/... at +8+off
        i = len(_PNG_SIG) + 8 + off
        return payload[:i] + bytes([val]) + payload[i + 1 :]

    with _pytest.raises(NotImplementedError):  # depth 16 invalid for pal
        _decode_png(
            _png_payload(2, 2, 16, 3, b"\x00" * 100, plte=b"\x00" * 6)
        )
    with _pytest.raises(NotImplementedError):  # palette without PLTE
        _decode_png(patch_ihdr(ok, 9, 3))
    with _pytest.raises(NotImplementedError):  # bogus color type
        _decode_png(patch_ihdr(ok, 9, 5))
    with _pytest.raises(NotImplementedError):  # missing IDAT
        _decode_png(_PNG_SIG)


def test_png_16bit_takes_high_byte():
    from marginaliasearch_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(31)
    w, h = 5, 3
    samples = rng.integers(0, 1 << 16, size=(h, w, 3), dtype=np.uint16)
    raw = b"".join(
        b"\x00" + samples[y].astype(">u2").tobytes() for y in range(h)
    )
    img = _decode_png(_png_payload(w, h, 16, 2, raw))
    assert np.array_equal(img, (samples >> 8).astype(np.uint8))


def test_png_palette_8bit_and_4bit():
    from marginaliasearch_spark.operators.multimodal import _decode_png

    pal = np.array(
        [[250, 1, 2], [3, 240, 5], [6, 7, 230], [9, 9, 9]], dtype=np.uint8
    )
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    raw8 = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    img = _decode_png(_png_payload(3, 2, 8, 3, raw8, plte=pal.tobytes()))
    assert np.array_equal(img, pal[idx])
    # 4-bit packed indices, MSB first: row [0,1,2] -> 0x01 0x2_ pad
    raw4 = b"\x00\x01\x20" + b"\x00\x32\x10"
    img4 = _decode_png(_png_payload(3, 2, 4, 3, raw4, plte=pal.tobytes()))
    assert np.array_equal(img4, pal[idx])


def test_png_gray_alpha_and_subbyte_gray():
    from marginaliasearch_spark.operators.multimodal import _decode_png

    # ctype 4 (gray + alpha): alpha dropped
    ga = np.array([[[10, 200], [20, 0]]], dtype=np.uint8)  # 1x2
    raw = b"\x00" + ga[0].tobytes()
    img = _decode_png(_png_payload(2, 1, 8, 4, raw))
    assert np.array_equal(img[:, :, 0], [[10, 20]])
    assert np.array_equal(img[:, :, 0], img[:, :, 1])
    # 1-bit grayscale scales to 0/255; 2x9 forces padded strides
    bits = np.array(
        [[1, 0, 1, 1, 0, 0, 1, 0, 1], [0, 1, 0, 0, 1, 1, 0, 1, 0]],
        dtype=np.uint8,
    )
    packed = np.packbits(bits, axis=1)
    raw1 = b"".join(b"\x00" + packed[y].tobytes() for y in range(2))
    img1 = _decode_png(_png_payload(9, 2, 1, 0, raw1))
    assert np.array_equal(img1[:, :, 0], bits * 255)
    # 2-bit grayscale: values 0..3 -> 0,85,170,255
    v2 = np.array([[0, 1, 2, 3, 2]], dtype=np.uint8)
    packed2 = np.packbits(
        np.unpackbits(v2.reshape(-1, 1), axis=1)[:, -2:].reshape(1, -1),
        axis=1,
    )
    raw2 = b"\x00" + packed2.tobytes()
    img2 = _decode_png(_png_payload(5, 1, 2, 0, raw2))
    assert np.array_equal(img2[0, :, 0], v2[0].astype(np.int64) * 255 // 3)


def test_gif_animation_composition():
    """GIF89a animation semantics: transparency leaves the canvas,
    disposal 2 restores the rect to background, delays set fps."""
    from marginaliasearch_spark.operators.multimodal import (
        _decode_gif_frames,
        decode_video,
        encode_gif_animation,
    )

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    f0 = np.full((4, 6), 100, np.uint8)
    f1 = np.array([[7, 7, 50], [60, 7, 70]], np.uint8)  # 7 = transparent
    f2 = np.full((2, 3), 200, np.uint8)
    f3 = np.full((2, 2), 30, np.uint8)
    payload = encode_gif_animation(
        [(0, 0, f0), (1, 1, f1), (1, 1, f2), (0, 0, f3)],
        pal, (6, 4),
        delays=[10, 20, 20, 50],
        disposals=[0, 0, 2, 3],
        transparent=7,
    )
    frames, fps = _decode_gif_frames(payload)
    assert frames.shape == (4, 4, 6, 3)
    assert fps == 4.0  # mean delay 25 cs
    exp0 = np.full((4, 6), 100, np.int64)
    exp1 = exp0.copy()
    mask = f1 != 7
    exp1[1:3, 1:4][mask] = f1[mask]
    exp2 = exp1.copy()
    exp2[1:3, 1:4] = 200
    exp3 = exp1.copy()
    exp3[1:3, 1:4] = 0  # disposal 2 on frame 2: rect back to bg (pal 0)
    exp3[0:2, 0:2] = 30
    for i, exp in enumerate([exp0, exp1, exp2, exp3]):
        assert np.array_equal(frames[i, :, :, 0].astype(np.int64), exp), i
    # grayscale palette -> BT.601 luma is the identity
    lumas, fps2 = decode_video(payload)
    assert fps2 == 4.0
    assert np.array_equal(lumas[1].astype(np.int64), exp1)


def test_gif_video_fixture_matches_duckdb_oracle(spark):
    import duckdb

    from marginaliasearch_spark.functions.sql_oracles import (
        gif_video_frames_sql,
    )
    from marginaliasearch_spark.operators.multimodal import (
        synth_gif_video_media,
        video_frame_stats,
    )

    media = synth_gif_video_media(spark, n=6)
    got = {
        (r.media_id, r.frame_idx): (r.y_sum, r.n_px, r.mean_y)
        for r in video_frame_stats(media).collect()
    }
    exp = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in duckdb.sql(gif_video_frames_sql(6)).fetchall()
    }
    assert got == exp


def _adam7_passes(img):
    """Split (h, w, c) into Adam7 pass sub-images (spec pass order)."""
    from marginaliasearch_spark.operators.multimodal import _ADAM7

    h, w = img.shape[:2]
    return [
        img[y0::dy, x0::dx]
        for x0, y0, dx, dy in _ADAM7
        if img[y0::dy, x0::dx].size
    ]


def test_png_adam7_interlace():
    from marginaliasearch_spark.operators.multimodal import _decode_png

    rng = np.random.default_rng(37)
    for h, w in [(16, 16), (9, 13), (1, 1), (3, 2)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = b""
        for i, sub in enumerate(_adam7_passes(img)):
            ph = sub.shape[0]
            for y in range(ph):
                line = sub[y].astype(np.int64).reshape(-1)
                f = (i + y) % 3  # cycle None/Sub/Up within each pass
                if f == 1:
                    filt = line.copy()
                    filt[3:] = (line[3:] - line[:-3]) & 255
                elif f == 2:
                    prev = (
                        sub[y - 1].astype(np.int64).reshape(-1)
                        if y
                        else np.zeros_like(line)
                    )
                    filt = (line - prev) & 255
                else:
                    filt = line
                raw += bytes([f]) + filt.astype(np.uint8).tobytes()
        got = _decode_png(_png_payload(w, h, 8, 2, raw, interlace=1))
        assert np.array_equal(got, img), (h, w)


def test_image_features_over_real_png(spark):
    """image_features with fake=False over the PNG fixture — mapInPandas
    runs the zlib decode per payload; features must equal the mirror over
    the closed-form pixels the fixture encoded."""
    from marginaliasearch_spark.operators.dedup import _splitmix64
    from marginaliasearch_spark.operators.multimodal import (
        _BIN_DIV,
        _N_PIX,
        HIST_BINS,
        image_features,
        png_pixel_seed,
        synth_png_media,
    )

    media = synth_png_media(spark, n=8)
    out = (
        image_features(media, fake=False)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    idx = np.arange(_N_PIX * 3, dtype=np.uint64)
    for i in range(8):
        vals = (
            (_splitmix64(png_pixel_seed(i) + idx) & np.uint64(255))
            .astype(np.int64)
            .reshape(_N_PIX, 3)
        )
        assert np.isclose(
            out.loc[i, "mean_r"], vals[:, 0].mean() / 255.0, atol=1e-9
        )
        bins = np.minimum(vals.sum(axis=1) // _BIN_DIV, HIST_BINS - 1)
        counts = np.bincount(bins, minlength=HIST_BINS) / _N_PIX
        got = np.array([out.loc[i, f"h{b}"] for b in range(HIST_BINS)])
        assert np.allclose(got, counts, atol=1e-9)


def test_gif_roundtrip_lzw_interlace_and_palette():
    """encode_gif → _decode_gif is exact: random images (plain and
    interlaced), long constant runs (the LZW cScSc case), a 6400-px image
    (forces the 4096-entry table reset), and a 2-color palette (minimum
    code size floor)."""
    import pytest as _pytest

    from marginaliasearch_spark.operators.multimodal import (
        _decode_gif,
        _gif_palette,
        encode_gif,
    )

    pal = _gif_palette()
    rng = np.random.default_rng(7)
    for _ in range(4):
        h, w = rng.integers(1, 40, 2)
        pix = rng.integers(0, 256, (h, w)).astype(np.uint8)
        for inter in (False, True):
            assert (
                _decode_gif(encode_gif(pix, pal, interlace=inter)) == pal[pix]
            ).all()
    runs = np.zeros((64, 64), np.uint8)
    runs[::3] = 7
    assert (_decode_gif(encode_gif(runs, pal)) == pal[runs]).all()
    big = rng.integers(0, 256, (80, 80)).astype(np.uint8)
    assert (_decode_gif(encode_gif(big, pal)) == pal[big]).all()
    two = np.array([[0, 1, 1, 0], [1, 0, 0, 1]], np.uint8)
    small_pal = np.array([[255, 0, 0], [0, 255, 0]], np.uint8)
    got = _decode_gif(encode_gif(two, small_pal))
    assert (got == small_pal[two]).all()
    with _pytest.raises(NotImplementedError):
        _decode_gif(b"GIF89a" + b"\x00" * 7)  # no color table, no image


def test_decode_image_dispatches_gif():
    from marginaliasearch_spark.operators.multimodal import (
        _gif_palette,
        decode_image,
        encode_gif,
    )

    pix = np.arange(12, dtype=np.uint8).reshape(3, 4)
    img = decode_image(encode_gif(pix, _gif_palette()))
    assert img.shape == (3, 4, 3)
    assert (img == _gif_palette()[pix]).all()


def test_image_features_over_real_gif(spark):
    """image_features with fake=False over the GIF fixture — mapInPandas
    runs the LZW decode per payload (odd ids interlaced); features must
    equal the mirror over the closed-form palette indices."""
    from marginaliasearch_spark.operators.dedup import _splitmix64
    from marginaliasearch_spark.operators.multimodal import (
        _BIN_DIV,
        _N_PIX,
        HIST_BINS,
        _gif_palette,
        gif_pixel_seed,
        image_features,
        synth_gif_media,
    )

    media = synth_gif_media(spark, n=6)
    out = (
        image_features(media, fake=False)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )
    pal = _gif_palette().astype(np.int64)
    p = np.arange(_N_PIX, dtype=np.uint64)
    for i in range(6):
        idx = (_splitmix64(gif_pixel_seed(i) + p) & np.uint64(255)).astype(
            np.int64
        )
        vals = pal[idx]
        for c, name in enumerate("rgb"):
            assert np.isclose(
                out.loc[i, f"mean_{name}"],
                vals[:, c].mean() / 255.0,
                atol=1e-9,
            )
        bins = np.minimum(vals.sum(axis=1) // _BIN_DIV, HIST_BINS - 1)
        counts = np.bincount(bins, minlength=HIST_BINS) / _N_PIX
        got = np.array([out.loc[i, f"h{b}"] for b in range(HIST_BINS)])
        assert np.allclose(got, counts, atol=1e-9)
