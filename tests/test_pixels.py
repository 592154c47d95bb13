"""Real PNG pixel decode (analysis/pixels.py): unfiltering against
all five row filters, palette expansion, exact channel stats,
deterministic resize, and the Spark full-decode operator."""

import struct
import zlib

import numpy as np
import pytest

from tika_spark.analysis.pixels import (channel_means_micro, decode_png,
                                        image_pixel_stats, png_bytes,
                                        resize_image)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def _encode_with_filters(arr: np.ndarray, filters: list[int]) -> bytes:
    """Spec-side encoder applying a chosen filter per row — exercises
    the decoder's Sub/Up/Average/Paeth reconstruction paths, which
    the product encoder (filter 0 only) never emits."""
    h, w, c = arr.shape
    a = arr.astype(np.int64)
    rows = []
    prev = np.zeros(w * c, dtype=np.int64)
    for y, f in zip(range(h), filters):
        cur = a[y].reshape(-1)
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur.copy()
            filt[c:] = (cur[c:] - cur[:-c]) % 256
        elif f == 2:
            filt = (cur - prev) % 256
        elif f == 3:
            filt = cur.copy()
            for x in range(w * c):
                left = cur[x - c] if x >= c else 0
                filt[x] = (cur[x] - (left + prev[x]) // 2) % 256
        else:
            filt = cur.copy()
            for x in range(w * c):
                aa = cur[x - c] if x >= c else 0
                b = prev[x]
                cc = prev[x - c] if x >= c else 0
                p = aa + b - cc
                pa, pb, pc = abs(p - aa), abs(p - b), abs(p - cc)
                pr = aa if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else cc)
                filt[x] = (cur[x] - pr) % 256
        rows.append(bytes([f]) + bytes(filt.astype(np.uint8)))
        prev = cur
    raw = b"".join(rows)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[c],
                       0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


@pytest.mark.parametrize("shape", [(5, 7, 3), (4, 4, 1), (8, 3, 4),
                                   (2, 2, 2)])
def test_roundtrip_all_color_types(shape):
    arr = np.random.default_rng(1).integers(0, 256, size=shape,
                                            dtype=np.uint8)
    assert np.array_equal(decode_png(png_bytes(arr)), arr)


def test_all_five_filters_reconstruct():
    arr = np.random.default_rng(2).integers(0, 256, size=(5, 6, 3),
                                            dtype=np.uint8)
    blob = _encode_with_filters(arr, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(blob), arr)


def test_palette_expands_to_rgb():
    rng = np.random.default_rng(3)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(3, 5, 1), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
    blob = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 3, 0,
                                          0, 0))
            + _chunk(b"PLTE", pal.tobytes())
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(blob), pal[idx[:, :, 0]])


@pytest.mark.parametrize("blob", [
    b"not a png", b"\x89PNG\r\n\x1a\n",
    b"\x89PNG\r\n\x1a\n" + b"\x00" * 40,
])
def test_corrupt_raises_value_error(blob):
    with pytest.raises((ValueError, Exception)):
        decode_png(blob)


def test_interlaced_and_16bit_rejected():
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr16))
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr_i))


def test_channel_means_exact():
    solid = np.full((6, 4, 3), (10, 200, 33), dtype=np.uint8)
    assert channel_means_micro(solid) == [10_000_000, 200_000_000,
                                          33_000_000]


def test_resize_block_average_and_nearest():
    big = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    assert resize_image(big, 4, 4).shape == (4, 4, 3)
    assert resize_image(big, 3, 5).shape == (3, 5, 3)
    # block average of a solid image is the same solid
    solid = np.full((8, 8, 3), 77, dtype=np.uint8)
    assert np.all(resize_image(solid, 2, 2) == 77)


def test_real_decode_hook_png(spark):
    # the media tables: image types, the video demuxer, audio types
    from tika_spark.analysis.pcm import decode_audio
    from tika_spark.analysis.pixels import image_decoders
    from tika_spark.analysis.video import _demux
    arr = np.full((3, 2, 3), (1, 2, 3), dtype=np.uint8)
    dec = image_decoders()
    assert np.array_equal(dec["image/png"](png_bytes(arr)), arr)
    with pytest.raises(ValueError):       # decoded for real, bad data
        dec["image/jpeg"](b"\xff\xd8junk")
    with pytest.raises(ValueError):       # PS demux decodes for real
        _demux(b"\x00\x00\x01\xba")
    with pytest.raises(ValueError):       # no Opus decoder: refused
        decode_audio(b"OggS" + bytes(24), "audio/opus")


def test_image_pixel_stats_operator(spark):
    arrs = {1: np.full((3, 4, 3), (5, 6, 7), dtype=np.uint8),
            2: np.full((2, 2, 3), (250, 0, 128), dtype=np.uint8)}
    rows = [(i, png_bytes(a), "image/png") for i, a in arrs.items()]
    rows.append((3, b"corrupt", "image/png"))
    rows.append((4, b"\x00\x01", "image/avif"))
    from tika_spark.analysis.webp import webp_bytes
    rgba = np.full((2, 3, 4), (9, 8, 7, 255), dtype=np.uint8)
    rows.append((5, webp_bytes(rgba), "image/webp"))
    df = spark.createDataFrame(
        rows, "id long, payload binary, media_type string")
    out = {r["id"]: r for r in image_pixel_stats(df).collect()}
    assert out[1]["width"] == 4 and out[1]["height"] == 3
    assert out[1]["mean_micro"] == [5_000_000, 6_000_000, 7_000_000]
    assert out[2]["mean_micro"] == [250_000_000, 0, 128_000_000]
    assert out[3]["status"] == "error"
    assert out[4]["status"] == "unsupported"
    assert out[5]["status"] == "ok"
    assert out[5]["mean_micro"] == [9_000_000, 8_000_000, 7_000_000,
                                    255_000_000]


# --------------------------------------------------- WAV PCM decode --


def test_wav_roundtrip_mono_stereo():
    from tika_spark.analysis.pcm import decode_wav, wav_bytes
    mono = np.array([100, -100, 2000, -32768, 32767], dtype=np.int16)
    arr, rate = decode_wav(wav_bytes(mono, 16000))
    assert rate == 16000 and arr.shape == (5, 1)
    assert np.array_equal(arr[:, 0], mono.astype(np.int32))
    stereo = np.array([[1, -1], [300, -300]], dtype=np.int16)
    arr2, _ = decode_wav(wav_bytes(stereo, 8000))
    assert np.array_equal(arr2, stereo.astype(np.int32))


def test_wav_8bit_rebased():
    from tika_spark.analysis.pcm import decode_wav
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = bytes([128, 255, 0, 128])           # 0, +127, -128, 0
    blob = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVEfmt "
            + struct.pack("<I", len(fmt)) + fmt + b"data"
            + struct.pack("<I", len(body)) + body)
    arr, rate = decode_wav(blob)
    assert list(arr[:, 0]) == [0, 127, -128, 0]


def test_wav_rejects_non_pcm():
    from tika_spark.analysis.pcm import decode_wav
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float fmt
    blob = (b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
            + struct.pack("<I", len(fmt)) + fmt + b"data"
            + struct.pack("<I", 0))
    with pytest.raises(ValueError):
        decode_wav(blob)
    with pytest.raises(ValueError):
        decode_wav(b"garbage")


def test_pcm_stats_square_wave_exact():
    from tika_spark.analysis.pcm import pcm_stats
    amp = 12345
    wave = np.tile(np.array([[amp], [-amp]], dtype=np.int32), (400, 1))
    s = pcm_stats(wave, 8000)
    assert s["n_samples"] == 800 and s["duration_ms"] == 100
    expect = int(np.floor(amp * 1_000_000 / 32768 + 0.5))
    assert s["rms_micro"] == s["peak_micro"] == expect


def test_audio_pcm_stats_operator(spark):
    from tika_spark.analysis.pcm import audio_pcm_stats, wav_bytes
    wave = np.tile(np.array([5000, -5000], dtype=np.int16), 100)
    rows = [(1, wav_bytes(wave, 8000), "audio/wav"),
            (2, b"corrupt", "audio/wav"),
            (3, b"\x00", "audio/mpeg"),    # mp3 routed now: bad=error
            (4, b"\x00", "audio/aac"),     # aac routed now: bad=error
            (5, b"\x00", "audio/opus")]
    df = spark.createDataFrame(
        rows, "id long, payload binary, media_type string")
    out = {r["id"]: r for r in audio_pcm_stats(df).collect()}
    assert out[1]["status"] == "ok" and out[1]["n_samples"] == 200
    assert out[1]["rms_micro"] == out[1]["peak_micro"]
    assert out[2]["status"] == "error"
    assert out[3]["status"] == "error"
    assert out[4]["status"] == "error"
    assert out[5]["status"] == "unsupported"


def test_real_decode_hook_wav():
    from tika_spark.analysis.pcm import decode_audio, wav_bytes
    wave = np.array([1, 2, 3], dtype=np.int16)
    arr, rate = decode_audio(wav_bytes(wave, 8000), "audio/wav")
    assert rate == 8000 and arr.shape == (3, 1)


# -------------------------------------------------- GIF LZW decode --


def test_gif_roundtrip():
    from tika_spark.analysis.pixels import decode_gif, gif_bytes
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, size=(9, 11), dtype=np.uint8)
    out = decode_gif(gif_bytes(idx, pal))
    assert np.array_equal(out, pal[idx])


def test_gif_real_lzw_dictionary_growth():
    # a properly LZW-compressed stream (dictionary growth + width
    # bumps), not the clear-every-symbol fixture form
    from tika_spark.analysis.pixels import decode_gif

    def lzw(min_code, seq):
        clear, end = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        acc = n = 0
        out = bytearray()

        def put(code):
            nonlocal acc, n
            acc |= code << n
            n += width
            while n >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                n -= 8
        put(clear)
        cur = b""
        for b in seq:
            nxt = cur + bytes([b])
            if nxt in table:
                cur = nxt
                continue
            put(table[cur])
            if next_code < 4096:
                table[nxt] = next_code
                next_code += 1
                if next_code > (1 << width) and width < 12:
                    width += 1
            cur = bytes([b])
        put(table[cur])
        put(end)
        if n:
            out.append(acc & 0xFF)
        return bytes(out)

    h, w = 16, 16
    idx = (np.add.outer(np.arange(h), np.arange(w)) % 4).astype(np.uint8)
    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   dtype=np.uint8)
    body = lzw(2, idx.reshape(-1))
    blob = bytearray(b"GIF89a")
    blob += struct.pack("<HHB", w, h, 0x80 | 1) + b"\x00\x00"
    blob += pal.tobytes()
    blob += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00\x02"
    for i in range(0, len(body), 255):
        c = body[i:i + 255]
        blob.append(len(c))
        blob += c
    blob += b"\x00\x3b"
    assert np.array_equal(decode_gif(bytes(blob)), pal[idx])


def test_gif_interlaced():
    from tika_spark.analysis.pixels import decode_gif, gif_bytes
    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, size=(10, 5), dtype=np.uint8)
    blob = bytearray(gif_bytes(idx, pal))
    # flip the interlace flag and reorder rows into pass order
    passes = [(0, 8), (4, 8), (2, 4), (1, 2)]
    order = [y for start, step in passes for y in range(start, 10, step)]
    blob2 = bytearray(gif_bytes(idx[order], pal))
    # set interlace bit in the image descriptor of blob2
    desc = blob2.find(b"\x2c")
    blob2[desc + 9] |= 0x40
    assert np.array_equal(decode_gif(bytes(blob2)), pal[idx])


def test_gif_corrupt_raises():
    from tika_spark.analysis.pixels import decode_gif
    with pytest.raises(ValueError):
        decode_gif(b"not a gif")
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 7 + b"\x3b")


def test_image_pixel_stats_gif(spark):
    from tika_spark.analysis.pixels import gif_bytes, image_pixel_stats
    pal = np.array([[9, 90, 200]], dtype=np.uint8)
    blob = gif_bytes(np.zeros((3, 5), dtype=np.uint8), pal)
    df = spark.createDataFrame([(1, blob, "image/gif")],
                               "id long, payload binary, media_type string")
    (row,) = image_pixel_stats(df).collect()
    assert row["status"] == "ok" and row["width"] == 5
    assert row["mean_micro"] == [9_000_000, 90_000_000, 200_000_000]


# ------------------------------------------------------ BMP decode --


def _bmp_bytes(arr: np.ndarray, top_down: bool = False) -> bytes:
    """24-bit uncompressed BMP writer (test-side)."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = arr[:, :, [2, 1, 0]].reshape(h, w * 3)  # RGB→BGR
    if not top_down:
        rows = rows[::-1]
    body = rows.tobytes()
    bih = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h,
                      1, 24, 0, len(body), 0, 0, 0, 0)
    bfh = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    return bfh + bih + body


def test_bmp_roundtrip_bottom_up_and_top_down():
    from tika_spark.analysis.pixels import decode_bmp
    arr = np.random.default_rng(7).integers(0, 256, size=(5, 3, 3),
                                            dtype=np.uint8)
    assert np.array_equal(decode_bmp(_bmp_bytes(arr)), arr)
    assert np.array_equal(decode_bmp(_bmp_bytes(arr, top_down=True)),
                          arr)


def test_bmp_rejects_compressed():
    from tika_spark.analysis.pixels import decode_bmp
    blob = bytearray(_bmp_bytes(np.zeros((2, 2, 3), dtype=np.uint8)))
    struct.pack_into("<I", blob, 30, 1)   # biCompression = RLE8
    with pytest.raises(ValueError):
        decode_bmp(bytes(blob))
    with pytest.raises(ValueError):
        decode_bmp(b"BMshort")


def test_bmp_through_operator(spark):
    from tika_spark.analysis.pixels import image_pixel_stats
    solid = np.full((4, 6, 3), (1, 128, 255), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, _bmp_bytes(solid), "image/bmp")],
        "id long, payload binary, media_type string")
    (row,) = image_pixel_stats(df).collect()
    assert row["status"] == "ok"
    assert row["mean_micro"] == [1_000_000, 128_000_000, 255_000_000]


# ----------------------------------------------------------- baseline JPEG

def _psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 10 * np.log10(255 ** 2 / mse) if mse else 99.0


def test_jpeg_solid_gray_closed_form():
    from tika_spark.analysis.jpegcodec import (decode_jpeg, jpeg_bytes,
                                               solid_gray_decoded_value)
    for v in (0, 7, 100, 127, 128, 129, 200, 254, 255):
        img = np.full((16, 24, 1), v, np.uint8)
        dec = decode_jpeg(jpeg_bytes(img))
        assert dec.shape == (16, 24, 1)
        assert set(np.unique(dec)) == {solid_gray_decoded_value(v)}


def test_jpeg_roundtrip_psnr():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    yy, xx = np.mgrid[0:40, 0:56]
    gray = ((yy * 3 + xx * 2) % 256).astype(np.uint8)[:, :, None]
    assert _psnr(gray, decode_jpeg(jpeg_bytes(gray, quality=90))) > 28
    rgb = np.stack([(yy * 4) % 256, (xx * 4) % 256,
                    ((yy + xx) * 2) % 256], 2).astype(np.uint8)
    d444 = decode_jpeg(jpeg_bytes(rgb, quality=90, subsample="444"))
    d420 = decode_jpeg(jpeg_bytes(rgb, quality=90, subsample="420"))
    assert d444.shape == rgb.shape and d420.shape == rgb.shape
    assert _psnr(rgb, d444) > 30
    assert _psnr(rgb, d420) > 22
    smooth = (128 + 90 * np.sin(yy / 9.0)
              * np.cos(xx / 11.0)).astype(np.uint8)[:, :, None]
    assert _psnr(smooth, decode_jpeg(jpeg_bytes(smooth, quality=50))) > 32


def test_jpeg_restart_markers_equal_plain():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    yy, xx = np.mgrid[0:24, 0:40]
    rgb = np.stack([(yy * 9) % 256, (xx * 5) % 256,
                    ((yy * xx) % 256)], 2).astype(np.uint8)
    with_rst = jpeg_bytes(rgb, quality=75, restart=2)
    plain = jpeg_bytes(rgb, quality=75)
    assert b"\xff\xdd" in with_rst and b"\xff\xdd" not in plain
    assert np.array_equal(decode_jpeg(with_rst), decode_jpeg(plain))


def test_jpeg_odd_dimensions_and_determinism():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(37, 51, 3), dtype=np.uint8)
    enc = jpeg_bytes(img, quality=85, subsample="420")
    a, b = decode_jpeg(enc), decode_jpeg(enc)
    assert a.shape == (37, 51, 3)
    assert np.array_equal(a, b)


def test_jpeg_rejects_garbage_truncation_lossless():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    good = jpeg_bytes(np.full((8, 8, 1), 90, np.uint8))
    for bad in (b"", b"\x89PNG", b"\xff\xd8\x00\x00", good[:40]):
        with pytest.raises(ValueError):
            decode_jpeg(bad)
    loss = bytearray(good)
    i = loss.find(b"\xff\xc0")
    loss[i + 1] = 0xC3  # SOF3: lossless — still unsupported
    with pytest.raises(ValueError):
        decode_jpeg(bytes(loss))


def test_jpeg_short_segments_raise_value_error():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    good = jpeg_bytes(np.full((8, 8, 3), 90, np.uint8))
    sof = good.find(b"\xff\xc0")
    for seglen in (7, 8 + 3 * 3 - 1):   # short header, short components
        bad = bytearray(good)
        bad[sof + 2:sof + 4] = struct.pack(">H", seglen)
        with pytest.raises(ValueError, match="short SOF"):
            decode_jpeg(bytes(bad))
    # an empty DRI segment right after SOI
    with pytest.raises(ValueError, match="short DRI"):
        decode_jpeg(good[:2] + b"\xff\xdd\x00\x02" + good[2:])
    # an empty SOS segment in place of the real one
    sos = good.find(b"\xff\xda")
    with pytest.raises(ValueError, match="short SOS"):
        decode_jpeg(good[:sos] + b"\xff\xda\x00\x02\xff\xd9")


def test_jpeg_progressive_decodes_identical_to_baseline():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    rng = np.random.default_rng(7)
    for shape, sub in [((17, 9, 1), "444"), ((16, 16, 3), "444"),
                       ((18, 22, 3), "420")]:
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        base = decode_jpeg(jpeg_bytes(arr, quality=60, subsample=sub))
        pb = jpeg_bytes(arr, quality=60, subsample=sub,
                        progressive=True)
        assert b"\xff\xc2" in pb      # really SOF2
        assert np.array_equal(base, decode_jpeg(pb))


def test_jpeg_progressive_eob_runs_and_refinement():
    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    rng = np.random.default_rng(3)
    # sparse impulses → long EOB runs, ZRL-in-refinement, correction
    # bits over multi-block spans
    arr = np.full((48, 64, 1), 128, np.uint8)
    for _ in range(5):
        arr[rng.integers(0, 48), rng.integers(0, 64), 0] = \
            rng.integers(0, 256)
    b = decode_jpeg(jpeg_bytes(arr, quality=30))
    p = decode_jpeg(jpeg_bytes(arr, quality=30, progressive=True))
    assert np.array_equal(b, p)
    # gradients at extreme qualities
    yy, xx = np.mgrid[0:40, 0:56]
    grad = ((yy * 3 + xx * 2) % 256).astype(np.uint8)[:, :, None]
    for q in (5, 95):
        assert np.array_equal(
            decode_jpeg(jpeg_bytes(grad, quality=q)),
            decode_jpeg(jpeg_bytes(grad, quality=q,
                                   progressive=True)))


def test_jpeg_progressive_solid_gray_closed_form():
    from tika_spark.analysis.jpegcodec import (
        decode_jpeg, jpeg_bytes, solid_gray_decoded_value)
    for v in (0, 7, 90, 128, 200, 255):
        img = decode_jpeg(jpeg_bytes(np.full((24, 40, 1), v, np.uint8),
                                     quality=50, progressive=True))
        assert img.min() == img.max() == solid_gray_decoded_value(v)


def test_jpeg_through_operator(spark):
    from tika_spark.analysis.jpegcodec import jpeg_bytes
    from tika_spark.analysis.pixels import image_pixel_stats
    solid = np.full((8, 16, 1), 200, np.uint8)
    df = spark.createDataFrame(
        [(1, jpeg_bytes(solid), "image/jpeg")],
        "id long, payload binary, media_type string")
    (row,) = image_pixel_stats(df).collect()
    assert row["status"] == "ok"
    assert row["n_channels"] == 1
    # 200 → dc=576, qdc=36, rec=576, pixel = 576/8+128 = 200 exactly
    assert row["mean_micro"] == [200_000_000]


# ------------------------------------------------------------------ TIFF

def test_tiff_roundtrip_matrix():
    from tika_spark.analysis.pixels import decode_tiff, tiff_bytes
    rng = np.random.default_rng(5)
    for shape in ((7, 9, 1), (12, 5, 3)):
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for comp in (1, 5, 32773):          # none / LZW / PackBits
            for bo in ("<", ">"):
                for rps in (None, 4):
                    got = decode_tiff(tiff_bytes(
                        arr, compression=comp, byte_order=bo,
                        rows_per_strip=rps))
                    assert np.array_equal(got, arr), (shape, comp,
                                                      bo, rps)
        got = decode_tiff(tiff_bytes(arr, compression=5, predictor=2,
                                     rows_per_strip=6))
        assert np.array_equal(got, arr)


def test_tiff_rejects_garbage():
    from tika_spark.analysis.pixels import decode_tiff, tiff_bytes
    for bad in (b"", b"II\x2a\x00", b"MM\x00\x2b\x00\x00\x00\x08",
                b"\x89PNG"):
        with pytest.raises(ValueError):
            decode_tiff(bad)
    # truncated strip data
    good = tiff_bytes(np.full((6, 6, 3), 9, np.uint8))
    with pytest.raises(ValueError):
        decode_tiff(good[:20])


def test_tiff_through_operator(spark):
    from tika_spark.analysis.pixels import (image_pixel_stats,
                                            tiff_bytes)
    solid = np.full((4, 6, 3), (1, 128, 255), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, tiff_bytes(solid, compression=5, predictor=2),
          "image/tiff")],
        "id long, payload binary, media_type string")
    (row,) = image_pixel_stats(df).collect()
    assert row["status"] == "ok"
    assert row["mean_micro"] == [1_000_000, 128_000_000, 255_000_000]


# -------------------------------------------------------- G.711 WAV --

def test_g711_known_values_and_symmetry():
    from tika_spark.analysis.pcm import _alaw_table, _ulaw_table
    u, a = _ulaw_table(), _alaw_table()
    # classic anchors: μ-law 0xFF/0x7F are ±0 and 0x00/0x80 the
    # ∓32124 extremes; A-law 0xD5 is the +8 near-silence, 0xAA the
    # +32256 max
    assert u[0xFF] == 0 and u[0x7F] == 0
    assert u[0x00] == -32124 and u[0x80] == 32124
    assert a[0xD5] == 8 and a[0xAA] == 32256
    # sign bit in the raw code flips the sign exactly
    for t in (u, a):
        for c in range(256):
            assert t[c ^ 0x80] == -t[c]


def test_g711_wav_decode_roundtrip():
    import numpy as np

    from tika_spark.analysis.pcm import (_alaw_table, _ulaw_table,
                                         decode_wav, wav_bytes_g711)
    codes = np.arange(256, dtype=np.uint8)
    for law, table in (("ulaw", _ulaw_table()), ("alaw", _alaw_table())):
        arr, rate = decode_wav(wav_bytes_g711(codes, 8000, law=law))
        assert rate == 8000 and arr.shape == (256, 1)
        assert np.array_equal(arr[:, 0], table[codes])
    # stereo interleave preserved
    arr2, _ = decode_wav(wav_bytes_g711(codes[:8], 8000, law="ulaw",
                                        channels=2))
    assert arr2.shape == (4, 2)


def test_g711_through_operator(spark):
    import numpy as np

    from tika_spark.analysis.pcm import (audio_pcm_stats,
                                         wav_bytes_g711)
    codes = np.full(800, 0xFF, dtype=np.uint8)  # μ-law digital zero
    df = spark.createDataFrame(
        [(1, wav_bytes_g711(codes, 8000), "audio/wav")],
        "id long, payload binary, media_type string")
    (row,) = audio_pcm_stats(df).collect()
    assert row["status"] == "ok"
    assert row["rms_micro"] == 0 and row["peak_micro"] == 0
    assert row["duration_ms"] == 100


def test_decompression_bomb_guard():
    """A crafted huge-dimension header must be rejected BEFORE any
    canvas allocation, in every decoder (MAX_PIXELS product cap)."""
    import struct as st

    from tika_spark.analysis.jpegcodec import decode_jpeg, jpeg_bytes
    from tika_spark.analysis.pixels import (MAX_PIXELS, decode_bmp,
                                            decode_png, decode_tiff,
                                            gif_frames, png_bytes,
                                            tiff_bytes)
    assert 16384 * 16384 * 16 > MAX_PIXELS

    # PNG: patch IHDR dims
    png = bytearray(png_bytes(np.zeros((2, 2, 3), np.uint8)))
    st.pack_into(">II", png, 16, 60000, 60000)
    with pytest.raises(ValueError, match="too large|bad dim|CRC|IDAT"):
        decode_png(bytes(png))

    # JPEG: patch SOF dims
    jpg = bytearray(jpeg_bytes(np.zeros((8, 8, 1), np.uint8)))
    i = jpg.find(b"\xff\xc0")
    st.pack_into(">HH", jpg, i + 5, 60000, 60000)
    with pytest.raises(ValueError, match="too large"):
        decode_jpeg(bytes(jpg))

    # TIFF: patch width/height tags via writer on small data then tags
    tif = tiff_bytes(np.zeros((2, 2, 3), np.uint8))
    big = tif.replace(st.pack("<HHIHH", 256, 3, 1, 2, 0),
                      st.pack("<HHIHH", 256, 3, 1, 60000, 0)) \
             .replace(st.pack("<HHIHH", 257, 3, 1, 2, 0),
                      st.pack("<HHIHH", 257, 3, 1, 60000, 0))
    with pytest.raises(ValueError):
        decode_tiff(big)

    # BMP: patch header dims
    bmp = bytearray(b"BM" + b"\x00" * 60)
    st.pack_into("<I", bmp, 10, 54)
    st.pack_into("<Iii", bmp, 14, 40, 60000, 60000)
    st.pack_into("<HHI", bmp, 26, 1, 24, 0)
    with pytest.raises(ValueError):
        decode_bmp(bytes(bmp))

    # GIF: huge logical screen
    gif = bytearray(b"GIF89a" + st.pack("<HHBB", 60000, 60000, 0, 0)
                    + b"\x00" + b"\x3b")
    with pytest.raises(ValueError):
        gif_frames(bytes(gif))


# ------------------------------------------------------------------- ICO

def test_ico_roundtrip_dib_and_png():
    from tika_spark.analysis.pixels import decode_ico, ico_bytes
    rgb = np.random.default_rng(9).integers(0, 256, (7, 5, 3),
                                            np.uint8)
    out = decode_ico(ico_bytes(rgb))            # 32-bit DIB + mask
    assert out.shape == (7, 5, 4)
    assert np.array_equal(out[:, :, :3], rgb)
    assert np.all(out[:, :, 3] == 255)
    out2 = decode_ico(ico_bytes(rgb, as_png=True))  # embedded PNG
    assert np.array_equal(out2[:, :, :3], rgb)
    rgba = np.dstack([rgb, np.full((7, 5), 7, np.uint8)])
    assert np.array_equal(decode_ico(ico_bytes(rgba)), rgba)


def test_ico_rejects_garbage():
    from tika_spark.analysis.pixels import decode_ico
    for bad in (b"", b"\x00\x00\x01\x00", b"\x00\x00\x03\x00\x01\x00",
                b"\x89PNG"):
        with pytest.raises(ValueError):
            decode_ico(bad)


def test_ico_through_operator(spark):
    from tika_spark.analysis.pixels import (ico_bytes,
                                            image_pixel_stats)
    solid = np.full((4, 6, 3), (9, 90, 200), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, ico_bytes(solid), "image/x-icon")],
        "id long, payload binary, media_type string")
    (row,) = image_pixel_stats(df).collect()
    assert row["status"] == "ok" and row["n_channels"] == 4
    assert row["mean_micro"] == [9_000_000, 90_000_000, 200_000_000,
                                 255_000_000]


def test_tiff_palette_photometric():
    """Photometric 3 (palette): 16-bit ColorMap scaled to 8-bit,
    hand-built fixture (the writer only emits gray/RGB)."""
    import struct as st

    from tika_spark.analysis.pixels import decode_tiff
    w = h = 2
    idx = bytes([0, 1, 2, 3])
    cmap = []
    pal8 = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (250, 0, 128)]
    for c in range(3):                       # plane-major R*256,G,B
        vals = [pal8[i][c] << 8 for i in range(4)] + [0] * 252
        cmap.extend(vals)
    entries = []
    data_off = 8
    cmap_off = None

    def entry(tag, typ, cnt, value_or_off):
        entries.append(st.pack("<HHI", tag, typ, cnt)
                       + st.pack("<I", value_or_off))

    # layout: header | idx(4) | cmap(1536) | IFD
    cmap_off = data_off + len(idx)
    ifd_off = cmap_off + 2 * len(cmap)
    entry(256, 3, 1, w)
    entry(257, 3, 1, h)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, 1)
    entry(262, 3, 1, 3)                      # palette
    entry(273, 4, 1, data_off)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, h)
    entry(279, 4, 1, len(idx))
    entry(320, 3, len(cmap), cmap_off)
    blob = (st.pack("<2sHI", b"II", 42, ifd_off) + idx
            + st.pack("<768H", *cmap)
            + st.pack("<H", len(entries)) + b"".join(entries)
            + st.pack("<I", 0))
    got = decode_tiff(blob)
    assert got.shape == (2, 2, 3)
    want = np.array(pal8, np.uint8).reshape(2, 2, 3)
    assert np.array_equal(got, want)


def test_ico_8bit_palette_entry():
    """8-bit ICO DIB: BGRA palette + index XOR block + AND mask."""
    import struct as st

    from tika_spark.analysis.pixels import decode_ico
    w = h = 2
    pal = [(1, 2, 3, 0), (200, 100, 50, 0)]   # BGRA
    idx_rows = [bytes([0, 1]) + b"\x00\x00",  # stride padded to 4
                bytes([1, 0]) + b"\x00\x00"]
    hdr = st.pack("<IiiHHIIiiII", 40, w, h * 2, 1, 8, 0, 0, 0, 0,
                  2, 0)
    dib = (hdr + b"".join(bytes(p) for p in pal)
           + idx_rows[1] + idx_rows[0]        # bottom-up
           + b"\x00" * 8)                     # AND mask: opaque
    entry = st.pack("<BBBBHHII", w, h, 2, 0, 1, 8, len(dib), 22)
    blob = b"\x00\x00\x01\x00\x01\x00" + entry + dib
    got = decode_ico(blob)
    assert got.shape == (2, 2, 4)
    # palette is BGR: entry 0 -> RGB (3,2,1), entry 1 -> (50,100,200)
    assert tuple(got[0, 0, :3]) == (3, 2, 1)
    assert tuple(got[0, 1, :3]) == (50, 100, 200)
    assert tuple(got[1, 0, :3]) == (50, 100, 200)
    assert np.all(got[:, :, 3] == 255)


def test_audio_features_operator(spark):
    import numpy as np

    from tika_spark.analysis.pcm import audio_features, wav_bytes

    def sine(k, n=2048, amp=12000):
        half = np.rint(amp * np.sin(
            2 * np.pi * k * (np.arange(n // 2) + 0.5) / n))
        x = np.empty(n, dtype=np.int16)
        x[:n // 2] = half
        x[n // 2:] = -half[::-1]
        return x

    rows = [(1, wav_bytes(sine(5), 16000), "audio/wav"),
            (2, wav_bytes(sine(41), 16000), "audio/wav"),
            (3, wav_bytes(np.full(100, 7, np.int16), 8000),
             "audio/wav"),                    # DC offset, no crossings
            (4, b"corrupt", "audio/flac"),
            (5, b"\x00", "audio/opus")]
    df = spark.createDataFrame(
        rows, "id long, payload binary, media_type string")
    got = {r.id: r for r in audio_features(df).collect()}
    assert got[1].status == "ok"
    assert got[1].zero_crossings == 9 and got[1].peak_bin == 5
    assert got[1].peak_hz == 5 * 16000 // 2048
    assert got[1].sum_amp == 0
    assert got[2].zero_crossings == 81 and got[2].peak_bin == 41
    assert got[3].zero_crossings == 0 and got[3].peak_bin == 0
    assert got[3].sum_amp == 700
    assert got[4].status == "error"
    assert got[5].status == "unsupported"


class TestNetpbm:
    def test_all_six_variants(self):
        import numpy as np
        from tika_spark.analysis.pixels import decode_pnm
        a1 = decode_pnm(b"P1\n2 2\n0 1\n1 0\n")
        assert a1[:, :, 0].tolist() == [[255, 0], [0, 255]]
        a2 = decode_pnm(b"P2 2 1 255\n0 255\n")
        assert a2[0, :, 0].tolist() == [0, 255]
        a3 = decode_pnm(b"P3 1 1 255\n1 2 3\n")
        assert a3[0, 0].tolist() == [1, 2, 3]
        a4 = decode_pnm(b"P4 4 1\n" + bytes([0b10100000]))
        assert a4[0, :, 0].tolist() == [0, 255, 0, 255]
        a5 = decode_pnm(b"P5 2 1 255\n" + bytes([7, 250]))
        assert a5[0, :, 0].tolist() == [7, 250]
        a6 = decode_pnm(b"P6 1 1 255\n" + bytes([9, 8, 7]))
        assert a6[0, 0].tolist() == [9, 8, 7]

    def test_maxval_scaling_and_comments(self):
        from tika_spark.analysis.pixels import decode_pnm
        g = decode_pnm(b"P2\n# comment\n1 1\n# more\n15\n15\n")
        assert g[0, 0, 0] == 255
        wide = decode_pnm(b"P5 1 1 65535\n" + bytes([0x80, 0x00]))
        assert wide[0, 0, 0] == 255 * 0x8000 // 65535

    def test_rejects_garbage(self):
        import pytest as _p
        from tika_spark.analysis.pixels import decode_pnm
        with _p.raises(ValueError):
            decode_pnm(b"PX 1 1\n")
        with _p.raises(ValueError):
            decode_pnm(b"P2 0 0 255\n")
