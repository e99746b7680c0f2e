"""Multimodal decode boundary (VERDICT r01 item 5): the stub/real
seam is TESTED, not assumed.

A minimal-but-fully-valid PNG is hand-crafted with stdlib zlib (no
imaging library needed to construct one — signature, IHDR, IDAT with
correct CRCs, IEND), then:

* `sniff_header` / `sniff_media` read real dimensions from the real
  bytes with zero codec dependencies (runs everywhere);
* `decode_media(real=True)` decodes through Pillow when importable
  (skipped, not silently absent, in codec-free containers);
* without Pillow the real path raises `NotImplementedError` eagerly.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from pyspark.sql import functions as F


def make_png(width: int = 3, height: int = 2) -> bytes:
    """Hand-assemble a valid 8-bit RGB PNG (public PNG spec layout)."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        raw = ctype + data
        return struct.pack(">I", len(data)) + raw + struct.pack(
            ">I", zlib.crc32(raw) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    # each scanline: filter byte 0 + RGB triples
    scanlines = b"".join(
        b"\x00" + bytes(3 * width) for _ in range(height)
    )
    idat = zlib.compress(scanlines)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _pillow_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_sniff_header_reads_real_png_dimensions():
    from elb_log_etl_enrichment_spark.operators.multimodal import sniff_header

    assert sniff_header(make_png(3, 2)) == ("png", 3, 2)
    assert sniff_header(make_png(640, 480)) == ("png", 640, 480)
    assert sniff_header(b"not an image") is None


def test_sniff_media_dataframe_path(spark):
    from elb_log_etl_enrichment_spark.operators.multimodal import sniff_media

    rows = [(1, make_png(3, 2)), (2, make_png(16, 9)), (3, b"garbage")]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in sniff_media(media).collect()}
    assert (out[1]["media_format"], out[1]["width"], out[1]["height"]) == ("png", 3, 2)
    assert (out[2]["width"], out[2]["height"]) == (16, 9)
    assert out[3]["media_format"] is None
    assert out[3]["n_bytes"] == len(b"garbage")


@pytest.mark.skipif(not _pillow_available(), reason="Pillow not installed")
def test_decode_media_real_with_pillow(spark):
    """The real-codec path, exercised whenever Pillow exists: the
    hand-crafted PNG must round-trip to the same dimensions the
    header sniff reports."""
    from elb_log_etl_enrichment_spark.operators.multimodal import decode_media

    media = spark.createDataFrame(
        [(1, make_png(3, 2))], "media_id long, payload binary"
    )
    row = decode_media(media, real=True).collect()[0]
    assert (row["media_format"], row["width"], row["height"]) == ("png", 3, 2)


@pytest.mark.skipif(_pillow_available(), reason="Pillow installed")
def test_decode_media_real_without_pillow_raises(spark):
    """Honest boundary: real=True without the codec fails eagerly at
    plan construction (driver-side probe), not deep inside an executor
    batch."""
    from elb_log_etl_enrichment_spark.operators.multimodal import decode_media

    media = spark.createDataFrame(
        [(1, make_png(3, 2))], "media_id long, payload binary"
    )
    with pytest.raises(NotImplementedError):
        decode_media(media, real=True)


def test_png_codec_roundtrip_all_color_types_and_filters():
    """Encoder→decoder identity for gray/RGB/RGBA across both filter
    modes, including non-square shapes; every one of the five inverse
    filters is exercised by the cycling mode."""
    import random

    from elb_log_etl_enrichment_spark.operators.png_codec import (
        decode_png,
        encode_png,
    )

    rng = random.Random(7)
    for ct, ch in ((0, 1), (2, 3), (6, 4)):
        for mode in ("none", "cycle"):
            for (w, h) in ((1, 1), (16, 16), (7, 11)):
                px = [
                    [[rng.randrange(256) for _ in range(ch)] for _ in range(w)]
                    for _ in range(h)
                ]
                got_w, got_h, got_ch, rows = decode_png(
                    encode_png(px, color_type=ct, filter_mode=mode)
                )
                assert (got_w, got_h, got_ch) == (w, h, ch)
                assert [b for r in rows for b in r] == [
                    v for row in px for p in row for v in p
                ]


def test_png_codec_rejects_unsupported_layouts():
    import struct
    import zlib

    import pytest

    from elb_log_etl_enrichment_spark.operators.png_codec import (
        _chunk,
        _SIG,
        decode_png,
    )

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a")
    # 16-bit depth is outside the subset: loud, never wrong
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    bad = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" + bytes(6)))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(bad)


def test_png_codec_matches_pillow_when_available():
    import io

    import pytest

    Image = pytest.importorskip("PIL.Image")

    from elb_log_etl_enrichment_spark.operators.png_codec import encode_png

    px = [
        [[(r * 16 + c) % 256, (r * 7) % 256, (c * 11) % 256] for c in range(16)]
        for r in range(16)
    ]
    im = Image.open(io.BytesIO(encode_png(px, 2, "cycle")))
    assert im.size == (16, 16)
    assert list(im.getdata()) == [tuple(p) for row in px for p in row]


def test_synthetic_png_roundtrip_stats_formula(spark):
    """Decoded-pixel means must equal the generation formula's means —
    computed here independently in Python."""
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_png_roundtrip_stats,
    )

    ids = spark.createDataFrame([Row(media_id=123)])
    row = synthetic_png_roundtrip_stats(ids, side=16).collect()[0]
    for k, col in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
        expect = (
            sum(
                (123 * 31 + r * 17 + c * 13 + k * 7) % 256
                for r in range(16)
                for c in range(16)
            )
            / 256
        )
        assert getattr(row, col) == expect, col
    assert (row.width, row.height) == (16, 16)


def test_wav_codec_roundtrip_and_rejects():
    import pytest

    from elb_log_etl_enrichment_spark.operators.wav_codec import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 1, -1, 32767, -32768, 12345, -9876] * 3
    sr, ch, got = decode_wav(encode_wav(samples, sample_rate=8000))
    assert (sr, ch) == (8000, 1)
    assert got == samples
    # stereo interleave survives
    sr, ch, got = decode_wav(encode_wav(samples[:6], 44100, channels=2))
    assert (sr, ch) == (44100, 2)
    assert got == samples[:6]
    with pytest.raises(ValueError, match="not a RIFF"):
        decode_wav(b"OggS")
    # ADVICE r04: truncated fmt chunk must raise the documented
    # ValueError ("loud, never wrong"), not leak struct.error.
    import struct as _struct

    short_fmt = (
        b"RIFF" + _struct.pack("<I", 16) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 8) + bytes(8)
    )
    with pytest.raises(ValueError, match="truncated fmt chunk"):
        decode_wav(short_fmt)
    # code-review r05: a data chunk whose declared length overruns the
    # buffer (cut-off transfer) must raise, not silently decode the
    # short slice; odd data length must raise ValueError, not leak
    # struct.error
    good = encode_wav([1, -2, 3], sample_rate=8000)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(good[:-2])
    odd = (
        b"RIFF" + _struct.pack("<I", 33) + b"WAVE"
        + b"fmt " + _struct.pack("<I", 16)
        + _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        + b"data" + _struct.pack("<I", 5) + bytes(5)
    )
    with pytest.raises(ValueError, match="odd data chunk"):
        decode_wav(odd)


def test_synthetic_wav_roundtrip_stats_formula(spark):
    import math

    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_wav_roundtrip_stats,
    )

    ids = spark.createDataFrame([Row(media_id=77)])
    row = synthetic_wav_roundtrip_stats(ids).collect()[0]
    samples = [((77 * 37 + i * 73) % 2048) - 1024 for i in range(1024)]
    assert row.mean_amp == sum(samples) / 1024
    assert row.rms == math.sqrt(sum(v * v for v in samples) / 1024)
    assert row.zero_crossings == sum(
        1 for a, b in zip(samples, samples[1:]) if a * b < 0
    )


def test_y4m_codec_roundtrip_and_rejects():
    import pytest

    from elb_log_etl_enrichment_spark.operators.y4m_codec import (
        decode_y4m,
        encode_y4m,
    )

    frames = [
        (bytes(range(16)), bytes(16), bytes([255] * 16)),
        (bytes([7] * 16), bytes(range(240, 256)), bytes(16)),
    ]
    w, h, got = decode_y4m(encode_y4m(frames, 4, 4))
    assert (w, h) == (4, 4)
    assert got == frames
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        decode_y4m(b"RIFF....WAVE")
    with pytest.raises(ValueError, match="unsupported chroma"):
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C420jpeg\nFRAME\n" + bytes(24))
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C444\nFRAME\n" + bytes(10))


def test_synthetic_y4m_frame_sample_stats_formula(spark):
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_y4m_frame_sample_stats,
    )

    ids = spark.createDataFrame([Row(media_id=42)])
    row = synthetic_y4m_frame_sample_stats(ids).collect()[0]
    ys = [
        (42 * 11 + f * 29 + r * 17 + c * 13) % 256
        for f in range(0, 8, 2)
        for r in range(16)
        for c in range(16)
    ]
    assert (row.n_frames, row.n_sampled) == (8, 4)
    assert row.mean_y == sum(ys) / len(ys)
    assert row.mean_u == sum((y + 85) % 256 for y in ys) / len(ys)
    assert row.mean_v == sum((y + 170) % 256 for y in ys) / len(ys)


def test_synthetic_png_resize_stats_formula(spark):
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_png_resize_stats,
    )

    ids = spark.createDataFrame([Row(media_id=93)])
    row = synthetic_png_resize_stats(ids, side=16, factor=2).collect()[0]
    assert (row.src_side, row.out_width, row.out_height) == (16, 8, 8)
    for k, col in enumerate(("mean_r", "mean_g", "mean_b")):
        blocks = [
            sum(
                (93 * 31 + (2 * r + dr) * 17 + (2 * c + dc) * 13 + k * 7)
                % 256
                for dr in (0, 1)
                for dc in (0, 1)
            )
            // 4
            for r in range(8)
            for c in range(8)
        ]
        assert getattr(row, col) == sum(blocks) / 64, col


def test_synthetic_wav_frame_features_formula(spark):
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_wav_frame_features,
    )

    ids = spark.createDataFrame([Row(media_id=51)])
    row = synthetic_wav_frame_features(ids).collect()[0]
    samples = [
        ((51 * 37 + i * 5 + (i * i * 31) % 997) % 2048) - 1024
        for i in range(2048)
    ]
    frames = [samples[f * 256 : (f + 1) * 256] for f in range(8)]
    energies = [sum(v * v for v in fr) for fr in frames]
    zcs = [
        sum(1 for a, b in zip(fr, fr[1:]) if a * b < 0) for fr in frames
    ]
    assert row.n_frames == 8
    assert row.peak_frame == energies.index(max(energies))
    assert row.peak_energy == max(energies)
    assert row.total_energy == sum(energies)
    assert row.total_zero_crossings == sum(zcs)


def test_synthetic_y4m_motion_stats_formula(spark):
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_y4m_motion_stats,
    )

    ids = spark.createDataFrame([Row(media_id=64)])
    row = synthetic_y4m_motion_stats(ids).collect()[0]
    planes = [
        [
            (64 * 11 + f * f * 29 + r * 17 + c * 13) % 256
            for r in range(16)
            for c in range(16)
        ]
        for f in range(8)
    ]
    sads = [
        sum(abs(a - b) for a, b in zip(planes[f], planes[f - 1]))
        for f in range(1, 8)
    ]
    assert row.n_frames == 8
    assert row.total_sad == sum(sads)
    assert row.peak_transition == sads.index(max(sads)) + 1
    assert row.peak_sad == max(sads)


def test_multimodal_degenerate_params_fail_at_plan_time(spark):
    """Code-review r05: n_frames=1 motion / frame_len > n_samples used
    to raise ValueError from max() INSIDE mapInPandas, failing the
    whole job at run time with an opaque executor traceback."""
    import pytest
    from pyspark.sql import Row

    from elb_log_etl_enrichment_spark.operators.multimodal import (
        synthetic_wav_frame_features,
        synthetic_y4m_motion_stats,
    )

    ids = spark.createDataFrame([Row(media_id=1)])
    with pytest.raises(ValueError, match="no full frame"):
        synthetic_wav_frame_features(ids, n_samples=128, frame_len=256)
    with pytest.raises(ValueError, match="at least 2 frames"):
        synthetic_y4m_motion_stats(ids, n_frames=1)


def test_jpeg_sniff_handles_fill_bytes_and_standalone_markers():
    """Code-review r05: legal 0xFF fill bytes before a marker desynced
    the JPEG segment walk (None or garbage dims for valid files)."""
    from elb_log_etl_enrichment_spark.operators.multimodal import sniff_header

    def seg(marker, body=b""):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    sof = seg(0xC0, b"\x08" + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + b"\x03")
    # SOI + APP0 + fill bytes + SOF
    jpg = b"\xff\xd8" + seg(0xE0, b"JFIF\x00") + b"\xff\xff\xff" + sof
    assert sniff_header(jpg) == ("jpeg", 640, 480)
    # standalone TEM marker (no length field) before the SOF
    jpg2 = b"\xff\xd8" + b"\xff\x01" + sof
    assert sniff_header(jpg2) == ("jpeg", 640, 480)
    # EOI before any SOF: clean None, no garbage walk
    assert sniff_header(b"\xff\xd8\xff\xd9" + sof) is None
