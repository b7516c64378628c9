"""Unit tests for the stdlib image-header decoder
(operators/multimodal.py::decode_image) and its make_* synthesizers —
the honest half of the multimodal path (no imaging library involved)."""

from __future__ import annotations

import struct

import pytest

from datapipeline_scraping_spark.operators.multimodal import (
    decode_image,
    make_gif,
    make_jpeg,
    make_png,
)


@pytest.mark.parametrize("w,h", [(1, 1), (640, 480), (65535, 65535), (13, 7)])
def test_roundtrip_all_formats(w, h):
    assert decode_image(make_png(w, h)) == {"format": "png", "width": w, "height": h}
    assert decode_image(make_jpeg(w, h)) == {"format": "jpeg", "width": w, "height": h}
    assert decode_image(make_gif(w, h)) == {"format": "gif", "width": w, "height": h}


def test_png_width_beyond_u16():
    # PNG dims are u32 — a 100k-pixel-wide image must survive
    assert decode_image(make_png(100_000, 3)) == {
        "format": "png", "width": 100_000, "height": 3,
    }


def test_jpeg_skips_leading_segments_to_sof():
    # realistic stream: SOI, APP0 (JFIF), DQT, then SOF0 — the parser
    # must walk the length-prefixed segments, not assume SOF first
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 99, 123, 1) + b"\x01\x11\x00"
    blob = b"\xff\xd8" + app0 + dqt + sof0
    assert decode_image(blob) == {"format": "jpeg", "width": 123, "height": 99}


def test_jpeg_progressive_sof2():
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 50, 60, 1) + b"\x01\x11\x00"
    assert decode_image(b"\xff\xd8" + sof2) == {
        "format": "jpeg", "width": 60, "height": 50,
    }


def test_jpeg_dht_is_not_a_frame_header():
    # DHT (C4) sits inside the C0-CF block but carries no dimensions —
    # the parser must skip it and find the real SOF after
    dht = b"\xff\xc4" + struct.pack(">H", 5) + b"\x00" * 3
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 10, 20, 1) + b"\x01\x11\x00"
    assert decode_image(b"\xff\xd8" + dht + sof0) == {
        "format": "jpeg", "width": 20, "height": 10,
    }


def test_non_images_return_none():
    assert decode_image(b"") is None
    assert decode_image(b"plain text payload, definitely not an image") is None
    assert decode_image(b"\x89PNG\r\n\x1a\x00garbage") is None  # bad signature
    assert decode_image(b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDX") is None  # no IHDR
    assert decode_image(b"\xff\xd8\xff") is None  # truncated JPEG, no SOF
    assert decode_image(b"\xff\xd8\xff\xe0\x00\x01") is None  # seg_len < 2
    assert decode_image(b"GIF89a") is None  # truncated GIF descriptor
    assert decode_image(b"GIF85a\x01\x00\x01\x00") is None  # unknown version


def test_jpeg_corrupt_marker_stream_returns_none():
    # a non-FF byte where a marker must be means a corrupt stream
    assert decode_image(b"\xff\xd8\xff\xe0\x00\x04\x00\x00" + b"ZZ\x00\x00") is None


def test_extract_media_meta_mixes_real_and_fake(spark):
    # real image blobs decode honestly; text blobs fall back to the
    # documented byte-length arithmetic — in one Arrow batch
    from datapipeline_scraping_spark.operators.multimodal import extract_media_meta

    rows = [
        (1, make_png(320, 200)),
        (2, make_jpeg(64, 48)),
        (3, b"just some text bytes"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {r["doc_id"]: r for r in extract_media_meta(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (320, 200)
    assert (got[2]["width"], got[2]["height"]) == (64, 48)
    n = len(b"just some text bytes")
    assert (got[3]["width"], got[3]["height"]) == (n % 640, (n * 7) % 480)
    assert got[3]["n_bytes"] == n
    # a NULL blob has NULL metadata, as SQL length(NULL) is NULL
    assert (got[4]["n_bytes"], got[4]["width"], got[4]["height"]) == (
        None,
        None,
        None,
    )


def test_features_and_frames_propagate_null_blobs(spark):
    # SQL NULL propagation in the remaining blob seams: a NULL payload
    # yields NULL features and no frames, next to non-NULL rows of the
    # same batch (it used to raise a worker TypeError)
    import hashlib

    from datapipeline_scraping_spark.operators.multimodal import (
        extract_features,
        sample_frames,
    )

    blob = b"0123456789ab"
    df = spark.createDataFrame(
        [(1, blob), (2, None), (3, b"")], "doc_id long, blob binary"
    ).coalesce(1)
    feats = {r["doc_id"]: r["features"] for r in extract_features(df, dim=4).collect()}
    assert set(feats) == {1, 2, 3} and feats[2] is None
    c = hashlib.md5(blob).hexdigest()
    assert feats[1] == [
        (int(hashlib.md5(f"{c}:{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for d in range(4)
    ]
    frames = sample_frames(df).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_offset"])
    # 12 bytes -> 12 % 5 + 1 = 3 frames strided by 4; b"" -> 1 frame
    assert per_doc == {1: [0, 4, 8], 3: [0]}
