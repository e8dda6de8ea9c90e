"""Dependency-free BMP/PPM codec: the byte-layout details that make image
decode nontrivial (BGR channel order, bottom-up rows, 4-byte row padding,
PPM header grammar) each get a hand-built fixture, plus an encode→decode
roundtrip property sweep and the q71 closed-form-oracle identity."""

from __future__ import annotations

import random
import struct

import pytest

from discogs_load_spark.operators.multimodal import (
    decode_image,
    decode_image_stats,
    encode_bmp,
    render_procedural_bmp,
)


def test_bmp_roundtrip_exact_across_padding_widths():
    rng = random.Random(7)
    for w, h in [(1, 1), (2, 3), (3, 2), (4, 4), (5, 3), (18, 7), (16, 12)]:
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        got_w, got_h, got = decode_image(encode_bmp(w, h, rgb))
        assert (got_w, got_h) == (w, h)
        assert got == rgb, f"roundtrip mismatch at {w}x{h}"


def test_bmp_layout_is_bottom_up_bgr_padded():
    # 2x2 image, distinct channel values per pixel: check the FILE bytes,
    # not just the roundtrip (a decoder inverting the encoder's own bug
    # would pass a roundtrip test)
    rgb = bytes(
        [
            10, 20, 30,    # (0,0) top-left      R G B
            40, 50, 60,    # (1,0) top-right
            70, 80, 90,    # (0,1) bottom-left
            100, 110, 120, # (1,1) bottom-right
        ]
    )
    payload = encode_bmp(2, 2, rgb)
    offset = struct.unpack_from("<I", payload, 10)[0]
    stride = (2 * 3 + 3) & ~3  # 8: two pad bytes per row
    # first stored row is the BOTTOM image row, BGR order
    row0 = payload[offset : offset + stride]
    assert row0 == bytes([90, 80, 70, 120, 110, 100, 0, 0])
    row1 = payload[offset + stride : offset + 2 * stride]
    assert row1 == bytes([30, 20, 10, 60, 50, 40, 0, 0])


def test_bmp_negative_height_top_down():
    rgb = bytes(range(2 * 2 * 3))
    payload = bytearray(encode_bmp(2, 2, rgb))
    # flip to top-down: negate height, reorder rows manually
    struct.pack_into("<i", payload, 14 + 8, -2)
    offset = struct.unpack_from("<I", payload, 10)[0]
    stride = 8
    r0 = bytes(payload[offset : offset + stride])
    r1 = bytes(payload[offset + stride : offset + 2 * stride])
    payload[offset : offset + stride] = r1
    payload[offset + stride : offset + 2 * stride] = r0
    assert decode_image(bytes(payload)) == (2, 2, rgb)


def test_ppm_p6_with_comments_and_whitespace():
    rgb = bytes(range(3 * 2 * 3))
    header = b"P6\n# a comment\n3 # trailing comment\n\t2\n255\n"
    assert decode_image(header + rgb) == (3, 2, rgb)


def test_rejects_unsupported_payloads():
    for bad in [
        b"",
        b"\xff\xd8fakejpeg",
        b"P5\n2 2\n255\n" + bytes(4),          # greyscale PGM
        b"P6\n2 2\n65535\n" + bytes(24),        # 16-bit maxval
        encode_bmp(2, 2, bytes(12))[:20],       # truncated
    ]:
        with pytest.raises(ValueError):
            decode_image(bad)
    # 8-bpp BMP header
    payload = bytearray(encode_bmp(2, 2, bytes(12)))
    struct.pack_into("<H", payload, 14 + 14, 8)
    with pytest.raises(ValueError):
        decode_image(bytes(payload))


def _expected_sums(doc_id: int, w: int, h: int) -> tuple[int, int, int]:
    vals = [(doc_id * 31 + k) % 256 for k in range(w * h * 3)]
    return sum(vals[0::3]), sum(vals[1::3]), sum(vals[2::3])


def test_render_decode_stats_match_closed_form(spark):
    ids = spark.createDataFrame([(i,) for i in (1, 4, 7, 1000)], "doc_id long")
    stats = decode_image_stats(render_procedural_bmp(ids, 18, 7))
    for r in stats.collect():
        want = _expected_sums(r["doc_id"], 18, 7)
        assert (r["width"], r["height"]) == (18, 7)
        assert (r["r_sum"], r["g_sum"], r["b_sum"]) == want
