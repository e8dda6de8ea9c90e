"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Spark-side design for image/audio/video at 100 TB:

- payloads are opaque ``binary`` columns (or object-store URIs for > ~1 MB
  blobs, keeping parquet row groups scannable);
- typed metadata (modality, byte length, checksum) travels alongside so
  filters/partition pruning never touch the bytes;
- render / decode / hash / frame-sample run as Arrow-batched
  ``mapInPandas`` stages — per-batch Python, schema declared up front,
  partition-parallel.

Codecs: :func:`decode_image` is a REAL dependency-free decoder for the two
uncompressed formats whose byte layout is pure public spec — BMP
(24-bit BI_RGB: BGR channel order, bottom-up rows, 4-byte row padding) and
PPM (P6 binary, whitespace/comment header grammar). :func:`encode_bmp` is
the matching writer. Compressed formats (JPEG/PNG/audio/video) need
PIL/ffmpeg, which the package does not depend on: the decode stages
(:func:`decode_image_stats`, :func:`image_ahash`) drop payloads that do
not parse, and :func:`sample_frames` cuts fixed byte windows instead of
seeking keyframes.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table from the documents fixture: binary
    payload + modality/byte-length/checksum metadata columns."""
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "text")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
    )
    return df.select(
        "doc_id",
        modality.alias("modality"),
        F.col(text_col).cast("binary").alias("payload"),
        F.octet_length(text_col).alias("n_bytes"),
        F.sha2(F.col(text_col), 256).alias("checksum"),
    )


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed BMP from a top-down row-major RGB array
    (len = width*height*3). Pure byte layout per the public BITMAPINFOHEADER
    spec: 14-byte file header, 40-byte info header, then rows BOTTOM-UP,
    each row BGR-interleaved and zero-padded to a 4-byte boundary."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"rgb length {len(rgb)} != {width}x{height}x3")
    row_stride = (width * 3 + 3) & ~3
    # vectorized layout transform: O(pixels) numpy, no per-pixel Python
    # (the byte fixtures in tests/test_image_codec.py pin equivalence to
    # the spec: bottom-up rows, BGR interleave, zero pad to 4-byte stride)
    arr = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    rows = np.zeros((height, row_stride), dtype=np.uint8)
    rows[:, : width * 3] = arr[::-1, :, ::-1].reshape(height, width * 3)
    pixel_bytes = rows.tobytes()
    offset = 14 + 40
    file_size = offset + len(pixel_bytes)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_bytes),
        2835, 2835, 0, 0,
    )
    return header + info + pixel_bytes


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """(width, height, top-down row-major RGB bytes) from an uncompressed
    BMP (24-bit BI_RGB, positive height = bottom-up, negative = top-down)
    or a PPM (P6 binary, maxval 255, '#' comments allowed in the header).

    Dependency-free byte-layout parsing of the two public uncompressed
    formats; raises ValueError on anything else (compressed formats need
    real codec libraries — callers fall back per payload)."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    raise ValueError("not a BMP or P6 PPM payload")


def _decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    _, _, _, _, offset = struct.unpack_from("<2sIHHI", payload, 0)
    (
        hdr_size, width, height, planes, bpp, compression,
    ) = struct.unpack_from("<IiiHHI", payload, 14)
    if hdr_size < 40 or planes != 1:
        raise ValueError("unsupported BMP header")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("bad BMP dimensions")
    row_stride = (width * 3 + 3) & ~3
    need = offset + row_stride * height
    if len(payload) < need:
        raise ValueError("truncated BMP pixel array")
    # vectorized: pad strip = stride slicing, row flip = [::-1],
    # BGR -> RGB = [..., ::-1]; per-byte-fixture-tested equivalent of the
    # per-pixel reference loop (spec: positive height means bottom-up rows)
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_stride * height, offset=offset
    ).reshape(height, row_stride)
    arr = rows[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        arr = arr[::-1]
    return width, height, arr[:, :, ::-1].tobytes()


def _decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    # header grammar: "P6" then 3 whitespace-separated ints (width,
    # height, maxval); '#' starts a comment through end-of-line; a single
    # whitespace byte after maxval, then the raw RGB array
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos] == ord("#"):
            while pos < len(payload) and payload[pos] != ord("\n"):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header")
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if maxval != 255 or width <= 0 or height <= 0:
        raise ValueError("unsupported PPM (need maxval 255)")
    pos += 1  # the single whitespace after maxval
    n = width * height * 3
    if len(payload) < pos + n:
        raise ValueError("truncated PPM pixel array")
    return width, height, bytes(payload[pos : pos + n])


def render_procedural_bmp(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    seed_col: str | None = None,
    wrap: int = 256,
    shift_col: str | None = None,
) -> DataFrame:
    """(id, payload) — synthesize one 24-bit BMP per row with pixel
    channel k (top-down row-major RGB linear index) =
    (seed*31 + k) % wrap + shift, where seed defaults to the id itself,
    wrap to 256, and shift to 0 (the q71 rule).

    ``seed_col``/``shift_col`` let a caller render NEAR-duplicate image
    families on purpose: rows sharing a seed produce the same image up
    to a uniform per-row brightness shift — the fixture shape a
    perceptual-hash dedup (q181) must group and an exact checksum dedup
    must not. Caller contract: wrap - 1 + max(shift) <= 255 so the shift
    never clamps or wraps (that is what keeps the shift uniform and the
    closed form exact).

    The generation rule is closed-form arithmetic, so an external referee
    can recompute any downstream decode statistic WITHOUT running the
    codec — which is exactly what makes the encode→decode roundtrip
    (BGR swap, bottom-up rows, 4-byte row padding) oracle-checkable
    end-to-end. Arrow-batched, partition-parallel; payload stays inside
    the executor until (and unless) an action needs it."""
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    n = width * height * 3
    seed_col = seed_col or id_col
    cols = [id_col]
    if seed_col != id_col:
        cols.append(seed_col)
    if shift_col is not None:
        cols.append(shift_col)

    def run(batches):
        ks = np.arange(n, dtype=np.int64)
        for pdf in batches:
            out = pdf[[id_col]].copy()
            shifts = pdf[shift_col] if shift_col is not None else [0] * len(pdf)
            out["payload"] = [
                encode_bmp(
                    width,
                    height,
                    ((int(s) * 31 + ks) % wrap + int(sh))
                    .astype(np.uint8)
                    .tobytes(),
                )
                for s, sh in zip(pdf[seed_col], shifts)
            ]
            yield out

    return df.select(*cols).mapInPandas(
        run, schema=f"{id_col} bigint, payload binary"
    )


AHASH_GRID = 8  # 8x8 block grid -> 64-bit perceptual hash


def image_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, phash) — 64-bit average-hash over the REAL decode, as a
    64-char '0'/'1' string (a string survives cross-engine comparison;
    bit 63 of a BIGINT would overflow signed).

    Integer-only aHash: gray = r+g+b per pixel (sum, not mean — exact),
    the image splits into an 8x8 grid of blocks, and bit (by*8+bx) is 1
    iff block_sum * 64 > total_sum (cross-multiplied block-mean vs
    global-mean compare, no division anywhere). A UNIFORM brightness
    shift d adds 3*d*pixels_per_block to every block and 3*d*pixels to
    the total, which scales both sides of the compare identically — the
    hash is shift-invariant by construction, so near-duplicates that
    differ only in exposure collide while exact checksums differ. Rows
    whose payload doesn't decode, or whose dimensions aren't divisible
    by the 8x8 grid, are dropped."""
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    g = AHASH_GRID

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf["payload"]):
                try:
                    w, h, rgb = decode_image(bytes(p))
                except (ValueError, IndexError):
                    continue
                if w % g or h % g:
                    continue
                gray = (
                    np.frombuffer(rgb, dtype=np.uint8)
                    .reshape(h, w, 3)
                    .sum(axis=2, dtype=np.int64)
                )
                blocks = gray.reshape(g, h // g, g, w // g).sum(axis=(1, 3))
                total = int(gray.sum())
                bits = (blocks.ravel() * (g * g) > total).astype(np.uint8)
                rows.append((i, "".join("1" if b else "0" for b in bits)))
            yield pd.DataFrame(rows, columns=[id_col, "phash"])

    return df.mapInPandas(run, schema=f"{id_col} bigint, phash string")


def decode_image_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, width, height, r_sum, g_sum, b_sum) via the REAL decoder —
    bigint channel sums (no float roundoff at any image size). Rows whose
    payload doesn't parse as BMP/PPM are dropped (count the input/output
    delta upstream if undecodables matter)."""
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    schema = (
        f"{id_col} bigint, width int, height int, "
        "r_sum bigint, g_sum bigint, b_sum bigint"
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, p in zip(pdf[id_col], pdf["payload"]):
                try:
                    w, h, rgb = decode_image(bytes(p))
                except (ValueError, IndexError):
                    continue
                sums = (
                    np.frombuffer(rgb, dtype=np.uint8)
                    .reshape(-1, 3)
                    .sum(axis=0, dtype=np.int64)
                )
                rows.append((i, w, h, int(sums[0]), int(sums[1]), int(sums[2])))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "r_sum", "g_sum", "b_sum"],
            )

    return df.mapInPandas(run, schema=schema)


def sample_frames(df: DataFrame, every_n_bytes: int = 256) -> DataFrame:
    """Video frame sampling — the UDTF shape (1 row in → many rows out)
    through mapInPandas.

    A real implementation seeks keyframes with ffmpeg; the stub emits one
    deterministic "frame" per ``every_n_bytes`` of payload (offset +
    sha256 of the slice), which exercises the part Spark cares about: the
    fan-out row count, the declared schema, and batch-wise memory (one
    input batch may expand to many output rows — mapInPandas streams the
    expansion instead of materializing it)."""
    from ..session import ensure_package_on_executors

    ensure_package_on_executors(df.sparkSession)
    schema = "doc_id bigint, frame_idx int, byte_offset int, frame_checksum string"

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(p)
                for idx, off in enumerate(range(0, len(raw), every_n_bytes)):
                    rows.append(
                        (
                            doc_id,
                            idx,
                            off,
                            hashlib.sha256(
                                raw[off : off + every_n_bytes]
                            ).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "byte_offset", "frame_checksum"],
            )

    return df.mapInPandas(run, schema=schema)
