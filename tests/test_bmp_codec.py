"""Round-trip tests for the from-spec BMP decoder
(operators/bmp_codec.py) against an independently written in-test BMP
writer (24/32-bit truecolor and 1/4/8-bit palettized, bottom-up and
top-down, row padding)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from fund_data_etl_pipeline_spark.operators.bmp_codec import decode_bmp


def write_bmp(
    rgb: np.ndarray,
    bpp: int = 24,
    palette: np.ndarray | None = None,
    idx: np.ndarray | None = None,
    top_down: bool = False,
) -> bytes:
    """In-test BMP writer: rgb[h, w, 3] for 24/32-bit, or palette +
    idx[h, w] for 1/4/8-bit."""
    if bpp in (1, 4, 8):
        h, w = idx.shape
        n_pal = len(palette)
        pal = b"".join(
            struct.pack("<BBBB", int(b), int(g), int(r), 0)
            for r, g, b in palette
        )
        per_byte = 8 // bpp
        rows = bytearray()
        order = idx if top_down else idx[::-1]
        for row in order:
            rb = bytearray()
            for i in range(0, w, per_byte):
                byte = 0
                for j, v in enumerate(row[i : i + per_byte]):
                    byte |= int(v) << ((per_byte - 1 - j) * bpp)
                rb.append(byte)
            while len(rb) % 4:
                rb.append(0)
            rows += rb
    else:
        h, w = rgb.shape[:2]
        n_pal = 0
        pal = b""
        rows = bytearray()
        order = rgb if top_down else rgb[::-1]
        for row in order:
            rb = bytearray()
            for r, g, b in row:
                rb += bytes([b, g, r] if bpp == 24 else [b, g, r, 255])
            while len(rb) % 4:
                rb.append(0)
            rows += rb
    pix_off = 14 + 40 + len(pal)
    info = struct.pack(
        "<IiihHIIiiII",
        40,
        w,
        -h if top_down else h,
        1,
        bpp,
        0,
        len(rows),
        2835,
        2835,
        n_pal,
        0,
    )
    hdr = b"BM" + struct.pack("<IHHI", pix_off + len(rows), 0, 0, pix_off)
    return hdr + info + pal + bytes(rows)


def _rgb(h=13, w=17, seed=5):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )


def test_bmp_24_and_32_bit_roundtrip():
    img = _rgb()
    for bpp in (24, 32):
        w, h, ch, px = decode_bmp(write_bmp(img, bpp=bpp))
        assert (w, h, ch) == (17, 13, 3)
        assert np.array_equal(px, img)


def test_bmp_top_down():
    img = _rgb(h=6, w=6)
    _, _, _, px = decode_bmp(write_bmp(img, top_down=True))
    assert np.array_equal(px, img)


def test_bmp_palettized_roundtrip():
    rng = np.random.default_rng(11)
    for bpp, n in ((1, 2), (4, 16), (8, 200)):
        idx = rng.integers(0, n, size=(9, 14), dtype=np.uint8)
        pal = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        _, _, _, px = decode_bmp(
            write_bmp(None, bpp=bpp, palette=pal, idx=idx)
        )
        assert np.array_equal(px, pal[idx])


def test_bmp_named_errors():
    img = _rgb(h=4, w=4)
    blob = write_bmp(img)
    with pytest.raises(ValueError, match="signature"):
        decode_bmp(b"XX" + blob[2:])
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(blob[:-9])
    bf = bytearray(blob)
    bf[30:34] = struct.pack("<I", 3)  # BI_BITFIELDS
    with pytest.raises(ValueError, match="compression"):
        decode_bmp(bytes(bf))


# --- BI_RLE8 / BI_RLE4 ----------------------------------------------------

def _rle8_encode(idx: np.ndarray) -> bytes:
    """In-test RLE8 compressor: greedy runs, absolute runs for literal
    stretches, EOL/EOB escapes (rows bottom-up, as stored)."""
    out = bytearray()
    for row in idx[::-1]:
        x = 0
        w = len(row)
        while x < w:
            run = 1
            while x + run < w and run < 255 and row[x + run] == row[x]:
                run += 1
            if run >= 3 or x + run >= w:
                out += bytes([run, int(row[x])])
                x += run
                continue
            lit = x
            while (
                lit < w and lit - x < 255
                and not (
                    lit + 2 < w
                    and row[lit] == row[lit + 1] == row[lit + 2]
                )
            ):
                lit += 1
            n = lit - x
            if n >= 3:
                out += bytes([0, n]) + bytes(int(v) for v in row[x:lit])
                if n & 1:
                    out += b"\x00"
                x = lit
            else:
                for j in range(n):
                    out += bytes([1, int(row[x + j])])
                x = lit
        out += b"\x00\x00"  # EOL
    out += b"\x00\x01"  # EOB
    return bytes(out)


def _bmp_rle_blob(idx: np.ndarray, pal: np.ndarray, comp: int,
                  payload: bytes) -> bytes:
    h, w = idx.shape
    bpp = 8 if comp == 1 else 4
    n_pal = len(pal)
    pal_bytes = b"".join(
        struct.pack("<BBBB", int(b), int(g), int(r), 0)
        for r, g, b in pal
    )
    pix_off = 14 + 40 + len(pal_bytes)
    info = struct.pack(
        "<IiihHIIiiII", 40, w, h, 1, bpp, comp, len(payload),
        2835, 2835, n_pal, 0,
    )
    hdr = b"BM" + struct.pack(
        "<IHHI", pix_off + len(payload), 0, 0, pix_off
    )
    return hdr + info + pal_bytes + payload


def test_bmp_rle8_roundtrip():
    rng = np.random.default_rng(41)
    idx = np.repeat(
        rng.integers(0, 5, size=(10, 6), dtype=np.uint8), 3, axis=1
    )  # horizontal runs + some literals after the repeat boundary
    idx[2, 1] = 4
    idx[2, 2] = 1  # break a run to force literal coding
    pal = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
    blob = _bmp_rle_blob(idx, pal, 1, _rle8_encode(idx))
    w, h, ch, px = decode_bmp(blob)
    assert (w, h, ch) == (18, 10, 3)
    assert np.array_equal(px, pal[idx])


def test_bmp_rle4_nibble_runs_and_absolute():
    # hand-built RLE4 stream: encoded run of alternating nibbles,
    # an absolute run, a delta skip (skipped pixels stay palette 0)
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    # bottom row: 5 px run alternating 1,2 then abs run 3: [3,1,2]
    payload = bytes(
        [5, 0x12]  # run: 1,2,1,2,1
        + [0, 3, 0x31, 0x20]  # absolute 3: nibbles 3,1,2 (2 bytes, aligned)
        + [0, 0]  # EOL
        + [2, 0x33]  # top row: run 3,3
        + [0, 2, 3, 0]  # delta dx=3 dy=0 (3 pixels left at 0)
        + [1, 0x10]  # single px value 1
        + [0, 1]  # EOB
    )
    idx = np.array(
        [[3, 3, 0, 0, 0, 1, 0, 0], [1, 2, 1, 2, 1, 3, 1, 2]],
        dtype=np.uint8,
    )
    blob = _bmp_rle_blob(idx, pal, 2, payload)
    _, _, _, px = decode_bmp(blob)
    assert np.array_equal(px, pal[idx])
