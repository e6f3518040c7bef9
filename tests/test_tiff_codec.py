"""Round-trip tests for the from-spec TIFF decoder
(operators/tiff_codec.py) against an independently written in-test
baseline-TIFF writer (both byte orders, multi-strip, PackBits
compressor, gray/RGB/palette photometrics)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff
from tests.test_pdf_text import lzw_encode


def _packbits(row: bytes) -> bytes:
    """In-test PackBits compressor (spec forward direction): greedy
    run/literal coding."""
    out = bytearray()
    i = 0
    while i < len(row):
        run = 1
        while (
            run < 128
            and i + run < len(row)
            and row[i + run] == row[i]
        ):
            run += 1
        if run >= 2:
            out += struct.pack("b", 1 - run) + row[i : i + 1]
            i += run
            continue
        lit = i + 1
        while (
            lit < len(row)
            and lit - i < 128
            and not (
                lit + 1 < len(row) and row[lit] == row[lit + 1]
            )
        ):
            lit += 1
        out += struct.pack("b", lit - i - 1) + row[i:lit]
        i = lit
    return bytes(out)


def write_tiff(
    img: np.ndarray,
    photometric: int = 2,
    palette: np.ndarray | None = None,
    big_endian: bool = False,
    packbits: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """In-test baseline TIFF writer. img is [h, w, 3] RGB for
    photometric 2, [h, w] gray for 0/1, [h, w] indices for 3."""
    e = ">" if big_endian else "<"
    if photometric == 2:
        h, w = img.shape[:2]
        spp = 3
        raw_rows = [img[y].tobytes() for y in range(h)]
    else:
        h, w = img.shape
        spp = 1
        src = 255 - img if photometric == 0 else img
        raw_rows = [src[y].tobytes() for y in range(h)]
    rps = rows_per_strip or h
    strips = []
    for y0 in range(0, h, rps):
        body = b"".join(raw_rows[y0 : y0 + rps])
        strips.append(_packbits(body) if packbits else body)
    header = struct.pack(e + "2sHI", b"MM" if big_endian else b"II", 42, 8)

    entries = []  # (tag, type, count, value-bytes-or-int, needs_offset)

    def short(tag, vals):
        vals = vals if isinstance(vals, list) else [vals]
        entries.append((tag, 3, len(vals), vals))

    def long_(tag, vals):
        vals = vals if isinstance(vals, list) else [vals]
        entries.append((tag, 4, len(vals), vals))

    short(256, w)
    short(257, h)
    short(258, [8] * spp)
    short(259, 32773 if packbits else 1)
    short(262, photometric)
    long_(273, [0] * len(strips))  # patched below
    short(277, spp)
    short(278, rps)
    long_(279, [len(s) for s in strips])
    short(284, 1)
    if photometric == 3:
        cmap = []
        for c in range(3):
            cmap += [int(v) * 257 for v in palette[:, c]] + [0] * (
                256 - len(palette)
            )
        short(320, cmap)
    entries.sort(key=lambda t: t[0])

    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    ext = bytearray()
    ext_base = ifd_off + ifd_size
    packed = []
    for tag, ftype, count, vals in entries:
        unit = {3: 2, 4: 4}[ftype]
        fmt = {3: "H", 4: "I"}[ftype]
        size = unit * count
        if size <= 4:
            vbytes = struct.pack(e + fmt * count, *vals).ljust(4, b"\x00")
            packed.append((tag, ftype, count, vbytes, None))
        else:
            packed.append((tag, ftype, count, None, (ext_base + len(ext), vals, fmt)))
            ext += struct.pack(e + fmt * count, *vals)
    strip_base = ext_base + len(ext)
    offs = []
    pos = strip_base
    for s in strips:
        offs.append(pos)
        pos += len(s)
    out = bytearray(header)
    out += struct.pack(e + "H", len(entries))
    for tag, ftype, count, vbytes, extinfo in packed:
        if tag == 273:
            vals = offs
            if len(vals) * 4 <= 4:
                vbytes = struct.pack(e + "I" * len(vals), *vals).ljust(
                    4, b"\x00"
                )
                extinfo = None
            else:
                # strip-offset array goes into ext at its reserved slot
                voff, _, fmt = extinfo
                ext[
                    voff - ext_base : voff - ext_base + 4 * len(vals)
                ] = struct.pack(e + fmt * len(vals), *vals)
        if extinfo is None:
            out += struct.pack(e + "HHI", tag, ftype, count) + vbytes
        else:
            voff = extinfo[0]
            out += struct.pack(e + "HHII", tag, ftype, count, voff)
    out += struct.pack(e + "I", 0)  # next-IFD pointer
    out += ext
    for s in strips:
        out += s
    return bytes(out)


def _rgb(h=11, w=13, seed=3):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )


def test_tiff_rgb_both_endians():
    img = _rgb()
    for be in (False, True):
        w, h, ch, px = decode_tiff(write_tiff(img, big_endian=be))
        assert (w, h, ch) == (13, 11, 3)
        assert np.array_equal(px, img)


def test_tiff_gray_conventions():
    g = np.random.default_rng(4).integers(0, 256, size=(7, 9), dtype=np.uint8)
    _, _, _, px1 = decode_tiff(write_tiff(g, photometric=1))
    assert np.array_equal(px1, np.repeat(g[:, :, None], 3, axis=2))
    _, _, _, px0 = decode_tiff(write_tiff(g, photometric=0))
    assert np.array_equal(px0, np.repeat(g[:, :, None], 3, axis=2))


def test_tiff_palette():
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 40, size=(6, 8), dtype=np.uint8)
    pal = rng.integers(0, 256, size=(40, 3), dtype=np.uint8)
    _, _, _, px = decode_tiff(write_tiff(idx, photometric=3, palette=pal))
    assert np.array_equal(px, pal[idx])


def test_tiff_packbits_multistrip():
    # runs + literals exercise both PackBits opcodes across strips
    img = _rgb(h=20, w=16, seed=6)
    img[3:9] = 77  # long runs
    blob = write_tiff(img, packbits=True, rows_per_strip=6)
    _, _, _, px = decode_tiff(blob)
    assert np.array_equal(px, img)


def test_tiff_named_errors():
    img = _rgb(h=4, w=4)
    blob = write_tiff(img)
    with pytest.raises(ValueError, match="magic"):
        decode_tiff(b"XXXX" + blob[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_tiff(blob[:-8])
    jp = bytearray(blob)
    # tag 259 (compression) short value: find its entry, set to 6
    # (old-style JPEG, deprecated; new-style 7 DECODES now)
    n = struct.unpack("<H", blob[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack("<H", blob[off:off + 2])[0] == 259:
            jp[off + 8:off + 10] = struct.pack("<H", 6)
    with pytest.raises(ValueError, match="compression 6"):
        decode_tiff(bytes(jp))


# --- TIFF LZW (compression 5) and Deflate (8) -----------------------------
# TIFF Section 13 LZW is PDF's LZWDecode with EarlyChange = 1, so the
# strips are packed with the in-test PDF LZW encoder.

def _strip_recompress(blob: bytes, comp: int, transform) -> bytes:
    """Rewrite an uncompressed single-strip in-test TIFF: set the
    compression tag and replace the strip body via ``transform``."""
    e = "<"
    out = bytearray(blob)
    n = struct.unpack(e + "H", blob[8:10])[0]
    entries = {}
    for i in range(n):
        off = 10 + 12 * i
        tag = struct.unpack(e + "H", blob[off:off + 2])[0]
        entries[tag] = off
    out[entries[259] + 8:entries[259] + 10] = struct.pack(e + "H", comp)
    (soff,) = struct.unpack(
        e + "I", blob[entries[273] + 8:entries[273] + 12]
    )
    (scnt,) = struct.unpack(
        e + "I", blob[entries[279] + 8:entries[279] + 12]
    )
    body = transform(blob[soff:soff + scnt])
    assert soff + scnt == len(blob), "expected strip at blob tail"
    out[entries[279] + 8:entries[279] + 12] = struct.pack(
        e + "I", len(body)
    )
    return bytes(out[:soff]) + body


def test_tiff_lzw_roundtrip():
    # low-entropy drives dictionary growth; random exercises literals
    for seed, smooth in ((8, True), (9, False)):
        rng = np.random.default_rng(seed)
        if smooth:
            img = np.repeat(
                rng.integers(0, 8, size=(30, 10, 3), dtype=np.uint8) * 31,
                4, axis=1,
            )
        else:
            img = rng.integers(0, 256, size=(30, 40, 3), dtype=np.uint8)
        blob = _strip_recompress(write_tiff(img), 5, lzw_encode)
        _, _, _, px = decode_tiff(blob)
        assert np.array_equal(px, img)


def test_tiff_lzw_width_bumps_and_clear():
    # enough distinct pairs to push the table past several width bumps
    # and the 4094-entry mid-stream clear
    rng = np.random.default_rng(10)
    img = rng.integers(0, 256, size=(60, 80, 3), dtype=np.uint8)
    blob = _strip_recompress(write_tiff(img), 5, lzw_encode)
    _, _, _, px = decode_tiff(blob)
    assert np.array_equal(px, img)


def test_tiff_deflate_roundtrip():
    import zlib

    img = _rgb(h=12, w=9, seed=11)
    for comp in (8, 32946):
        blob = _strip_recompress(write_tiff(img), comp, zlib.compress)
        _, _, _, px = decode_tiff(blob)
        assert np.array_equal(px, img)


def test_tiff_lzw_with_horizontal_predictor():
    """Predictor 2 (tag 317): rows stored as per-channel deltas — the
    common companion of LZW in real TIFFs."""
    rng = np.random.default_rng(12)
    img = np.repeat(
        rng.integers(0, 8, size=(14, 5, 3), dtype=np.uint8) * 30, 4, axis=1
    )

    def delta_then_lzw(body: bytes) -> bytes:
        rows = np.frombuffer(body, dtype=np.uint8).reshape(14, 20, 3)
        d = rows.astype(np.int16)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        return lzw_encode((d % 256).astype(np.uint8).tobytes())

    blob = bytearray(_strip_recompress(write_tiff(img), 5, delta_then_lzw))
    # append a Predictor=2 tag: easier — rewrite IFD by inserting is
    # fiddly, so write the tag into a fresh file via the writer's
    # entry list is not supported; instead patch tag 284 (planar,
    # value 1) into tag 317 (predictor, value 2) — same SHORT layout
    n = struct.unpack("<H", blob[8:10])[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack("<H", blob[off:off + 2])[0] == 284:
            blob[off:off + 2] = struct.pack("<H", 317)
            blob[off + 8:off + 10] = struct.pack("<H", 2)
    _, _, _, px = decode_tiff(bytes(blob))
    assert np.array_equal(px, img)


# --- JPEG-in-TIFF (compression 7, TTN2) -------------------------------


def test_tiff_jpeg_strips_no_tables():
    from test_ccitt_codec import write_fax_tiff
    from test_jpeg_codec import encode_jpeg

    from fund_data_etl_pipeline_spark.operators.tiff_codec import (
        decode_tiff,
    )

    img = _rgb(h=8, w=16, seed=61)
    strips = [encode_jpeg(img[0:4]), encode_jpeg(img[4:8])]
    blob = write_fax_tiff(strips, 16, 8, comp=7, rows_per_strip=4)
    w, h, c, out = decode_tiff(blob)
    assert (w, h, c) == (16, 8, 3)
    err = np.abs(out.astype(float) - img.astype(float))
    assert err.max() <= 12 and err.mean() <= 2.5


def test_tiff_jpeg_strips_with_shared_tables():
    from test_ccitt_codec import write_fax_tiff
    from test_jpeg_codec import encode_jpeg

    from fund_data_etl_pipeline_spark.operators.tiff_codec import (
        decode_tiff,
    )

    img = _rgb(h=8, w=16, seed=62)
    full = [encode_jpeg(img[0:4]), encode_jpeg(img[4:8])]
    # split each strip at SOF0: everything before it (DQT etc.) moves
    # into the shared JPEGTables blob; the strips keep SOI + SOF0 on
    split = [s.index(b"\xff\xc0") for s in full]
    tables = b"\xff\xd8" + full[0][2 : split[0]] + b"\xff\xd9"
    strips = [b"\xff\xd8" + s[i:] for s, i in zip(full, split)]
    blob = write_fax_tiff(
        strips, 16, 8, comp=7, rows_per_strip=4, jpeg_tables=tables
    )
    _, _, _, out = decode_tiff(blob)
    err = np.abs(out.astype(float) - img.astype(float))
    assert err.max() <= 12 and err.mean() <= 2.5


def test_tiff_jpeg_named_errors():
    from test_ccitt_codec import write_fax_tiff

    from fund_data_etl_pipeline_spark.operators.tiff_codec import (
        decode_tiff,
    )

    import pytest

    blob = write_fax_tiff([b"not a jpeg"], 8, 4, comp=7, rows_per_strip=4)
    with pytest.raises(ValueError, match="SOI"):
        decode_tiff(blob)
