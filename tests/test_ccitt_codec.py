"""From-spec CCITT Group 3/4 decoder (operators/ccitt_codec.py).

The in-test encoder implements the T.4/T.6 FORWARD direction
independently (its own transition scan, its own b1/b2 computed straight
from reference-line pixels, its own mode-selection per T.6 §4.2.1.3),
so round-trips prove the decode algorithm. The code TABLES are shared
constants (no fax library ships in the container to cross-check
against), so the tables are guarded separately: prefix-freeness, exact
T.4 cardinalities, and spot values printed in the spec text."""

from __future__ import annotations

import numpy as np
import pytest

from fund_data_etl_pipeline_spark.operators.ccitt_codec import (
    BLACK_CODES,
    EXT_MAKEUP,
    WHITE_CODES,
    decode_ccitt,
    decode_g3_1d,
    decode_g4,
)

_INV_WHITE = {v: k for k, v in {**WHITE_CODES, **EXT_MAKEUP}.items()}
_INV_BLACK = {v: k for k, v in {**BLACK_CODES, **EXT_MAKEUP}.items()}


# --- independent in-test encoder ------------------------------------


def _mh_bits(run: int, white: bool) -> str:
    inv = _INV_WHITE if white else _INV_BLACK
    out = ""
    while run >= 64:
        m = min(2560, (run // 64) * 64)
        out += inv[m]
        run -= m
    return out + inv[run]


def _transitions(row: np.ndarray) -> list[int]:
    """Positions whose pixel differs from the one before (imaginary
    white pixel before position 0) — T.4's changing elements."""
    prev = 255
    out = []
    for i, v in enumerate(row):
        if v != prev:
            out.append(i)
            prev = v
    return out


def encode_g3_1d(
    img: np.ndarray, with_eol: bool = False, byte_align: bool = False
) -> bytes:
    bits = ""
    chunks = []
    for row in img:
        line = "000000000001" if with_eol else ""
        pos = 0
        white = True
        for t in _transitions(row) + [img.shape[1]]:
            line += _mh_bits(t - pos, white)
            pos = t
            white = not white
        if pos < img.shape[1]:
            pass  # trailing run already emitted via sentinel
        if byte_align:
            chunks.append(line)
        else:
            bits += line
    if byte_align:
        out = b""
        for line in chunks:
            line += "0" * (-len(line) % 8)
            out += int(line, 2).to_bytes(len(line) // 8, "big")
        return out
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big") if bits else b""


_V_BY_OFFSET = {0: "1", 1: "011", 2: "000011", 3: "0000011",
                -1: "010", -2: "000010", -3: "0000010"}


def _encode_2d_line(row: np.ndarray, ref: np.ndarray, cols: int) -> str:
    line = ""
    a0 = -1
    white = True
    cur_t = _transitions(row)
    while a0 < cols:
        # b1: first ref changing element right of a0 whose NEW colour
        # is opposite the current colour — computed from pixels, not
        # from the decoder's parity trick
        want = 0 if white else 255
        ref_t = _transitions(ref)
        b1 = next((t for t in ref_t if t > a0 and ref[t] == want), cols)
        b2 = next((t for t in ref_t if t > b1), cols)
        a1 = next((t for t in cur_t if t > a0), cols)
        if b2 < a1:
            line += "0001"  # pass
            a0 = b2
        elif abs(a1 - b1) <= 3:
            line += _V_BY_OFFSET[a1 - b1]  # vertical
            a0 = a1
            white = not white
        else:  # horizontal
            a2 = next((t for t in cur_t if t > a1), cols)
            base = max(a0, 0)
            line += "001"
            line += _mh_bits(a1 - base, white)
            line += _mh_bits(a2 - a1, not white)
            a0 = a2
    return line


def _mh_line(row: np.ndarray, cols: int) -> str:
    line = ""
    pos = 0
    white = True
    for t in _transitions(row) + [cols]:
        line += _mh_bits(t - pos, white)
        pos = t
        white = not white
    return line


def encode_g4(img: np.ndarray, byte_align: bool = False) -> bytes:
    rows, cols = img.shape
    ref = np.full(cols, 255, dtype=np.uint8)
    chunks = []
    for row in img:
        chunks.append(_encode_2d_line(row, ref, cols))
        ref = row
    eofb = "000000000001" * 2
    if byte_align:
        out = b""
        for line in chunks:
            line += "0" * (-len(line) % 8)
            out += int(line, 2).to_bytes(len(line) // 8, "big")
        tail = eofb + "0" * (-len(eofb) % 8)
        return out + int(tail, 2).to_bytes(len(tail) // 8, "big")
    bits = "".join(chunks) + eofb
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big")


def encode_g3_2d(
    img: np.ndarray, k: int = 4, fill_to: int = 0
) -> bytes:
    """T.4 mixed coding: every k-th line MH (tag 1), the rest coded
    2-D against the previous line (tag 0); optional zero fill bits
    before each EOL."""
    rows, cols = img.shape
    ref = np.full(cols, 255, dtype=np.uint8)
    bits = ""
    for i, row in enumerate(img):
        one_d = i % k == 0
        bits += "0" * fill_to + "000000000001" + ("1" if one_d else "0")
        bits += (
            _mh_line(row, cols) if one_d else _encode_2d_line(row, ref, cols)
        )
        ref = row
    bits += ("000000000001" + "1") * 2  # RTC prefix
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big")


# --- table provenance guards -----------------------------------------


def test_tables_prefix_free_and_complete():
    for tbl in ({**WHITE_CODES, **EXT_MAKEUP}, {**BLACK_CODES, **EXT_MAKEUP}):
        keys = sorted(tbl)
        assert not any(
            b.startswith(a) for a in keys for b in keys if a != b
        )
        assert len(set(tbl.values())) == len(tbl)
    assert sorted(v for v in WHITE_CODES.values() if v < 64) == list(range(64))
    assert sorted(v for v in BLACK_CODES.values() if v < 64) == list(range(64))
    makeups = list(range(64, 1729, 64))
    assert sorted(v for v in WHITE_CODES.values() if v >= 64) == makeups
    assert sorted(v for v in BLACK_CODES.values() if v >= 64) == makeups
    assert sorted(EXT_MAKEUP.values()) == list(range(1792, 2561, 64))


def test_spec_spot_values():
    # values quoted directly in ITU-T T.4 Tables 2/3 and T.6 §4.2.1
    assert WHITE_CODES["00110101"] == 0
    assert WHITE_CODES["000111"] == 1
    assert WHITE_CODES["0111"] == 2
    assert WHITE_CODES["11011"] == 64
    assert WHITE_CODES["010011011"] == 1728
    assert BLACK_CODES["0000110111"] == 0
    assert BLACK_CODES["010"] == 1
    assert BLACK_CODES["11"] == 2
    assert BLACK_CODES["10"] == 3
    assert BLACK_CODES["0000001111"] == 64
    assert EXT_MAKEUP["00000001000"] == 1792
    assert EXT_MAKEUP["000000011111"] == 2560


# --- round trips ------------------------------------------------------


def _text_like(rows=24, cols=80, seed=3):
    """Sparse horizontal strokes — the statistics fax coding targets."""
    rng = np.random.RandomState(seed)
    img = np.full((rows, cols), 255, dtype=np.uint8)
    for _ in range(rows):
        r = rng.randint(rows)
        c0 = rng.randint(cols - 8)
        img[r, c0 : c0 + rng.randint(2, 9)] = 0
    return img


def test_g4_roundtrip_text_like():
    img = _text_like()
    assert np.array_equal(decode_g4(encode_g4(img), 80, rows=24), img)


def test_g4_roundtrip_extremes():
    for img in (
        np.full((5, 40), 255, dtype=np.uint8),  # all white
        np.zeros((5, 40), dtype=np.uint8),  # all black
        np.tile(
            np.array([[0, 255]], dtype=np.uint8), (4, 20)
        ),  # checkerboard columns: vertical-mode stress
    ):
        got = decode_g4(encode_g4(img), img.shape[1], rows=img.shape[0])
        assert np.array_equal(got, img)


def test_g4_diagonal_exercises_vr_vl():
    img = np.full((16, 32), 255, dtype=np.uint8)
    for r in range(16):
        img[r, 2 * r : 2 * r + 6] = 0  # strokes drifting right by 2
    assert np.array_equal(decode_g4(encode_g4(img), 32, rows=16), img)


def test_g4_pass_mode_shapes():
    img = np.full((3, 40), 255, dtype=np.uint8)
    img[0, 5:30] = 0  # wide bar above
    img[1, 8:12] = 0  # narrow bar -> coding line passes ref transitions
    img[2, 2:4] = 0
    assert np.array_equal(decode_g4(encode_g4(img), 40, rows=3), img)


def test_g4_byte_aligned_lines():
    img = _text_like(rows=9, cols=52, seed=11)
    blob = encode_g4(img, byte_align=True)
    assert np.array_equal(
        decode_g4(blob, 52, rows=9, byte_align=True), img
    )


def test_g4_stops_at_eofb_without_rows():
    img = _text_like(rows=7, cols=64, seed=5)
    assert np.array_equal(decode_g4(encode_g4(img), 64), img)


def test_g3_2d_mixed_roundtrip():
    from fund_data_etl_pipeline_spark.operators.ccitt_codec import (
        decode_g3_2d,
    )

    img = _text_like(rows=15, cols=72, seed=23)
    for k in (1, 2, 4):  # k=1 -> every line MH, still EOL+tag framed
        assert np.array_equal(
            decode_g3_2d(encode_g3_2d(img, k=k), 72, rows=15), img
        )
    # fill bits ahead of each EOL are skipped
    assert np.array_equal(
        decode_g3_2d(encode_g3_2d(img, k=3, fill_to=5), 72, rows=15),
        img,
    )
    # rows=None: the RTC terminates the decode
    assert np.array_equal(
        decode_g3_2d(encode_g3_2d(img, k=2), 72), img
    )


def test_g3_1d_roundtrip_variants():
    img = _text_like(rows=12, cols=96, seed=9)
    assert np.array_equal(
        decode_g3_1d(encode_g3_1d(img), 96, rows=12), img
    )
    assert np.array_equal(
        decode_g3_1d(encode_g3_1d(img, with_eol=True), 96, rows=12), img
    )
    assert np.array_equal(
        decode_g3_1d(
            encode_g3_1d(img, byte_align=True), 96, rows=12,
            byte_align=True,
        ),
        img,
    )


def test_long_runs_use_makeup_codes():
    img = np.full((2, 2000), 255, dtype=np.uint8)
    img[0, 1900:] = 0  # white 1900 (makeup 1856+terminating 44)
    img[1, :1800] = 0  # black 1800 (makeup 1792+terminating 8)
    assert np.array_equal(decode_g4(encode_g4(img), 2000, rows=2), img)
    assert np.array_equal(
        decode_g3_1d(encode_g3_1d(img), 2000, rows=2), img
    )


def test_roundtrip_property_random_bitmaps():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        rows=st.integers(min_value=1, max_value=12),
        cols=st.integers(min_value=1, max_value=64),
        density=st.floats(min_value=0.0, max_value=1.0),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def prop(rows, cols, density, seed):
        rng = np.random.RandomState(seed)
        img = np.where(
            rng.random_sample((rows, cols)) < density, 0, 255
        ).astype(np.uint8)
        assert np.array_equal(decode_g4(encode_g4(img), cols, rows=rows), img)
        assert np.array_equal(
            decode_g3_1d(encode_g3_1d(img), cols, rows=rows), img
        )

    prop()


def test_named_errors():
    with pytest.raises(ValueError, match="Columns"):
        decode_ccitt(b"\x00", 0)
    with pytest.raises(ValueError, match="EOL"):
        # K > 0 requires EOL-framed lines; a bare MH line has none
        decode_ccitt(b"\xff\xff\xff\xff", 8, rows=1, k=1)
    img = _text_like(rows=4, cols=32, seed=2)
    blob = encode_g4(img)
    with pytest.raises(ValueError, match="rows|truncated|invalid"):
        decode_g4(blob[: len(blob) // 3], 32, rows=4)


# --- PDF integration --------------------------------------------------


def test_pdf_ccitt_image_extracts_to_pixels():
    from fund_data_etl_pipeline_spark.sources.corpus import (
        _raw_samples_to_pixels,
    )
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_images,
    )
    from test_pdf_images import image_obj, scanned_pdf

    img = _text_like(rows=16, cols=48, seed=21)
    payload = encode_g4(img)
    obj = image_obj(
        payload, 48, 16, color_space=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode",
    )
    obj = obj.replace(
        b">>\nstream",
        b" /DecodeParms << /K -1 /Columns 48 /Rows 16 >> >>\nstream",
        1,
    )
    (rec,) = extract_pdf_images(scanned_pdf([obj]))
    assert rec["format"] == "raw" and rec["bits_per_component"] == 1
    px = _raw_samples_to_pixels(rec)
    assert np.array_equal(px[..., 0], img)


def test_pdf_ccitt_blackis1_flips_packed_sense():
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_images,
    )
    from test_pdf_images import image_obj, scanned_pdf

    img = np.full((2, 8), 255, dtype=np.uint8)
    img[:, :3] = 0
    payload = encode_g4(img)
    base = image_obj(
        payload, 8, 2, color_space=b"/DeviceGray", bpc=1,
        filt=b"/CCITTFaxDecode",
    )
    for black1, expect in ((b"false", 0b00011111), (b"true", 0b11100000)):
        obj = base.replace(
            b">>\nstream",
            b" /DecodeParms << /K -1 /Columns 8 /Rows 2 /BlackIs1 "
            + black1 + b" >> >>\nstream",
            1,
        )
        (rec,) = extract_pdf_images(scanned_pdf([obj]))
        assert rec["data"] == bytes([expect, expect])


# --- TIFF integration -------------------------------------------------


def write_fax_tiff(
    strips: list[bytes],
    width: int,
    height: int,
    comp: int,
    rows_per_strip: int,
    photometric: int = 0,
    t4options: int | None = None,
    jpeg_tables: bytes | None = None,
) -> bytes:
    """Minimal little-endian 1-bit fax TIFF around pre-encoded strips
    (doubles as the JPEG-in-TIFF builder via comp=7 + jpeg_tables)."""
    import struct

    entries = [
        (256, 3, [width]),
        (257, 3, [height]),
        (258, 3, [1]),
        (259, 3, [comp]),
        (262, 3, [photometric]),
        (273, 4, None),  # strip offsets, patched below
        (277, 3, [1]),
        (278, 3, [rows_per_strip]),
        (279, 4, [len(s) for s in strips]),
    ]
    if t4options is not None:
        entries.append((292, 4, [t4options]))
    if jpeg_tables is not None:
        entries.append((347, 7, list(jpeg_tables)))
    entries.sort(key=lambda t: t[0])
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    ext = bytearray()
    ext_base = ifd_off + ifd_size
    data_base = None  # filled after ext is known

    # first pass: lay out external arrays (counts > 1)
    slots = []
    for tag, ftype, vals in entries:
        if vals is not None and len(vals) > 1:
            slots.append((tag, ext_base + len(ext)))
            unit = {1: "B", 3: "H", 4: "I", 7: "B"}[ftype]
            ext += struct.pack(f"<{len(vals)}{unit}", *vals)
    data_base = ext_base + len(ext)
    offsets = []
    pos = data_base
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    if len(offsets) > 1:
        slots.append((273, ext_base + len(ext)))
        ext += struct.pack(f"<{len(offsets)}I", *offsets)
        data_base = ext_base + len(ext)
        offsets = [data_base + sum(len(x) for x in strips[:i])
                   for i in range(len(strips))]
        # re-patch the external offsets array with the final positions
        ext[-4 * len(offsets):] = struct.pack(
            f"<{len(offsets)}I", *offsets
        )
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_off))
    out += struct.pack("<H", len(entries))
    ext_cursor = {tag: off for tag, off in slots}
    for tag, ftype, vals in entries:
        if tag == 273:
            vals = offsets
        count = len(vals)
        out += struct.pack("<HHI", tag, ftype, count)
        if count > 1:
            out += struct.pack("<I", ext_cursor[tag])
        else:
            unit = {1: "B", 3: "H", 4: "I", 7: "B"}[ftype]
            out += struct.pack(f"<{unit}", vals[0]).ljust(4, b"\x00")
    out += struct.pack("<I", 0)  # no next IFD
    out += ext
    for s in strips:
        out += s
    return bytes(out)


def test_tiff_g4_single_strip():
    from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff

    img = _text_like(rows=20, cols=72, seed=31)
    blob = write_fax_tiff([encode_g4(img)], 72, 20, comp=4,
                          rows_per_strip=20)
    w, h, c, rgb = decode_tiff(blob)
    assert (w, h, c) == (72, 20, 3)
    assert np.array_equal(rgb[:, :, 0], img)


def test_tiff_g4_multi_strip_restarts_reference():
    from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff

    img = _text_like(rows=12, cols=40, seed=17)
    strips = [encode_g4(img[0:5]), encode_g4(img[5:10]),
              encode_g4(img[10:12])]
    blob = write_fax_tiff(strips, 40, 12, comp=4, rows_per_strip=5)
    _, _, _, rgb = decode_tiff(blob)
    assert np.array_equal(rgb[:, :, 0], img)


def test_tiff_mh_and_g3_strips():
    from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff

    img = _text_like(rows=10, cols=56, seed=13)
    blob2 = write_fax_tiff(
        [encode_g3_1d(img, byte_align=True)], 56, 10, comp=2,
        rows_per_strip=10,
    )
    _, _, _, rgb2 = decode_tiff(blob2)
    assert np.array_equal(rgb2[:, :, 0], img)
    blob3 = write_fax_tiff(
        [encode_g3_1d(img, with_eol=True)], 56, 10, comp=3,
        rows_per_strip=10,
    )
    _, _, _, rgb3 = decode_tiff(blob3)
    assert np.array_equal(rgb3[:, :, 0], img)


def test_tiff_g3_2d_via_t4options():
    from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff

    img = _text_like(rows=14, cols=64, seed=29)
    blob = write_fax_tiff(
        [encode_g3_2d(img, k=3)], 64, 14, comp=3, rows_per_strip=14,
        t4options=1,
    )
    _, _, _, rgb = decode_tiff(blob)
    assert np.array_equal(rgb[:, :, 0], img)


def test_pdf_ccitt_k_positive_mixed():
    from fund_data_etl_pipeline_spark.sources.corpus import (
        _raw_samples_to_pixels,
    )
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_images,
    )
    from test_pdf_images import image_obj, scanned_pdf

    img = _text_like(rows=10, cols=40, seed=37)
    obj = image_obj(
        encode_g3_2d(img, k=2), 40, 10, color_space=b"/DeviceGray",
        bpc=1, filt=b"/CCITTFaxDecode",
    ).replace(
        b">>\nstream",
        b" /DecodeParms << /K 2 /Columns 40 /Rows 10 >> >>\nstream",
        1,
    )
    (rec,) = extract_pdf_images(scanned_pdf([obj]))
    assert np.array_equal(_raw_samples_to_pixels(rec)[..., 0], img)


def test_tiff_fax_named_errors():
    from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff

    img = _text_like(rows=4, cols=16, seed=1)
    # a truncated strip must quarantine with a named error
    with pytest.raises(ValueError, match="rows|truncated|invalid"):
        decode_tiff(write_fax_tiff([encode_g4(img)[:2]], 16, 4, comp=4,
                                   rows_per_strip=4))
