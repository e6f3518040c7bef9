"""Minimal from-spec TIFF decoder (a library decoder; no registered
query calls it).

Baseline TIFF 6.0 per the public Adobe specification — pure struct
parsing:

- both byte orders ("II" little-endian, "MM" big-endian), IFD walk
  with inline-vs-offset tag values sized by field type;
- strip-organized image data (StripOffsets / StripByteCounts /
  RowsPerStrip), Compression 1 (none), 32773 (PackBits, the spec's
  Section 9 run-length scheme), 5 (LZW, the spec's Section 13 variant:
  MSB-first code packing and the "early change" width bump one code
  before the table fills — deliberately DIFFERENT from GIF's LZW), and
  8 / 32946 (zlib Deflate, the PNG-style extension tag pair), with
  Predictor 2 (tag 317 horizontal differencing) undone via a per-row
  cumulative sum; Compression 2/3/4 (CCITT Modified Huffman, Group 3
  one-dimensional, Group 4) for 1-bit fax scans via the shared T.4/T.6
  decoder (operators/ccitt_codec.py), each strip restarting from the
  all-white reference line per TIFF 6.0 §10-11;
- PhotometricInterpretation 0/1 (grayscale, incl. the inverted
  WhiteIsZero convention), 2 (RGB, 8 bits/sample), 3 (palette via the
  16-bit ColorMap tag);
- output [h, w, 3] uint8 RGB (grayscale replicated). First IFD only —
  multi-page TIFFs describe documents, and features describe the first
  page.

Out of scope, raising a NAMED error (the S7 quarantine convention):
JPEG-in-TIFF compression, tiled organization, planar configuration 2,
bit depths other than 8 (except the fax family's 1-bit), truncated
streams. Round-trip tests in
tests/test_tiff_codec.py drive this against an independently written
in-test TIFF writer including a PackBits compressor.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..sources.pdf_text import unpack_lzw

TIFF_MAGIC_LE = b"II*\x00"
TIFF_MAGIC_BE = b"MM\x00*"

# bytes per TIFF field type (1=BYTE 2=ASCII 3=SHORT 4=LONG 5=RATIONAL...)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _unpack_packbits(data: bytes, expected: int) -> bytes:
    """TIFF PackBits (spec Section 9): n in [0,127] -> copy n+1 literal
    bytes; n in [-127,-1] -> repeat next byte 1-n times; -128 no-op."""
    out = bytearray()
    i = 0
    while len(out) < expected and i < len(data):
        n = struct.unpack("b", data[i : i + 1])[0]
        i += 1
        if n >= 0:
            out += data[i : i + n + 1]
            i += n + 1
        elif n != -128:
            out += data[i : i + 1] * (1 - n)
            i += 1
    if len(out) < expected:
        raise ValueError("TIFF PackBits stream ended short (truncated)")
    return bytes(out[:expected])


def decode_tiff(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, 3, pixels[h, w, 3] uint8 RGB) of a baseline TIFF
    blob's first IFD."""
    if data[:4] == TIFF_MAGIC_LE:
        e = "<"
    elif data[:4] == TIFF_MAGIC_BE:
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order/magic)")
    if len(data) < 8:
        raise ValueError("TIFF truncated before first IFD")
    (ifd_off,) = struct.unpack(e + "I", data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("TIFF truncated before first IFD")
    (n_tags,) = struct.unpack(e + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_tags):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(data):
            raise ValueError("TIFF truncated inside IFD")
        tag, ftype, count = struct.unpack(e + "HHI", data[off : off + 8])
        size = _TYPE_SIZE.get(ftype, 1) * count
        if size <= 4:
            raw = data[off + 8 : off + 8 + size]
        else:
            (voff,) = struct.unpack(e + "I", data[off + 8 : off + 12])
            raw = data[voff : voff + size]
            if len(raw) < size:
                raise ValueError("TIFF truncated inside tag value")
        if ftype == 3:
            tags[tag] = list(struct.unpack(e + f"{count}H", raw))
        elif ftype == 4:
            tags[tag] = list(struct.unpack(e + f"{count}I", raw))
        elif ftype in (1, 7):  # BYTE / UNDEFINED (e.g. JPEGTables)
            tags[tag] = list(raw)
        # other types (ASCII/rational) are metadata the decoder ignores

    def one(tag: int, default: int | None = None) -> int:
        if tags.get(tag):  # present AND non-empty (count 0 is corrupt)
            return tags[tag][0]
        if default is None:
            raise ValueError(f"TIFF missing required tag {tag}")
        return default

    width, height = one(256), one(257)
    comp = one(259, 1)
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    planar = one(284, 1)
    predictor = one(317, 1)
    if comp in (2, 3, 4):
        # CCITT fax family — MH (2), Group 3 1-D (3), Group 4 (4) via
        # the shared T.4/T.6 decoder (operators/ccitt_codec.py). Strips
        # compress independently, each starting from the all-white
        # reference line (TIFF 6.0 §10/§11).
        from .ccitt_codec import decode_g3_1d, decode_g3_2d, decode_g4

        if spp != 1 or bits != [1]:
            raise ValueError(
                "TIFF fax compression requires 1-bit, 1-sample data"
            )
        if photo not in (0, 1):
            raise ValueError(
                "TIFF fax compression with non-bilevel photometric"
            )
        if planar != 1:
            raise ValueError("TIFF planar configuration 2 not supported")
        g3_2d = comp == 3 and bool(one(292, 0) & 1)
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing strip offsets/byte counts")
        rows_per_strip = one(278, height)
        parts = []
        rows_done = 0
        for soff, scnt in zip(offsets, counts):
            raw = data[soff : soff + scnt]
            if len(raw) < scnt:
                raise ValueError("TIFF truncated inside strip data")
            n_rows = min(rows_per_strip, height - rows_done)
            if comp == 4:
                part = decode_g4(raw, width, rows=n_rows)
            elif comp == 3 and g3_2d:
                part = decode_g3_2d(raw, width, rows=n_rows)
            elif comp == 3:
                part = decode_g3_1d(raw, width, rows=n_rows)
            else:  # MH: no EOLs, every row starts byte-aligned
                part = decode_g3_1d(
                    raw, width, rows=n_rows, byte_align=True
                )
            parts.append(part)
            rows_done += n_rows
        if rows_done < height:
            raise ValueError("TIFF strips cover fewer rows than ImageLength")
        gray = np.vstack(parts)  # 255 = white, semantic fax sense
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        return width, height, 3, np.ascontiguousarray(rgb)
    if comp == 7:
        # New-style JPEG-in-TIFF (TTN2): each strip is a complete JIF
        # stream, optionally sharing a DQT/DHT prefix via the
        # JPEGTables tag (347) — tables body spliced in after the
        # strip's SOI, then decoded by the builtin T.81 codec.
        from .jpeg_codec import decode_jpeg

        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing strip offsets/byte counts")
        jtab = bytes(tags.get(347, []))
        if jtab:
            if jtab[:2] != b"\xff\xd8" or jtab[-2:] != b"\xff\xd9":
                raise ValueError("TIFF JPEGTables not SOI…EOI framed")
            jtab = jtab[2:-2]
        rows_per_strip = one(278, height)
        parts = []
        rows_done = 0
        for soff, scnt in zip(offsets, counts):
            raw = data[soff : soff + scnt]
            if len(raw) < scnt:
                raise ValueError("TIFF truncated inside strip data")
            if raw[:2] != b"\xff\xd8":
                raise ValueError("TIFF JPEG strip missing SOI")
            sw, sh, sc, px = decode_jpeg(b"\xff\xd8" + jtab + raw[2:])
            n_rows = min(rows_per_strip, height - rows_done)
            if sw != width or sh < n_rows:
                raise ValueError(
                    "TIFF JPEG strip dimensions disagree with the IFD"
                )
            parts.append(
                px[:n_rows] if sc == 3
                else np.repeat(px[:n_rows, :, :1], 3, axis=2)
            )
            rows_done += n_rows
        if rows_done < height:
            raise ValueError("TIFF strips cover fewer rows than ImageLength")
        return width, height, 3, np.ascontiguousarray(np.vstack(parts))
    if comp not in (1, 5, 8, 32773, 32946):
        raise ValueError(f"TIFF compression {comp} not supported "
                         "(uncompressed, LZW, Deflate, PackBits, "
                         "CCITT MH/G3/G4 or JPEG only)")
    if planar != 1:
        raise ValueError("TIFF planar configuration 2 not supported")
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} not supported "
                         "(none or horizontal differencing)")
    if any(b != 8 for b in bits):
        raise ValueError(f"TIFF bit depths {bits} not supported (8 only)")
    if photo not in (0, 1, 2, 3):
        raise ValueError(f"TIFF photometric {photo} not supported")
    if photo == 2 and spp < 3:
        raise ValueError("TIFF RGB with fewer than 3 samples/pixel")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/byte counts")
    rows_per_strip = one(278, height)
    row_bytes = width * spp
    chunks = []
    remaining = height
    for soff, scnt in zip(offsets, counts):
        raw = data[soff : soff + scnt]
        if len(raw) < scnt:
            raise ValueError("TIFF truncated inside strip data")
        n_rows = min(rows_per_strip, remaining)
        remaining -= n_rows
        expected = n_rows * row_bytes
        if comp == 32773:
            chunks.append(_unpack_packbits(raw, expected))
        elif comp == 5:
            # Section 13 LZW is PDF's LZWDecode with EarlyChange = 1
            unpacked = unpack_lzw(raw)
            if len(unpacked) < expected:
                raise ValueError("TIFF LZW strip short (truncated)")
            chunks.append(unpacked[:expected])
        elif comp in (8, 32946):
            try:
                inflated = zlib.decompress(raw)
            except zlib.error as exc:
                raise ValueError(f"TIFF Deflate strip corrupt: {exc}")
            if len(inflated) < expected:
                raise ValueError("TIFF Deflate strip short (truncated)")
            chunks.append(inflated[:expected])
        else:
            chunks.append(raw[:expected])
        if len(chunks[-1]) < expected:
            raise ValueError("TIFF strip shorter than its rows (truncated)")
    flat = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    if flat.size < height * row_bytes:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")
    px = flat[: height * row_bytes].reshape(height, width, spp)
    if predictor == 2:
        # horizontal differencing (tag 317): each row's samples are
        # deltas from the previous pixel, per sample channel — undo
        # with a per-row cumulative sum mod 256
        px = np.cumsum(px.astype(np.uint32), axis=1).astype(np.uint8)
    if photo == 2:
        rgb = px[:, :, :3]
    elif photo == 3:
        cmap = tags.get(320)
        n = 1 << 8
        if not cmap or len(cmap) < 3 * n:
            raise ValueError("TIFF palette image missing ColorMap")
        # ColorMap is 16-bit per component, all reds then greens then
        # blues; baseline writers scale 8-bit values by 257
        pal = (
            np.array(cmap[: 3 * n], dtype=np.uint32)
            .reshape(3, n)
            .T // 257
        ).astype(np.uint8)
        rgb = pal[px[:, :, 0]]
    else:
        gray = px[:, :, 0]
        if photo == 0:  # WhiteIsZero
            gray = 255 - gray
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
    return width, height, 3, np.ascontiguousarray(rgb)
