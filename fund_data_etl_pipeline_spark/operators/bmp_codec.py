"""Minimal from-spec BMP decoder (a library decoder; no registered
query calls it).

Windows DIB per the public BITMAPFILEHEADER/BITMAPINFOHEADER layout —
pure struct parsing:

- "BM" file header with the pixel-array offset;
- BITMAPINFOHEADER (or the larger V4/V5 headers, which begin with the
  same 40 bytes): width, height (positive = bottom-up rows, negative =
  top-down), bits per pixel, compression;
- 1/4/8-bit palettized (BGRA palette entries follow the info header)
  and 24/32-bit BGR(A) truecolor, rows padded to 4-byte boundaries;
- BI_RLE8 / BI_RLE4 run-length decompression (encoded runs, absolute
  runs with word alignment, end-of-line / end-of-bitmap / delta escape
  codes) for the palettized depths;
- output [h, w, 3] uint8 RGB, matching decode_png's convention so
  mean_luma is shared.

Out of scope, raising a NAMED error (the S7 quarantine convention):
BI_BITFIELDS/JPEG/PNG-embedded compression, 16-bit pixels, truncated
streams. Round-trip tests in tests/test_bmp_codec.py drive this
against an independently written in-test BMP writer.
"""

from __future__ import annotations

import struct

import numpy as np

BMP_MAGIC = b"BM"


def _unrle(data: bytes, width: int, height: int, comp: int) -> np.ndarray:
    """BI_RLE8/BI_RLE4 -> [height, width] palette indices in BOTTOM-UP
    row order (the stored order; caller flips for the usual case).
    Escapes: 00 00 end-of-line, 00 01 end-of-bitmap, 00 02 dx dy delta,
    00 n>=3 absolute run (word-aligned); else (count, value) encoded
    run — for RLE4 the value byte alternates two nibbles."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = i = 0
    while i + 1 < len(data) and y < height:
        a, b = data[i], data[i + 1]
        i += 2
        if a:  # encoded run
            if comp == 1:
                vals = [b] * a
            else:
                vals = [(b >> 4), (b & 0x0F)] * ((a + 1) // 2)
            for v in vals[:a]:
                if x < width:
                    out[y, x] = v
                    x += 1
            continue
        if b == 0:  # end of line
            x, y = 0, y + 1
        elif b == 1:  # end of bitmap
            return out
        elif b == 2:  # delta
            if i + 2 > len(data):
                raise ValueError("BMP RLE delta truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute run of b pixels
            if comp == 1:
                nbytes = b
                vals = list(data[i : i + b])
            else:
                nbytes = (b + 1) // 2
                raw = data[i : i + nbytes]
                vals = []
                for byte in raw:
                    vals += [byte >> 4, byte & 0x0F]
                vals = vals[:b]
            if len(vals) < b:
                raise ValueError("BMP RLE absolute run truncated")
            i += nbytes + (nbytes & 1)  # word alignment
            for v in vals:
                if x < width:
                    out[y, x] = v
                    x += 1
    return out


def decode_bmp(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, 3, pixels[h, w, 3] uint8 RGB) of a BMP blob."""
    if len(data) < 54 or not data.startswith(BMP_MAGIC):
        raise ValueError("not a BMP (bad signature)")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise ValueError(f"BMP core-header size {hdr_size} not supported "
                         "(BITMAPINFOHEADER or later only)")
    width, height, _planes, bpp, comp = struct.unpack(
        "<iihHI", data[18:34]
    )
    if comp not in (0, 1, 2):
        raise ValueError(f"BMP compression {comp} not supported (BI_RGB "
                         "and RLE only; bitfields/embedded codecs "
                         "quarantine)")
    if width <= 0 or height == 0:
        raise ValueError("BMP with non-positive dimensions")
    top_down = height < 0
    height = abs(height)
    if bpp in (1, 4, 8):
        (used,) = struct.unpack("<I", data[46:50])
        n_pal = used or (1 << bpp)
        pal_off = 14 + hdr_size
        raw = np.frombuffer(
            data[pal_off : pal_off + 4 * n_pal], dtype=np.uint8
        )
        if raw.size < 4 * n_pal:
            raise ValueError("BMP truncated inside palette")
        pal = raw.reshape(n_pal, 4)[:, [2, 1, 0]]  # BGRA -> RGB
    elif bpp in (24, 32):
        pal = None
    else:
        raise ValueError(f"{bpp}-bit BMP not supported (1/4/8/24/32)")
    if comp in (1, 2):  # BI_RLE8 / BI_RLE4
        if (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4):
            raise ValueError(
                f"BMP RLE{8 if comp == 1 else 4} with {bpp}-bit pixels "
                "is malformed"
            )
        idx = _unrle(data[pix_off:], width, height, comp)
        if not top_down:
            idx = idx[::-1]
        if (idx >= len(pal)).any():
            raise ValueError("BMP pixel index outside the palette")
        return width, height, 3, np.ascontiguousarray(pal[idx])
    stride = ((width * bpp + 31) // 32) * 4
    need = stride * height
    body = data[pix_off : pix_off + need]
    if len(body) < need:
        raise ValueError("BMP truncated inside pixel array")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(height, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        px = rows[:, : width * 3].reshape(height, width, 3)[:, :, ::-1]
    elif bpp == 32:
        px = rows[:, : width * 4].reshape(height, width, 4)[:, :, [2, 1, 0]]
    else:
        per_byte = 8 // bpp
        n_idx_bytes = (width + per_byte - 1) // per_byte
        packed = rows[:, :n_idx_bytes]
        if bpp == 8:
            idx = packed[:, :width]
        else:
            # unpack big-endian-within-byte nibble/bit indices
            shifts = np.arange(per_byte - 1, -1, -1) * bpp
            mask = (1 << bpp) - 1
            idx = (
                (packed[:, :, None] >> shifts[None, None, :]) & mask
            ).reshape(height, n_idx_bytes * per_byte)[:, :width]
        if (idx >= len(pal)).any():
            raise ValueError("BMP pixel index outside the palette")
        px = pal[idx]
    return width, height, 3, np.ascontiguousarray(px)
