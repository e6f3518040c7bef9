"""Minimal from-spec baseline JPEG decoder (the scanned-PDF page-image
stage: /DCTDecode payloads from sources/pdf_text.extract_pdf_images).

A from-spec codec like operators/xls_writer.py (BIFF8/CFB) and
sources/pdf_text.py (ISO 32000): the container ships no image library,
and ITU-T T.81 (the JPEG spec) is public, so the baseline-sequential
subset that real corpora overwhelmingly use is decoded here with
stdlib + numpy:

- marker stream: SOI, APPn/COM skipped, DQT (8-bit precision), SOF0
  (baseline sequential DCT), DHT (canonical Huffman, Annex C), DRI
  restart intervals, SOS, EOI;
- entropy decode: per-component DC (difference categories + EXTEND,
  F.2.2.1) and AC (run/size with ZRL and EOB, F.2.2.2) Huffman streams
  with 0xFF00 byte-stuffing undone and RSTn boundaries resetting the DC
  predictors;
- reconstruction: dequantize, inverse zigzag, 2-D IDCT as the separable
  8x8 DCT-III matrix product (A.3.3) in float64, level shift +128,
  clamp to uint8;
- color: 1-component grayscale or 3-component YCbCr (JFIF full-range
  BT.601, upsampling by sample replication for subsampled chroma),
  h/v sampling factors 1 or 2.

Round 6 adds PROGRESSIVE mode (SOF2, the dominant web-JPEG variant):
per-component coefficient arrays accumulate across scans — DC first
(diff << Al) and DC refinement (one appended bit per block), AC first
with EOB-run coding, and AC successive-approximation refinement
(G.1.2.3: correction bits for history-nonzero coefficients while
zero-runs and EOB runs address the zero-history ones) — then one
shared dequant + IDCT reconstruction. Extended sequential (SOF1,
8-bit) decodes through the baseline path, which it matches
bit-for-bit.

Round 6 also adds LOSSLESS sequential (SOF3, T.81 Annex H process 14):
Huffman-coded SSSS difference categories against the seven spatial
predictors, modulo-2^16 reconstruction, point transform — 8-bit
non-subsampled components carried verbatim (gray or RGB; process 14
defines no color transform). Being lossless, its round-trip tests
assert PIXEL-EXACT equality.

Out of scope, raising a NAMED error (the S7 quarantine convention —
never silently wrong): hierarchical/arithmetic modes, 12-bit
precision, 4-component CMYK/Adobe transforms, lossless with restart
markers or subsampling. Round-trip tests in
tests/test_jpeg_codec.py drive this decoder against independently
written in-test baseline AND progressive ENCODERS (FDCT + Annex K
tables), the xls_writer/pdf_text strategy.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_MAGIC = b"\xff\xd8\xff"

# zigzag order (T.81 Figure 5): index i of the scan -> (row, col)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8x8 IDCT basis: M[u, x] = c(u)/2 * cos((2x+1) u pi / 16); the 2-D IDCT
# of coefficient block F is M.T @ F @ M (A.3.3 separability)
_IDCT_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _IDCT_M[_u, _x] = _c / 2.0 * np.cos((2 * _x + 1) * _u * np.pi / 16)


_FAST_BITS = 10  # fast-lookup window; codes longer than this are rare


class _HuffTable:
    """Canonical Huffman table (Annex C): a 2^10-entry first-level
    lookup resolves the overwhelmingly common short codes in one probe;
    longer codes fall back to the (length, code) dict."""

    def __init__(self, bits: list[int], values: bytes) -> None:
        if len(bits) < 16 or sum(bits) > len(values):
            raise ValueError("JPEG DHT segment truncated")
        self.lut: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                if code >= 1 << length:  # Kraft violation = corrupt DHT
                    raise ValueError(
                        "JPEG DHT code counts exceed the canonical space"
                    )
                self.lut[(length, code)] = values[k]
                code += 1
                k += 1
            code <<= 1
        self.fast: list[tuple[int, int] | None] = [None] * (1 << _FAST_BITS)
        for (length, c), sym in self.lut.items():
            if length <= _FAST_BITS:
                base = c << (_FAST_BITS - length)
                for i in range(1 << (_FAST_BITS - length)):
                    self.fast[base + i] = (sym, length)


class _BitReader:
    """MSB-first bit reader over a de-stuffed entropy segment — an
    integer accumulator refilled a byte at a time, so multi-bit reads
    and Huffman decodes cost one shift/mask instead of per-bit loops."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.n = len(data)
        self.pos = 0  # next unread byte
        self.acc = 0  # `bits` significant low bits pending
        self.bits = 0

    def _fill(self, need: int) -> None:
        while self.bits < need and self.pos < self.n:
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.bits += 8

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.bits < n:
            self._fill(n)
            if self.bits < n:
                raise ValueError("JPEG entropy segment truncated")
        self.bits -= n
        v = (self.acc >> self.bits) & ((1 << n) - 1)
        self.acc &= (1 << self.bits) - 1
        return v

    def read_bit(self) -> int:
        return self.read_bits(1)

    def decode(self, table: _HuffTable) -> int:
        if self.bits < _FAST_BITS:
            self._fill(_FAST_BITS)
        b = self.bits
        if b >= _FAST_BITS:
            window = (self.acc >> (b - _FAST_BITS)) & (
                (1 << _FAST_BITS) - 1
            )
        else:
            window = (self.acc << (_FAST_BITS - b)) & (
                (1 << _FAST_BITS) - 1
            )
        hit = table.fast[window]
        if hit is not None and hit[1] <= b:
            sym, ln = hit
            self.bits = b - ln
            self.acc &= (1 << self.bits) - 1
            return sym
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bits(1)
            sym = table.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """EXTEND (F.2.2.1): map t low bits to the signed difference."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_block(
    r: _BitReader, dc_tab: _HuffTable, ac_tab: _HuffTable, pred: int
) -> tuple[np.ndarray, int]:
    """One 8x8 block's 64 zigzag coefficients + updated DC predictor.

    The reader state lives in locals for the whole block (the sequential
    hot loop — hundreds of thousands of symbols per image — pays Python
    call overhead per METHOD otherwise); the fast path keeps the
    accumulator topped up to 26 bits so a Huffman symbol (<= 10-bit
    window) and its appended magnitude bits (<= 16) decode without an
    intermediate refill. Fallback to the reader's slow path covers
    long codes and the segment tail."""
    data, n = r.data, r.n
    pos, acc, bits = r.pos, r.acc, r.bits
    fast_m = (1 << _FAST_BITS) - 1
    zz = np.zeros(64, dtype=np.int32)
    k = 0
    rs = None  # None marks the DC symbol
    while True:
        while bits < 26 and pos < n:
            acc = (acc << 8) | data[pos]
            pos += 1
            bits += 8
        hit = (
            dc_tab.fast[(acc >> (bits - _FAST_BITS)) & fast_m]
            if rs is None and bits >= _FAST_BITS
            else ac_tab.fast[(acc >> (bits - _FAST_BITS)) & fast_m]
            if bits >= _FAST_BITS
            else None
        )
        if hit is not None and hit[1] <= bits:
            sym = hit[0]
            bits -= hit[1]
        else:
            r.pos, r.acc, r.bits = pos, acc & ((1 << bits) - 1), bits
            sym = r.decode(dc_tab if rs is None else ac_tab)
            pos, acc, bits = r.pos, r.acc, r.bits
        if rs is None:  # DC: sym = magnitude category
            if sym:
                if bits < sym:
                    r.pos, r.acc, r.bits = pos, acc, bits
                    raise ValueError("JPEG entropy segment truncated")
                bits -= sym
                v = (acc >> bits) & ((1 << sym) - 1)
                pred += (
                    v if v >= (1 << (sym - 1)) else v - (1 << sym) + 1
                )
            zz[0] = pred
            k = 1
            rs = 0
            continue
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run == 15:  # ZRL: sixteen zeros
                k += 16
                if k < 64:
                    continue
            break  # EOB (or the block filled exactly)
        k += run
        if k > 63:
            r.pos, r.acc, r.bits = pos, acc & ((1 << bits) - 1), bits
            raise ValueError("JPEG AC run past end of block")
        if bits < size:
            while bits < size and pos < n:
                acc = (acc << 8) | data[pos]
                pos += 1
                bits += 8
            if bits < size:
                r.pos, r.acc, r.bits = pos, acc, bits
                raise ValueError("JPEG entropy segment truncated")
        bits -= size
        v = (acc >> bits) & ((1 << size) - 1)
        zz[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
        k += 1
        if k >= 64:
            break
    r.pos, r.acc, r.bits = pos, acc & ((1 << bits) - 1), bits
    return zz, pred


def _entropy_segments(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """De-stuffed entropy-coded segments from ``pos`` up to the next
    non-RST marker; RSTn boundaries split segments."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        ff = data.find(b"\xff", pos)
        if ff < 0:
            cur += data[pos:]
            pos = n
            break
        cur += data[pos:ff]  # bulk copy of the marker-free run
        nxt = data[ff + 1] if ff + 1 < n else None
        if nxt == 0x00:  # stuffed 0xFF data byte
            cur.append(0xFF)
            pos = ff + 2
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            pos = ff + 2
        else:
            pos = ff
            break  # a real marker ends the scan
    segs.append(bytes(cur))
    return segs, pos


def decode_jpeg(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, channels, pixels[h, w, c] uint8) of a baseline,
    extended-sequential, progressive or lossless JPEG blob. Named
    errors for the remaining modes (S7 quarantine)."""
    if not data.startswith(JPEG_MAGIC[:2]):
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    restart_interval = 0
    frame = None  # (width, height, components)
    progressive = False
    lossless = False
    state = None  # progressive coefficient accumulator
    out = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker stream desynchronized")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(data):
            raise ValueError("JPEG truncated inside a marker segment")
        (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                if prec != 0:
                    raise ValueError(
                        "16-bit JPEG quantization tables not supported "
                        "(baseline is 8-bit)"
                    )
                qt[tid] = np.frombuffer(
                    body[i + 1 : i + 65], dtype=np.uint8
                ).astype(np.int32)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nval = sum(bits)
                values = body[i + 17 : i + 17 + nval]
                (huff_dc if cls == 0 else huff_ac)[tid] = _HuffTable(
                    bits, values
                )
                i += 17 + nval
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (identical
            # Huffman decoding at 8 bits) / SOF2 progressive
            if len(body) < 6:
                raise ValueError("JPEG SOF segment truncated")
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if _prec != 8:
                raise ValueError("only 8-bit JPEG precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = (w, h, comps)
            progressive = marker == 0xC2
        elif marker == 0xC3:  # SOF3 — lossless sequential (process 14)
            if len(body) < 6:
                raise ValueError("JPEG SOF segment truncated")
            _prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if _prec != 8:
                raise ValueError(
                    "only 8-bit lossless JPEG precision supported"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise ValueError(
                        "subsampled lossless JPEG not supported"
                    )
                comps.append({"id": cid, "h": 1, "v": 1, "tq": tq})
            frame = (w, h, comps)
            lossless = True
            progressive = False
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF{marker - 0xC0} (hierarchical/arithmetic "
                "mode) not supported — sequential (SOF0/1), "
                "progressive (SOF2) and lossless (SOF3) only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            if progressive:
                scan_comps = []
                for c in range(ns):
                    cid, tabs = body[1 + 2 * c : 3 + 2 * c]
                    ci = next(
                        (
                            i for i, cc in enumerate(frame[2])
                            if cc["id"] == cid
                        ),
                        None,
                    )
                    if ci is None:
                        raise ValueError(
                            "JPEG scan references unknown component"
                        )
                    scan_comps.append((ci, tabs >> 4, tabs & 0x0F))
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                if state is None:
                    state = _init_progressive(frame)
                segs, pos = _entropy_segments(data, pos)
                try:
                    _decode_progressive_scan(
                        frame, state, huff_dc, huff_ac, scan_comps,
                        ss, se, ahal >> 4, ahal & 0x0F, segs,
                        restart_interval,
                    )
                except KeyError as exc:
                    raise ValueError(
                        f"JPEG scan references undefined table {exc}"
                    )
            elif lossless:
                scan_tabs = {}
                for c in range(ns):
                    cid, tabs = body[1 + 2 * c : 3 + 2 * c]
                    scan_tabs[cid] = tabs >> 4  # DC-class table only
                ss, _se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                if restart_interval:
                    raise ValueError(
                        "lossless JPEG with restart markers not "
                        "supported"
                    )
                segs, pos = _entropy_segments(data, pos)
                try:
                    out = _decode_lossless_scan(
                        frame, huff_dc, scan_tabs, segs, ss,
                        ahal & 0x0F,
                    )
                except KeyError as exc:
                    raise ValueError(
                        f"JPEG scan references undefined table {exc}"
                    )
            else:
                scan_tabs = {}
                for c in range(ns):
                    cid, tabs = body[1 + 2 * c : 3 + 2 * c]
                    scan_tabs[cid] = (tabs >> 4, tabs & 0x0F)
                segs, pos = _entropy_segments(data, pos)
                try:
                    out = _decode_scan(
                        frame, qt, huff_dc, huff_ac, scan_tabs, segs,
                        restart_interval,
                    )
                except KeyError as exc:
                    raise ValueError(
                        f"JPEG scan references undefined table {exc}"
                    )
        else:
            continue  # APPn / COM / unknown: skipped
    if progressive and state is not None:
        try:
            out = _reconstruct_progressive(frame, qt, state)
        except KeyError as exc:
            raise ValueError(
                f"JPEG component references undefined quant table {exc}"
            )
    if out is None:
        raise ValueError("JPEG has no decoded scan (truncated?)")
    return out


def _decode_scan(frame, qt, huff_dc, huff_ac, scan_tabs, segs,
                 restart_interval) -> tuple[int, int, int, np.ndarray]:
    w, h, comps = frame
    nc = len(comps)
    if nc not in (1, 3):
        raise ValueError(
            f"{nc}-component JPEG (CMYK/unknown) not supported"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2 or any(
        c["h"] not in (1, 2) or c["v"] not in (1, 2) for c in comps
    ):
        raise ValueError("JPEG sampling factors beyond 2 not supported")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # per-component coefficient planes at full MCU-grid size
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8)) for c in comps
    ]
    n_mcus = mcus_x * mcus_y
    mcu = 0
    for seg in segs:
        if mcu >= n_mcus:
            break
        r = _BitReader(seg)
        preds = [0] * nc
        end = min(
            n_mcus, mcu + (restart_interval or n_mcus - mcu)
        )
        while mcu < end:
            my, mx = divmod(mcu, mcus_x)
            for ci, c in enumerate(comps):
                dc_t, ac_t = scan_tabs[c["id"]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz, preds[ci] = _decode_block(
                            r, huff_dc[dc_t], huff_ac[ac_t], preds[ci]
                        )
                        coeff = np.zeros(64)
                        coeff[ZIGZAG] = zz * q
                        block = (
                            _IDCT_M.T @ coeff.reshape(8, 8) @ _IDCT_M
                        )
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu += 1
    if mcu < n_mcus:
        raise ValueError("JPEG entropy data ends before last MCU")
    # upsample subsampled components by replication, crop, level shift
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], 0), hmax // c["h"], 1)
        full.append(p[:h, :w] + 128.0)
    if nc == 1:
        px = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, px[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    # JFIF full-range BT.601 (T.871)
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return w, h, 3, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _grid_dims(frame):
    """(mcus_x, mcus_y, per-component padded + non-interleaved block
    dims). Non-interleaved scans cover ceil(comp_size/8) blocks of the
    component's OWN sampled dimensions (A.2.2), which can be smaller
    than the MCU-padded grid interleaved scans fill."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    dims = []
    for c in comps:
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(h * c["v"]) // vmax)
        dims.append(
            {
                "pad_bx": mcus_x * c["h"],
                "pad_by": mcus_y * c["v"],
                "ni_bx": -(-cw // 8),
                "ni_by": -(-ch // 8),
            }
        )
    return mcus_x, mcus_y, dims


def _init_progressive(frame):
    """Per-component zigzag-order coefficient accumulators at the
    MCU-padded grid size, filled across scans."""
    _, _, dims = _grid_dims(frame)
    return [
        np.zeros((d["pad_by"], d["pad_bx"], 64), dtype=np.int32)
        for d in dims
    ]


def _decode_progressive_scan(
    frame, state, huff_dc, huff_ac, scan_comps, ss, se, ah, al, segs,
    restart_interval,
):
    """One progressive SOS into the coefficient accumulators — the four
    scan kinds of G.1.2: DC first/refine (Ss=0), AC first/refine
    (Ss>0, single component). EOB runs and DC predictors reset at
    restart boundaries (segs are already split on RSTn)."""
    w, h, comps = frame
    mcus_x, mcus_y, dims = _grid_dims(frame)
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan with Se != 0")
    if ss > 0 and len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if ss > se or se > 63:
        raise ValueError("progressive spectral band out of range")

    # scan order as a flat list of (ci, by, bx) block coordinates; an
    # "MCU" is one block in a non-interleaved (single-component) scan
    blocks: list[tuple[int, int, int]] = []
    if len(scan_comps) == 1:
        ci = scan_comps[0][0]
        d = dims[ci]
        for by in range(d["ni_by"]):
            for bx in range(d["ni_bx"]):
                blocks.append((ci, by, bx))
        mcu_blocks = 1
    else:
        for m in range(mcus_x * mcus_y):
            my, mx = divmod(m, mcus_x)
            for ci, _dt, _at in scan_comps:
                c = comps[ci]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blocks.append(
                            (ci, my * c["v"] + by, mx * c["h"] + bx)
                        )
        mcu_blocks = sum(
            comps[ci]["v"] * comps[ci]["h"] for ci, _d, _a in scan_comps
        )
    dc_tab = {ci: dt for ci, dt, _ in scan_comps}
    ac_tab = {ci: at for ci, _, at in scan_comps}
    per_seg = (
        restart_interval * mcu_blocks if restart_interval else len(blocks)
    )
    idx = 0
    for seg in segs:
        if idx >= len(blocks):
            break
        r = _BitReader(seg)
        preds = {ci: 0 for ci, _d, _a in scan_comps}
        eobrun = 0
        for _ in range(min(per_seg, len(blocks) - idx)):
            ci, by, bx = blocks[idx]
            zz = state[ci][by, bx]
            if ss == 0:
                if ah == 0:  # DC first
                    t = r.decode(huff_dc[dc_tab[ci]])
                    preds[ci] += _extend(r.read_bits(t), t)
                    zz[0] = preds[ci] << al
                else:  # DC refinement: one appended bit
                    if r.read_bit():
                        zz[0] |= 1 << al
            elif ah == 0:
                eobrun = _ac_first(
                    r, huff_ac[ac_tab[ci]], zz, ss, se, al, eobrun
                )
            else:
                eobrun = _ac_refine(
                    r, huff_ac[ac_tab[ci]], zz, ss, se, al, eobrun
                )
            idx += 1
    if idx < len(blocks):
        raise ValueError("JPEG progressive scan ends before last block")


def _ac_first(r, tab, zz, ss, se, al, eobrun):
    """AC first scan for one block (G.1.2.2): run/size pairs with
    EOBn codes spanning whole blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = r.decode(tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run < 15:  # EOBn
                eobrun = (1 << run) - 1
                if run:
                    eobrun += r.read_bits(run)
                break
            k += 16  # ZRL
            continue
        k += run
        if k > se:
            raise ValueError("JPEG progressive AC run past band end")
        zz[k] = _extend(r.read_bits(size), size) << al
        k += 1
    return eobrun


def _ac_refine(r, tab, zz, ss, se, al, eobrun):
    """AC refinement scan for one block (G.1.2.3): newly nonzero
    coefficients are coded as +-1<<Al; every HISTORY-nonzero
    coefficient traversed appends one correction bit; zero runs and
    EOB runs count only zero-history positions."""
    p1 = 1 << al
    k = ss

    def correct(pos: int) -> None:
        coef = int(zz[pos])
        if r.read_bit() and (coef & p1) == 0:
            zz[pos] = coef + (p1 if coef >= 0 else -p1)

    if eobrun == 0:
        while k <= se:
            rs = r.decode(tab)
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run < 15:  # EOBn: finish via the correction tail
                    eobrun = 1 << run
                    if run:
                        eobrun += r.read_bits(run)
                    break
                newval = 0  # ZRL: 16 zero-history positions
            else:
                if size != 1:
                    raise ValueError(
                        "JPEG AC refinement size must be 1"
                    )
                newval = p1 if r.read_bit() else -p1
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval and k <= se:
                zz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct_progressive(frame, qt, state):
    """Dequantize + inverse zigzag + batched IDCT + upsample — the
    shared tail once every scan has landed."""
    w, h, comps = frame
    nc = len(comps)
    if nc not in (1, 3):
        raise ValueError(
            f"{nc}-component JPEG (CMYK/unknown) not supported"
        )
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        zzs = state[ci].astype(np.float64) * qt[c["tq"]][None, None, :]
        by, bx = zzs.shape[:2]
        coeff = np.zeros((by, bx, 64))
        coeff[:, :, ZIGZAG] = zzs
        f = coeff.reshape(by, bx, 8, 8)
        blocks = np.einsum("ux,ijuv,vy->ijxy", _IDCT_M, f, _IDCT_M)
        plane = blocks.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], 0), hmax // c["h"], 1
        )
        full.append(plane[:h, :w] + 128.0)
    if nc == 1:
        px = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, 1, px[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    return w, h, 3, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_lossless_scan(frame, huff_dc, scan_tabs, segs, predictor, pt):
    """SOF3 lossless sequential scan (T.81 Annex H, process 14):
    Huffman-coded SSSS difference categories against one of the seven
    spatial predictors, modulo-2^16 reconstruction, point transform
    undone on output. Non-subsampled 8-bit components only (the frame
    parser enforces both); restart markers are rejected upstream so the
    scan is a single entropy segment."""
    w, h, comps = frame
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless JPEG predictor {predictor} invalid")
    r = _BitReader(b"".join(segs))
    nc = len(comps)
    default = 1 << (8 - pt - 1)
    planes = [np.zeros((h, w), dtype=np.int32) for _ in comps]
    tables = [huff_dc[scan_tabs[c["id"]]] for c in comps]
    for y in range(h):
        for x in range(w):
            for ci in range(nc):
                t = r.decode(tables[ci])
                if t == 16:  # H.1.2.2: no appended bits, diff = 32768
                    diff = 32768
                elif t > 16:
                    raise ValueError(
                        "lossless JPEG difference category out of range"
                    )
                else:
                    diff = _extend(r.read_bits(t), t)
                p = planes[ci]
                if y == 0 and x == 0:
                    pred = default
                elif y == 0:
                    pred = p[0, x - 1]
                elif x == 0:
                    pred = p[y - 1, 0]
                else:
                    ra = int(p[y, x - 1])
                    rb = int(p[y - 1, x])
                    rc = int(p[y - 1, x - 1])
                    pred = (
                        ra if predictor == 1
                        else rb if predictor == 2
                        else rc if predictor == 3
                        else ra + rb - rc if predictor == 4
                        else ra + ((rb - rc) >> 1) if predictor == 5
                        else rb + ((ra - rc) >> 1) if predictor == 6
                        else (ra + rb) >> 1
                    )
                p[y, x] = (int(pred) + diff) & 0xFFFF
    px = np.stack(
        [((p << pt) & 0xFF).astype(np.uint8) for p in planes], axis=-1
    )
    # lossless JPEG carries components verbatim (no YCbCr transform is
    # defined for process 14) — 1 plane is gray, 3 are RGB as stored
    return w, h, nc, px
