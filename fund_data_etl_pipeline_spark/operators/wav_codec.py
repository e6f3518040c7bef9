"""Minimal from-spec PCM WAV decoder (a library decoder; no registered
query calls it).

Fifth from-spec codec after operators/xls_writer.py (BIFF8/CFB),
sources/pdf_text.py (ISO 32000), operators/png_codec.py (W3C PNG) and
operators/jpeg_codec.py (ITU-T T.81): linear-PCM WAV is the RIFF
container (Microsoft/IBM WAVE spec, public) around raw samples — pure
struct parsing plus numpy, no DSP library needed:

- RIFF/WAVE chunk walk: ``fmt `` (format tag, channels, sample rate,
  bits per sample), ``data`` payload; other chunks (LIST, fact, cue)
  skipped; word-aligned chunk sizes honored (odd sizes pad one byte);
- sample decode: 8-bit unsigned and 16/24/32-bit signed little-endian
  PCM to float64 in [-1, 1), interleaved channels -> [frames, channels];
- ITU-T G.711 logarithmic companding (format tags 6 = A-law, 7 = mu-law;
  the telephony-corpus standard): 8-bit companded bytes expand to the
  spec's 13/14-bit linear values via the published segment/mantissa
  formulas (G.711 Tables 1a/2a), scaled into 16-bit range like every
  reference C implementation, then normalized by 32768;
- IMA/DVI ADPCM (format tag 0x11; IMA Digital Audio recommendation /
  RFC 3551 DVI4): 4-bit differential nibbles expanded block-by-block
  through the spec's 89-entry step table and predictor recurrence,
  per-channel block headers and round-robin 4-byte nibble interleave.

Out of scope, raising a NAMED error (the S7 quarantine convention —
never silently wrong): other compressed formats (MP3/AAC/IEEE-float/
extensible need real DSP or float handling the corpora we model
don't), and truncated containers. Round-trip tests in
tests/test_wav_codec.py drive this against an independently-written
in-test WAV writer, and the G.711 expanders against an in-test
compressor implementing the spec's forward (compress) direction.
"""

from __future__ import annotations

import struct

import numpy as np

WAV_MAGIC = b"RIFF"

# WAVE format tags (RIFF registry): linear PCM plus the two G.711
# companded telephony formats and IMA/DVI ADPCM, all expanded from spec
_TAG_PCM = 1
_TAG_ALAW = 6
_TAG_MULAW = 7
_TAG_IMA_ADPCM = 0x11

# IMA ADPCM tables (IMA Digital Audio recommendation; also RFC 3551
# DVI4): 89-entry step-size table and the 3-bit index adjustment
_IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def ima_adpcm_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM update (spec decode recurrence): returns the new
    (predictor, step index) after ``nibble``. Shared by the decoder and
    by any forward encoder, which must simulate the decoder exactly."""
    step = _IMA_STEP[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX[nibble & 7]))
    return pred, index


def expand_mulaw(b: np.ndarray) -> np.ndarray:
    """ITU-T G.711 mu-law byte -> linear float64 in [-1, 1).

    The transmitted byte is the COMPLEMENT of sign|exponent|mantissa
    (G.711 §, Table 2a). Decode: u = ~b; seg = bits 4-6, mantissa =
    bits 0-3; magnitude = ((mantissa << 3) + 0x84) << seg, minus the
    0x84 bias — the standard 14-bit value left-shifted into 16-bit
    range (max 32124), normalized by 32768.
    """
    u = (~b.astype(np.int64)) & 0xFF
    sign = (u & 0x80) != 0
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << seg) - 0x84
    return np.where(sign, -mag, mag).astype(np.float64) / 32768.0


def expand_alaw(b: np.ndarray) -> np.ndarray:
    """ITU-T G.711 A-law byte -> linear float64 in [-1, 1).

    The transmitted byte has even bits inverted (0x55 toggle, G.711
    Table 1a). Decode: u = b ^ 0x55; seg = bits 4-6, mantissa = bits
    0-3; segment 0 is linear ((mantissa << 4) + 8), higher segments add
    the implicit leading 1 and shift (((mantissa << 4) + 0x108) <<
    (seg - 1)) — the 13-bit value left-shifted into 16-bit range
    (max 32256), normalized by 32768.
    """
    u = b.astype(np.int64) ^ 0x55
    # A-law sign convention is INVERTED vs mu-law: bit 7 set = positive
    positive = (u & 0x80) != 0
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = np.where(
        seg == 0,
        (mant << 4) + 8,
        ((mant << 4) + 0x108) << np.maximum(seg - 1, 0),
    )
    return np.where(positive, mag, -mag).astype(np.float64) / 32768.0


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, channels, samples[frames, channels] float64 in
    [-1, 1)) of a linear-PCM WAV blob."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV (missing RIFF/WAVE header)")
    pos = 12
    fmt = None
    payload = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk truncated")
            tag, channels, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if tag not in (
                _TAG_PCM, _TAG_ALAW, _TAG_MULAW, _TAG_IMA_ADPCM
            ):
                raise ValueError(
                    f"WAV format tag {tag} (non-PCM: float/compressed/"
                    "extensible) not supported — linear PCM, G.711 "
                    "A-law/mu-law or IMA ADPCM only"
                )
            fmt = (tag, channels, rate, bits, _ba)
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("WAV data chunk truncated")
            payload = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or payload is None:
        raise ValueError("WAV missing fmt/data chunk (truncated?)")
    tag, channels, rate, bits, block_align = fmt
    if channels < 1:
        raise ValueError("WAV with zero channels")
    if tag == _TAG_IMA_ADPCM:
        if bits != 4:
            raise ValueError(
                f"IMA ADPCM WAV must be 4 bits per sample, got {bits}"
            )
        x = _decode_ima(payload, channels, block_align)
        return rate, channels, x
    if tag in (_TAG_ALAW, _TAG_MULAW):
        if bits != 8:
            raise ValueError(
                f"G.711 WAV must be 8 bits per sample, got {bits}"
            )
        expand = expand_alaw if tag == _TAG_ALAW else expand_mulaw
        x = expand(np.frombuffer(payload, dtype=np.uint8))
    elif bits == 8:  # unsigned
        x = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif bits == 16:
        x = np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32768.0
    elif bits in (24, 32):
        width = bits // 8
        n = len(payload) // width
        raw = np.frombuffer(
            payload[: n * width], dtype=np.uint8
        ).reshape(n, width)
        # little-endian sign-extend to int32
        acc = np.zeros(n, dtype=np.int64)
        for i in range(width):
            acc |= raw[:, i].astype(np.int64) << (8 * i)
        sign = 1 << (bits - 1)
        acc = (acc ^ sign) - sign
        x = acc.astype(np.float64) / float(sign)
    else:
        raise ValueError(f"{bits}-bit WAV PCM not supported (8/16/24/32)")
    frames = len(x) // channels
    return rate, channels, x[: frames * channels].reshape(frames, channels)


def _decode_ima(
    payload: bytes, channels: int, block_align: int
) -> np.ndarray:
    """IMA ADPCM WAV data chunk -> [frames, channels] float64.

    Block layout per the MS WAVE IMA spec: each ``block_align``-sized
    block opens with a 4-byte header per channel (int16 predictor,
    step-index byte, reserved), whose predictor IS the block's first
    output sample; nibble data follows in 4-byte units round-robin
    across channels, low nibble first within each byte. The recurrence
    is inherently sequential (each sample feeds the next predictor), so
    this is a Python loop — ADPCM blobs in a corpus are small and the
    operator runs per-blob inside Arrow batches.
    """
    if block_align < 4 * channels + 4:
        raise ValueError("IMA ADPCM block align too small for headers")
    chans: list[list[int]] = [[] for _ in range(channels)]
    for boff in range(0, len(payload), block_align):
        block = payload[boff : boff + block_align]
        if len(block) < 4 * channels:
            raise ValueError("WAV data chunk truncated mid ADPCM block")
        states = []
        for c in range(channels):
            (pred,) = struct.unpack("<h", block[4 * c : 4 * c + 2])
            index = min(88, block[4 * c + 2])
            chans[c].append(pred)
            states.append((pred, index))
        data = block[4 * channels :]
        group = 4 * channels
        for i in range(0, len(data) - (len(data) % group), group):
            for c in range(channels):
                pred, index = states[c]
                for byte in data[i + 4 * c : i + 4 * c + 4]:
                    for nib in (byte & 0xF, byte >> 4):
                        pred, index = ima_adpcm_step(pred, index, nib)
                        chans[c].append(pred)
                states[c] = (pred, index)
    arr = np.array(chans, dtype=np.float64).T / 32768.0
    return arr


def rms(samples: np.ndarray) -> float:
    """Root-mean-square level over all channels — the loudness feature
    the audio-features operator extracts."""
    if samples.size == 0:
        return 0.0
    return float(np.sqrt(np.mean(np.square(samples))))


# --- AIFF (EA IFF 85 / Audio IFF 1.3) --------------------------------

AIFF_MAGIC = b"FORM"


def _extended80(b: bytes) -> float:
    """IEEE 754 80-bit extended float -> Python float (AIFF-1.3 §2:
    the COMM chunk stores sampleRate this way). 1 sign bit, 15-bit
    biased exponent, 64-bit mantissa with explicit integer bit."""
    if len(b) != 10:
        raise ValueError("AIFF extended float must be 10 bytes")
    se = int.from_bytes(b[:2], "big")
    mant = int.from_bytes(b[2:], "big")
    sign = -1.0 if se & 0x8000 else 1.0
    exp = se & 0x7FFF
    if exp == 0 and mant == 0:
        return 0.0
    if exp == 0x7FFF:
        raise ValueError("AIFF sample rate is inf/NaN")
    scale = exp - 16383 - 63
    # the integer bit makes mant >= 2^63, so any scale above -31 means
    # a "sample rate" past ~8 GHz — reject as corrupt rather than
    # letting the power overflow
    if not -16500 < scale <= -31:
        raise ValueError("AIFF sample rate out of range")
    return sign * mant * 2.0 ** scale


def decode_aiff(data: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, channels, samples[frames, channels] float64 in
    [-1, 1)) of an AIFF PCM blob — the decode_wav contract. AIFF is the
    big-endian sibling of WAV: FORM/AIFF container, COMM (channel
    count, frame count, sample size, 80-bit-extended sample rate) and
    SSND (offset/blocksize header + big-endian signed PCM). AIFF-C
    (compressed, form type AIFC) raises a named error."""
    if len(data) < 12 or data[:4] != AIFF_MAGIC:
        raise ValueError("not an AIFF (missing FORM header)")
    form = data[8:12]
    if form == b"AIFC":
        raise ValueError(
            "AIFF-C (compressed AIFF) not supported — PCM AIFF only"
        )
    if form != b"AIFF":
        raise ValueError(f"FORM type {form!r} is not AIFF")
    pos = 12
    comm = ssnd = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "big")
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"AIFF {cid!r} chunk truncated")
        if cid == b"COMM":
            if size < 18:
                raise ValueError("AIFF COMM chunk too short")
            channels = int.from_bytes(body[0:2], "big", signed=True)
            bits = int.from_bytes(body[6:8], "big", signed=True)
            rate = _extended80(body[8:18])
            comm = (channels, bits, rate)
        elif cid == b"SSND":
            off = int.from_bytes(body[0:4], "big")
            ssnd = body[8 + off :]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if comm is None or ssnd is None:
        raise ValueError("AIFF missing COMM/SSND chunk (truncated?)")
    channels, bits, rate_f = comm
    if channels < 1:
        raise ValueError("AIFF with zero channels")
    if rate_f <= 0 or rate_f != rate_f:
        raise ValueError("AIFF sample rate invalid")
    rate = int(round(rate_f))
    if bits == 8:  # AIFF 8-bit PCM is SIGNED (unlike WAV)
        x = np.frombuffer(ssnd, dtype=np.int8).astype(np.float64) / 128.0
    elif bits == 16:
        x = np.frombuffer(
            ssnd[: len(ssnd) // 2 * 2], dtype=">i2"
        ).astype(np.float64) / 32768.0
    elif bits in (24, 32):
        width = bits // 8
        n = len(ssnd) // width
        raw = np.frombuffer(ssnd[: n * width], dtype=np.uint8)
        raw = raw.reshape(n, width)
        val = np.zeros(n, dtype=np.int64)
        for i in range(width):  # big-endian byte order
            val = (val << 8) | raw[:, i].astype(np.int64)
        sign_bit = 1 << (bits - 1)
        val = (val ^ sign_bit) - sign_bit
        x = val.astype(np.float64) / float(sign_bit)
    else:
        raise ValueError(
            f"AIFF sample size {bits} not supported (8/16/24/32 PCM)"
        )
    frames = x.shape[0] // channels
    return rate, channels, x[: frames * channels].reshape(frames, channels)
