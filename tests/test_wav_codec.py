"""Round-trip tests for the from-spec PCM WAV decoder
(operators/wav_codec.py): an independently-written minimal RIFF/WAVE
writer here builds real WAV byte streams (fmt + data chunks, 8/16/24-bit
PCM, word alignment, skippable LIST chunk), and the decoder must read
the samples back exactly — the xls_writer/pdf_text/png/jpeg round-trip
strategy applied to audio.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


def write_wav(
    samples: np.ndarray,
    rate: int = 16000,
    bits: int = 16,
    extra_chunk: bool = False,
) -> bytes:
    """In-test RIFF/WAVE writer: samples[frames, channels] float64 in
    [-1, 1) -> linear PCM."""
    frames, channels = samples.shape
    flat = samples.reshape(-1)
    if bits == 8:
        payload = (np.round(flat * 128.0) + 128.0).clip(0, 255).astype(
            np.uint8
        ).tobytes()
    elif bits == 16:
        payload = (
            np.round(flat * 32768.0).clip(-32768, 32767).astype("<i2").tobytes()
        )
    elif bits == 24:
        ints = np.round(flat * (1 << 23)).clip(
            -(1 << 23), (1 << 23) - 1
        ).astype(np.int64)
        b = bytearray()
        for v in ints:
            b += int(v & 0xFFFFFF).to_bytes(3, "little")
        payload = bytes(b)
    else:
        raise ValueError(bits)
    ba = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * ba, ba, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # a skippable odd-sized chunk exercises word alignment
        note = b"tool"
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _tone(frames=800, channels=2, rate=16000):
    t = np.arange(frames) / rate
    left = 0.5 * np.sin(2 * np.pi * 440 * t)
    right = 0.25 * np.sin(2 * np.pi * 880 * t)
    return np.stack([left, right], axis=1)[:, :channels]


def test_roundtrip_16bit_stereo():
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav

    s = _tone()
    rate, ch, back = decode_wav(write_wav(s, bits=16))
    assert (rate, ch) == (16000, 2)
    assert back.shape == s.shape
    assert np.abs(back - s).max() <= 1.0 / 32768.0  # one quantization step


def test_roundtrip_8bit_and_24bit_with_extra_chunk():
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav

    s = _tone(frames=321, channels=1)[:, :1]
    for bits, step in ((8, 1.0 / 128.0), (24, 1.0 / (1 << 23))):
        rate, ch, back = decode_wav(
            write_wav(s, bits=bits, extra_chunk=True)
        )
        assert (rate, ch) == (16000, 1)
        assert back.shape == s.shape
        assert np.abs(back - s).max() <= step


def test_rms_matches_numpy():
    from fund_data_etl_pipeline_spark.operators.wav_codec import (
        decode_wav,
        rms,
    )

    s = _tone()
    _, _, back = decode_wav(write_wav(s))
    assert abs(rms(back) - float(np.sqrt(np.mean(s**2)))) < 1e-3


def test_named_errors():
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"ID3\x03mp3-ish-bytes")
    blob = bytearray(write_wav(_tone(frames=10)))
    i = blob.index(b"fmt ") + 8
    blob[i:i + 2] = struct.pack("<H", 3)  # IEEE float tag
    with pytest.raises(ValueError, match="format tag 3"):
        decode_wav(bytes(blob))
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(write_wav(_tone(frames=10))[:-25])


# --- ITU-T G.711 A-law / mu-law (format tags 6/7) ------------------------
# In-test INDEPENDENT compressors implementing the spec's forward
# (compress) direction, segment-search style — the decoder under test
# implements the expand direction from the same tables, so
# expand(compress(x)) must land within one quantization step of x.

def _linear2ulaw(pcm: int) -> int:
    BIAS, CLIP = 0x84, 32635
    pcm = max(-CLIP, min(CLIP, pcm))
    if pcm < 0:
        pcm, mask = BIAS - pcm, 0x7F
    else:
        pcm, mask = pcm + BIAS, 0xFF
    seg = 0
    for top in (0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF):
        if pcm <= top:
            break
        seg += 1
    return ((seg << 4) | ((pcm >> (seg + 3)) & 0xF)) ^ mask


def _linear2alaw(pcm: int) -> int:
    pcm13 = pcm >> 3
    if pcm13 >= 0:
        mask = 0xD5
    else:
        mask, pcm13 = 0x55, -pcm13 - 1
    seg = 0
    for top in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF):
        if pcm13 <= top:
            break
        seg += 1
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (pcm13 >> 1) & 0xF if seg < 2 else (pcm13 >> seg) & 0xF
    return aval ^ mask


def write_g711_wav(companded: bytes, tag: int, rate=8000, channels=1) -> bytes:
    fmt = struct.pack("<HHIIHH", tag, channels, rate, rate * channels,
                      channels, 8)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(companded)) + companded
    if len(companded) & 1:
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_g711_spot_values():
    from fund_data_etl_pipeline_spark.operators.wav_codec import (
        expand_alaw,
        expand_mulaw,
    )

    # mu-law 0xFF complements to 0x00: seg 0, mantissa 0 -> exactly 0
    assert expand_mulaw(np.array([0xFF]))[0] == 0.0
    # mu-law 0x80 complements to 0x7F: +seg7/mant15 -> the spec max 32124
    assert expand_mulaw(np.array([0x80]))[0] * 32768.0 == 32124.0
    # A-law 0xD5 toggles to 0x80: positive, seg 0, mantissa 0 -> +8
    assert expand_alaw(np.array([0xD5]))[0] * 32768.0 == 8.0
    # A-law 0x55 toggles to 0x00: negative, seg 0, mantissa 0 -> -8
    assert expand_alaw(np.array([0x55]))[0] * 32768.0 == -8.0
    # A-law 0x2A toggles to 0x7F: negative, seg 7, mant 15 -> the max
    assert expand_alaw(np.array([0x2A]))[0] * 32768.0 == -32256.0


def test_g711_roundtrip_within_one_step():
    from fund_data_etl_pipeline_spark.operators.wav_codec import (
        expand_alaw,
        expand_mulaw,
    )

    pcm = np.arange(-32768, 32768, 17, dtype=np.int64)
    ub = np.array([_linear2ulaw(int(v)) for v in pcm], dtype=np.uint8)
    dec = expand_mulaw(ub) * 32768.0
    seg = ((~ub.astype(np.int64)) >> 4) & 7
    step = 1 << (seg + 3)
    assert np.all(np.abs(dec - np.clip(pcm, -32635, 32635)) <= step)

    ab = np.array([_linear2alaw(int(v)) for v in pcm], dtype=np.uint8)
    adec = expand_alaw(ab) * 32768.0
    aseg = ((ab.astype(np.int64) ^ 0x55) >> 4) & 7
    # A-law operates on the 13-bit value: step is 2^(seg+1) 13-bit units
    # = 2^(seg+4) in 16-bit units (segment 0/1 share the smallest step)
    astep = 1 << (np.maximum(aseg, 1) + 4)
    assert np.all(np.abs(adec - pcm) <= astep)


def test_g711_wav_container():
    from fund_data_etl_pipeline_spark.operators.wav_codec import (
        decode_wav,
        expand_mulaw,
        rms,
    )

    t = np.arange(800) / 8000.0
    pcm = np.round(0.4 * np.sin(2 * np.pi * 440 * t) * 32768.0).astype(int)
    comp = bytes(_linear2ulaw(int(v)) for v in pcm)
    blob = write_g711_wav(comp, tag=7)
    rate, ch, samples = decode_wav(blob)
    assert (rate, ch) == (8000, 1) and samples.shape == (800, 1)
    ref = expand_mulaw(np.frombuffer(comp, dtype=np.uint8))
    assert np.array_equal(samples.reshape(-1), ref)
    # quantized tone keeps its level: companding error is ~sub-percent
    assert abs(rms(samples) - 0.4 / np.sqrt(2)) < 0.01

    # G.711 must be 8-bit: a 16-bit G.711 header is a NAMED error
    bad = bytearray(write_g711_wav(comp, tag=6))
    i = bad.index(b"fmt ") + 8 + 14
    bad[i:i + 2] = struct.pack("<H", 16)
    with pytest.raises(ValueError, match="8 bits"):
        decode_wav(bytes(bad))


# --- IMA/DVI ADPCM (format tag 0x11) --------------------------------------
# In-test forward encoder (spec quantizer: sign + three step
# comparisons) that reuses the codec's shared ima_adpcm_step state
# update, so the encoder's internal reconstruction must equal the
# decoder's output BIT-EXACTLY.

def _ima_encode(samples: np.ndarray, pred: int, index: int):
    from fund_data_etl_pipeline_spark.operators.wav_codec import (
        _IMA_STEP,
        ima_adpcm_step,
    )

    nibbles, recon = [], []
    for s in samples:
        step = _IMA_STEP[index]
        diff = int(s) - pred
        nib = 8 if diff < 0 else 0
        diff = abs(diff)
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        pred, index = ima_adpcm_step(pred, index, nib)
        nibbles.append(nib)
        recon.append(pred)
    return nibbles, recon, pred, index


def write_ima_wav(pcm: np.ndarray, rate=8000, samples_per_block=505):
    """pcm[frames, channels] int -> IMA ADPCM WAV + the encoder's exact
    per-channel reconstruction (headers' first sample + nibble chain)."""
    frames, channels = pcm.shape
    nibs_per_block = samples_per_block - 1
    assert nibs_per_block % 8 == 0
    ba = 4 * channels + nibs_per_block * channels // 2
    recon = [[] for _ in range(channels)]
    blocks = bytearray()
    states = [(0, 0)] * channels  # carried across blocks like encoders do
    pos = 0
    while pos < frames:
        chunk = pcm[pos:pos + samples_per_block]
        hdr = bytearray()
        chan_nibs = []
        for c in range(channels):
            pred = int(chunk[0, c])
            _, index = states[c]
            hdr += struct.pack("<hBB", pred, index, 0)
            recon[c].append(pred)
            nb, rc, pred, index = _ima_encode(chunk[1:, c], pred, index)
            nb += [0] * (nibs_per_block - len(nb))  # pad final block
            chan_nibs.append(nb)
            recon[c].extend(rc)
            states[c] = (pred, index)
        data = bytearray()
        for i in range(0, nibs_per_block, 8):
            for c in range(channels):
                for j in range(i, i + 8, 2):
                    lo, hi = chan_nibs[c][j], chan_nibs[c][j + 1]
                    data.append(lo | (hi << 4))
        blocks += hdr + data
        pos += samples_per_block
    fmt = struct.pack("<HHIIHHHH", 0x11, channels, rate,
                      rate * ba // samples_per_block, ba, 4, 2,
                      samples_per_block)
    out = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    return (
        b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + out,
        recon,
    )


def test_ima_adpcm_mono_bit_exact_and_close():
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav

    t = np.arange(1010) / 8000.0
    pcm = np.round(12000 * np.sin(2 * np.pi * 440 * t)).astype(int)
    blob, recon = write_ima_wav(pcm.reshape(-1, 1))
    rate, ch, samples = decode_wav(blob)
    assert (rate, ch) == (8000, 1)
    dec = np.round(samples.reshape(-1) * 32768.0).astype(int)
    ref = np.array(recon[0])
    assert dec.shape == ref.shape and np.array_equal(dec, ref)
    # and the lossy reconstruction tracks the original tone closely
    n = len(pcm)
    assert np.mean(np.abs(dec[:n] - pcm)) < 600  # ~2% of amplitude


def test_ima_adpcm_stereo_interleave():
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav

    rng = np.random.default_rng(13)
    pcm = rng.integers(-20000, 20000, size=(505, 2))
    blob, recon = write_ima_wav(pcm, samples_per_block=505)
    _, ch, samples = decode_wav(blob)
    assert ch == 2
    dec = np.round(samples * 32768.0).astype(int)
    assert np.array_equal(dec[:, 0], np.array(recon[0]))
    assert np.array_equal(dec[:, 1], np.array(recon[1]))


def test_ima_adpcm_named_errors():
    from fund_data_etl_pipeline_spark.operators.wav_codec import decode_wav

    pcm = np.zeros((17, 1), dtype=int)
    blob, _ = write_ima_wav(pcm, samples_per_block=9)
    bad = bytearray(blob)
    i = bad.index(b"fmt ") + 8 + 14
    bad[i:i + 2] = struct.pack("<H", 16)  # claim 16 bits/sample
    with pytest.raises(ValueError, match="4 bits"):
        decode_wav(bytes(bad))
    # truncating inside the data chunk is a named error
    j = blob.index(b"data") + 8
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(blob[: j + 2])
