"""Hostile-input contract for the builtin decoders (CCITT fax, PDF LZW,
JPEG, TIFF and the PDF text and image walks): random garbage and
mutated/truncated valid streams must either decode or raise a NAMED
ValueError — never an IndexError/OverflowError/struct.error leaking out
of the codec, and never a hang. (The S7 side-channel quarantines any
exception, but the named-error contract is what makes quarantine rows
readable, and an unexpected exception class usually marks a real bug —
this pass has caught uncaught zlib.error in PDF Flate, KeyError and
struct.error in JPEG, and IndexError in TIFF.)"""

from __future__ import annotations

import numpy as np

from fund_data_etl_pipeline_spark.operators.ccitt_codec import (
    decode_g3_1d,
    decode_g3_2d,
    decode_g4,
)
from fund_data_etl_pipeline_spark.sources.pdf_text import (
    extract_pdf_images,
    unpack_lzw,
)

from test_ccitt_codec import _text_like, encode_g3_2d, encode_g4
from test_pdf_text import lzw_encode


def _ok(fn, blob):
    try:
        fn(blob)
    except ValueError:
        return
    # success is fine too; anything else propagates and fails the test


def test_random_garbage_names_its_errors():
    rng = np.random.RandomState(0)
    for _ in range(150):
        blob = rng.bytes(rng.randint(1, 300))
        _ok(lambda b: decode_g4(b, 64, rows=8), blob)
        _ok(lambda b: decode_g3_1d(b, 64, rows=8), blob)
        _ok(lambda b: decode_g3_2d(b, 64, rows=8), blob)
        _ok(unpack_lzw, blob)
        _ok(lambda b: extract_pdf_images(b"%PDF-1.4\n" + b), blob)


def test_mutated_valid_streams_name_their_errors():
    rng = np.random.RandomState(1)
    img = _text_like(rows=8, cols=48, seed=4)
    corpora = [
        (lambda b: decode_g4(b, 48, rows=8), encode_g4(img)),
        (lambda b: decode_g3_2d(b, 48, rows=8), encode_g3_2d(img, k=2)),
        (unpack_lzw, lzw_encode(b"BT /F1 12 Tf (42,000.00) Tj ET " * 8)),
    ]
    for _ in range(150):
        for fn, base in corpora:
            b = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            _ok(fn, bytes(b))
            _ok(fn, bytes(base[: rng.randint(1, len(base))]))


def test_older_codecs_mutation_fuzz():
    """Same contract for the JPEG and TIFF decoders and the PDF text
    extractor: bit-flipped and truncated valid streams raise named
    ValueError/NotImplementedError only."""
    from fund_data_etl_pipeline_spark.operators.jpeg_codec import decode_jpeg
    from fund_data_etl_pipeline_spark.operators.tiff_codec import decode_tiff
    from fund_data_etl_pipeline_spark.sources.pdf_text import (
        extract_pdf_text,
    )
    from test_jpeg_codec import encode_jpeg
    from test_pdf_text import simple_pdf
    from test_tiff_codec import write_tiff

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (12, 16, 3)).astype(np.uint8)
    corpora = [
        (decode_jpeg, encode_jpeg(img)),
        (decode_tiff, write_tiff(img)),
        (extract_pdf_text, simple_pdf(b"BT (hello) Tj ET", compress=True)),
    ]

    def ok(fn, blob):
        try:
            fn(blob)
        except (ValueError, NotImplementedError):
            pass

    for _ in range(120):
        for fn, base in corpora:
            b = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            ok(fn, bytes(b))
            ok(fn, bytes(base[: rng.randint(1, len(base))]))


def test_container_metadata_mutation_fuzz():
    """The scanned-PDF image walk (object table, image dictionaries,
    /DCTDecode payload) under the same mutation contract."""
    from test_jpeg_codec import encode_jpeg
    from test_pdf_images import image_obj, scanned_pdf

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    jpg = encode_jpeg(img)
    corpora = [
        (
            extract_pdf_images,
            scanned_pdf([image_obj(jpg, 16, 16, filt=b"/DCTDecode")]),
        ),
    ]

    def ok(fn, blob):
        try:
            fn(blob)
        except (ValueError, NotImplementedError):
            pass

    for _ in range(150):
        for fn, base in corpora:
            b = bytearray(base)
            for _ in range(rng.randint(1, 4)):
                b[rng.randint(len(b))] ^= 1 << rng.randint(8)
            ok(fn, bytes(b))
            ok(fn, bytes(base[: rng.randint(1, len(base))]))
