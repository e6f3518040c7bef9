"""Document corpus source (SURVEY.md §2.1 S1-S4).

The reference walks a dated folder tree (`<root>/<year>/<YYYYMMDD>/1场外开基/
<subdir>/<file>.pdf`, dividend_extractor.py:1265,1278-1284) and parses each
PDF with pdfplumber. The engine's scan is declarative:

- ``spark.read.format("binaryFile")`` with ``recursiveFileLookup`` +
  ``pathGlobFilter`` — the listing prunes non-PDFs before any read;
- the scan's task count follows its file count, not the core count
  (``decode_partitions``): Spark splits any multi-file scan into at least
  one task per core, and every stage that reads the persisted parse (the
  audit, the nine jobs, the quarantine) inherits that count and re-pays a
  task's fixed cost per partition. A day of about a hundred statements
  decodes in one task;
- path-segment metadata (year / date / category) extracted from the
  ``path`` column — filters on them prune FILES, not rows, because they're
  evaluated on file metadata before content is touched. ``category`` is
  the file's IMMEDIATE parent directory (the business subdir, e.g. 分红),
  not the fixed 1场外开基 level above it — the parent is the segment the
  reference's keyword routing actually reads;
- filename predicates (S2) applied before the parse stage, which matters
  because Catalyst will not reorder filters around a Python stage;
- the PDF text extraction (S3) is an Arrow-batched ``mapInPandas`` stage
  with per-file try/except feeding the failure side-channel (S7) — a bad
  file becomes a quarantine row, never a job crash
  (dividend_extractor.py:1425-1438).

The PDF/OCR codecs are import-gated: real ``%PDF`` containers go through
pdfplumber (the reference's codec, dividend_extractor.py:1292-1298) or
pypdf when either is installed; image bytes (PNG/JPEG magic) go through
easyocr when installed (manual_purchase_apply_extractor.py:75-181). In
this container neither library exists, so those branches raise inside the
try/except and the file lands in the S7 quarantine with a clear error —
while plain-text fixture ``.pdf``s take the UTF-8 path. The plumbing,
schema, and failure semantics are the real ones either way.
"""

from __future__ import annotations

import functools
import hashlib
import io
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Statements per decode task. Each partition of the parse adds a task to
# every stage of run_all that reads it: measured in warm runs on 4 vCPUs,
# a partition costs 0.95 s of executor time (19 tasks of 50 ms, 21 ms of
# each deserializing its stage's plan), a statement 0.76 ms across all
# stages (a 3,150-statement month against a 105-statement day). So a
# second task pays for itself near 1,250 statements; in wall time a
# 525-statement tree ran as fast in 1 task as in 2, a 1,050-statement
# tree slightly faster in 2.
FILES_PER_TASK = 1000

PARSED_SCHEMA = (
    "doc_id long, filename string, rel_path string, year string, "
    "date_partition string, category string, text string, status string, "
    "error string"
)


def scan_binary_corpus(
    spark: SparkSession,
    root: str,
    path_keyword: str | None = None,
    glob: str = "*.pdf",
) -> DataFrame:
    """S1 — recursive binary-file scan with path-predicate pruning."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(root)
    )
    if path_keyword:
        # match the DIRECTORY part only (`"分红" in root`, not the file
        # name — dividend_extractor.py:1279-1281)
        dirname = F.regexp_replace(F.col("path"), "/[^/]*$", "")
        df = df.filter(dirname.contains(path_keyword))
    return df


def decode_partitions(
    files: int, listed_bytes: int, parallelism: int, max_partition_bytes: int
) -> int:
    """Tasks for the decode of a listing: one per ``FILES_PER_TASK``
    statements, at most one per core, and never fewer than one per
    ``spark.sql.files.maxPartitionBytes`` of content. ``mapInPandas``
    hands Python up to 10,000 rows per Arrow batch, so the byte floor
    keeps a task's memory bound when the statements are large scans."""
    byte_floor = -(-listed_bytes // max_partition_bytes)
    return max(1, byte_floor, min(parallelism, -(-files // FILES_PER_TASK)))


def parse_path_metadata(df: DataFrame) -> DataFrame:
    """Path segments -> partition-style metadata columns
    (`<year>/<YYYYMMDD>/.../<category>/<file>`)."""
    return (
        df.withColumn("filename", F.element_at(F.split("path", "/"), -1))
        .withColumn("year", F.regexp_extract("path", r"/(\d{4})/\d{8}/", 1))
        .withColumn("date_partition", F.regexp_extract("path", r"/(\d{8})/", 1))
        .withColumn(
            "category", F.element_at(F.split("path", "/"), -2)
        )
    )


def filter_filenames(
    df: DataFrame, excludes: tuple[str, ...] = (), includes: tuple[str, ...] = ()
) -> DataFrame:
    """S2 — cheap filename predicates BEFORE the expensive parse stage."""
    for sub in excludes:
        df = df.filter(~F.col("filename").contains(sub))
    for sub in includes:
        df = df.filter(F.col("filename").contains(sub))
    return df


_IMAGE_MAGIC = (b"\x89PNG", b"\xff\xd8\xff")


@functools.cache
def pdf_codec() -> Callable[[bytes], str]:
    """The PDF text codec, resolved once per process: pdfplumber (the
    reference's codec, dividend_extractor.py:1292-1298), else pypdf, else
    the builtin from-spec extractor (sources/pdf_text.py — the xls_writer
    precedent applied to S3). The builtin raises a NAMED error for the
    features it deliberately doesn't cover (real passwords, CCITT/JBIG2/
    JPX), which the S7 side-channel turns into an informative quarantine
    row. A failed import is not retried per document: each retry cost
    about 90 µs, a fifth of a generated statement's one-core decode."""
    try:
        import pdfplumber
    except ImportError:
        pass
    else:

        def plumber_text(content: bytes) -> str:
            with pdfplumber.open(io.BytesIO(content)) as pdf:
                return "\n".join(p.extract_text() or "" for p in pdf.pages)

        return plumber_text
    try:
        from pypdf import PdfReader
    except ImportError:
        from .pdf_text import extract_pdf_text

        return extract_pdf_text

    def pypdf_text(content: bytes) -> str:
        reader = PdfReader(io.BytesIO(content))
        return "\n".join(p.extract_text() or "" for p in reader.pages)

    return pypdf_text


def decode_document(content: bytes) -> str:
    """S3/S4 codec dispatch on magic bytes, import-gated per library.

    - ``%PDF`` container -> ``pdf_codec()``: pdfplumber (reference
      codec), else pypdf, else the builtin from-spec extractor
      (sources/pdf_text.py: object scan + FlateDecode + Tj/TJ +
      ToUnicode CMaps — so plain generated PDFs decode even with no
      third-party PDF library installed); a PDF whose pages carry NO
      text (a scan) routes to ``ocr_scanned_pdf`` — embedded page images
      extracted and decoded from spec, glyph recognition import-gated —
      instead of returning silent empty text;
    - PNG/JPEG -> easyocr (manual_purchase_apply_extractor.py:75-181),
      imported per call, so a backend put into ``sys.modules`` after the
      first document is still found;
    - anything else -> UTF-8 decode (test fixtures are plain-text
      ``.pdf``s).
    A missing OCR library (or a PDF feature outside the builtin
    extractor's documented subset) raises HERE, inside the caller's
    try/except, so the file quarantines with a named error instead of
    crashing the job.
    """
    if content.startswith(b"%PDF"):
        text = pdf_codec()(content)
        return text if text.strip() else ocr_scanned_pdf(content)
    if content.startswith(_IMAGE_MAGIC):
        try:
            import easyocr
        except ImportError:
            raise ImportError(
                "image document needs easyocr (not installed)"
            ) from None
        reader = easyocr.Reader(["ch_sim", "en"], gpu=False)
        return "\n".join(reader.readtext(content, detail=0))
    return content.decode("utf-8")


def ocr_scanned_pdf(content: bytes) -> str:
    """S4 for scanned PDFs — the reference's PyMuPDF-render → EasyOCR
    path (manual_purchase_apply_extractor.py:75-181), with the render
    half built from spec: a scanned announcement's page images ARE the
    embedded /Subtype /Image XObjects, so ``extract_pdf_images`` plus
    the builtin JPEG and CCITT decoders reproduce exactly the pixels the
    reference rasterizes, with zero third-party libraries. Only the neural
    glyph-recognition step stays import-gated; when easyocr is absent
    the named error carries the decoded page-image inventory — the
    quarantine row then PROVES the front half worked on real bytes."""
    import numpy as np

    from .pdf_text import extract_pdf_images

    images = extract_pdf_images(content)
    if not images:
        raise ValueError(
            "PDF has no extractable text and no embedded page images "
            "(truncated or unsupported)"
        )
    pages: list[np.ndarray] = []
    for im in images:
        if im["format"] == "jpeg":
            from ..operators.jpeg_codec import decode_jpeg

            _, _, _, px = decode_jpeg(im["data"])
        else:
            px = _raw_samples_to_pixels(im)
        pages.append(px)
    try:
        import easyocr
    except ImportError:
        inv = ", ".join(
            f"p{im['page']}:{im['width']}x{im['height']}/{im['format']}"
            for im in images[:4]
        )
        raise ImportError(
            f"scanned PDF: {len(pages)} page image(s) decoded ({inv}) "
            "but no OCR backend (easyocr not installed)"
        ) from None
    reader = easyocr.Reader(["ch_sim", "en"], gpu=False)
    return "\n".join(
        "\n".join(reader.readtext(px, detail=0)) for px in pages
    )


def _raw_samples_to_pixels(im: dict):
    """(h, w, c) uint8 array from a filter-decoded PDF sample buffer
    (§8.9.5.2: every row starts byte-aligned). 8-bit Gray/RGB plus
    1-bit gray cover the Flate-compressed scans in the wild; anything
    else raises a named error (S7 quarantine)."""
    import numpy as np

    w, h, bpc = im["width"], im["height"], im["bits_per_component"]
    cs = im["color_space"]
    channels = {
        "DeviceRGB": 3, "CalRGB": 3, "DeviceGray": 1, "CalGray": 1,
    }.get(cs)
    if channels is None or bpc not in (1, 8) or (bpc == 1 and channels != 1):
        raise ValueError(
            f"PDF raw image {cs or '?'} at {bpc} bits/component not "
            "supported (DeviceRGB/DeviceGray 8-bit or 1-bit gray only)"
        )
    data = np.frombuffer(im["data"], dtype=np.uint8)
    if bpc == 1:
        stride = (w + 7) // 8
        if data.size < stride * h:
            raise ValueError("PDF raw image truncated")
        rows = data[: stride * h].reshape(h, stride)
        bits = np.unpackbits(rows, axis=1)[:, :w]
        return (bits * np.uint8(255))[..., None]
    if data.size < h * w * channels:
        raise ValueError("PDF raw image truncated")
    return data[: h * w * channels].reshape(h, w, channels)


def extract_text(df: DataFrame) -> DataFrame:
    """S3 + S7 — per-file text extraction with the failure side-channel.

    Codec is ``decode_document`` (magic-byte dispatch, import-gated real
    PDF/OCR libraries, UTF-8 for plain text). Output schema is
    PARSED_SCHEMA; rows with status='error' carry the exception text and
    NULL text.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                path = r["path"]
                rel = "/".join(path.split("/")[-4:-1]) + "/"
                doc_id = int.from_bytes(
                    hashlib.md5(path.encode()).digest()[:7], "big"
                )
                base = {
                    "doc_id": doc_id,
                    "filename": r["filename"],
                    "rel_path": rel,
                    "year": r["year"],
                    "date_partition": r["date_partition"],
                    "category": r["category"],
                }
                try:
                    text = decode_document(bytes(r["content"]))
                    rows.append({**base, "text": text, "status": "ok", "error": None})
                except Exception as ex:  # noqa: BLE001 — S7: never crash the job
                    rows.append(
                        {**base, "text": None, "status": "error", "error": str(ex)[:200]}
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema=PARSED_SCHEMA)


def load_corpus(
    spark: SparkSession,
    root: str,
    path_keyword: str | None = None,
    filename_excludes: tuple[str, ...] = (),
    filename_includes: tuple[str, ...] = (),
) -> DataFrame:
    """S1+S2+S3+S7 composed: scan -> prune -> parse. Returns PARSED_SCHEMA
    rows; callers split on ``status`` (ok -> pipeline, error -> quarantine
    sink)."""
    scanned = scan_binary_corpus(spark, root, path_keyword)
    # the scan's file index (listed after the glob) gives the count and
    # bytes without a Spark job; coalesce only merges Spark's own splits,
    # so it never adds a task
    listing = (
        scanned._jdf.queryExecution().analyzed().collectLeaves().head()
        .relation().location()
    )
    tasks = decode_partitions(
        len(listing.inputFiles()),
        listing.sizeInBytes(),
        spark.sparkContext.defaultParallelism,
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes(),
    )
    with_meta = parse_path_metadata(scanned)
    pruned = filter_filenames(with_meta, filename_excludes, filename_includes)
    return extract_text(pruned.select(
        "path", "content", "filename", "year", "date_partition", "category"
    ).coalesce(tasks))
