"""Seeded statement corpus: real PDF bytes laid out as the reference's
dated share (``<root>/<year>/<YYYYMMDD>/1场外开基/<subdir>/<file>.pdf``).

Every fixture text in ``testing.fixtures`` becomes a genuine one-page PDF:
a Type0 (Identity-H) font whose ToUnicode CMap maps 2-byte CIDs back to
the text's code points, with FlateDecode-compressed content and CMap
streams. The writer is independent of ``sources.pdf_text`` so the decode
stage is exercised on bytes it did not produce.

Each day also carries failure inputs with a known quarantine class:

- one poison file (invalid bytes behind a ``.pdf`` name) -> ``undecodable``;
- ``scanned_per_day`` image-only PDFs (a page that paints one FlateDecode
  DeviceGray image and carries no text) -> ``scanned_no_ocr`` when no OCR
  backend is installed (the page image is still decoded first);
- one ``notes.txt`` that the listing's ``*.pdf`` glob prunes before any read.

The seed decides only layout and bytes: the dates, the CID assignment of
each file, the line operators, the image pixels and how many scans land in
which folder. Extracted text, and so every job output, is seed-invariant.
"""

from __future__ import annotations

import datetime as dt
import random
import zlib
from dataclasses import dataclass, field
from pathlib import Path

from fund_data_etl_pipeline_spark.testing import fixtures as FX

# (fixture docs, subdir under 1场外开基) in the order tests/test_corpus_lifecycle
# lays them out; manual docs live under 2理财/确认.
FUND_GROUPS = (
    (FX.DIVIDEND_DOCS, "分红"),
    (FX.PURCHASE_APPLY_DOCS, "申购受理"),
    (FX.PURCHASE_CONFIRM_DOCS, "确认"),
    (FX.REDEMPTION_DOCS, "确认"),
    (FX.CONVERSION_DOCS, "确认"),
)
SCAN_SUBDIRS = ("分红", "申购受理", "确认")
POISON_BYTES = b"\xff\xfe\x00broken\x80"


def _pdf(objects: list[bytes]) -> bytes:
    """Numbered objects (1-based; object 1 is the Catalog) + xref + trailer."""
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objects) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objects) + 1,
        xref,
    )
    return bytes(out)


def _flate_stream(payload: bytes, extra: bytes = b"") -> bytes:
    data = zlib.compress(payload)
    return (
        b"<< /Length %d /Filter /FlateDecode%s >>\nstream\n" % (len(data), extra)
        + data
        + b"\nendstream"
    )


def _page_objects(resources: bytes) -> list[bytes]:
    return [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources " + resources + b" /Contents 4 0 R >>",
    ]


def text_pdf(text: str, rng: random.Random) -> bytes:
    """One page whose extracted text is exactly ``text`` (BMP characters,
    lines split on newline)."""
    chars = sorted(set(text.replace("\n", "")))
    cids = rng.sample(range(1, 0xFFFF), len(chars))
    cid = dict(zip(chars, cids))
    entries = sorted(cid.items(), key=lambda kv: kv[1])
    blocks = []
    for j in range(0, len(entries), 100):  # <=100 entries per bfchar block
        chunk = entries[j : j + 100]
        blocks.append(
            f"{len(chunk)} beginbfchar\n"
            + "".join(f"<{c:04X}> <{ord(ch):04X}>\n" for ch, c in chunk)
            + "endbfchar\n"
        )
    cmap = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        + "".join(blocks)
        + "endcmap\nend\n"
    ).encode("ascii")

    def show(line: str) -> str:
        return "<" + "".join(f"{cid[ch]:04X}" for ch in line) + ">"

    lines = text.split("\n")
    ops = [f"BT /F1 10 Tf 12 TL 72 720 Td {show(lines[0])} Tj"]
    for line in lines[1:]:
        # both next-line forms the extractor must treat as a line break
        ops.append(f"{show(line)} '" if rng.random() < 0.5 else f"T* {show(line)} Tj")
    ops.append("ET")
    content = " ".join(ops).encode("ascii")
    return _pdf(
        _page_objects(b"<< /Font << /F1 5 0 R >> >>")
        + [
            _flate_stream(content),
            b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
            _flate_stream(cmap),
        ]
    )


def scanned_pdf(rng: random.Random) -> bytes:
    """An image-only page: one 8-bit DeviceGray FlateDecode image XObject
    painted full-page, no text operators."""
    w, h = rng.randint(40, 96), rng.randint(24, 64)
    pixels = bytes(rng.getrandbits(8) for _ in range(w * h))
    image = _flate_stream(
        pixels,
        b" /Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8" % (w, h),
    )
    content = b"q 612 0 0 792 0 0 cm /Im1 Do Q"
    return _pdf(
        _page_objects(b"<< /XObject << /Im1 5 0 R >> >>")
        + [_flate_stream(content), image]
    )


@dataclass
class Corpus:
    """What was planted: the expected shape of a ``run_all`` over ``root``."""

    root: Path
    days: list[str]
    text_docs: dict[str, str] = field(default_factory=dict)  # path -> text
    planted_errors: dict[str, int] = field(default_factory=dict)  # class -> n
    files_on_disk: int = 0  # every file written, including the non-PDFs

    @property
    def pdf_files(self) -> int:
        return len(self.text_docs) + sum(self.planted_errors.values())


def business_days(start: dt.date, n: int) -> list[str]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.strftime("%Y%m%d"))
        d += dt.timedelta(days=1)
    return out


def build_corpus(root: Path, seed: int, n_days: int, scanned_per_day: int) -> Corpus:
    """Write ``n_days`` business days of statements under ``root``."""
    rng = random.Random(seed)
    start = dt.date(2025, 1, 1) + dt.timedelta(days=rng.randrange(300))
    corpus = Corpus(root=root, days=business_days(start, n_days))
    errors = {"undecodable": 0, "scanned_no_ocr": 0}
    for day in corpus.days:
        day_dir = root / day[:4] / day
        placed = [
            (doc, day_dir / "1场外开基" / sub) for docs, sub in FUND_GROUPS for doc in docs
        ] + [(doc, day_dir / "2理财" / "确认") for doc in FX.MANUAL_DOCS]
        for (_doc_id, filename, _rel, text), folder in placed:
            folder.mkdir(parents=True, exist_ok=True)
            path = folder / filename
            path.write_bytes(text_pdf(text, rng))
            corpus.text_docs[str(path)] = text
        fund_dir = day_dir / "1场外开基"
        (fund_dir / "分红" / "坏文件-红利.pdf").write_bytes(POISON_BYTES)
        errors["undecodable"] += 1
        for i in range(scanned_per_day):
            folder = fund_dir / rng.choice(SCAN_SUBDIRS)
            (folder / f"扫描件-{i + 1}.pdf").write_bytes(scanned_pdf(rng))
            errors["scanned_no_ocr"] += 1
        (fund_dir / "分红" / "notes.txt").write_text("ignore me", encoding="utf-8")
    corpus.planted_errors = {k: v for k, v in errors.items() if v}
    corpus.files_on_disk = sum(1 for p in root.rglob("*") if p.is_file())
    return corpus


def error_class(message: str | None) -> str:
    """Map a quarantine row's error text to its planted class."""
    msg = message or ""
    if "no OCR backend" in msg:
        return "scanned_no_ocr"
    if "codec can't decode" in msg:
        return "undecodable"
    return "other"
