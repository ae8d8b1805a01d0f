"""PDF text extraction source (SURVEY.md S10).

The reference extracts per-page text with pymupdf
(``pre_processing/process_all.py:265-279``). pymupdf is not in this
container, so the extractor is an injectable callable: production
passes a pymupdf-backed function; tests pass a fake. The Spark
plumbing — binaryFile scan with glob pushdown, Arrow-batched
``mapInPandas``, path-derived book ids — is real and tested.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vnavc_spark.functions.text import file_stem

#: extractor contract: raw PDF bytes → extracted text
PdfExtractor = Callable[[bytes], str]

# --- pure-Python fallback parser (stdlib only) -----------------------------

_RE_STREAM = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
#: text-showing ops inside a content stream: (lit) Tj / (lit) ' / [..] TJ,
#: plus line-advance ops that become newlines
_RE_TEXT_OP = re.compile(
    rb"""(\((?:\\.|[^()\\])*\))\s*(Tj|')      # literal string shows
       | (<[0-9A-Fa-f\s]*>)\s*(Tj|')          # hex string shows
       | \[((?:\((?:\\.|[^()\\])*\)|<[0-9A-Fa-f\s]*>|[-+.\d\s])*)\]\s*TJ
       | (T\*|TD|Td)                          # line moves -> newline
    """,
    re.VERBOSE | re.DOTALL,
)
_RE_STR_IN_ARRAY = re.compile(rb"\((?:\\.|[^()\\])*\)|<[0-9A-Fa-f\s]*>")
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_literal(s: bytes) -> bytes:
    """PDF literal string body (no outer parens) → raw bytes."""
    out, i = bytearray(), 0
    while i < len(s):
        c = s[i : i + 1]
        if c == b"\\" and i + 1 < len(s):
            nxt = s[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            m = re.match(rb"[0-7]{1,3}", s[i + 1 :])
            if m:
                out.append(int(m.group(), 8) & 0xFF)
                i += 1 + len(m.group())
                continue
            i += 1  # line continuation / unknown escape: drop backslash
            continue
        out += c
        i += 1
    return bytes(out)


def _decode_string(tok: bytes) -> str:
    """A PDF string token — ``(literal)`` or ``<hex>`` — to text.
    UTF-16BE (BOM) handled; otherwise byte-preserving latin-1, which
    is correct for standard simple-font encodings and degrades
    gracefully (never throws) for CID fonts."""
    if tok.startswith(b"("):
        raw = _unescape_literal(tok[1:-1])
    else:
        hx = re.sub(rb"\s", b"", tok[1:-1])
        if len(hx) % 2:
            hx += b"0"
        raw = bytes.fromhex(hx.decode("ascii"))
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    return raw.decode("latin-1")


def extract_pdf_text_pure(data: bytes) -> str:
    """Dependency-free PDF text extraction: walk every stream object,
    inflate FlateDecode (stdlib zlib) or take unfiltered bytes, and
    collect the text-showing operators (Tj / ' / TJ) with line moves
    (Td/TD/T*) as newlines.

    Fidelity bounds (documented, not hidden): no font/CMap decoding —
    simple fonts with standard encodings extract cleanly (the common
    machine-generated case); CID-keyed fonts yield replacement-level
    bytes. No layout reconstruction beyond line-advance newlines.
    pymupdf (the reference's extractor, ``process_all.py:265-279``)
    remains the high-fidelity path when importable."""
    pieces: list[str] = []
    for m in _RE_STREAM.finditer(data):
        start = m.end()
        end = data.find(b"endstream", start)
        if end < 0:
            continue
        body = data[start:end]
        if b"FlateDecode" in m.group(1):
            # the deflate stream marks its own end, so the EOL before
            # ``endstream`` lands in unused_data; stripping CR/LF
            # first would eat a compressed body's own last byte
            inflater = zlib.decompressobj()
            try:
                body = inflater.decompress(body)
            except zlib.error:
                continue
            if not inflater.eof:
                continue  # truncated stream
        elif b"/Filter" in m.group(1):
            continue  # unsupported filter (LZW/DCT/...)
        else:
            body = body.rstrip(b"\r\n")
        if b"BT" not in body:
            continue  # not a text content stream
        line: list[str] = []
        for t in _RE_TEXT_OP.finditer(body):
            if t.group(1) or t.group(3):
                line.append(_decode_string(t.group(1) or t.group(3)))
            elif t.group(5) is not None:
                line.append(
                    "".join(
                        _decode_string(s)
                        for s in _RE_STR_IN_ARRAY.findall(t.group(5))
                    )
                )
            else:  # T*/Td/TD line move
                if line:
                    pieces.append("".join(line))
                    line = []
        if line:
            pieces.append("".join(line))
    return "\n".join(p for p in pieces if p)


def default_pdf_extractor(data: bytes) -> str:
    """pymupdf when importable (the reference's extractor, full
    fidelity); otherwise the pure-Python stream parser above — S10
    runs end-to-end with no external dependency either way."""
    try:  # pragma: no cover — not installed in this container
        import fitz  # type: ignore  # pymupdf

        with fitz.open(stream=data, filetype="pdf") as doc:
            return "\n".join(page.get_text() for page in doc)
    except ImportError:
        return extract_pdf_text_pure(data)


EXTRACT_SCHEMA = "book_id string, path string, raw_text string, n_pdf_bytes long"


def scan_pdfs(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """S12: binaryFile scan with pushed glob filter; book id from the
    filename stem."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            file_stem(F.regexp_replace("path", r"^file:", "")).alias("book_id"),
            F.regexp_replace("path", r"^file:", "").alias("path"),
            F.col("content"),
            F.col("length").alias("n_pdf_bytes"),
        )
    )


def extract_text(
    pdfs: DataFrame, extractor: PdfExtractor = default_pdf_extractor
) -> DataFrame:
    """S10: bytes → raw_text via Arrow-batched mapInPandas. Input
    rows carry the binary content column from ``scan_pdfs``; output
    drops it immediately so text, not blobs, flows downstream."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "book_id": list(pdf["book_id"]),
                    "path": list(pdf["path"]),
                    "raw_text": [extractor(bytes(b)) for b in pdf["content"]],
                    "n_pdf_bytes": list(pdf["n_pdf_bytes"]),
                }
            )

    return pdfs.mapInPandas(_extract, schema=EXTRACT_SCHEMA)
