"""Minimal REAL PDF 1.4 writer + metadata parser.

The reference pipeline is PDF-first (its core/document_processor.py reads
PDFs through three extractor fallbacks before chunking); this module gives
the Spark rebuild that document scan: a deterministic writer that emits a
genuine cross-reference-table PDF, and a parser that reads metadata the
way a conformant reader does — tail `startxref` → xref table → trailer
`/Root` → page tree — never by grepping the byte stream for keywords.

Scope is the classic xref-table subset of PDF 1.4: uncompressed content
streams, a flat page tree, literal-string Info values. Cross-reference
STREAMS (PDF 1.5+ compressed xref) and content-stream filters are
honestly refused with ValueError — wrong metadata is worse than a clean
refusal.
"""
from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One row per binary document: the input schema of every document scan.
MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("mime", T.StringType()),
    T.StructField("payload", T.BinaryType()),     # opaque bytes
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
])

PDF_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("version", T.StringType()),
    T.StructField("n_objects", T.IntegerType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("width", T.IntegerType()),       # first-page MediaBox
    T.StructField("height", T.IntegerType()),
    T.StructField("content_bytes", T.LongType()),  # sum of stream lengths
    T.StructField("title", T.StringType()),
])


def page_content(doc_id: int, page: int) -> bytes:
    """The deterministic per-page content stream (shared by the writer and
    the fixture-oracle formula)."""
    return (f"BT /F1 12 Tf 72 720 Td (page {page} of doc {doc_id}) Tj ET"
            .encode("ascii"))


def rich_page_content(doc_id: int, page: int) -> bytes:
    """A deterministic content stream that exercises the real text-op
    grammar: escaped parens inside a literal string, a TJ array with
    kerning numbers, and multiple show ops per page."""
    t1 = f"(Gradient descent notes \\(doc {doc_id}\\)) Tj"
    t2 = f"[(machine ) -250 (learning ) -250 (page {page})] TJ"
    t3 = f"(neural network summary {doc_id}-{page}) Tj"
    return (f"BT /F1 12 Tf 72 720 Td {t1} T* {t2} T* {t3} ET"
            .encode("ascii"))


def rich_page_text(doc_id: int, page: int) -> str:
    """The text pdf_text extracts from rich_page_content — the independent
    formula the fixture oracle recomputes (TJ strings concatenate, distinct
    show ops join with one space)."""
    return (f"Gradient descent notes (doc {doc_id})"
            f" machine learning page {page}"
            f" neural network summary {doc_id}-{page}")


def encode_pdf(doc_id: int, n_pages: int, width: int, height: int,
               title: str, content_fn=None) -> bytes:
    """Emit a real single-xref PDF 1.4 document: catalog → flat page tree →
    one uncompressed content stream per page → Info dict → xref table whose
    offsets are the actual byte positions → trailer → startxref. Any
    conformant PDF reader opens the result."""
    objects: list[bytes] = []
    # 1: catalog, 2: pages, 3..2+n: page objects, 3+n..2+2n: contents,
    # 3+2n: info
    first_content = 3 + n_pages
    kids = " ".join(f"{3 + p} 0 R" for p in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
                   .encode("ascii"))
    for p in range(n_pages):
        objects.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {width} {height}]"
            f" /Contents {first_content + p} 0 R"
            f" /Resources << /Font << /F1 << /Type /Font /Subtype /Type1"
            f" /BaseFont /Helvetica >> >> >> >>".encode("ascii"))
    streams = [(content_fn or page_content)(doc_id, p)
               for p in range(n_pages)]
    info_num = first_content + n_pages
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free-list head
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode("ascii") + body + b"\nendobj\n"
    for p, s in enumerate(streams):
        offsets.append(len(out))
        out += (f"{first_content + p} 0 obj\n<< /Length {len(s)} >>\n"
                f"stream\n".encode("ascii") + s + b"\nendstream\nendobj\n")
    offsets.append(len(out))
    out += (f"{info_num} 0 obj\n<< /Title ({title})"
            f" /Producer (kep-spark synth) >>\nendobj\n".encode("ascii"))
    xref_at = len(out)
    n_entries = info_num + 1
    out += f"xref\n0 {n_entries}\n".encode("ascii")
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode("ascii")
    out += (f"trailer\n<< /Size {n_entries} /Root 1 0 R /Info {info_num}"
            f" 0 R >>\nstartxref\n{xref_at}\n%%EOF\n".encode("ascii"))
    return bytes(out)


_REF_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_INT_RE = re.compile(rb"/(\w+)\s+(\d+)(?![\d.])")


def _object_body(payload: bytes, offsets: dict[int, int], num: int) -> bytes:
    """Slice object `num`'s body using its XREF OFFSET (the parse is
    offset-driven: a wrong xref entry fails here, it is not papered over
    by a whole-file scan)."""
    off = offsets[num]
    m = re.match(rb"(\d+)\s+\d+\s+obj\b", payload[off:off + 32])
    if not m or int(m.group(1)) != num:
        raise ValueError(f"xref offset for object {num} does not point at it")
    start = off + m.end()
    end = payload.index(b"endobj", start)
    return payload[start:end]


def parse_pdf(payload: bytes) -> tuple:
    """Real metadata parse, reader-style: header version; `startxref` from
    the tail; the xref table at that offset (20-byte entries); trailer
    /Size /Root /Info; catalog → /Pages → /Kids page walk; first-page
    /MediaBox; per-page /Contents → /Length sum; Info /Title."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    version = payload[5:payload.index(b"\n")].decode("ascii").strip()
    tail = payload[-256:]
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", tail)
    if not m:
        raise ValueError("no startxref/%%EOF tail")
    xref_at = int(m.group(1))
    if payload[xref_at:xref_at + 4] != b"xref":
        raise ValueError("xref offset does not point at an xref table "
                         "(compressed cross-reference streams unsupported)")
    pos = xref_at + 4
    offsets: dict[int, int] = {}
    while True:
        m = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", payload[pos:pos + 64])
        if not m:
            break
        first, count = int(m.group(1)), int(m.group(2))
        pos += m.end()
        for i in range(count):
            entry = payload[pos:pos + 20]
            if len(entry) < 18:
                raise ValueError("truncated xref entry")
            if entry[17:18] == b"n":
                offsets[first + i] = int(entry[:10])
            pos += 20
    tr_at = payload.index(b"trailer", pos - 20 if pos >= 20 else 0)
    trailer = payload[tr_at:tr_at + 512]
    ints = dict((k.decode(), int(v)) for k, v in _INT_RE.findall(trailer))
    refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(trailer))
    if "Size" not in ints or "Root" not in refs:
        raise ValueError("trailer missing /Size or /Root")
    n_objects = ints["Size"] - 1  # entry 0 is the free-list head

    catalog = _object_body(payload, offsets, refs["Root"])
    cat_refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(catalog))
    pages = _object_body(payload, offsets, cat_refs["Pages"])
    km = re.search(rb"/Kids\s*\[([^\]]*)\]", pages)
    cm = re.search(rb"/Count\s+(\d+)", pages)
    if not km or not cm:
        raise ValueError("page tree missing /Kids or /Count")
    kid_nums = [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", km.group(1))]
    n_pages = int(cm.group(1))
    if len(kid_nums) != n_pages:
        raise ValueError("flat page tree expected (/Count != len(/Kids))")

    width = height = 0
    content_bytes = 0
    for j, kid in enumerate(kid_nums):
        page = _object_body(payload, offsets, kid)
        if j == 0:
            mb = re.search(
                rb"/MediaBox\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s*\]", page)
            if not mb:
                raise ValueError("first page has no /MediaBox")
            width = int(mb.group(3)) - int(mb.group(1))
            height = int(mb.group(4)) - int(mb.group(2))
        prefs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(page))
        if "Contents" in prefs:
            cobj = _object_body(payload, offsets, prefs["Contents"])
            lm = re.search(rb"/Length\s+(\d+)", cobj)
            if not lm:
                raise ValueError("content stream without integer /Length")
            if re.search(rb"/Filter", cobj):
                raise ValueError("filtered content streams unsupported")
            content_bytes += int(lm.group(1))

    title = ""
    if "Info" in refs:
        info = _object_body(payload, offsets, refs["Info"])
        tm = re.search(rb"/Title\s*\(([^)]*)\)", info)
        if tm:
            title = tm.group(1).decode("ascii")
    return version, n_objects, n_pages, width, height, content_bytes, title


def extract_pdf_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas PDF metadata extraction — Arrow-batched like the other
    media paths; one Python pass per batch, no per-row UDF."""
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                v, nobj, npg, w, h, cb, title = parse_pdf(bytes(payload))
                rows.append((mid, v, nobj, npg, w, h, cb, title))
            yield pd.DataFrame(rows, columns=[
                "media_id", "version", "n_objects", "n_pages", "width",
                "height", "content_bytes", "title"])

    return (media.filter(F.col("mime") == "application/pdf")
            .select("media_id", "payload")
            .mapInPandas(process, schema=PDF_META_SCHEMA))


PDF_TEXT_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_words", T.IntegerType()),
])

_ESCAPES = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
            b"(": "(", b")": ")", b"\\": "\\"}


def _literal_string(buf: bytes, pos: int) -> tuple[str, int]:
    """Decode one PDF literal string starting at the '(' at `pos`; returns
    (text, index-after-closing-paren). Handles \\-escapes, octal \\ddd and
    balanced nested parens per the spec."""
    assert buf[pos:pos + 1] == b"("
    out, depth, i = [], 1, pos + 1
    while i < len(buf):
        c = buf[i:i + 1]
        if c == b"\\":
            nxt = buf[i + 1:i + 2]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, len(buf)) and buf[j:j + 1].isdigit():
                    j += 1
                out.append(chr(int(buf[i + 1:j], 8)))
                i = j
            else:  # line continuation or unknown escape: drop the backslash
                i += 2
        elif c == b"(":
            depth += 1
            out.append("(")
            i += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(")")
            i += 1
        else:
            out.append(c.decode("latin-1"))
            i += 1
    raise ValueError("unterminated PDF literal string")


def _stream_text(stream: bytes) -> list[str]:
    """Extract show-text operators from one uncompressed content stream in
    stream order: `(s) Tj`, `(s) '` and `[(s1) k (s2)] TJ` (TJ's strings
    concatenate; kerning numbers are positioning, not text)."""
    segs, i, n = [], 0, len(stream)
    while i < n:
        c = stream[i:i + 1]
        if c == b"(":
            s, i = _literal_string(stream, i)
            m = re.match(rb"\s*(Tj|')", stream[i:])
            if m:
                segs.append(s)
                i += m.end()
        elif c == b"[":
            j, parts = i + 1, []
            while j < n and stream[j:j + 1] != b"]":
                if stream[j:j + 1] == b"(":
                    s, j = _literal_string(stream, j)
                    parts.append(s)
                else:
                    j += 1
            m = re.match(rb"\s*TJ", stream[j + 1:])
            if m:
                segs.append("".join(parts))
                i = j + 1 + m.end()
            else:
                i = j + 1
        else:
            i += 1
    return segs


def pdf_text(payload: bytes) -> tuple[int, str]:
    """Real PDF text extraction over the xref-table subset: the same
    offset-driven object walk as parse_pdf, then each page's content
    stream is sliced to exactly its /Length bytes and its show-text
    operators decoded in order. Separate show ops join with one space
    (our subset has no positioning model to honor); filtered streams are
    refused, never mis-decoded. Reference analog: the PDF extractor chain
    in core/document_processor.py — re-expressed as a pure-bytes parser
    the Spark side runs batch-Arrow."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", payload[-256:])
    if not m:
        raise ValueError("no startxref/%%EOF tail")
    xref_at = int(m.group(1))
    if payload[xref_at:xref_at + 4] != b"xref":
        raise ValueError("compressed cross-reference streams unsupported")
    pos, offsets = xref_at + 4, {}
    while True:
        h = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", payload[pos:pos + 64])
        if not h:
            break
        first, count = int(h.group(1)), int(h.group(2))
        pos += h.end()
        for i in range(count):
            entry = payload[pos:pos + 20]
            if entry[17:18] == b"n":
                offsets[first + i] = int(entry[:10])
            pos += 20
    trailer = payload[payload.index(b"trailer", pos - 20):][:512]
    refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(trailer))
    catalog = _object_body(payload, offsets, refs["Root"])
    cat_refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(catalog))
    pages = _object_body(payload, offsets, cat_refs["Pages"])
    kid_nums = [int(x) for x in re.findall(
        rb"(\d+)\s+\d+\s+R",
        re.search(rb"/Kids\s*\[([^\]]*)\]", pages).group(1))]
    page_texts = []
    for kid in kid_nums:
        page = _object_body(payload, offsets, kid)
        prefs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(page))
        if "Contents" not in prefs:
            continue
        cobj = _object_body(payload, offsets, prefs["Contents"])
        if re.search(rb"/Filter", cobj):
            raise ValueError("filtered content streams unsupported")
        lm = re.search(rb"/Length\s+(\d+)", cobj)
        sm = re.search(rb"stream\r?\n", cobj)
        if not lm or not sm:
            raise ValueError("content object missing /Length or stream")
        body = cobj[sm.end():sm.end() + int(lm.group(1))]
        page_texts.append(" ".join(_stream_text(body)))
    return len(kid_nums), " ".join(page_texts)


def _scan_offsets(payload: bytes) -> dict[int, int]:
    """Rebuild the object table by scanning for `N 0 obj` headers — what
    real readers do when the xref table is corrupt. Later definitions win
    (incremental-update shadowing)."""
    offsets: dict[int, int] = {}
    for m in re.finditer(rb"(?m)^(\d+)\s+\d+\s+obj\b", payload):
        offsets[int(m.group(1))] = m.start()
    if not offsets:
        raise ValueError("no indirect objects found by scan")
    return offsets


def _walk_page_text(payload: bytes, offsets: dict[int, int]) -> tuple:
    """Shared page-tree walk for the xref and scan extractors: trailer (or
    scanned catalog) → /Root → /Pages → /Kids → per-page /Contents,
    streams sliced to exactly /Length bytes."""
    root = None
    tr_at = payload.rfind(b"trailer")
    if tr_at != -1:
        refs = dict((k.decode(), int(v))
                    for k, v in _REF_RE.findall(payload[tr_at:tr_at + 512]))
        root = refs.get("Root")
    if root is None:
        # trailer gone too: find the catalog among the scanned objects
        for num in sorted(offsets):
            try:
                if b"/Type /Catalog" in _object_body(payload, offsets, num):
                    root = num
                    break
            except ValueError:
                continue
    if root is None:
        raise ValueError("no /Root and no catalog object found")
    catalog = _object_body(payload, offsets, root)
    cat_refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(catalog))
    pages = _object_body(payload, offsets, cat_refs["Pages"])
    kid_nums = [int(x) for x in re.findall(
        rb"(\d+)\s+\d+\s+R",
        re.search(rb"/Kids\s*\[([^\]]*)\]", pages).group(1))]
    page_texts = []
    for kid in kid_nums:
        page = _object_body(payload, offsets, kid)
        prefs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(page))
        if "Contents" not in prefs:
            continue
        cobj = _object_body(payload, offsets, prefs["Contents"])
        if re.search(rb"/Filter", cobj):
            raise ValueError("filtered content streams unsupported")
        lm = re.search(rb"/Length\s+(\d+)", cobj)
        sm = re.search(rb"stream\r?\n", cobj)
        if not lm or not sm:
            raise ValueError("content object missing /Length or stream")
        page_texts.append(" ".join(_stream_text(
            cobj[sm.end():sm.end() + int(lm.group(1))])))
    return len(kid_nums), " ".join(page_texts)


def pdf_text_scan(payload: bytes) -> tuple[int, str]:
    """Fallback extractor #2: ignores the cross-reference machinery
    entirely — object offsets are rebuilt by scanning for object headers,
    then the same catalog → page-tree → stream walk runs. Succeeds on
    documents whose xref table or startxref tail is damaged."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    return _walk_page_text(payload, _scan_offsets(payload))


def pdf_text_harvest(payload: bytes) -> tuple[int, str]:
    """Fallback extractor #3 (last resort): no document structure at all —
    harvest every show-text operator in raw byte order. Survives a broken
    page tree; page count is honestly unknown (0). Strings outside content
    streams (e.g. /Title) are never followed by a show operator, so the
    grammar filter keeps them out."""
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    segs = _stream_text(payload)
    if not segs:
        raise ValueError("no show-text operators found")
    return 0, " ".join(segs)


# ordered like the reference's pypdf → pdfplumber → pymupdf chain
# (core/document_processor.py:91-177): fastest/strictest first, most
# tolerant last, first success wins, provenance recorded per document
PDF_EXTRACTOR_CHAIN = [("xref", pdf_text), ("scan", pdf_text_scan),
                       ("harvest", pdf_text_harvest)]


def pdf_text_chain(payload: bytes) -> tuple[str, int, str]:
    """Run the extractor chain; returns (extractor_name, n_pages, text) or
    ('failed', 0, '') when every strategy is exhausted — the reference
    returns None there (document_processor.py:177)."""
    for name, fn in PDF_EXTRACTOR_CHAIN:
        try:
            n_pages, text = fn(payload)
            return name, n_pages, text
        except Exception:
            continue
    return "failed", 0, ""


PDF_CHAIN_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("extractor", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("text", T.StringType()),
])


def extract_pdf_text_chain(media: DataFrame) -> DataFrame:
    """mapInPandas PDF extraction through the full fallback chain, with
    per-document extractor provenance (the reference's metadata.pdf_library
    field)."""
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                name, n_pages, text = pdf_text_chain(bytes(payload))
                rows.append((mid, name, n_pages, text))
            yield pd.DataFrame(rows, columns=[
                "media_id", "extractor", "n_pages", "text"])

    return (media.filter(F.col("mime") == "application/pdf")
            .select("media_id", "payload")
            .mapInPandas(process, schema=PDF_CHAIN_SCHEMA))


def corrupt_pdf(payload: bytes, mode: int) -> bytes:
    """Deterministic damage for fallback testing: 0 = intact, 1 = startxref
    offset zeroed (xref extractor fails, scan recovers), 2 = catalog's
    /Pages key mangled (xref AND scan fail, harvest recovers)."""
    if mode == 1:
        m = re.search(rb"startxref\s+(\d+)", payload)
        return (payload[:m.start(1)] + b"0" * len(m.group(1))
                + payload[m.end(1):])
    if mode == 2:
        return payload.replace(b"/Pages 2 0 R >>", b"/Pagez 2 0 R >>", 1)
    return payload


def synthetic_pdf_corrupt_media(spark: SparkSession, n: int = 24,
                                seed: int = 42) -> DataFrame:
    """Deterministic PDFs cycling intact / broken-xref / broken-page-tree —
    the fixture that exercises every stage of the extractor chain."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        w, h = PAGE_SIZES[i % len(PAGE_SIZES)]
        payload = corrupt_pdf(
            encode_pdf(i, n_pages, w, h, title=f"rich-{i}",
                       content_fn=rich_page_content), i % 3)
        rows.append((i, "document", "application/pdf", bytearray(payload),
                     {"damage": str(i % 3)}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


PDF_PAGES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("char_start", T.IntegerType()),
    T.StructField("char_end", T.IntegerType()),
])


def pdf_pages(payload: bytes) -> list[tuple[int, str, int, int]]:
    """Per-page extraction with the reference's page_mapping semantics
    (document_processor.py page_mapping: char offset span of each page in
    the concatenated document text, pages joined by one space) — the
    offsets citation rendering needs to say 'p. N'."""
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", payload[-256:])
    if not m or payload[int(m.group(1)):int(m.group(1)) + 4] != b"xref":
        raise ValueError("xref table required for page extraction")
    # reuse the strict parse for the page walk, then re-split per page
    _v, _n, n_pages, _w, _h, _cb, _t_ = parse_pdf(payload)
    _np, _full = pdf_text(payload)
    out, pos = [], 0
    # recompute per-page text with the same walk pdf_text does
    offsets = _xref_offsets(payload)
    trailer = payload[payload.rfind(b"trailer"):][:512]
    refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(trailer))
    catalog = _object_body(payload, offsets, refs["Root"])
    cat_refs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(catalog))
    pages = _object_body(payload, offsets, cat_refs["Pages"])
    kid_nums = [int(x) for x in re.findall(
        rb"(\d+)\s+\d+\s+R",
        re.search(rb"/Kids\s*\[([^\]]*)\]", pages).group(1))]
    for idx, kid in enumerate(kid_nums):
        page = _object_body(payload, offsets, kid)
        prefs = dict((k.decode(), int(v)) for k, v in _REF_RE.findall(page))
        text = ""
        if "Contents" in prefs:
            cobj = _object_body(payload, offsets, prefs["Contents"])
            lm = re.search(rb"/Length\s+(\d+)", cobj)
            sm = re.search(rb"stream\r?\n", cobj)
            text = " ".join(_stream_text(
                cobj[sm.end():sm.end() + int(lm.group(1))]))
        start = pos if idx == 0 else pos + 1  # the joining space
        out.append((idx, text, start, start + len(text)))
        pos = start + len(text)
    return out


def _xref_offsets(payload: bytes) -> dict[int, int]:
    """Parse the xref table into an object→offset map (shared helper)."""
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", payload[-256:])
    xref_at = int(m.group(1))
    pos, offsets = xref_at + 4, {}
    while True:
        h = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", payload[pos:pos + 64])
        if not h:
            break
        first, count = int(h.group(1)), int(h.group(2))
        pos += h.end()
        for i in range(count):
            entry = payload[pos:pos + 20]
            if entry[17:18] == b"n":
                offsets[first + i] = int(entry[:10])
            pos += 20
    return offsets


def extract_pdf_pages(media: DataFrame) -> DataFrame:
    """mapInPandas per-page PDF extraction with char-offset spans."""
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for page, text, cs, ce in pdf_pages(bytes(payload)):
                    rows.append((mid, page, text, cs, ce))
            yield pd.DataFrame(rows, columns=[
                "media_id", "page", "text", "char_start", "char_end"])

    return (media.filter(F.col("mime") == "application/pdf")
            .select("media_id", "payload")
            .mapInPandas(process, schema=PDF_PAGES_SCHEMA))


def extract_pdf_text(media: DataFrame) -> DataFrame:
    """mapInPandas PDF text extraction — the ingestion stage that turns a
    PDF binary column into document rows (Arrow-batched, no per-row UDF)."""
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_pages, text = pdf_text(bytes(payload))
                rows.append((mid, n_pages, text, len(text.split())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "n_pages", "text", "n_words"])

    return (media.filter(F.col("mime") == "application/pdf")
            .select("media_id", "payload")
            .mapInPandas(process, schema=PDF_TEXT_SCHEMA))


def pdf_documents(media: DataFrame) -> DataFrame:
    """PDFs as a documents-table source: (doc_id, text) rows ready for the
    KG extract stage — a reference user's PDF corpus enters the pipeline
    here."""
    return extract_pdf_text(media).select(
        F.concat(F.lit("pdf-"), F.col("media_id")).alias("doc_id"), "text")


def synthetic_pdf_text_media(spark: SparkSession, n: int = 24,
                             seed: int = 42) -> DataFrame:
    """Deterministic PDFs whose content streams carry the rich text-op
    grammar (escapes, TJ arrays, multiple show ops)."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 5 + seed) % 4
        w, h = PAGE_SIZES[i % len(PAGE_SIZES)]
        payload = encode_pdf(i, n_pages, w, h, title=f"rich-{i}",
                             content_fn=rich_page_content)
        rows.append((i, "document", "application/pdf", bytearray(payload),
                     {"pages": str(n_pages)}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# (width, height): US Letter, A4, US Legal — cycled by the fixture
PAGE_SIZES = [(612, 792), (595, 842), (612, 1008)]


def synthetic_pdf_media(spark: SparkSession, n: int = 30,
                        seed: int = 42) -> DataFrame:
    """Deterministic REAL PDF table: formula page counts and page sizes;
    every payload round-trips through parse_pdf and any external reader."""
    rows = []
    for i in range(n):
        n_pages = 1 + (i * 7 + seed) % 5
        w, h = PAGE_SIZES[i % len(PAGE_SIZES)]
        payload = encode_pdf(i, n_pages, w, h, title=f"doc-{i}")
        rows.append((i, "document", "application/pdf", bytearray(payload),
                     {"pages": str(n_pages)}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
