"""Unified document ingestion: the reference's process_file dispatch.

The reference routes every input file by type — PDF through a 3-extractor
fallback chain, EPUB through chapter extraction, txt/md as plain text
(core/document_processor.py:506-539) — and records extractor provenance.
This module re-expresses that as one Spark operator over a binary media
column: mime-routed dispatch inside a single mapInPandas pass, with the
same provenance column and the same "None on failure" contract (a
`failed`/`unsupported` row, never a throw that kills the batch).

The EPUB path is REAL container handling: stdlib `zipfile` opens the OCF
zip, validates the `mimetype` entry, reads `META-INF/container.xml` for
the OPF rootfile, resolves the spine's idrefs through the manifest, and
strips XHTML down to text in spine order — the same chapter walk the
reference does through ebooklib (document_processor.py:335-448).
"""
from __future__ import annotations

import io
import re
import zipfile
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .pdf import (MEDIA_SCHEMA, PAGE_SIZES, corrupt_pdf, encode_pdf,
                  pdf_text_chain, rich_page_content)

_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_ENTITIES = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"',
             "&apos;": "'", "&nbsp;": " "}


def _xhtml_text(markup: str) -> str:
    """Strip tags, decode the core entities, collapse whitespace."""
    text = _TAG_RE.sub(" ", markup)
    for ent, ch in _ENTITIES.items():
        text = text.replace(ent, ch)
    return _WS_RE.sub(" ", text).strip()


def epub_text(payload: bytes) -> tuple[str, int, str]:
    """Real OCF/EPUB parse: (title, n_chapters, text). Raises ValueError on
    a non-EPUB zip or a broken container — the dispatch layer converts
    that to a `failed` row."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as e:
        raise ValueError(f"not a zip container: {e}") from e
    names = set(zf.namelist())
    if "mimetype" not in names or \
            zf.read("mimetype").strip() != b"application/epub+zip":
        raise ValueError("missing or wrong OCF mimetype entry")
    if "META-INF/container.xml" not in names:
        raise ValueError("missing META-INF/container.xml")
    container = zf.read("META-INF/container.xml").decode("utf-8")
    m = re.search(r'full-path="([^"]+)"', container)
    if not m:
        raise ValueError("container.xml has no rootfile full-path")
    opf_path = m.group(1)
    opf = zf.read(opf_path).decode("utf-8")
    base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    tm = re.search(r"<dc:title[^>]*>([^<]*)</dc:title>", opf)
    title = tm.group(1) if tm else ""
    manifest = dict(re.findall(
        r'<item\s+id="([^"]+)"\s+href="([^"]+)"', opf))
    spine = re.findall(r'<itemref\s+idref="([^"]+)"', opf)
    if not spine:
        raise ValueError("empty spine")
    chapters = []
    for idref in spine:
        href = manifest.get(idref)
        if href is None:
            raise ValueError(f"spine idref {idref!r} not in manifest")
        chapters.append(_xhtml_text(zf.read(base + href).decode("utf-8")))
    return title, len(spine), " ".join(chapters)


def encode_epub(doc_id: int, n_chapters: int, title: str) -> bytes:
    """Deterministic REAL EPUB: a genuine OCF zip (stored mimetype first,
    as the spec requires) with container.xml, an OPF manifest+spine, and
    XHTML chapters carrying tags and entities for the stripper to earn."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(zipfile.ZipInfo("mimetype"), b"application/epub+zip",
                    compress_type=zipfile.ZIP_STORED)
        zf.writestr("META-INF/container.xml",
                    '<?xml version="1.0"?><container version="1.0">'
                    '<rootfiles><rootfile full-path="OEBPS/content.opf"'
                    ' media-type="application/oebps-package+xml"/>'
                    "</rootfiles></container>")
        items = "".join(
            f'<item id="ch{c}" href="ch{c}.xhtml"'
            f' media-type="application/xhtml+xml"/>'
            for c in range(n_chapters))
        refs = "".join(f'<itemref idref="ch{c}"/>'
                       for c in range(n_chapters))
        zf.writestr(
            "OEBPS/content.opf",
            f'<?xml version="1.0"?><package version="2.0">'
            f"<metadata><dc:title>{title}</dc:title></metadata>"
            f"<manifest>{items}</manifest><spine>{refs}</spine></package>")
        for c in range(n_chapters):
            zf.writestr(f"OEBPS/ch{c}.xhtml", epub_chapter_markup(doc_id, c))
    return buf.getvalue()


def epub_chapter_markup(doc_id: int, chapter: int) -> str:
    """Deterministic chapter XHTML (shared by the writer and the
    fixture-oracle formula)."""
    return (f"<html><body><h1>Chapter {chapter}</h1>"
            f"<p>Notes on <b>machine learning</b> &amp; neural network"
            f" design, doc {doc_id}.</p></body></html>")


def epub_chapter_text(doc_id: int, chapter: int) -> str:
    """What _xhtml_text extracts from epub_chapter_markup."""
    return (f"Chapter {chapter} Notes on machine learning & neural network"
            f" design, doc {doc_id}.")


INGEST_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("doc_type", T.StringType()),
    T.StructField("extractor", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("n_chars", T.IntegerType()),
    T.StructField("text", T.StringType()),
])


def ingest_documents(media: DataFrame) -> DataFrame:
    """The reference's process_file as ONE Spark operator: mime-routed
    dispatch, PDF fallback chain with provenance, EPUB chapter walk, plain
    text/markdown decode; failures become (`failed`, empty) rows and
    unsupported mimes (`unsupported`) — nothing throws past a document."""
    def one(mime: str, payload: bytes) -> tuple:
        if mime == "application/pdf":
            name, n_pages, text = pdf_text_chain(payload)
            return "pdf", name, n_pages, text
        if mime == "application/epub+zip":
            try:
                _title, n_ch, text = epub_text(payload)
                return "epub", "epub", n_ch, text
            except ValueError:
                return "epub", "failed", 0, ""
        if mime in ("text/plain", "text/markdown"):
            try:
                # same contract as the reference's process_text: one page
                return "text", "plain", 1, payload.decode("utf-8")
            except UnicodeDecodeError:
                return "text", "failed", 0, ""
        return "unsupported", "none", 0, ""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mime, payload in zip(pdf["media_id"], pdf["mime"],
                                          pdf["payload"]):
                dt, ex, n_pages, text = one(mime, bytes(payload))
                rows.append((mid, dt, ex, n_pages, len(text), text))
            yield pd.DataFrame(rows, columns=[
                "media_id", "doc_type", "extractor", "n_pages", "n_chars",
                "text"])

    return (media.select("media_id", "mime", "payload")
            .mapInPandas(process, schema=INGEST_SCHEMA))


def synthetic_mixed_corpus(spark: SparkSession, n: int = 28,
                           seed: int = 42) -> DataFrame:
    """Deterministic mixed-format corpus: PDFs (one per damage mode, so
    every chain stage appears), EPUBs, plain text, markdown, and one
    unsupported mime — the dispatch fixture."""
    rows = []
    for i in range(n):
        kind = i % 7
        if kind <= 2:  # pdf: intact / broken-xref / broken-page-tree
            n_pages = 1 + (i * 5 + seed) % 4
            w, h = PAGE_SIZES[i % len(PAGE_SIZES)]
            payload = corrupt_pdf(
                encode_pdf(i, n_pages, w, h, title=f"doc-{i}",
                           content_fn=rich_page_content), kind)
            rows.append((i, "document", "application/pdf",
                         bytearray(payload), {}))
        elif kind <= 4:  # epub
            n_ch = 1 + (i * 3 + seed) % 3
            rows.append((i, "document", "application/epub+zip",
                         bytearray(encode_epub(i, n_ch, f"book-{i}")), {}))
        elif kind == 5:
            rows.append((i, "document", "text/plain",
                         bytearray(f"plain notes {i} on gradient descent"
                                   .encode()), {}))
        else:
            rows.append((i, "document", "application/octet-stream",
                         bytearray(b"\x00\x01binary"), {}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
