"""Extraction: bytes → text, HTML → text+links, format dispatch.

Reference semantics as per-URL Python functions, run the way the
reference ran them — inside the task that fetched the URL
(crawler/crawler_core.py:178-193): `parse_page` and `file_parser` are
the parses `fetch.fetch_frontier` calls in its fetch pass.

* charset cascade (crawler_core.py:33-55): header charset → utf-8
  (reject on mojibake markers) → windows-1254 → iso-8859-9 →
  utf-8/replace.  The Turkish-text-aware fallback order is preserved.
* HTML→text + link extraction (crawler/link_extractor.py:6-31):
  drop script/style/noscript subtrees, newline-joined text, absolutized
  + defragged hrefs with order-preserving dedup.  BeautifulSoup is not
  in this container, so the parser is a deliberately small stdlib
  HTMLParser equivalent — same observable contract.
* format extractor registry (crawler/file_ingestion.py:17-65): ext →
  callable(bytes) -> str.  PDF/DOCX/PPTX/XLSX libs are not in this
  container; those entries are import-gated and fall back to a
  clearly-marked stub.  Errors are returned AS DATA (error column),
  never raised — the reference's contract (file_ingestion.py:61-63).

Scale notes: the parses run in the fetch stage's Arrow-batched pass, so
fetched bodies never cross into the JVM; only text, links and error
markers do.  Type dispatch (F10, `parse_page` parses only text/html) and
the size cap (F9, `extract_document`) are checked per URL before any
parser runs, so skipped payloads are never parsed.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from html.parser import HTMLParser
from urllib.parse import urldefrag, urljoin

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_integration_system_spark.pipeline.fetch import ParseFn

# ---------------------------------------------------------------------------
# charset cascade (P5) — crawler_core.py:33-55
# ---------------------------------------------------------------------------

#: mojibake markers the reference uses to reject a utf-8 decode of
#: Turkish text mis-encoded as single-byte (crawler_core.py:44: exactly
#: 'ý' and 'þ' — adding more would misroute legitimate UTF-8 that
#: contains them, e.g. Icelandic 'ð', into the windows-1254 fallback).
_MOJIBAKE = ("ý", "þ")


def decode_bytes(data: bytes, header_charset: str | None = None) -> str:
    """The reference's decode cascade (crawler_core.py:33-55), one value.

    Try the HTTP-header charset first, then utf-8 (rejecting results that
    contain Turkish-mojibake markers), then windows-1254, iso-8859-9, and
    finally utf-8 with replacement.
    """
    if header_charset:
        try:
            return data.decode(header_charset)
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        text = data.decode("utf-8")
        if not any(m in text for m in _MOJIBAKE):
            return text
    except UnicodeDecodeError:
        pass
    for cs in ("windows-1254", "iso-8859-9"):
        try:
            return data.decode(cs)
        except (LookupError, UnicodeDecodeError):
            continue
    return data.decode("utf-8", errors="replace")


# ---------------------------------------------------------------------------
# HTML → text + links (P7/P8) — link_extractor.py:6-31
# ---------------------------------------------------------------------------

_SKIP_TAGS = frozenset({"script", "style", "noscript"})


class _TextAndLinks(HTMLParser):
    """stdlib equivalent of the reference's BeautifulSoup usage
    (link_extractor.py:7-31): text with script/style/noscript subtrees
    dropped, plus every a[href] in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self.chunks: list[str] = []
        self.hrefs: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a" and self._skip_depth == 0:
            # the reference decomposes skip-subtrees BEFORE selecting
            # a[href] (link_extractor.py:9-21), so links inside
            # noscript/script never enter the frontier
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            s = data.strip()
            if s:
                self.chunks.append(s)


def html_to_text_and_links(html: str, base_url: str = "") -> tuple[str, list[str]]:
    """Text (newline-joined, stripped — get_text("\\n", strip=True)) and
    absolutized, defragged, order-preserving-deduped links
    (link_extractor.py:14-31)."""
    p = _TextAndLinks()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # malformed HTML: keep whatever was parsed (errors-as-data)
    text = "\n".join(p.chunks)
    seen: set[str] = set()
    links: list[str] = []
    for href in p.hrefs:
        absu = urldefrag(urljoin(base_url, href) if base_url else href)[0]
        if absu and absu not in seen:
            seen.add(absu)
            links.append(absu)
    return text, links


# ---------------------------------------------------------------------------
# format extractor registry (S4-S9) — file_ingestion.py:17-65
# ---------------------------------------------------------------------------

Extractor = Callable[[bytes], str]


def _extract_txt(data: bytes) -> str:
    """S8 — utf-8 with errors ignored (file_ingestion.py:57-59)."""
    return data.decode("utf-8", errors="ignore")


def _extract_pdf(data: bytes) -> str:
    """S4 — PDF page-text join (file_ingestion.py:19-24).  The reference
    opens a temp file; PyMuPDF accepts in-memory bytes directly, which is
    the right shape for an executor (no local temp-file churn per blob)."""
    import fitz

    doc = fitz.open(stream=data, filetype="pdf")
    try:
        return "\n".join(page.get_text() for page in doc)
    finally:
        doc.close()


def _extract_docx(data: bytes) -> str:
    """S5 — DOCX paragraph join (file_ingestion.py:26-28)."""
    import io

    from docx import Document

    doc = Document(io.BytesIO(data))
    return "\n".join(p.text for p in doc.paragraphs)


def _extract_pptx(data: bytes) -> str:
    """S6 — PPTX slide/shape text join (file_ingestion.py:36-44): every
    shape with a `text` attribute, stripped, empties dropped."""
    import io

    from pptx import Presentation

    prs = Presentation(io.BytesIO(data))
    out: list[str] = []
    for slide in prs.slides:
        for shape in slide.shapes:
            if hasattr(shape, "text"):
                t = (shape.text or "").strip()
                if t:
                    out.append(t)
    return "\n".join(out)


def _extract_xlsx(data: bytes) -> str:
    """S7 — XLSX data_only row join (file_ingestion.py:46-54): computed
    cell values, non-empty cells space-joined per row, rows newline-joined
    across all worksheets."""
    import io

    from openpyxl import load_workbook

    wb = load_workbook(io.BytesIO(data), data_only=True)
    out: list[str] = []
    for ws in wb.worksheets:
        for row in ws.iter_rows(values_only=True):
            vals = [str(c) for c in row if c is not None and str(c).strip()]
            if vals:
                out.append(" ".join(vals))
    return "\n".join(out)


def _gated(modname: str, fn_name: str, binding: Extractor) -> Extractor:
    """Import-gated extractor: run the real binding when the library is
    present, otherwise a clearly-marked deterministic stub so the
    pipeline's plumbing stays testable in this container (reference
    implementations at file_ingestion.py:19-55).  Binding exceptions
    propagate to extract_document's errors-as-data channel."""

    def extract(data: bytes) -> str:
        try:
            __import__(modname)
        except ImportError:
            return f"[STUB:{fn_name}] {len(data)} bytes"
        return binding(data)

    return extract


#: ext → extractor, mirroring the dispatch table at file_ingestion.py:17-65.
#: .ppt routes through python-pptx and .xls through openpyxl exactly as the
#: reference does (file_ingestion.py:36,46) — both libraries reject the
#: legacy container formats, which surfaces as error-as-data, same as there.
EXTRACTORS: dict[str, Extractor] = {
    ".txt": _extract_txt,
    ".pdf": _gated("fitz", "extract_pdf", _extract_pdf),        # S4 PyMuPDF
    ".docx": _gated("docx", "extract_docx", _extract_docx),     # S5 python-docx
    ".doc": lambda b: "[legacy .doc not supported]",  # file_ingestion.py:33-34
    ".pptx": _gated("pptx", "extract_pptx", _extract_pptx),     # S6 python-pptx
    ".ppt": _gated("pptx", "extract_ppt", _extract_pptx),
    ".xlsx": _gated("openpyxl", "extract_xlsx", _extract_xlsx),  # S7 openpyxl
    ".xls": _gated("openpyxl", "extract_xls", _extract_xlsx),
}


def extract_document(data: bytes, ext: str, max_bytes: int = 25_000_000) -> tuple[str, str]:
    """S9 — dispatch-by-extension with size cap; returns (text, error).

    Errors are data, never exceptions (file_ingestion.py:61-63,90-92);
    oversize payloads are skipped with a marker (F9, :79-80)."""
    if len(data) > max_bytes:
        return "", "skipped_too_large"
    fn = EXTRACTORS.get(ext.lower())
    if fn is None:
        return "", f"unsupported_ext:{ext}"
    try:
        return fn(data), ""
    except Exception as e:  # noqa: BLE001 — the error channel IS the contract
        return "", f"{type(e).__name__}: {e}"


# ---------------------------------------------------------------------------
# per-URL parses, run by fetch.fetch_frontier in its fetch pass
# ---------------------------------------------------------------------------


def charset_of(content_type: str) -> str:
    """The charset= parameter of a Content-Type header, or ""."""
    for part in content_type.split(";"):
        part = part.strip()
        if part.lower().startswith("charset="):
            return part.split("=", 1)[1].strip()
    return ""


#: the columns `parse_page` adds to each fetched frontier row
PAGE_COLUMNS = "fetched boolean, text string, links array<string>"


def parse_page(url: str, body: bytes | None, content_type: str) -> tuple:
    """The page stream's parse: (fetched, text, links).  A failed fetch
    is (False, None, None); F10 type dispatch gives content that is not
    text/html no page and no links, (True, None, None)."""
    if body is None:
        return False, None, None
    if "text/html" not in content_type:
        return True, None, None
    html = decode_bytes(body, charset_of(content_type) or None)
    return (True, *html_to_text_and_links(html, base_url=url))


def _url_ext(url: str) -> str:
    """Python twin of functions.urls.ext_of: '.pdf' from
    'https://x/a.PDF?dl=1'."""
    m = re.search(r"(\.[^./\\]+)$", re.sub(r"[?#].*$", "", url))
    return m.group(1).lower() if m else ""


#: the columns `file_parser`'s parse adds to each fetched file-link row
FILE_COLUMNS = "text string, error string, size_bytes long"


def file_parser(max_bytes: int) -> ParseFn:
    """The file stream's parse: (text, error, size_bytes) by the S9
    dispatch on the URL's extension, oversize bodies included as
    `skipped_too_large` (F9); a failed download gives no row."""

    def parse(url: str, body: bytes | None, content_type: str) -> tuple | None:
        if body is None:
            return None
        return (*extract_document(body, _url_ext(url), max_bytes), len(body))

    return parse


def with_text_metrics(df: DataFrame, text_col: str = "text") -> Column | DataFrame:
    """P9 length metrics (filesystem_store.py:93,182,193) as columns."""
    return df.withColumn("text_len", F.length(text_col).cast("long")).withColumn(
        "size_bytes", F.octet_length(text_col).cast("long")
    )


_WS = re.compile(r"\s+")


def normalize_ws_py(text: str) -> str:
    """Python twin of functions.hashing.normalize_ws — used by unit tests
    to pin Spark-vs-CPython agreement (utils.py:15-18 semantics)."""
    return _WS.sub(" ", text.replace("\r\n", "\n")).strip()
