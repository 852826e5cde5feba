"""pages -> extracted text + hyperlink edges (vectorized Arrow/pandas UDFs).

This is the Spark-first re-expression of the reference's builder
extract/mapping stage (UserDefinedExtractProcessor:
/root/reference/builder/core/src/main/java/com/antgroup/openspg/builder/core/physical/process/UserDefinedExtractProcessor.java)
and of the query-time derived-edge operator `LinkedExpand`
(/root/reference/reasoner/lube-physical/.../rdg/RDG.scala:129,
LocalRDG.java:336-410): edges are *computed* from page content instead of
read from storage.

Determinism contract (BASELINE.json input_hint): ``extract_text`` is a
pure function of the html bytes — byte-identical output per url across
runs/platforms. Implementation is stdlib-only (regex + html.unescape),
no environment-dependent parser.

The Spark entry points use ``mapInPandas`` — Arrow-batched, one Python
invocation per record batch (never per row via Spark's serializers; the
per-document parse loop inside the batch is the sanctioned pandas-UDF
slow path for opaque payloads).
"""

from __future__ import annotations

import html as _htmlmod
import re
from collections.abc import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Pure extraction kernel (deterministic, stdlib-only)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(rb"<script\b.*?</script\s*>", re.IGNORECASE | re.DOTALL)
_RE_STYLE = re.compile(rb"<style\b.*?</style\s*>", re.IGNORECASE | re.DOTALL)
_RE_COMMENT = re.compile(rb"<!--.*?-->", re.DOTALL)
_RE_HEAD = re.compile(rb"<head\b.*?</head\s*>", re.IGNORECASE | re.DOTALL)

# Tags that terminate a text block (their boundaries become newlines).
_BLOCK_TAGS = (
    "p|div|br|h1|h2|h3|h4|h5|h6|li|ul|ol|table|tr|td|th|title|header|footer|"
    "section|article|blockquote|pre|hr"
)
_RE_BLOCK = re.compile(rb"</?(?:%s)\b[^>]*>" % _BLOCK_TAGS.encode(), re.IGNORECASE)
_RE_TAG = re.compile(rb"<[^>]*>")
_RE_HREF = re.compile(
    rb"<a\b[^>]*?href\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]+))[^>]*>(.*?)</a\s*>",
    re.IGNORECASE | re.DOTALL,
)
_RE_SPACES = re.compile(r"[ \t\r\f\v]+")
_RE_NEWLINES = re.compile(r"\n{2,}")


def extract_text(html_bytes: bytes) -> str:
    """Extract visible text from HTML bytes. Pure + deterministic.

    Spec (frozen — golden fixtures depend on it):
      1. decode UTF-8 (errors='replace')
      2. drop <head>…</head>, <script>, <style>, comments
      3. block-level tag boundaries become '\\n'; other tags vanish
      4. HTML entities decoded
      5. runs of spaces/tabs collapse to one space; each line stripped;
         runs of blank lines collapse; result stripped
    """
    b = _RE_COMMENT.sub(b"", html_bytes)
    b = _RE_SCRIPT.sub(b"", b)
    b = _RE_STYLE.sub(b"", b)
    b = _RE_HEAD.sub(b"", b)
    b = _RE_BLOCK.sub(b"\n", b)
    b = _RE_TAG.sub(b"", b)
    text = _htmlmod.unescape(b.decode("utf-8", errors="replace"))
    text = _RE_SPACES.sub(" ", text)
    lines = [ln.strip() for ln in text.split("\n")]
    text = "\n".join(lines)
    text = _RE_NEWLINES.sub("\n", text).strip()
    return text


def extract_links(html_bytes: bytes, base_url: str) -> list[tuple[str, str]]:
    """Return [(absolute_href, anchor_text)] for every <a href=…> in order.

    Relative hrefs are resolved against ``base_url``. Fragments/duplicates
    are preserved here — normalization dedups (see normalize.py).
    """
    out: list[tuple[str, str]] = []
    for m in _RE_HREF.finditer(html_bytes):
        raw = m.group(2) or m.group(3) or m.group(4) or b""
        href = _htmlmod.unescape(raw.decode("utf-8", errors="replace")).strip()
        if not href or href.startswith(("javascript:", "mailto:", "data:")):
            continue
        anchor_html = m.group(5)
        anchor = extract_text(anchor_html) if anchor_html else ""
        try:
            absolute = urljoin(base_url, href)
        except ValueError:
            continue
        if absolute.startswith(("http://", "https://")):
            out.append((absolute, anchor))
    return out


# ---------------------------------------------------------------------------
# Spark operators (Arrow-batched)
# ---------------------------------------------------------------------------

EXTRACTED_SCHEMA = (
    "url string, text string, "
    "links array<struct<href: string, anchor: string>>"
)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) -> (url, text, links) via mapInPandas.

    Only ``url`` and ``html`` are read (column pruning keeps the scan
    narrow — at 100 TB the other page columns are never deserialized).
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts: list[str] = []
            links: list[list[dict[str, str]]] = []
            for url, blob in zip(pdf["url"], pdf["html"]):
                raw = bytes(blob) if blob is not None else b""
                texts.append(extract_text(raw))
                links.append(
                    [{"href": h, "anchor": a} for h, a in extract_links(raw, url)]
                )
            yield pd.DataFrame(
                {"url": pdf["url"], "text": texts, "links": links}
            )

    return pages.select("url", "html").mapInPandas(_batches, EXTRACTED_SCHEMA)


def extracted_edges(extracted: DataFrame) -> DataFrame:
    """``extract_pages`` output -> (src_url, dst_url, anchor), one row per
    hyperlink occurrence.

    The explode stays JVM-side; only the parse is Python.
    """
    exploded = extracted.select(
        F.col("url").alias("src_url"), F.explode("links").alias("link")
    )
    return exploded.select(
        "src_url",
        F.col("link.href").alias("dst_url"),
        F.col("link.anchor").alias("anchor"),
    )
