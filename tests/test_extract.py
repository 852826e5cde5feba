"""Extraction golden tests: byte-identical text per url; exact edge set."""

from linkgraph.extract import (
    extract_links,
    extract_pages,
    extract_text,
    extracted_edges,
)
from linkgraph.normalize import canonicalize_url


def test_extract_text_basic():
    html = (
        b"<html><head><title>T</title><style>a{}</style></head>"
        b"<body><h1>Hello &amp; hi</h1><p>one  two</p>"
        b"<script>if (1 < 2) {}</script>"
        b"<!-- no --><div>tail</div></body></html>"
    )
    assert extract_text(html) == "Hello & hi\none two\ntail"


def test_extract_text_deterministic():
    html = b"<p>alpha</p><p>beta</p>"
    assert extract_text(html) == extract_text(html) == "alpha\nbeta"


def test_extract_links_resolution():
    html = (
        b'<a href="/rel">r</a>'
        b'<a href="https://other.com/x#f">abs</a>'
        b"<a href='single'>s</a>"
        b'<a href="mailto:x@y.z">skip</a>'
    )
    links = extract_links(html, "https://www.example.com/dir/page")
    assert links == [
        ("https://www.example.com/rel", "r"),
        ("https://other.com/x#f", "abs"),
        ("https://www.example.com/dir/single", "s"),
    ]


def test_spark_extracted_text_byte_identical(tiny_pages):
    pages, _plan = tiny_pages
    got = {r["url"]: r["text"] for r in extract_pages(pages).collect()}
    expected = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    assert got == expected  # byte-identical per url


def test_spark_extracted_edges_match_plan(tiny_pages):
    pages, plan = tiny_pages
    raw = extracted_edges(extract_pages(pages)).collect()
    got = {
        (canonicalize_url(r["src_url"]), canonicalize_url(r["dst_url"]))
        for r in raw
        if canonicalize_url(r["src_url"]) != canonicalize_url(r["dst_url"])
    }
    assert got == plan.edge_urls()
