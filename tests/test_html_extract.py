"""HTML → text extraction (operators/html.py): stdlib-parser block
segmentation with jusText-style boilerplate gates, Arrow-batched
through mapInPandas. The registry's `html_extract` query additionally
proves round-trip exactness against the documents oracle."""

from __future__ import annotations

from taar_gcp_etl_spark.operators.html import (
    extract_html_doc,
    extract_html_text,
    wrap_documents_as_html,
)

ARTICLE = (
    "The quick brown fox jumps over the lazy dog near the river bank "
    "while the afternoon sun warms the meadow grass."
)

PAGE = f"""
<html><head><title>  My   Page </title>
<style>body {{ color: red }}</style>
<script>var x = "<p>not text</p>";</script></head>
<body>
<nav><a href="/">Home</a> <a href="/p">Products</a>
     <a href="/a">About</a> <a href="/c">Contact</a></nav>
<article><p>{ARTICLE}</p>
<p>Cats &amp; dogs co&#x2011;exist &lt;peacefully&gt; in many towns,
sharing gardens and doorsteps through every season of the year.</p>
</article>
<div><a href="/x">one</a> <a href="/y">two</a> <a href="/z">three</a></div>
<footer><a href="/tos">Terms</a> &copy; 2024</footer>
</body></html>
"""


class TestUrlCanonical:
    """operators/urls.py: Column-only canonicalization + URL dedup."""

    CASES = [
        # (messy, canonical)
        ("HTTP://Example.COM:80/a/b/?b=2&a=1&utm_source=x#f",
         "http://example.com/a/b?a=1&b=2"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com//a///b//", "http://example.com/a/b"),
        ("http://example.com/p?gclid=1&fbclid=2&ref=h&mc_eid=3",
         "http://example.com/p"),
        ("http://example.com/p?utm_campaign=spring&keep=1",
         "http://example.com/p?keep=1"),
    ]

    def test_canonical_rules(self, spark):
        from taar_gcp_etl_spark.operators.urls import canonical_url

        df = spark.createDataFrame(
            [(i, m) for i, (m, _) in enumerate(self.CASES)],
            "i long, url string",
        )
        got = {
            r.i: r.c
            for r in df.select("i", canonical_url("url").alias("c"))
            .collect()
        }
        for i, (_, want) in enumerate(self.CASES):
            assert got[i] == want, (self.CASES[i][0], got[i])


class TestExtractor:
    def test_boilerplate_dropped_content_kept(self):
        doc = extract_html_doc(PAGE)
        assert ARTICLE in doc["text"]
        assert "co‑exist" in doc["text"]  # char ref decoded
        assert "Cats & dogs" in doc["text"]    # entity decoded
        assert "<peacefully>" in doc["text"]
        # nav, link-list div, footer, script, style, title: all gone
        for boiler in ("Home", "Products", "one two three", "Terms",
                       "2024", "color: red", "not text", "My Page"):
            assert boiler not in doc["text"], boiler
        assert doc["title"] == "My Page"
        assert doc["n_links"] == 8
        assert doc["n_kept_blocks"] == 2
        assert doc["n_blocks"] > doc["n_kept_blocks"]
        assert 0 < doc["text_ratio"] < 1

    def test_link_density_boundary(self):
        # exactly half anchor text: kept (gate is <=); just over: dropped
        half = ("<p><a href='x'>aaaaa aaaaa aaaa</a> bbbbb bbbbb bbbb</p>")
        assert extract_html_doc(half)["n_kept_blocks"] == 1
        over = ("<p><a href='x'>aaaaa aaaaa aaaaa a</a> bbbb bbbb bb</p>")
        assert extract_html_doc(over)["n_kept_blocks"] == 0

    def test_short_blocks_dropped(self):
        doc = extract_html_doc("<p>Too short.</p><p>" + ARTICLE + "</p>")
        assert doc["n_kept_blocks"] == 1 and "Too short" not in doc["text"]

    def test_malformed_html_never_raises(self):
        for bad in (
            "<p>unclosed <div><<<>>&&& <a href=",
            "</p></div>only closers</body>",
            "plain text no tags at all " * 3,
            "",
            None,
            "<script>never closed " + ARTICLE,
        ):
            doc = extract_html_doc(bad)  # must not raise
            assert isinstance(doc["text"], str)
        # unclosed script swallows the rest — honest tolerant-parser
        # behavior, the block never materializes
        assert extract_html_doc("<script>x" + ARTICLE)["text"] == ""

    def test_mapinpandas_pipeline_and_wrapper_roundtrip(self, spark):
        rows = [(i, f"Document number {i} " + ARTICLE) for i in range(6)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pages = wrap_documents_as_html(docs)
        out = extract_html_text(pages).collect()
        got = {r.doc_id: r for r in out}
        assert len(got) == 6
        for i in range(6):
            assert got[i].text == f"Document number {i} " + ARTICLE
            assert got[i].title == f"Doc {i}"
            assert got[i].n_links == 5  # 4 nav + 1 footer
            assert got[i].n_kept_blocks == 1


class TestReviewHardening:
    """Review-pass regressions: omissible end tags, svg titles,
    dropped-subtree link counts, unparseable-URL dedup passthrough."""

    def test_omitted_head_end_tag_still_extracts_body(self):
        from taar_gcp_etl_spark.operators.html import extract_html_doc

        page = (
            "<html><head><meta charset='utf-8'><title>T</title>"
            "<body><p>" + ARTICLE + "</p></body></html>"
        )  # spec-legal: </head> omitted, <body> implies it
        doc = extract_html_doc(page)
        assert ARTICLE in doc["text"]
        assert doc["title"] == "T"

    def test_unclosed_title_does_not_swallow_document(self):
        from taar_gcp_etl_spark.operators.html import extract_html_doc

        page = "<head><title>Broken<body><p>" + ARTICLE + "</p>"
        doc = extract_html_doc(page)
        assert ARTICLE in doc["text"]
        assert doc["title"] == "Broken"

    def test_svg_title_does_not_contaminate_page_title(self):
        from taar_gcp_etl_spark.operators.html import extract_html_doc

        page = (
            "<head><title>Real Title</title></head><body>"
            "<svg><title>Search icon</title><path/></svg>"
            "<p>" + ARTICLE + "</p></body>"
        )
        doc = extract_html_doc(page)
        assert doc["title"] == "Real Title"
        assert "Search icon" not in doc["text"]

    def test_links_in_dropped_subtrees_not_counted(self):
        from taar_gcp_etl_spark.operators.html import extract_html_doc

        page = (
            "<body><noscript><a href='/x'>enable js</a></noscript>"
            "<p><a href='/real'>real</a> " + ARTICLE + "</p></body>"
        )
        assert extract_html_doc(page)["n_links"] == 1
