"""HTML → text extraction for web-corpus pipelines — stdlib parser,
Arrow-batched, boilerplate-filtered.

The first step of every web-scale training-data pipeline (C4,
RefinedWeb, FineWeb) is turning crawled HTML into clean text. The
container has no lxml/trafilatura, but none is needed for a principled
baseline: ``html.parser`` (stdlib, tolerant of malformed markup —
it never raises) drives a block-segmented extraction with the two
boilerplate signals the jusText/boilerpipe family showed carry most of
the weight:

* **link density** — navigation, footers, and tag clouds are blocks
  whose text is mostly anchor text; drop blocks above a threshold;
* **block length** — isolated short blocks ("Home", "© 2024", cookie
  banners) are boilerplate; keep short blocks only when they neighbor
  kept long blocks is the full jusText rule — this baseline applies
  the length gate directly, which is the dominant term.

Execution model: ``extract_html_text`` runs the parser per row inside
``mapInPandas`` (Arrow batches, one Python process per core). Parsing
is CPU-bound string work, exactly what scales linearly with
executors; nothing here shuffles. Script/style/template/svg/head
subtrees are dropped wholesale; character references decode via the
parser's ``convert_charrefs``.

Outputs per document: extracted ``text`` (kept blocks joined by
newlines), ``title``, ``n_blocks`` / ``n_kept_blocks``, ``n_links``,
and ``text_ratio`` (extracted chars / html chars — a crawl-quality
signal: near-zero means a script-only or boilerplate-only page).
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tags whose entire subtree is dropped. NOTE: "head" is handled
# separately (below) because its end tag is omissible in valid HTML —
# subtree depth accounting on an omissible tag would swallow the whole
# document when </head> is absent.
_DROP = frozenset(
    ("script", "style", "noscript", "template", "svg", "iframe")
)
# tags that terminate a text block (HTML block-level elements)
_BLOCK = frozenset(
    ("p", "div", "section", "article", "li", "ul", "ol", "table", "tr",
     "td", "th", "br", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
     "pre", "header", "footer", "nav", "aside", "main", "figure",
     "figcaption", "form")
)


class _Extractor(HTMLParser):
    """One pass: segment text into blocks, counting total vs anchor
    text per block so link density is computable per block."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int]] = []  # text, chars, link
        self._buf: list[str] = []
        self._chars = 0
        self._link_chars = 0
        self._drop_depth = 0
        self._anchor_depth = 0
        self._in_head = False
        self._in_title = False
        self.title = ""
        self.n_links = 0

    def _flush(self) -> None:
        text = " ".join("".join(self._buf).split())
        if text:
            self.blocks.append((text, self._chars, self._link_chars))
        self._buf, self._chars, self._link_chars = [], 0, 0

    def handle_starttag(self, tag, attrs):
        # a non-title tag ends any open <title> (title is text-only;
        # an unclosed one must not swallow the document)
        if tag != "title":
            self._in_title = False
        if tag == "head":
            self._in_head = True
            return
        if tag == "body":  # implicit </head>: the end tag is omissible
            self._in_head = False
        if tag in _DROP:
            self._drop_depth += 1
            return
        if tag == "title":
            # the page title is head-resident (capture it), but an svg
            # accessibility <title> inside a dropped subtree is not it
            if not self._drop_depth:
                self._in_title = True
            return
        if self._drop_depth or self._in_head:
            return  # don't count links inside dropped subtrees
        if tag == "a":
            self._anchor_depth += 1
            self.n_links += 1
        if tag in _BLOCK:
            self._flush()

    def handle_endtag(self, tag):
        self._in_title = False
        if tag == "head":
            self._in_head = False
            return
        if tag in _DROP:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in _BLOCK:
            self._flush()

    def handle_data(self, data):
        if self._in_title:  # title text (head-resident, kept separately)
            self.title += data
            return
        if self._drop_depth or self._in_head:
            return
        self._buf.append(data)
        n = len(data.strip())
        self._chars += n
        if self._anchor_depth:
            self._link_chars += n

    def close(self):
        super().close()
        self._flush()


def extract_html_doc(
    html: str,
    max_link_density: float = 0.5,
    min_block_chars: int = 25,
) -> dict:
    """Extract one document (driver-side/testing entry; the Spark path
    calls this per row inside mapInPandas). Returns text/title/counts.

    A block survives if its link density (anchor chars / chars) is
    under ``max_link_density`` AND it is at least ``min_block_chars``
    long — nav bars and footer link lists fail the first gate, button
    labels and copyright lines the second."""
    p = _Extractor()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        # html.parser is documented-tolerant; this is belt and braces
        # for pathological inputs (recursion bombs): emit an empty doc
        # rather than failing the task.
        return {"text": "", "title": "", "n_blocks": 0,
                "n_kept_blocks": 0, "n_links": 0, "text_ratio": 0.0}
    kept = [
        text
        for text, chars, link_chars in p.blocks
        if chars >= min_block_chars
        and (link_chars / chars if chars else 1.0) <= max_link_density
    ]
    text = "\n".join(kept)
    return {
        "text": text,
        "title": " ".join(p.title.split()),
        "n_blocks": len(p.blocks),
        "n_kept_blocks": len(kept),
        "n_links": p.n_links,
        "text_ratio": round(len(text) / max(len(html or ""), 1), 4),
    }


_OUT_FIELDS = [
    T.StructField("text", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("n_blocks", T.IntegerType()),
    T.StructField("n_kept_blocks", T.IntegerType()),
    T.StructField("n_links", T.IntegerType()),
    T.StructField("text_ratio", T.DoubleType()),
]


def extract_html_text(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    max_link_density: float = 0.5,
    min_block_chars: int = 25,
) -> DataFrame:
    """Distributed extraction: (id, html) → (id, text, title, counts).

    mapInPandas keeps the parse Arrow-batched and embarrassingly
    parallel; the id column passes through so downstream dedup/quality
    stages join back without re-keying. Column pruning applies — only
    (id, html) are read from the source."""
    out_schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType)] + _OUT_FIELDS
    )
    src = df.select(id_col, html_col)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, html in zip(pdf[id_col], pdf[html_col]):
                doc = extract_html_doc(
                    html,
                    max_link_density=max_link_density,
                    min_block_chars=min_block_chars,
                )
                doc[id_col] = did
                rows.append(doc)
            yield pd.DataFrame(
                rows, columns=[id_col] + [f.name for f in _OUT_FIELDS]
            )

    return src.mapInPandas(run, schema=out_schema)


def wrap_documents_as_html(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Test/bench harness: wrap plain text in a realistic page template
    (nav link bar, footer, script, entity) so the extractor has real
    boilerplate to remove. Column-only (no UDF)."""
    return df.select(
        F.col(id_col),
        F.concat(
            F.lit(
                "<html><head><title>Doc "
            ),
            F.col(id_col).cast("string"),
            F.lit(
                "</title><script>var x=1;</script></head><body>"
                "<nav><a href='/'>Home</a> <a href='/a'>Products</a> "
                "<a href='/b'>About&nbsp;us</a> <a href='/c'>Contact</a>"
                "</nav><article><p>"
            ),
            F.col(text_col),
            F.lit(
                "</p></article><footer><a href='/tos'>Terms</a> "
                "&copy; 2024</footer></body></html>"
            ),
        ).alias("html"),
    )
