"""Byte-identical HTML -> text extraction.

Replicates the reference's ``strip_tags`` exactly (``/root/reference/src/
DataSetUtil.py:88-102``): a stdlib ``html.parser.HTMLParser`` subclass with
``strict=False`` and ``convert_charrefs=True`` that concatenates text nodes. Tags are
dropped, character/entity references are decoded, script/style text is KEPT (the
parser emits their bodies via ``handle_data``), comments are dropped, and no
whitespace normalization happens. Byte-identical output per url is the engine's
per-row invariant (BASELINE.json ``input_hint``), so this must be the html.parser
algorithm — not BeautifulSoup/lxml, which differ on malformed markup.

``strip_value`` is the per-value step the pipeline's one-eval sign UDF
(``functions/signatures.py``) runs before normalizing: the parse itself is
CPU-bound Python, but Arrow-batched transfer keeps serialization off the hot
path, and each Spark task streams batches independently — at cluster scale this
stage is embarrassingly parallel over input partitions with zero shuffle.
"""

from __future__ import annotations

from html.parser import HTMLParser


class _TextExtractor(HTMLParser):
    """Mirror of the reference ``MLStripper`` (src/DataSetUtil.py:88-97)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.reset()
        self.fed: list[str] = []

    def handle_data(self, d: str) -> None:
        self.fed.append(d)

    def get_data(self) -> str:
        return "".join(self.fed)


def strip_tags(html: str) -> str:
    """Reference-equivalent text extraction for one document."""
    s = _TextExtractor()
    s.feed(html)
    return s.get_data()


def strip_value(v: object) -> str | None:
    """strip_tags over one column value: binary (UTF-8 HTML bytes per the
    ``input_hint`` schema) or string; NULL stays NULL."""
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        v = bytes(v).decode("utf-8", errors="replace")
    return strip_tags(v)

