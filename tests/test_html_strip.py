"""Byte-identity of strip_tags vs the reference algorithm (src/DataSetUtil.py:88-102).

The invariant (BASELINE.json input_hint): extracted text per url must be byte-identical
to the stdlib html.parser-based stripper. We assert against an in-test reimplementation
built token-for-token from the reference's class, plus golden strings for the gnarly
cases html.parser is known to handle in specific ways (entities kept, comments dropped,
script/style text KEPT, malformed tags).
"""

from html.parser import HTMLParser

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cqaduplicatefind_spark.functions.html_strip import strip_tags, strip_value


class _ReferenceStripper(HTMLParser):
    """Verbatim semantics of the reference MLStripper."""

    def __init__(self):
        self.reset()
        self.strict = False
        self.convert_charrefs = True
        self.fed = []

    def handle_data(self, d):
        self.fed.append(d)

    def get_data(self):
        return "".join(self.fed)


def _reference_strip(html: str) -> str:
    s = _ReferenceStripper()
    s.feed(html)
    return s.get_data()


CASES = [
    "<p>hello <b>world</b></p>",
    "a &amp; b &lt;tag&gt; &#39;quoted&#39; &#x41;",
    "<!-- dropped comment -->visible",
    "<script>var x = 1 < 2;</script>after",
    "<style>p { color: red }</style>tail",
    "<div class='x' data-y=\"z\">attrs</div>",
    "<p>unclosed <b>bold",
    "text with\nnewlines\tand  spaces",
    "<br/><hr><img src='x.png'>solo tags",
    "&notanentity; &amp extra",
    "<P>UPPER</P><p>mixed</P>",
    "<a href=\"http://e.test/?a=1&b=2\">link&nbsp;text</a>",
    "",
    "no tags at all",
    "<td>table</td><tr></tr>",
    "nested <i>i <b>b</b> i</i> done",
]


@pytest.mark.parametrize("html", CASES)
def test_byte_identity_vs_reference(html):
    assert strip_tags(html) == _reference_strip(html)


def test_known_goldens():
    assert strip_tags("a &amp; b") == "a & b"
    assert strip_tags("<!--x-->y") == "y"
    assert strip_tags("<b>x</b> <i>y</i>") == "x y"
    # html.parser emits script body as data
    assert strip_tags("<script>s</script>t") == "st"
    # entities decoded (convert_charrefs=True)
    assert strip_tags("&#65;&#x42;") == "AB"
    # no whitespace normalization
    assert strip_tags("a\n\n  b") == "a\n\n  b"


def _with_extracted_text(df, out_col):
    """df + ``out_col``: ``strip_value`` over the html column in an
    Arrow-batched pandas UDF, the strip step of the pipeline's sign UDF."""

    @F.pandas_udf("string")
    def strip(html: pd.Series) -> pd.Series:
        return html.map(strip_value)

    return df.withColumn(out_col, strip(F.col("html")))


def test_udf_matches_plain_function(spark, tiny_fixture):
    pages, _, _ = tiny_fixture
    out = _with_extracted_text(pages.select("url", "html"), "text2")
    rows = out.select("url", "html", "text2").limit(50).collect()
    assert rows
    for r in rows:
        assert r.text2 == _reference_strip(bytes(r.html).decode("utf-8"))


def test_fixture_invariant_text_equals_strip(spark, tiny_fixture):
    """pages.text must equal strip_tags(pages.html) byte-for-byte on every row."""
    pages, _, _ = tiny_fixture
    recomputed = _with_extracted_text(pages, "text2")
    n_bad = recomputed.filter(F.col("text") != F.col("text2")).count()
    assert n_bad == 0
