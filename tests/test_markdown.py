"""HTML → Markdown renderer (operators/markdown.py)."""

from __future__ import annotations

import pytest

from html_table_spark.operators.markdown import html_to_markdown


def test_headings_paragraphs_entities():
    md = html_to_markdown("<h1>A &amp; B</h1><h3>sub</h3><p>text  here</p>")
    assert md == "# A & B\n\n### sub\n\ntext here"


def test_inline_styles_links_images():
    md = html_to_markdown(
        '<p>go <a href="http://x/y">the <b>place</b></a> '
        '<img src="i.png" alt="a  pic"> <code>f(x)</code> <i>soft</i></p>'
    )
    assert md == "go [the **place**](http://x/y) ![a pic](i.png) `f(x)` *soft*"
    # link with no href degrades to text; image with no src to alt
    assert html_to_markdown("<p><a>bare</a> <img alt='z'></p>") == "bare z"


def test_nested_lists():
    md = html_to_markdown(
        "<ul><li>one</li><li>two<ol><li>a</li><li>b</li></ol></li></ul>"
    )
    assert md == "- one\n- two\n  1. a\n  2. b"


def test_blockquote_code_hr():
    md = html_to_markdown(
        "<blockquote><p>q1</p><p>q2</p></blockquote><pre>x  =  1\n  y</pre><hr>"
    )
    assert md == "> q1\n\n> q2\n\n```\nx  =  1\n  y\n```\n\n---"


def test_table_pipe_rows_with_escaping():
    md = html_to_markdown(
        "<table><caption>C</caption><thead><tr><th>A</th><th>B|x</th></tr></thead>"
        "<tbody><tr><td>1</td><td><b>2</b></td></tr><tr><td>3</td></tr></tbody></table>"
    )
    assert md == (
        "C\n\n| A | B\\|x |\n| --- | --- |\n| 1 | **2** |\n| 3 |  |"
    )


def test_br_hard_breaks_and_skip_tags():
    assert html_to_markdown("<p>a<br>b</p>") == "a\nb"
    assert html_to_markdown(
        "<head><title>t</title></head><script>x()</script><style>.c{}</style><p>keep</p>"
    ) == "keep"
    assert html_to_markdown("<!-- c --><p>x</p>") == "x"


def test_empty_and_none_and_plain_text():
    assert html_to_markdown("") == ""
    assert html_to_markdown(None) == ""
    assert html_to_markdown("just  words") == "just words"


def test_adversarial_depth_degrades_not_raises():
    # libxml2, parsing as the reference does (no HTML_PARSE_HUGE), stops 256
    # elements deep and drops the rest of the document
    deep = "<p>top</p>" + "<div>" * 5000 + "x" + "</div>" * 5000 + "<p>after</p>"
    assert html_to_markdown(deep) == "top"
    assert html_to_markdown("<div>" * 200 + "x" + "</div>" * 200) == "x"
    deep_b = "<blockquote>" * 200 + "q" + "</blockquote>" * 200
    assert "q" in html_to_markdown(deep_b)
    assert "q" not in html_to_markdown("<blockquote>" * 500 + "q" + "</blockquote>" * 500)


def test_deterministic():
    h = "<h1>t</h1><ul><li>a</li></ul><table><tr><td>1</td></tr></table>"
    assert html_to_markdown(h) == html_to_markdown(h)


def test_spark_render_and_registry(spark):
    import __spark_entry__ as entry
    from html_table_spark.operators.markdown import render_markdown

    docs = spark.createDataFrame(
        [("d1", "<h1>x</h1>"), ("d2", None)], "doc_id string, html string"
    )
    rows = {r["doc_id"]: r for r in render_markdown(docs).collect()}
    assert rows["d1"]["markdown"] == "# x" and rows["d1"]["status"] == "ok"
    assert rows["d2"]["markdown"] == "" and rows["d2"]["status"] == "ok"

    out = entry.mc_markdown(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 64
    assert all(r["status"] == "ok" for r in out)
    # the stress tail guarantees every doc renders list + heading + code
    assert all("- alpha" in r["markdown"] and "```" in r["markdown"] for r in out)


# ---------------------------------------------------------------------------
# property: arbitrary tag soup never raises, output is deterministic text
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_TAGS = ["p", "div", "b", "i", "ul", "ol", "li", "table", "tr", "td", "th",
         "h1", "h3", "a", "img", "pre", "blockquote", "br", "hr", "span"]
_soup = st.lists(
    st.one_of(
        st.text(alphabet=st.characters(blacklist_categories=("Cs",),
                                       max_codepoint=0x2FFF), max_size=30),
        st.sampled_from([f"<{t}>" for t in _TAGS] + [f"</{t}>" for t in _TAGS]
                        + ['<a href="x">', "<img src='i' alt='a'>", "<!-- c -->"]),
    ),
    max_size=40,
).map("".join)


@settings(max_examples=60, deadline=None)
@given(html=_soup)
def test_property_tag_soup_never_raises(html):
    out = html_to_markdown(html)
    assert isinstance(out, str)
    assert out == html_to_markdown(html)  # deterministic
