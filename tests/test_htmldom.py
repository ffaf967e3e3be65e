"""Tokenizer tests: the fast scanner against libxml2 2.9.14, the
reference's own parser (differential), plus the edge cases the reference's
libxml parse pins down."""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

from html_table_spark.config import ParserConfig
from html_table_spark.corpus import synthesize_documents
from html_table_spark.fixtures import FIXTURES, f14_mega_doc_html
from html_table_spark.htmldom import (
    COMMENT,
    ELEMENT,
    PI,
    TEXT,
    Node,
    parse_html_fast,
    php_int_cast,
)
from html_table_spark.semantics import parse_document
from html_table_spark.spans import doc_spans_to_html
from tests import libxml2_oracle as libxml2


def tree_repr(node):
    if isinstance(node, str):  # text children are plain strings
        return ("T", node)
    if node.kind == COMMENT:
        return ("C", node.data)
    if node.kind == PI:
        return ("P", node.data)
    return ("E", node.tag, tuple(sorted(node.attrs.items())),
            tuple(tree_repr(c) for c in node.children))


def assert_same_tree(html: str) -> None:
    fast, _ = parse_html_fast(html)
    assert tree_repr(fast) == tree_repr(libxml2.unwrap(libxml2.parse(html)[0])), html[:200]


def assert_same_extraction(html: str, config: ParserConfig) -> None:
    ours = parse_document(html, config.ignore_errors())
    assert ours == libxml2.extract(html, config), html[:200]


# Fixtures whose trees differ from libxml2's only where libxml2 implies
# html/head/body structure: the whitespace before an implied <head> and an
# implied <p> around bare body text. Their extraction output is equal.
IMPLIED_STRUCTURE_FIXTURES = {"F02a", "F02b", "F02c", "F10a", "F10d"}


def test_differential_fixtures():
    for fixture_id, (html, cfg) in FIXTURES.items():
        assert_same_extraction(html, cfg)
        assert_same_extraction(html, cfg.all_tables())
        if fixture_id not in IMPLIED_STRUCTURE_FIXTURES:
            assert_same_tree(html)
    assert_same_tree(f14_mega_doc_html(30))


def test_differential_corpus():
    for row in synthesize_documents(n_docs=200, seed=31, media_fraction=0.5):
        assert_same_tree(doc_spans_to_html(row["spans"]))


# Documents that open with bare text, which libxml2 wraps in an implied <p>
# (htmlCheckParagraph): only their extraction output is compared.
IMPLIED_P_CASES = ["plain text only", "a < b and c > d", "df<body></p>sghfd"]


def test_differential_edge_cases():
    cases = [
        "",
        "<td>unclosed cell",
        "<table><tr><td>a<td>b</table>",  # implied closes
        "<TABLE ID='X'><TR><TD COLSPAN=2>shout</TD></TR></TABLE>",
        "<table><!-- c --><tr><!-- c2 --><td>x</td></tr></table>",
        "<p>one<p>two<p>three",
        "<table><tr><td>&amp;&nbsp;&lt;ok&gt;</td></tr></table>",
        '<img src="x"/><br><hr/>',
        "<script>if (a<b && c>d) {}</script><table><tr><td>y</td></tr></table>",
        "<style>td > tr { color: red }</style><p>z</p>",
        "<div><span>nested <b>bold</b> tail</span></div>",
        "<table><caption>cap</caption><tr><td>v</td></tr></table>",
        "<ol><li>one<li>two</ol>",
        "<table><tr><td title=\"a&quot;b\">t</td></tr></table>",
        "<a href=unquoted>x</a>",
        "<x-custom attr>y</x-custom>",
    ]
    for html in cases:
        assert_same_tree(html)
    for html in cases + IMPLIED_P_CASES:
        assert_same_extraction(html, ParserConfig())
        assert_same_extraction(html, ParserConfig().all_tables())


# HTML 4 elements that can be open when a start tag arrives (void, raw-text
# and html/head/body elements aside)
_CONTAINERS = (
    "a abbr acronym address b bdo big blockquote button caption center cite "
    "code colgroup dd del dfn dir div dl dt em fieldset font form h1 h2 h3 h4 "
    "h5 h6 i ins kbd label legend li map menu nobr ol optgroup option p pre q "
    "s samp select small span strike strong sub sup table tbody td tfoot th "
    "thead tr tt u ul var"
).split()


def test_differential_implied_end_tags():
    """Every start tag after every open element: the implied end tags
    (CLOSE_BEFORE) are libxml2's own."""
    for new in _CONTAINERS + ["col", "hr", "br", "img"]:
        for old in _CONTAINERS:
            assert_same_tree(f"<div><{old}><{new}>x")


def test_mismatched_quote_divergence():
    """A start tag with mismatched quotes still parses as a tag: the fast
    scanner recovers at the first '>', where libxml2 swallows the rest of
    the document into the value (the deliberate ``unclosed_attr_quote``
    divergence, ``LIBXML2_DIVERGES`` in test_libxml2_corpus.py)."""
    root, _ = parse_html_fast("<td colspan='2\">weird quotes</td>")
    td = next(root.iter_elements())
    assert td.tag == "td"
    assert td.text_content() == "weird quotes"


_CUT_OFF_TAGS = """
from html_table_spark.htmldom import ELEMENT, parse_html

t = "<table><tr><td>x</td></tr></table>"
for tail, built in (
    ('<img ' + 'a="1" ' * 40_000, ["img"]),
    ('<a ' + '"' * 200_001, ["a"]),
    ("<a " + "'" * 200_000, ["a"]),
    ('<a b="' + "c d " * 50_000, ["a"]),
    ('</td ' + '"' * 200_000, []),
):
    root, _ = parse_html(t + tail)
    assert [n.tag for n in root.children if n.kind == ELEMENT] == ["table", *built]
"""


def test_tag_cut_off_by_end_of_input_is_linear_time():
    """A tag with no '>' after it (a truncated crawl record) is parsed in
    one linear scan and built, as libxml2 builds it. A backtracking
    attribute region takes ~3x longer per extra attribute on such a tag,
    so the check runs in a subprocess with a timeout: a regression fails
    instead of hanging the suite."""
    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", _CUT_OFF_TAGS], cwd=repo, check=True, timeout=60)


_QUOTE_RUNS = """
from html_table_spark.htmldom import parse_html

t = "<table><tr><td>x</td></tr></table>"
for q in ('"', "'"):
    for n in (61, 200_000):
        # a quote run inside a tag, then '>' and a table; or, cut off by end
        # of input, after the table
        for s in ("<a " + q * n + ">" + t, t + "<a " + q * n):
            assert len(parse_html(s)[0].children) == 2
"""


def test_unseen_tag_angle_prescan_is_linear_time():
    """Parsing stays linear on adversarial quote runs. A backtracking
    attribute region took ~8x longer per +4 quotes (3s at 32 quotes; hours
    at 60+), pinning an executor core on one crafted document, so the check
    runs in a subprocess with a timeout: a regression fails instead of
    hanging the suite."""
    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", _QUOTE_RUNS], cwd=repo, check=True, timeout=60)


def test_rawtext_script_not_parsed():
    root, _ = parse_html_fast("<script><table><tr></script><p>after</p>")
    tags = [e.tag for e in root.iter_elements()]
    assert tags == ["script", "p"]


def test_fast_entity_decoding():
    root, _ = parse_html_fast("<td>&amp;x&nbsp;</td>")
    td = next(root.iter_elements())
    assert td.text_content() == "&x\xa0"


def test_unexpected_end_tag_recorded():
    _, errs = parse_html_fast("df</p>x")
    assert any("unexpected end tag" in e for e in errs)


def test_php_int_cast():
    assert php_int_cast("3x") == 3
    assert php_int_cast("") == 0
    assert php_int_cast("  42abc") == 42
    assert php_int_cast("-7") == -7
    assert php_int_cast("1e3") == 1000
    assert php_int_cast("12.9") == 12
    assert php_int_cast("nope") == 0


# --- randomized differential fuzz (fast scanner vs libxml2) ------------------

from hypothesis import event, given, settings
from hypothesis import strategies as st

_FUZZ_TAGS = [
    "table", "tr", "td", "th", "thead", "tbody", "tfoot", "caption",
    "p", "div", "span", "b", "li", "ul", "br", "img", "html", "body",
]
_text = st.text(alphabet="ab c&;topmN ", min_size=1, max_size=10)
_attr_val = st.text(alphabet="xyz 123", min_size=0, max_size=6)


@st.composite
def _token(draw):
    kind = draw(st.integers(0, 5))
    tag = draw(st.sampled_from(_FUZZ_TAGS))
    if kind == 0:
        return f"<{tag}>"
    if kind == 1:
        val = draw(_attr_val)
        return f'<{tag} class="{val}" data-k={draw(st.integers(0, 9))}>'
    if kind == 2:
        return f"</{tag}>"
    if kind == 3:
        return draw(_text)
    if kind == 4:
        body = draw(st.text(alphabet="abc ", max_size=8))
        return f"<!-- {body} -->"
    return f"<{tag}/>"


# libxml2 acts on html/body tags that the fast tokenizer skips: </body>,
# </html>, <body/> and <html/> close an open table, and a <body> inside a
# table nests there (ROADMAP Fix first: implied html/body). A divergence
# belongs to this class when removing every html/body tag removes it; the
# fast tokenizer's own output does not change when they are removed.
_HTML_BODY_TAG = re.compile(r"</?(?:html|body)\b[^>]*>")


def _html_body_class(html: str, config: ParserConfig) -> bool:
    stripped = _HTML_BODY_TAG.sub("", html)
    return parse_document(stripped, config) == libxml2.extract(stripped, config)


@given(st.lists(_token(), min_size=0, max_size=30))
@settings(max_examples=500, deadline=None)
def test_differential_fuzz_tag_soup(tokens):
    """Random tag soup (unbalanced opens/closes, implied closes, comments,
    entities, void and self-closing elements, html/body wrappers), extracted
    in first-table and all-tables mode: the output equals the extraction
    over libxml2's tree, or the divergence is the html/body class above
    (its minimal repros are strict xfails in test_libxml2_corpus.py)."""
    html = "".join(tokens)
    for mode, config in (("first-table", ParserConfig()), ("all-tables", ParserConfig().all_tables())):
        if parse_document(html, config) == libxml2.extract(html, config):
            continue
        assert _html_body_class(html, config), (mode, html)
        event(f"{mode}: html/body tags")


def test_xpath_descendant_positionals_count_per_parent():
    """``//table[2]`` desugars to descendant-or-self::node()/child::table[2]
    — DOMXPath counts per PARENT, not across the document. Stacked
    positionals re-filter the already-filtered set; attr predicates after a
    positional filter the positional survivor."""
    from html_table_spark.htmldom import parse_html_fast
    from html_table_spark.xpath import compile_xpath

    html = (
        '<div><table id="a"></table><table id="b"></table></div>'
        '<div><table id="c"></table></div>'
        '<table id="d"></table><table id="e"></table>'
    )
    root, _ = parse_html_fast(html)

    def ids(expr):
        return [(n.attrs or {}).get("id") for n in compile_xpath(expr).query(root)]

    # 2nd table per parent: 'b' (div1), 'e' (document) — NOT global 2nd
    assert ids("//table[2]") == ["b", "e"]
    # global document-order 2nd via the wrapper
    assert ids("(//table)[2]") == ["b"]
    # [1][2]: first-per-parent, then 2nd of that singleton set → empty
    assert ids("//table[1][2]") == []
    # positional then attribute filter
    assert ids('//table[2][@id="e"]') == ["e"]
    assert ids('//table[@id="e"][1]') == ["e"]
    # descendant:: counts per CONTEXT (whole subtree), unlike //
    assert ids("descendant::table[2]") == ["b"]
    # the reference's generated forms stay accepted
    for ok in ("(//table)[2]", "(//table[@id=\"x\"])[1]",
               "(//table/thead/tr)[1]", "/table[2]/tr"):
        compile_xpath(ok)
