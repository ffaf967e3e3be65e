"""The whole-document tree (``htmldom.parse_html``, libxml2's) and the
extraction's selected-subtree path checked against each other, plus the
edge cases the reference's libxml parse pins down."""

from __future__ import annotations

import hashlib
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
    Node,
    parse_html,
)
from html_table_spark.semantics import parse_document
from html_table_spark.spans import doc_spans_to_html
from tests import libxml2_oracle as libxml2
from tests.grid_oracle import iter_elements, php_int_cast


def tree_repr(node):
    if isinstance(node, str):  # text children are plain strings
        return ("T", node)
    if node.kind == COMMENT:
        return ("C", node.data)
    if node.kind == PI:
        return ("P", node.data)
    return ("E", node.tag, tuple(sorted(node.attrs.items())),
            tuple(tree_repr(c) for c in node.children))


def assert_same_extraction(html: str, config: ParserConfig) -> None:
    """``parse_document`` (libxml2's XPath selects, only the selected
    subtrees are converted) equals the extraction over the whole converted
    document, tables found by a walk."""
    ours = parse_document(html, config.ignore_errors())
    assert ours == libxml2.extract(html, config.ignore_errors()), html[:200]


def test_differential_fixtures():
    for html, cfg in FIXTURES.values():
        assert_same_extraction(html, cfg.table_position(0))
        assert_same_extraction(html, cfg.all_tables())
    assert_same_extraction(f14_mega_doc_html(30), ParserConfig().all_tables())


def test_differential_corpus():
    for row in synthesize_documents(n_docs=200, seed=31, media_fraction=0.5):
        assert_same_extraction(doc_spans_to_html(row["spans"]), ParserConfig().all_tables())


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
        "plain text only",
        "a < b and c > d",
        "df<body></p>sghfd",
    ]
    for html in cases:
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


# the digest the Python tokenizer's CLOSE_BEFORE table also gave, when it
# was checked against libxml2 2.9.14 tree by tree
IMPLIED_END_TAGS_DIGEST = "00e3553c7c7f4d8c"


def test_differential_implied_end_tags():
    """Every start tag after every open element: a golden of libxml2
    2.9.14's implied end tags (htmlAutoClose), as a digest of the trees."""
    trees = [
        tree_repr(libxml2.unwrap(parse_html(f"<div><{old}><{new}>x")[0]))
        for new in _CONTAINERS + ["col", "hr", "br", "img"]
        for old in _CONTAINERS
    ]
    assert hashlib.sha256(repr(trees).encode()).hexdigest()[:16] == IMPLIED_END_TAGS_DIGEST


def test_mismatched_quote_divergence():
    """A start tag with mismatched quotes: libxml2 runs the value to the
    next matching quote, here to the end of input, and builds the tag."""
    root, _ = parse_html("<td colspan='2\">weird quotes</td>")
    td = next(n for n in iter_elements(root) if n.tag == "td")
    assert td.attrs == {"colspan": '2">weird quotes</td>'}
    assert td.children == []


def _body_tags(root: Node) -> list[str]:
    (body,) = (n for n in iter_elements(root) if n.tag == "body")
    return [n.tag for n in body.children if type(n) is Node and n.kind == ELEMENT]


_CUT_OFF_TAGS = """
from html_table_spark.htmldom import parse_html
from tests.test_htmldom import _body_tags

t = "<table><tr><td>x</td></tr></table>"
for tail, built in (
    ('<img ' + 'a="1" ' * 40_000, ["img"]),
    ('<a ' + '"' * 200_001, ["a"]),
    ("<a " + "'" * 200_000, ["a"]),
    ('<a b="' + "c d " * 50_000, ["a"]),
    ('</td ' + '"' * 200_000, []),
):
    assert _body_tags(parse_html(t + tail)[0]) == ["table", *built]
"""


def test_tag_cut_off_by_end_of_input_is_linear_time():
    """A tag with no '>' after it (a truncated crawl record) is parsed in
    linear time and built, as libxml2 builds it. The check runs in a
    subprocess with a timeout: a regression fails instead of hanging the
    suite."""
    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", _CUT_OFF_TAGS], cwd=repo, check=True, timeout=60)


_QUOTE_RUNS = """
from html_table_spark.htmldom import parse_html
from tests.test_htmldom import _body_tags

t = "<table><tr><td>x</td></tr></table>"
for q in ('"', "'"):
    for n in (61, 200_000):
        # a quote run inside a tag, then '>' and a table; or, cut off by end
        # of input, after the table
        assert _body_tags(parse_html("<a " + q * n + ">" + t)[0]) == ["a", "table"]
        assert _body_tags(parse_html(t + "<a " + q * n)[0]) == ["table", "a"]
"""


def test_unseen_tag_angle_prescan_is_linear_time():
    """Parsing stays linear on adversarial quote runs, which once pinned an
    executor core on one crafted document; the check runs in a subprocess
    with a timeout: a regression fails instead of hanging the suite."""
    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", _QUOTE_RUNS], cwd=repo, check=True, timeout=60)


def test_rawtext_script_not_parsed():
    root, _ = parse_html("<script><table><tr></script><p>after</p>")
    tags = [e.tag for e in iter_elements(root)]
    assert tags == ["html", "head", "script", "body", "p"]
    (script,) = (e for e in iter_elements(root) if e.tag == "script")
    assert script.children == ["<table><tr>"]


def test_fast_entity_decoding():
    root, _ = parse_html("<td>&amp;x&nbsp;</td>")
    td = next(n for n in iter_elements(root) if n.tag == "td")
    assert td.text_content() == "&x\xa0"


def test_unexpected_end_tag_recorded():
    _, errs = parse_html("<p>a</b>x")
    assert errs == ["Unexpected end tag : b"]


def test_php_int_cast():
    assert php_int_cast("3x") == 3
    assert php_int_cast("") == 0
    assert php_int_cast("  42abc") == 42
    assert php_int_cast("-7") == -7
    assert php_int_cast("1e3") == 1000
    assert php_int_cast("12.9") == 12
    assert php_int_cast("nope") == 0
    # PHP reads ASCII digits only: a superscript or Arabic-Indic digit is
    # not a number (str.isdigit() holds for both)
    assert php_int_cast("²") == 0
    assert php_int_cast("٣") == 0
    assert php_int_cast("2e٣") == 2


# --- randomized differential fuzz (selected subtrees vs the whole tree) ----

from hypothesis import given, settings
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


@given(st.lists(_token(), min_size=0, max_size=30))
@settings(max_examples=500, deadline=None)
def test_differential_fuzz_tag_soup(tokens):
    """Random tag soup (unbalanced opens/closes, implied closes, comments,
    entities, void and self-closing elements, html/body wrappers), extracted
    in first-table and all-tables mode, equals the extraction over the
    whole converted tree."""
    html = "".join(tokens)
    assert_same_extraction(html, ParserConfig())
    assert_same_extraction(html, ParserConfig().all_tables())


def _captions(html: str, expr: str) -> list[str]:
    """The captions of the tables ``expr`` selects, in document order,
    through the public selection path: ``(expr)[k]`` for k = 1, 2, ..."""
    out = []
    while True:
        config = ParserConfig().table_xpath_position(f"({expr})[{len(out) + 1}]")
        [table] = parse_document(html, config)
        if table.status == "error":
            return out
        out.append(table.caption)


def test_xpath_descendant_positionals_count_per_parent():
    """``//table[2]`` desugars to descendant-or-self::node()/child::table[2]
    — DOMXPath counts per PARENT, not across the document. Stacked
    positionals re-filter the already-filtered set; attr predicates after a
    positional filter the positional survivor."""
    html = "".join(
        f'<table id="{i}"><caption>{i}</caption></table>' if i in "abcde" else i
        for i in ("<div>", "a", "b", "</div><div>", "c", "</div>", "d", "e")
    )

    # 2nd table per parent: 'b' (div1), 'e' (body) — NOT global 2nd
    assert _captions(html, "//table[2]") == ["b", "e"]
    # global document-order 2nd via the wrapper
    assert _captions(html, "(//table)[2]") == ["b"]
    # [1][2]: first-per-parent, then 2nd of that singleton set → empty
    assert _captions(html, "//table[1][2]") == []
    # positional then attribute filter
    assert _captions(html, '//table[2][@id="e"]') == ["e"]
    assert _captions(html, '//table[@id="e"][1]') == ["e"]
    # descendant:: counts per CONTEXT (the root element's whole subtree)
    assert _captions(html, "descendant::table[2]") == ["b"]
    # the reference's generated forms stay accepted
    for ok in ("(//table)[2]", "(//table[@id=\"x\"])[1]",
               "(//table/thead/tr)[1]", "/table[2]/tr"):
        ParserConfig().table_xpath_position(ok)

