r"""libxml2 tag-soup corpus: hand-derived goldens of libxml2 2.9.14's
recovery, the version the reference's PHP 8.2 links.

The reference parses through libxml2's tolerant HTML4 parser (PHP
``DOMDocument::loadHTML``, ``src/Parser.php:417-454``), and so does this
package. Each golden below pins the tree ``htmldom.parse_html`` builds,
html/head/body wrappers unwrapped, so a libxml2 version change shows up in
the test diff. The goldens cover:

- implied end tags (``htmlAutoClose``, libxml2's htmlStartClose pairs):
  ``<tr>`` closes an open tr/td/th, ``<td>`` closes td/th and an open
  inline a/b/font/i/span/u, ``<tbody>`` closes sections, a ``<caption>``
  or ``<thead>`` after a cell nests in it, ``<li>``/``<option>``/``<dt>``/
  ``<dd>`` self-close, block starts close ``<p>``
- NO implicit ``<tbody>`` and NO foster parenting (HTML4 recovery — a
  ``<div>`` inside ``<table>`` stays nested; the HTML5 algorithm would
  relocate it)
- implied structure: bare body text gets an implied ``<p>``, a leading
  ``<script>``/``<style>`` goes into an implied ``<head>``
- stray end tags ignored; a misplaced end tag is ignored when an open
  element above its match has a higher end priority (``htmlEndPriority``:
  div 150, td/th 160, tr 170, sections 180, table 190, default 100);
  unclosed elements closed at EOF; unclosed
  ``<script>``/``<style>`` raw text runs to EOF (``htmlParseScript``)
- a tag cut off by end of input is built, as are its attributes (a quoted
  value runs to the end, and so does an unterminated one); an
  unterminated comment, or one ended by ``--   >``, swallows the rest
- tag names take libxml2's name characters (``<td<b>`` is a ``td``); a
  run in a start tag that no attribute name starts is dropped
- comments end at ``-->`` or ``--!>``, ``--`` allowed inside; DOCTYPE
  skipped; at the start of a document the ``<`` of a ``<!`` that opens no
  declaration is dropped, in content it stays text; a ``<`` before a
  non-letter stays text; a ``</`` with no name is dropped; ``<?...>`` kept
  as a PI childNode (it shifts DOM child indices, which the reference's
  rowspan carry keys on — Parser.php:559)
- entities: HTML 4 names decoded when ``;`` ends them, others (``&foo;``,
  ``&ap;``, ``&amp``) left literal; character references to code points
  XML forbids dropped (in an attribute they end the value); attr names
  lowercased, first duplicate attr wins, a valueless boolean attribute
  valued by its name
"""

from __future__ import annotations

import ctypes.util

import pytest

from html_table_spark import libxml2 as binding
from html_table_spark.config import ParserConfig
from html_table_spark.errors import msg_not_a_table
from html_table_spark.htmldom import COMMENT, PI, parse_html
from html_table_spark.semantics import parse_document
from tests import libxml2_oracle as libxml2


def ser(n):
    if type(n) is str:
        return repr(n)
    if n.kind == COMMENT:
        return f"#c{n.data!r}"
    if n.kind == PI:
        return f"#pi{n.data!r}"
    attrs = "".join(f" {k}={v!r}" for k, v in sorted((n.attrs or {}).items()))
    inner = " ".join(ser(c) for c in n.children)
    return f"{n.tag}({attrs.strip()})[{inner}]" if attrs else f"{n.tag}[{inner}]"


CASES = [
    ("nested_table_in_td", '<table><tr><td>a<table><tr><td>b</td></tr></table></td></tr></table>',
     "#document[table[tr[td['a' table[tr[td['b']]]]]]]"),
    ("unclosed_cells_eof", '<table><tr><td>a<td>b<tr><td>c',
     "#document[table[tr[td['a'] td['b']] tr[td['c']]]]"),
    ("tr_closes_tr", '<table><tr><td>1</td><tr><td>2</td></tr></table>',
     "#document[table[tr[td['1']] tr[td['2']]]]"),
    ("td_closes_td", '<table><tr><td>1<td>2</tr></table>',
     "#document[table[tr[td['1'] td['2']]]]"),
    ("tbody_closes_thead", '<table><thead><tr><th>h</th></tr><tbody><tr><td>1</td></tr></table>',
     "#document[table[thead[tr[th['h']]] tbody[tr[td['1']]]]]"),
    ("stray_end_td", '</td><table><tr><td>x</td></tr></table>',
     "#document[table[tr[td['x']]]]"),
    ("stray_end_table", '</table><table><tr><td>x</td></tr></table>',
     "#document[table[tr[td['x']]]]"),
    ("p_closed_by_table", '<p>para<table><tr><td>x</td></tr></table>',
     "#document[p['para'] table[tr[td['x']]]]"),
    ("caption_after_rows", '<table><tr><td>x</td></tr><caption>c</caption></table>',
     "#document[table[tr[td['x']] caption['c']]]"),
    ("comment_normal", '<table><!-- note --><tr><td>x</td></tr></table>',
     "#document[table[#c' note ' tr[td['x']]]]"),
    ("comment_empty", '<!---->Z',
     "#document[#c'' p['Z']]"),
    ("comment_ddash", '<!-- a -- b -->Z',
     "#document[#c' a -- b ' p['Z']]"),
    ("comment_spacey_end", '<!-- a --   >Z',
     "#document[]"),
    ("bogus_decl", '<!x>Z',
     "#document[p['!x>Z']]"),
    ("doctype_dropped", '<!DOCTYPE html><p>x</p>',
     "#document[p['x']]"),
    ("pi_php", '<?php echo 1 ?>Z',
     "#document[#pi'php echo 1 ?' p['Z']]"),
    ("cdata_block", '<![CDATA[ <table></table> ]]>Z',
     "#document[p['![CDATA[ '] table[] ' ]]>Z']"),
    ("entity_named", '<td>a&amp;b&nbsp;c</td>',
     "#document[td['a&b\\xa0c']]"),
    ("entity_numeric", '<td>&#65;&#x42;</td>',
     "#document[td['AB']]"),
    ("entity_unknown", '<td>&foo;&qq x</td>',
     "#document[td['&foo;&qq x']]"),
    ("bare_ampersand", '<td>a & b</td>',
     "#document[td['a & b']]"),
    ("attr_unquoted", '<td class=x>y</td>',
     "#document[td(class='x')['y']]"),
    ("attr_single_quote", "<td class='x y'>z</td>",
     "#document[td(class='x y')['z']]"),
    ("attr_dupes_first_wins", '<td id="a" id="b">x</td>',
     "#document[td(id='a')['x']]"),
    ("attr_valueless", '<td nowrap>x</td>',
     "#document[td(nowrap='nowrap')['x']]"),
    ("attr_entity", '<td title="a&amp;b">x</td>',
     "#document[td(title='a&b')['x']]"),
    ("attr_case", '<td CLASS="X">x</td>',
     "#document[td(class='X')['x']]"),
    ("selfclosed_td", '<table><tr><td/>a</tr></table>',
     "#document[table[tr[td[] 'a']]]"),
    ("void_br_close_ignored", 'a<br></br>b',
     "#document[p['a' br[] 'b']]"),
    ("tag_case_fold", '<TaBlE><TR><TD>x</TD></TR></TaBlE>',
     "#document[table[tr[td['x']]]]"),
    ("div_in_table_no_foster", '<table><div>d</div><tr><td>x</td></tr></table>',
     "#document[table[div['d'] tr[td['x']]]]"),
    ("orphan_td", '<td>alone</td>',
     "#document[td['alone']]"),
    ("script_rawtext", "<script>var t='<table>';</script>X",
     "#document[script[\"var t='<table>';\"] p['X']]"),
    ("script_unclosed", 'X<script>var a=1;',
     "#document[p['X' script['var a=1;']]]"),
    ("style_rawtext", "<style>td::after{content:'</td>'}</style>X",
     "#document[style[\"td::after{content:'</td>'}\"] p['X']]"),
    ("li_closes_li", '<ul><li>1<li>2</ul>',
     "#document[ul[li['1'] li['2']]]"),
    ("option_closes_option", '<select><option>1<option>2</select>',
     "#document[select[option['1'] option['2']]]"),
    ("end_tag_with_attrs", '<td>x</td id=9>',
     "#document[td['x']]"),
    ("end_tag_space", '<td>x</ td>',
     "#document[td['x td>']]"),
    ("lone_lt", '<td>1 < 2</td>',
     "#document[td['1 < 2']]"),
    ("unclosed_attr_quote", '<td class="x>a</td>',
     "#document[td(class='x>a</td>')[]]"),
    ("th_then_td", '<table><tr><th>h<td>d</tr></table>',
     "#document[table[tr[th['h'] td['d']]]]"),
    ("colgroup_col", "<table><colgroup><col span='2'><tr><td>x</td></tr></table>",
     "#document[table[colgroup[col(span='2')[]] tr[td['x']]]]"),
    ("table_in_p", '<p>a<table><tr><td>x</td></tr></table>b</p>',
     "#document[p['a'] table[tr[td['x']]] 'b']"),
    ("dl_dt_dd", '<dl><dt>t<dd>d<dt>t2</dl>',
     "#document[dl[dt['t'] dd['d'] dt['t2']]]"),
    ("form_in_table", '<table><form><tr><td>x</td></tr></form></table>',
     "#document[table[form[tr[td['x']]]]]"),
    ("whitespace_preserved", '<table> <tr>\n<td>x</td> </tr> </table>',
     "#document[table[' ' tr['\\n' td['x'] ' '] ' ']]"),
    ("pi_in_row_counts_as_child", '<table><tr><?php x ?><td>a</td></tr></table>',
     "#document[table[tr[#pi'php x ?' td['a']]]]"),
    ("end_div_in_td_ignored", '<div><table><tr><td>a</div>b</td><td>c</td></tr></table></div>',
     "#document[div[table[tr[td['ab'] td['c']]]]]"),
    ("end_b_in_td_ignored", '<b><table><tr><td>a</b>b</td></tr></table></b>',
     "#document[b[table[tr[td['ab']]]]]"),
    ("end_span_closes_within_td", '<span><table><tr><td><span>a<i>b</span>c</td></tr></table></span>',
     "#document[span[table[tr[td[span['a' i['b']] 'c']]]]]"),
    ("td_closes_open_inline", '<table><tr><td><b>x<td>y</tr></table>',
     "#document[table[tr[td[b['x']] td['y']]]]"),
    ("caption_nests_in_caption", '<table><caption>a<caption>b</table>',
     "#document[table[caption['a' caption['b']]]]"),
    ("caption_after_cell_nests", '<table><tr><td>x<caption>c</table>',
     "#document[table[tr[td['x' caption['c']]]]]"),
    ("thead_after_cell_nests", '<table><tr><td>x<thead><tr><th>h</table>',
     "#document[table[tr[td['x' thead[tr[th['h']]]]]]]"),
    ("tfoot_nests_in_tfoot", '<table><tfoot><tr><td>a<tfoot><tr><td>b</table>',
     "#document[table[tfoot[tr[td['a']] tfoot[tr[td['b']]]]]]"),
    ("colgroup_after_cell_nests", '<table><tr><td>x<colgroup><col></table>',
     "#document[table[tr[td['x' colgroup[col[]]]]]]"),
    ("attr_valueless_not_boolean", "<td hidden nowrap=''>x</td>",
     "#document[td(hidden='' nowrap='')['x']]"),
    ("entity_html4_names_only", '<td>&ap;&notin;&lang;</td>',
     "#document[td['&ap;\u2209\u2329']]"),
    ("entity_needs_semicolon", '<td>a&ampb &copy 2&nbsp</td>',
     "#document[td['a&ampb &copy 2&nbsp']]"),
    ("charref_invalid_dropped", '<td>a&#0;b&#xD800;c&#128;&#65</td>',
     "#document[td['abc\\x80A']]"),
    ("charref_invalid_ends_attr", '<td title="a&#1;b">x</td>',
     "#document[td(title='a')['x']]"),
    ("bogus_decl_in_content", '<div>a<!x>b<![CDATA[c]]>d</div>',
     "#document[div['a<!x>b<![CDATA[c]]>d']]"),
    ("end_tag_no_name", '<div>a</>b</1>c</div>',
     "#document[div['a>b1>c']]"),
    ("comment_bang_end", '<div>a<!-- c --!>b</div>',
     "#document[div['a' #c' c ' 'b']]"),
    # a tag cut off by end of input (a truncated crawl record) is built
    ("td_at_eof", '<table><tr><td>a</td><td colspan=2',
     "#document[table[tr[td['a'] td(colspan='2')[]]]]"),
    ("attr_quote_at_eof", '<table><tr><td>a<td class="x y',
     "#document[table[tr[td['a'] td(class='x y')[]]]]"),
    ("img_at_eof_in_cell", '<table><tr><td>a<img ',
     "#document[table[tr[td['a' img[]]]]]"),
    ("end_tag_at_eof", '<table><tr><td>a</td',
     "#document[table[tr[td['a']]]]"),
    ("pi_at_eof", '<table><tr><td>a<?php x',
     "#document[table[tr[td['a']]]]"),
    # an unterminated comment with no later '>' swallows the rest
    ("comment_unterminated_eof", '<table><tr><td>a<!-- x',
     "#document[table[tr[td['a']]]]"),
    # tag names take libxml2's name characters; a run no attribute name
    # starts is dropped up to the next blank
    ("tag_name_ends_at_lt", '<table><tr><td<b>y</td></tr></table>',
     "#document[table[tr[td['y']]]]"),
    ("tag_name_ends_at_non_name_char", '<table><tr><td@x>y</td></tr></table>',
     "#document[table[tr[td['y']]]]"),
    ("attr_junk_dropped", '<td x<b=1 "q" 1a=2 c=2>y</td>',
     "#document[td(c='2' x='')['y']]"),
]


@pytest.mark.parametrize("name,html,expected", CASES, ids=[c[0] for c in CASES])
def test_libxml2_recovery_golden(name, html, expected):
    root, _ = parse_html(html)
    assert ser(libxml2.unwrap(root)) == expected


# --- libxml2 implies html/head/body, so absolute and body-anchored paths
# select the table, and the table's parent is body

_INTRO_TABLE = "<p>intro</p><table><tr><td>x</td></tr></table>"
IMPLIED_HTML_BODY = [
    ("absolute_path", _INTRO_TABLE, ParserConfig().table_xpath_position("/html/body/table"),
     [("ok", None, None, [["x"]])]),
    ("body_child_path", _INTRO_TABLE, ParserConfig().table_xpath_position("//body/table[1]"),
     [("ok", None, None, [["x"]])]),
    # the table's parent is body: not-a-table, not not-found
    ("parent_is_body", _INTRO_TABLE, ParserConfig().table_xpath_position("//table/.."),
     [("error", msg_not_a_table("body"), None, [])]),
    # </body> closes the open table, so the caption after it is outside
    ("end_body_closes_table", "<table></body><caption>x", ParserConfig().all_tables(),
     [("ok", None, None, [])]),
]


def _summary(tables):
    return [(t.status, t.error_msg, t.caption, t.row_texts()) for t in tables]


def test_implied_html_body_reference_results():
    """The tree the selections below run on: libxml2's implied wrappers."""
    root, _ = parse_html(_INTRO_TABLE)
    assert ser(root) == "#document[html[body[p['intro'] table[tr[td['x']]]]]]"
    root, _ = parse_html("<table></body><caption>x")
    assert ser(root) == "#document[html[body[table[]] caption['x']]]"


@pytest.mark.parametrize(
    "html,config,expected", [c[1:] for c in IMPLIED_HTML_BODY], ids=[c[0] for c in IMPLIED_HTML_BODY]
)
def test_implied_html_body_matches_libxml2(html, config, expected):
    assert _summary(parse_document(html, config)) == expected


# (html, whether libxml2 reports an error): payloads cut off inside open
# elements, as crawl records truncated at a size cap are, extract; the
# error classes libxml2 reports fail the document, as in the reference
FAIL_ON_ERRORS_VERDICTS = [
    ("<table><tr><td>a", False),
    ("<div><p>x<table><tr><td>y", False),
    ("<table><tr><td>a</td></tr><tr><td>b", False),
    ("<table><tr><td>a</td></tr></table><script>var x", False),
    ("<p>a</b><table><tr><td>x</td></tr></table>", True),
    ("<table><tr><td>Fish & Chips</td></tr></table>", True),
    ("<table><tr><td>AT&T</td></tr></table>", True),
    ("<table><tr><td>&amp x</td></tr></table>", True),
    ("<table><tr><td>&#65</td></tr></table>", True),
    ("<p>x</p><body><table><tr><td>a</td></tr></table>", True),
    ("<table><tr><td>a</br></td></tr></table>", True),
    ("<table><tr><td>a</td><td colspan=2", True),
]


@pytest.mark.parametrize("html,libxml2_errs", FAIL_ON_ERRORS_VERDICTS)
def test_fail_on_errors_verdict_matches_libxml2(html, libxml2_errs):
    """``fail_on_errors()`` fails a document exactly when libxml2's
    structured error stream, which the reference reads
    (Parser.php:450-453), is non-empty, and reports its messages: a
    truncated payload extracts, "Fish & Chips" does not."""
    _, errors = parse_html(html)
    assert bool(errors) is libxml2_errs
    for config in (ParserConfig().fail_on_errors(), ParserConfig().all_tables().fail_on_errors()):
        results = parse_document(html, config)
        if libxml2_errs:
            assert [(t.status, t.error_msg) for t in results] == [
                ("error", "\n".join(f"parse error: {e}" for e in errors))
            ], (html, config)
        else:
            assert {t.status for t in results} == {"ok"}, (html, config)


def test_binding_needs_libxml2_2_9(monkeypatch):
    """The binding reads 2.9's struct layouts and its HTML tokenizer is the
    reference's: importing it fails loudly, naming the path and version
    found, when there is no libxml2 or it is not 2.9.x."""
    assert binding.VERSION.startswith("209")
    path = ctypes.util.find_library("xml2")
    monkeypatch.setattr(binding, "_version", lambda lib: "21400")
    with pytest.raises(ImportError, match=f"{path} is libxml2 21400; the binding needs 2.9.x"):
        binding.load(path)
    with pytest.raises(ImportError, match="libxml2 not found"):
        binding.load(None)


def test_query_gives_pointers_for_elements_only():
    """A node set's non-element entries come back as None, their kind read
    while the node set lives: the namespace entries are copies libxml2 frees
    with it, so a pointer to one would dangle."""
    html = "<div id=d><!--c--><?php x ?><table><tr><td>x</td></tr></table></div>"
    with binding.document(html) as doc:
        for expr in ("//table/namespace::*", "//div/@id", "//td/text()", "//comment()",
                     "//processing-instruction()", "/"):
            selected = binding.query(doc, expr)
            assert selected and selected == [None] * len(selected), expr
        (table,) = binding.query(doc, "//table")
        assert binding.element_name(table) == "table"


def test_validate_is_silent_on_every_thread(capfd):
    """libxml2's generic error handler is per thread: a bad expression
    validated on a thread started after import prints nothing either."""
    import threading

    from html_table_spark.errors import ParserError

    raised = []

    def check():
        try:
            binding.validate("//[")
        except ParserError:
            raised.append(True)

    thread = threading.Thread(target=check)
    thread.start()
    thread.join()
    assert raised == [True]
    assert capfd.readouterr().err == ""
