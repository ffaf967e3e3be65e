r"""libxml2-differential tag-soup corpus (round-2 VERDICT item 4).

The reference parses through libxml2's tolerant HTML4 parser (PHP
``DOMDocument::loadHTML``, ``src/Parser.php:417-454``); the sandbox has no
libxml2 binding, so these goldens encode *documented* libxml2 recovery
behavior, hand-derived case by case:

- implied end tags (``htmlAutoClose``/``htmlCheckImplied``): ``<tr>``
  closes an open tr/td/th, ``<td>`` closes td/th, sections close sections,
  ``<li>``/``<option>``/``<dt>``/``<dd>`` self-close, block starts close
  ``<p>``
- NO implicit ``<tbody>`` and NO foster parenting (HTML4 recovery — a
  ``<div>`` inside ``<table>`` stays nested; the HTML5 algorithm would
  relocate it)
- stray end tags ignored; a misplaced end tag is ignored when an open
  element above its match has a higher end priority (``htmlEndPriority``:
  div 150, td/th 160, tr 170, sections 180, table 190, default 100);
  unclosed elements closed at EOF; unclosed
  ``<script>``/``<style>`` raw text runs to EOF (``htmlParseScript``)
- lenient comment termination (``--\s*>``), ``--`` allowed inside
- DOCTYPE / ``<![CDATA[`` / bogus ``<!x`` declarations skipped to the
  first ``>`` with no node (``htmlSkipBogusComment``); ``<?...>`` kept as
  a PI childNode (it shifts DOM child indices, which the reference's
  rowspan carry keys on — Parser.php:559)
- entities: named/numeric decoded, unknown (``&foo;``) left literal,
  bare ``&`` kept; attr names lowercased, first duplicate attr wins

Both tokenizer engines (fast regex + stdlib fallback) must agree on every
case except the documented FAST_ONLY set.
"""

from __future__ import annotations

import pytest

from html_table_spark.htmldom import COMMENT, PI, parse_html_fast, parse_html_stdlib


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


# Known divergence, impossible to replicate exactly without libxml2:
# an unterminated quoted attribute. libxml2 swallows the rest of the
# document into the attr value (htmlParseHTMLAttribute scans to the
# closing quote or EOF); the fast tokenizer recovers at the first '>'
# (keeping the stray quote in the value), which loses at most one tag
# instead of the whole remaining document — a deliberate, better-bounded
# recovery for mega-doc extraction. The stdlib engine emits the raw text.
FAST_ONLY = {"unclosed_attr_quote"}

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
     "#document[#c'' 'Z']"),
    ("comment_ddash", '<!-- a -- b -->Z',
     "#document[#c' a -- b ' 'Z']"),
    ("comment_spacey_end", '<!-- a --   >Z',
     "#document[#c' a ' 'Z']"),
    ("bogus_decl", '<!x>Z',
     "#document['Z']"),
    ("doctype_dropped", '<!DOCTYPE html><p>x</p>',
     "#document[p['x']]"),
    ("pi_php", '<?php echo 1 ?>Z',
     "#document[#pi'php echo 1 ?' 'Z']"),
    ("cdata_block", '<![CDATA[ <table></table> ]]>Z',
     "#document[' ]]>Z']"),
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
     "#document[td(nowrap='')['x']]"),
    ("attr_entity", '<td title="a&amp;b">x</td>',
     "#document[td(title='a&b')['x']]"),
    ("attr_case", '<td CLASS="X">x</td>',
     "#document[td(class='X')['x']]"),
    ("selfclosed_td", '<table><tr><td/>a</tr></table>',
     "#document[table[tr[td[] 'a']]]"),
    ("void_br_close_ignored", 'a<br></br>b',
     "#document['a' br[] 'b']"),
    ("tag_case_fold", '<TaBlE><TR><TD>x</TD></TR></TaBlE>',
     "#document[table[tr[td['x']]]]"),
    ("div_in_table_no_foster", '<table><div>d</div><tr><td>x</td></tr></table>',
     "#document[table[div['d'] tr[td['x']]]]"),
    ("orphan_td", '<td>alone</td>',
     "#document[td['alone']]"),
    ("script_rawtext", "<script>var t='<table>';</script>X",
     '#document[script["var t=\'<table>\';"] \'X\']'),
    ("script_unclosed", 'X<script>var a=1;',
     "#document['X' script['var a=1;']]"),
    ("style_rawtext", "<style>td::after{content:'</td>'}</style>X",
     '#document[style["td::after{content:\'</td>\'}"] \'X\']'),
    ("li_closes_li", '<ul><li>1<li>2</ul>',
     "#document[ul[li['1'] li['2']]]"),
    ("option_closes_option", '<select><option>1<option>2</select>',
     "#document[select[option['1'] option['2']]]"),
    ("end_tag_with_attrs", '<td>x</td id=9>',
     "#document[td['x']]"),
    ("end_tag_space", '<td>x</ td>',
     "#document[td['x']]"),
    ("lone_lt", '<td>1 < 2</td>',
     "#document[td['1 < 2']]"),
    ("unclosed_attr_quote", '<td class="x>a</td>',
     '#document[td(class=\'"x\')[\'a\']]'),
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
]


@pytest.mark.parametrize("name,html,expected", CASES, ids=[c[0] for c in CASES])
def test_libxml2_recovery_golden(name, html, expected):
    root, _ = parse_html_fast(html)
    assert ser(root) == expected
    if name not in FAST_ONLY:
        sroot, _ = parse_html_stdlib(html)
        assert ser(sroot) == expected, "stdlib engine diverged from golden"


def _has_unterminated_attr_quote(html: str) -> bool:
    """Detector for the ONE documented tokenizer divergence (round-3
    VERDICT item 8): a start tag whose attrs region ends while a
    left-to-right libxml2-style quote scan is still inside an open quote.
    Over-approximate on purpose (finditer ignores rawtext regions), so a
    clean corpus is PROVABLY clean."""
    from html_table_spark.htmldom import _TAG_RE

    for m in _TAG_RE.finditer(html):
        attrs = m.group("attrs")
        if not attrs or ('"' not in attrs and "'" not in attrs):
            continue
        i, n = 0, len(attrs)
        while i < n:
            c = attrs[i]
            if c in ('"', "'"):
                close = attrs.find(c, i + 1)
                if close == -1:
                    return True  # quote opens inside the tag, never closes
                i = close + 1
            else:
                i += 1
    return False


def test_unterminated_quote_divergence_unreachable_on_corpus():
    """The unclosed-attr-quote divergence (FAST_ONLY golden above) cannot
    fire on anything the rounds measure: every synthetic corpus document —
    including the mega-doc skew fixtures and the junk fraction — and every
    PHPUnit-derived fixture is free of unterminated attribute quotes.
    Detector sanity-checked against the divergent golden itself."""
    from html_table_spark.corpus import synthesize_documents
    from html_table_spark.fixtures import FIXTURES
    from html_table_spark.spans import doc_spans_to_html

    assert _has_unterminated_attr_quote('<td class="x>a</td>')
    assert not _has_unterminated_attr_quote('<td class="x">a</td>')
    assert not _has_unterminated_attr_quote("<td a=\"q'q\" b='d\"d'>x</td>")

    for name, (fixture_html, _cfg) in FIXTURES.items():
        assert not _has_unterminated_attr_quote(fixture_html), name
    rows = synthesize_documents(
        2000, seed=42, junk_fraction=0.5, mega_docs=2, mega_tables=300
    )
    for r in rows:
        html = doc_spans_to_html(r["spans"])
        assert not _has_unterminated_attr_quote(html), r["doc_id"]
