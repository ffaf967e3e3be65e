"""DOMXPath-parity grammar tests for the round-2 xpath.py rewrite.

Pure-Python (no Spark session): parse + evaluate against a fixed tree and
check node sets, document order, eager validation, and the laziness
contract the extraction hot path relies on.
"""

from __future__ import annotations

import pytest

from html_table_spark.errors import ParserError
from html_table_spark.htmldom import parse_html_fast
from html_table_spark.xpath import compile_xpath

HTML = """
<div id="top">
 <table id="a" class="data wide"><caption>A</caption><tr><td>1</td></tr></table>
 <p>x</p>
 <table class="plain"><thead><tr><th>H</th></tr></thead><tr><td>2</td></tr></table>
 <div><table id="c" class="data"><tr><td>3</td></tr><tr><td>4</td></tr></table></div>
</div>"""


@pytest.fixture(scope="module")
def root():
    return parse_html_fast(HTML)[0]


def q(root, expr):
    return compile_xpath(expr).query(root)


def ids(root, expr):
    return [(n.attrs or {}).get("id") or (n.attrs or {}).get("class")
            for n in q(root, expr)]


@pytest.mark.parametrize(
    "expr,count",
    [
        ("//table", 3),
        ("(//table)[1]", 1),
        ('//table[@id="a"]', 1),
        ('//table[contains(@class,"data")]', 2),
        ("//table[@id]", 2),                       # attribute existence
        ('//table[@class="data wide" or @id="c"]', 2),
        ('//table[contains(@class,"data") and @id="c"]', 1),
        ("//table[thead]", 1),                     # relative-path existence
        ("//table[not(@id)]", 1),
        ("//div//table", 3),
        (".//table", 3),
        ("descendant::table", 3),
        ('//table[starts-with(@class,"da")]', 2),
        ("//table[.//th]", 1),
        ("//td/..", 4),                            # parent axis
        ("//table/tr/td", 4),
        ('//*[@id="c"]', 1),
        ("//table | //p", 4),                      # union
        ("//table[last()]", 2),                    # number-valued predicate
        # means position()=last(): LAST table-child per parent (2 parents)
        ('//tr[td="3"]', 1),                       # text-value comparison
        ('//table[string-length(@id)=1]', 2),
        ("//table[position()=1]", 2),  # first table-child per PARENT
        ('//caption[normalize-space(.)="A"]', 1),
        ("/div/table", 2),                         # absolute child path
        ("div/div/table", 1),                      # relative path
    ],
)
def test_node_counts(root, expr, count):
    assert len(q(root, expr)) == count, expr


def test_string_value_multi_child_document_order():
    """string() of a node with multiple text-bearing children must come back
    in document order (round-3 ADVICE: the old traversal returned 'ba' for
    <tr><td>a</td><td>b</td></tr> and 'xac' for <p>a<b>x</b>c</p>)."""
    doc = parse_html_fast(
        "<table><tr><td>a</td><td>b</td></tr></table><p>a<b>x</b>c</p>"
    )[0]
    assert [n.tag for n in q(doc, '//tr[.="ab"]')] == ["tr"]
    assert q(doc, '//tr[.="ba"]') == []
    assert [n.tag for n in q(doc, '//p[contains(.,"ax")]')] == ["p"]
    assert [n.tag for n in q(doc, '//p[starts-with(.,"ax")]')] == ["p"]
    assert [n.tag for n in q(doc, '//p[normalize-space(.)="axc"]')] == ["p"]
    assert [n.tag for n in q(doc, "//tr[string-length(.)=2]")] == ["tr"]


def test_document_order_and_union_order(root):
    # union across paths must come back in document order, not path order
    got = [n.tag for n in q(root, "//p | //table")]
    assert got == ["table", "p", "table", "table"]


def test_outer_wrapper_is_global_document_order(root):
    assert (q(root, "(//table)[2]")[0].attrs or {}).get("class") == "plain"
    assert q(root, "(//table)[9]") == []


def test_first_is_lazy_prefix_of_query(root):
    expr = compile_xpath("//td")
    assert expr.first(root) is expr.query(root)[0]
    assert compile_xpath("//video").first(root) is None


@pytest.mark.parametrize(
    "bad",
    [
        "//table[",                      # unterminated predicate
        "table[@",                       # dangling attr
        '//table[@id=]',                 # missing comparand
        "///x",                          # empty step
        "bogus::x",                      # unknown axis
        "",                              # empty expression
        "//td | count(//p)",             # union operand must be a node-set
        "(count(//td))[1]",              # predicate on a scalar (eval type error)
    ],
)
def test_eager_validation_rejects(bad):
    with pytest.raises(ParserError):
        compile_xpath(bad)


@pytest.mark.parametrize(
    "expr",
    ["count(//td)", "//td = 3", "1+2", "string(//p)", "not(//table)", "true()"],
)
def test_scalar_expression_selects_nothing(root, expr):
    """Valid scalar-valued XPath passes the reference's eager validation —
    DOMXPath::query coerces a non-nodeset result to an EMPTY DOMNodeList
    without warning (ext/dom/xpath.c) — so selection proceeds and fails
    with table-not-found, never ParserError."""
    assert compile_xpath(expr).query(root) == []


@pytest.mark.parametrize(
    "expr",
    [
        "position()",                    # no context position at top level
        "last()",
        "position() + 1",
        "count(//td) = position()",
        "concat('x', string(last()))",
        "not(last() > 2)",
    ],
)
def test_top_level_context_position_rejected(expr):
    """position()/last() OUTSIDE a predicate have no context position:
    libxml2 raises XPATH_INVALID_CTXT_POSITION, DOMXPath::query warns, and
    the reference's eager validation (Parser.php:73-80) raises — so the
    scalar fallback must reject these instead of compiling to an empty
    selection (round-4 ADVICE)."""
    with pytest.raises(ParserError):
        compile_xpath(expr)


@pytest.mark.parametrize(
    "expr,count",
    [
        # per-parent first table child: #a under #top, #c under the div
        ("//table[position() = 1]", 2),
        ("//td[last()]", 4),
        ("//table[count(../p) = position()]", 1),
    ],
)
def test_predicate_context_position_still_accepted(root, expr, count):
    """The top-level rejection must NOT leak into predicates, which carry
    their own context position."""
    assert len(q(root, expr)) == count


@pytest.mark.parametrize(
    "expr,expect",
    [
        # sibling axes (round-3 VERDICT item 3); reverse axes count
        # position() nearest-first per XPath 1.0 §2.4
        ('//table[@id="a"]/following-sibling::table', ["plain"]),
        ("//p/following-sibling::*", ["plain", None]),       # table + div wrapper
        ('//table[@class="plain"]/preceding-sibling::table', ["a"]),
        ('//table[@class="plain"]/preceding-sibling::*[1]', [None]),  # nearest = p
        ("//table[following-sibling::p]", ["a"]),
        # ancestor / ancestor-or-self
        ('//table[@id="c"]/ancestor::div', ["top", None]),   # doc order: outer first
        ('//table[@id="c"]/ancestor::*[1]', [None]),         # nearest = inner div
        ('//td/ancestor-or-self::table', ["a", "plain", "c"]),
        # document axes: following excludes descendants, preceding excludes
        # ancestors
        # includes the caption's own sibling tr — following:: covers later
        # subtrees of ancestors too
        ("//caption/following::tr", 5),
        ('//table[@id="c"]/preceding::caption', 1),
        ("//p/preceding::td", 1),
    ],
)
def test_new_axes(root, expr, expect):
    got = q(root, expr)
    if isinstance(expect, int):
        assert len(got) == expect, expr
    else:
        assert [
            (n.attrs or {}).get("id") or (n.attrs or {}).get("class")
            for n in got
        ] == expect, expr


def test_attribute_and_text_result_steps(root):
    """Attribute location steps and text() node tests as result steps
    (round-3): results are XPathAttr/XPathText wrappers in document order,
    deduplicated by node position."""
    from html_table_spark.xpath import XPathAttr, XPathText

    attrs = q(root, "//table/@id")
    assert [a.value for a in attrs] == ["a", "c"]
    assert all(isinstance(a, XPathAttr) for a in attrs)
    assert q(root, "//table/@id")[0].owner.tag == "table"
    # @* yields every attribute of the element
    star = q(root, '//table[@id="a"]/@*')
    assert sorted(a.name for a in star) == ["class", "id"]
    # union with itself dedups by node position, not wrapper identity
    assert len(q(root, "//table/@id | //table/@id")) == 2
    # text(): one result per text run, positional predicates allowed
    texts = q(root, "//td/text()")
    assert [t.value for t in texts] == ["1", "2", "3", "4"]
    assert all(isinstance(t, XPathText) for t in texts)
    assert [t.value for t in q(root, "(//td/text())[2]")] == ["2"]
    # descendant text under one table
    assert [t.value for t in q(root, '//table[@class="plain"]//text()')] == ["H", "2"]


def test_non_element_selection_is_not_found(spark_noop=None):
    """Selecting an attribute/text node with tableXPathPosition maps to the
    reference's instanceof-DOMElement gate (Parser.php:370): the not-found
    error, not the not-a-table error."""
    from html_table_spark.config import ParserConfig
    from html_table_spark.errors import MSG_TABLE_NOT_FOUND
    from html_table_spark.semantics import parse_document

    html = '<table id="t"><tr><td>x</td></tr></table>'
    for expr in ("//table/@id", "//td/text()"):
        [res] = parse_document(html, ParserConfig().table_xpath_position(expr))
        assert res.status == "error"
        assert res.error_msg == MSG_TABLE_NOT_FOUND


def test_reference_generated_shapes_still_work(root):
    # the four shapes Parser.php generates internally (SURVEY §2.2)
    assert len(q(root, "(//table)[1]")) == 1
    assert (q(root, '(//table[@id="c"])[1]')[0].attrs or {}).get("id") == "c"
    assert q(root, "(//table/thead/tr)[1]")[0].tag == "tr"
    assert len(q(root, "//table/tr")) == 4  # direct-child trs only


def test_nested_same_tag_document_order():
    """//table/tr with a table nested inside the outer table: DOMXPath
    yields strict document order (inner rows surface at their position);
    the walk emits per context, so the path takes the document-order sort
    (``_path_needs_order_fix``: a non-final descendant step)."""
    html = (
        '<table id="outer"><table id="inner"><tr id="A"><td>a</td></tr>'
        "</table><tr id=\"B\"><td>b</td></tr></table>"
    )
    r, _ = parse_html_fast(html)
    got = [(n.attrs or {}).get("id") for n in q(r, "//table/tr")]
    assert got == ["A", "B"]
    assert (q(r, "(//table/tr)[1]")[0].attrs or {}).get("id") == "A"


def test_number_valued_predicate_is_positional():
    """XPath 1.0 §2.4: a predicate whose value is a number selects by
    position — [last()] keeps the last node per context, and a bare
    numeric function result compares against position()."""
    html = '<div><table id="a"></table><table id="b"></table><table id="c"></table></div>'
    r, _ = parse_html_fast(html)
    assert [(n.attrs or {}).get("id") for n in q(r, "//table[last()]")] == ["c"]
    # string-length(@id)=1 for all → position()=1 keeps only the first
    assert [(n.attrs or {}).get("id") for n in q(r, "//table[string-length(@id)]")] == ["a"]


def test_number_literal_dot_forms():
    """XPath 1.0 §3.7: Number ::= Digits ('.' Digits?)? | '.' Digits —
    both the leading-dot ('.5') and trailing-dot ('2.') spellings are
    numbers, not a self-node abbreviation followed by digits."""
    html = '<div><table id="a"></table><table id="b"></table><table id="c"></table></div>'
    r, _ = parse_html_fast(html)
    assert [(n.attrs or {}).get("id") for n in q(r, "(//table)[2.]")] == ["b"]
    assert [(n.attrs or {}).get("id") for n in q(r, "(//table)[.5 + .5]")] == ["a"]
    assert [(n.attrs or {}).get("id")
            for n in q(r, "//table[position() - .5 > 1]")] == ["b", "c"]
    # '.' not followed by a digit still tokenizes as the self abbreviation
    assert len(q(r, "//table[. = '']")) == 3
    with pytest.raises(ParserError):
        compile_xpath("//table[1..2]")  # adjacent numbers, not a range


# ---------------------------------------------------------------------------
# round-3: XPath 1.0 §3.5 arithmetic + §4 core function library
# ---------------------------------------------------------------------------

FN_HTML = """<div>
<table id="t1"><tr><td>a1</td><td>a2</td></tr><tr><td>b1</td></tr>
<tr><td>c1</td></tr><tr><td>d1</td></tr></table>
<table id="t2"><tr><td>12345</td></tr></table>
<p>hello world</p>
</div>"""


@pytest.fixture(scope="module")
def fn_root():
    return parse_html_fast(FN_HTML)[0]


def _fids(root, expr):
    out = []
    for n in q(root, expr):
        a = getattr(n, "attrs", None) or {}
        out.append(a.get("id") or getattr(n, "tag", repr(n)))
    return out


@pytest.mark.parametrize(
    "expr,expect",
    [
        # arithmetic + positional interplay (§2.4: numeric value = position)
        ("//table[1]//tr[position() < last() - 1]", ["tr", "tr"]),
        ("//tr[position() mod 2 = 1]", ["tr", "tr", "tr"]),
        ("//table[6 mod 4 = 2 and 5 div 2 = 2.5]", ["t1", "t2"]),
        ("//tr[- -1 = 1]", ["tr"] * 5),          # unary minus nests
        # count() is a node-set function, numeric-valued
        ("//table[count(.//tr) = 4]", ["t1"]),
        ("//table[count(.//tr) > 1 + 2]", ["t1"]),
        # string library
        ('//table[substring(.//td, 1, 2) = "a1"]', ["t1"]),
        ('//table[substring("12345", 1.5, 2.6) = "234"]', ["t1", "t2"]),
        ('//table[concat("t", "1") = @id]', ["t1"]),
        ('//table[substring-before(@id, "2") = "t"]', ["t2"]),
        ('//table[substring-after(@id, "t") = "2"]', ["t2"]),
        ('//table[translate(@id, "t", "T") = "T1"]', ["t1"]),
        # translate deletes chars beyond len(to)
        ('//table[translate(@id, "t12", "T") = "T"]', ["t1", "t2"]),
        # conversions + rounding (round() is half-up toward +inf)
        ('//*[name() = "p"]', ["p"]),
        ('//table[number(substring(.//td, 1, 1)) = 1]', ["t2"]),
        ("//table[boolean(.//td)]", ["t1", "t2"]),
        ("//table[not(false()) and true()]", ["t1", "t2"]),
        (
            "//table[floor(3.7) = 3 and ceiling(3.2) = 4 and "
            "round(2.5) = 3 and round(-0.5) = 0]",
            ["t1", "t2"],
        ),
        # IEEE specials with XPath string spellings
        ('//table[string(1 div 0) = "Infinity"]', ["t1", "t2"]),
        ('//table[string(-1 div 0) = "-Infinity"]', ["t1", "t2"]),
        ('//table[string(0 div 0) = "NaN"]', ["t1", "t2"]),
        ("//table[5 mod -2 = 1]", ["t1", "t2"]),   # sign of the dividend
        ("//table[0 div 0 = 0 div 0]", []),        # NaN never equal
    ],
)
def test_function_library(fn_root, expr, expect):
    assert _fids(fn_root, expr) == expect


@pytest.mark.parametrize(
    "bad",
    [
        "//table[substring()]",      # arity
        "//table[substring(1)]",
        "//table[concat(1)]",        # concat needs >= 2 args
        "//table[count(2)]",         # count needs a node-set
        "//table[count()]",
        "//table[+1]",               # no unary plus in XPath 1.0
        "//table[translate(1, 2)]",  # arity
        '//table[name("s")]',        # name() arg must be a node-set
        "//table[true(1)]",
    ],
)
def test_function_library_eager_rejects(bad):
    with pytest.raises(ParserError):
        compile_xpath(bad)


def test_div_is_still_an_element_name(fn_root):
    """'div' at operand position is the HTML element; after an operand it
    is the operator — both in one corpus-realistic document."""
    assert _fids(fn_root, "//div") == ["div"]
    assert _fids(fn_root, "//div[div div div = 1]") == []  # no <div> children
    html = '<section><div>2</div><div>2</div><table id="x"></table></section>'
    r, _ = parse_html_fast(html)
    # div div div = 2/2 = 1 -> positional 1? No: numeric predicate selects
    # position 1 of section candidates; value is 1 -> keeps position 1
    assert _fids(r, "//section[div div div = 1]") == ["section"]


# ---------------------------------------------------------------------------
# round-3: id() — FilterExpr path start + predicate node-set (§4.1)
# ---------------------------------------------------------------------------

ID_HTML = """<div>
<table id="t1"><tr><td>a</td></tr><tr><td>b</td></tr></table>
<p id="para" data-ref="t2 t1">x</p>
<table id="t2"><tr><td>c</td></tr></table>
<span id="t2">duplicate id — first wins</span>
<section id="outer"><b id="inner">y</b></section>
</div>"""


@pytest.fixture(scope="module")
def id_root():
    return parse_html_fast(ID_HTML)[0]


def test_id_path_start(id_root):
    assert _fids(id_root, 'id("t1")') == ["t1"]
    # multiple whitespace-separated tokens, document order, unknown ignored
    assert _fids(id_root, 'id("t2  t1 nope")') == ["t1", "t2"]
    # duplicate @id: FIRST registration wins (xmlAddID) — the table, not span
    assert [n.tag for n in q(id_root, 'id("t2")')] == ["table"]
    # trailing relative path
    assert len(q(id_root, 'id("t1")//tr')) == 2
    assert len(q(id_root, 'id("t1 t2")/tr/td')) == 3
    # nested seeds stay in document order
    assert _fids(id_root, 'id("inner outer")') == ["outer", "inner"]


def test_id_in_predicates(id_root):
    # node-set truth: tables that exist by id
    assert _fids(id_root, "//p[id(@data-ref)]") == ["para"]
    # count over an id node-set
    assert _fids(id_root, '//div[count(id("t1 t2")) = 2]') == ["div"]
    # comparison via string value of the id'd node
    assert _fids(id_root, '//p[id("t1")//td = "a"]') == ["para"]
    # id(node-set arg) unions every node's string value
    assert _fids(id_root, 'id(//p/@data-ref)') == ["t1", "t2"]


def test_id_still_an_element_name(id_root):
    html = "<div><id>q</id><table id='z'></table></div>"
    r, _ = parse_html_fast(html)
    assert [n.tag for n in q(r, "//id")] == ["id"]


@pytest.mark.parametrize("bad", ["id()", "//table/id('x')", "id('x'"])
def test_id_eager_rejects(bad):
    with pytest.raises(ParserError):
        compile_xpath(bad)


# -- round-3 review regressions ---------------------------------------------


def test_value_conversion_uses_document_first_node():
    """string()/substring()/number() of a node-set read the DOCUMENT-first
    node, not the first node the lazy walk emits — with a tr nested inside
    a caption, .//table/tr's walk order differs from document order."""
    html = (
        "<div><table><caption><table><tr><td>I</td></tr></table></caption>"
        "<tr><td>O</td></tr></table></div>"
    )
    r, _ = parse_html_fast(html)
    assert len(q(r, '//div[string(.//table/tr)="I"]')) == 1
    assert len(q(r, '//div[substring(.//table/tr,1,1)="I"]')) == 1
    assert len(q(r, '//div[string(.//table/tr)="O"]')) == 0


def test_id_arg_sees_outer_position():
    """id()'s argument runs in the enclosing predicate's context, so
    position() inside it must resolve (and not leak an internal error)."""
    html = '<div><p id="1">a</p><p id="2">b</p><p id="9">c</p></div>'
    r, _ = parse_html_fast(html)
    # p #1 at position 1 -> id('1') exists; p #2 at position 2 -> id('2')
    # exists; p #9 at position 3 -> id('3') missing
    assert [n.attrs["id"] for n in q(r, "//p[id(string(position()))]")] == [
        "1",
        "2",
    ]


def test_top_level_position_is_singleton_context():
    # initial context is the document node: position() = last() = 1
    html = "<div><p>a</p></div>"
    r, _ = parse_html_fast(html)
    assert len(q(r, "//p[1 = position() - 0]") or q(r, "//p")) == 1
    assert len(compile_xpath("id(string(position()))").query(r)) == 0  # no id '1'


def test_count_accepts_bare_node_set_ops():
    html = '<div><p id="x">t</p><p>u</p></div>'
    r, _ = parse_html_fast(html)
    assert len(q(r, "//p[count(@id) = 1]")) == 1  # same as count(./@id)
    assert len(q(r, "//p[count(./@id) = 1]")) == 1
    assert len(q(r, "//p[count(text()) = 1]")) == 2
    assert len(q(r, "//p[count(.) = 1]")) == 2
    assert len(q(r, "//div[count(p) = 2]")) == 1
    with pytest.raises(ParserError):
        compile_xpath("//p[count('x')]")  # string literal is not a node-set


@pytest.mark.parametrize(
    "lit,expect_match",
    [
        ("'1e3'", False),  # exponent spelling: NaN per §4.4 (libxml2 agrees)
        ("'Infinity'", False),  # name spellings are NaN through number()
        ("'NaN '", False),
        ("'+1'", False),  # no unary plus in the XPath number grammar
        ("'--1'", False),  # single minus only
        ("' -1.5 '", True),  # surrounding S whitespace is allowed
        ("'.5'", True),
        ("'12.'", True),  # Digits '.' with empty fraction is legal
    ],
)
def test_number_uses_xpath_grammar_not_python_float(lit, expect_match):
    html = "<p>x</p>"
    r, _ = parse_html_fast(html)
    # number(lit) != number(lit) is the NaN probe; for parseable literals
    # equality with itself holds
    match = len(q(r, f"//p[number({lit}) = number({lit})]")) == 1
    assert match is expect_match


def test_sum_function():
    html = (
        '<table><tr><td p="2">1</td><td p="3">2</td><td>x</td></tr>'
        "<tr><td>4</td></tr></table>"
    )
    r, _ = parse_html_fast(html)
    # sum over a path of element string values: 1+2+4 poisoned by 'x' → NaN
    assert len(q(r, "//table[sum(.//td) = sum(.//td)]")) == 0  # NaN != NaN
    # numeric-only rows sum cleanly
    assert len(q(r, "//tr[sum(td) = 4]")) == 1
    # bare node-set ops: sum(@p) per td, sum over attribute values
    assert len(q(r, "//td[sum(@p) = 3]")) == 1
    assert len(q(r, "//tr[sum(td/@p) = 5]")) == 1
    # empty node-set sums to 0
    assert len(q(r, "//tr[sum(th) = 0]")) == 2
    with pytest.raises(ParserError):
        compile_xpath("//tr[sum(1)]")  # number literal is not a node-set
    with pytest.raises(ParserError):
        compile_xpath("//tr[sum()]")


def test_union_in_predicate():
    html = (
        '<div><section><a>1</a></section><section><b>2</b></section>'
        '<section><c>3</c></section></div>'
    )
    r, _ = parse_html_fast(html)
    # truth: sections having an <a> OR a <b> child
    assert len(q(r, "//section[a | b]")) == 2
    assert len(q(r, "//section[a | b | c]")) == 3
    # document-first across branches: first node of (b | a) is still <a>
    r2, _ = parse_html_fast("<div><a>x</a><b>y</b></div>")
    assert len(q(r2, '//div[string(b | a) = "x"]')) == 1
    # count/sum over a union
    assert len(q(r, "//div[count(.//a | .//b) = 2]")) == 1
    r3, _ = parse_html_fast("<div><a>1</a><b>2</b></div>")
    assert len(q(r3, "//div[sum(a | b) = 3]")) == 1
    # union with @attr operand
    r4, _ = parse_html_fast('<p id="i" class="c">t</p>')
    assert len(q(r4, "//p[count(@id | @class) = 2]")) == 1
    # dedup: same node reached twice counts once
    assert len(q(r3, "//div[count(a | a) = 1]")) == 1
    with pytest.raises(ParserError):
        compile_xpath("//p[a | 1]")  # number is not a node-set
    with pytest.raises(ParserError):
        compile_xpath('//p[a | "s"]')


def test_lang_function():
    html = (
        '<div xml:lang="en-US"><p>a</p>'
        '<span xml:lang="fr">b</span></div><i>c</i>'
    )
    r, _ = parse_html_fast(html)
    assert len(q(r, '//p[lang("en")]')) == 1  # sublanguage prefix match
    assert len(q(r, '//p[lang("en-us")]')) == 1  # case-insensitive
    assert len(q(r, '//p[lang("fr")]')) == 0
    assert len(q(r, '//span[lang("fr")]')) == 1  # nearest wins
    assert len(q(r, '//i[lang("en")]')) == 0  # no xml:lang anywhere above
    # plain HTML lang attribute does NOT count (xmlNodeGetLang parity)
    r2, _ = parse_html_fast('<p lang="en">x</p>')
    assert len(q(r2, '//p[lang("en")]')) == 0


def test_namespace_uri_is_empty_on_html():
    html = "<p>x</p>"
    r, _ = parse_html_fast(html)
    assert len(q(r, '//p[namespace-uri() = ""]')) == 1
    assert len(q(r, '//p[namespace-uri() = "urn:x"]')) == 0


def test_comment_node_test():
    html = (
        "<div><!--first--><p>a<!--inner--></p>"
        "<table><!--t--><tr><td>x</td></tr></table><!--last--></div>"
    )
    r, _ = parse_html_fast(html)
    # result steps: child and descendant, doc order, positional preds
    assert [n.data for n in q(r, "//comment()")] == [
        "first", "inner", "t", "last",
    ]
    assert [n.data for n in q(r, "//div/comment()")] == ["first", "last"]
    assert [n.data for n in q(r, "//div/comment()[2]")] == ["last"]
    assert [n.data for n in q(r, "(//comment())[2]")] == ["inner"]
    # predicate node-set forms: truth, comparison, count
    assert len(q(r, "//p[comment()]")) == 1
    assert len(q(r, '//p[comment() = "inner"]')) == 1
    assert len(q(r, "//div[count(.//comment()) = 4]")) == 1
    # continuations and rich predicates are legal (DOMXPath accepts them)
    # with the §2.2 semantics: comments have no children and no attributes
    assert q(r, "//comment()/tr") == []
    assert q(r, "//comment()[@id]") == []
    # '//'-anchored sibling axis: every comment with a preceding sibling
    # ('first' and 't' open their parents, so they are excluded)
    assert [n.data for n in q(r, "//following-sibling::comment()")] == [
        "inner", "last",
    ]
    # sibling axes from a comment context walk the containing element
    assert [n.tag for n in q(r, "//div/comment()[1]/following-sibling::*")] == [
        "p", "table",
    ]


def test_processing_instruction_node_test():
    """PI nodes are real childNodes on HTML-parsed trees (libxml2 keeps
    <?...> as a PI; htmldom.py:242 mirrors it), so the node test selects
    them — target filter, string value (content after target), predicate
    node-set and count() forms all per XPath 1.0 §2.3/§4."""
    html = (
        "<div><?php echo 1 ?><p>a<?perl x ?></p>"
        "<table><tr><td>x</td></tr></table><?xml-stylesheet href='s'?></div>"
    )
    r, _ = parse_html_fast(html)
    pis = q(r, "//processing-instruction()")
    assert [n.data for n in pis] == [
        "php echo 1 ?", "perl x ?", "xml-stylesheet href='s'?",
    ]
    # target filter (Literal argument) and child-axis scoping
    assert [n.data for n in q(r, "//processing-instruction('php')")] == [
        "php echo 1 ?"
    ]
    assert [n.data for n in q(r, "//div/processing-instruction()")] == [
        "php echo 1 ?", "xml-stylesheet href='s'?",
    ]
    assert [n.data for n in q(r, "//div/processing-instruction()[2]")] == [
        "xml-stylesheet href='s'?"
    ]
    # predicate node-set forms: truth, target filter, string value, count
    assert len(q(r, "//p[processing-instruction()]")) == 1
    assert len(q(r, "//p[processing-instruction('perl')]")) == 1
    assert len(q(r, "//p[processing-instruction('php')]")) == 0
    assert len(q(r, "//p[processing-instruction() = 'x ?']")) == 1
    assert len(q(r, "//div[count(.//processing-instruction()) = 3]")) == 1
    # continuations/predicates are legal with §2.2 semantics (PIs have no
    # children or attributes; ancestors are always elements)
    assert q(r, "//processing-instruction()/tr") == []
    assert q(r, "//processing-instruction()[@id]") == []
    assert q(r, "//ancestor::processing-instruction()") == []
    # true syntax errors stay rejected: at most one Literal argument
    for bad in (
        '//processing-instruction("a", "b")',
        "//processing-instruction(2)",
    ):
        with pytest.raises(ParserError):
            compile_xpath(bad)


def test_namespace_axis():
    """HTML-parsed libxml2 trees carry exactly one namespace node per
    element — the implicit xml binding (loadHTML creates no xmlns
    declarations) — so namespace::* selects one node per context element
    and namespace::xml / node() match it while other names do not."""
    html = '<div><table id="a"><tr><td>1</td></tr></table><p>x</p></div>'
    r, _ = parse_html_fast(html)
    ns = q(r, "//table/namespace::*")
    assert len(ns) == 1
    assert ns[0].name == "xml"
    assert ns[0].value == "http://www.w3.org/XML/1998/namespace"
    assert len(q(r, "//table/namespace::xml")) == 1
    assert len(q(r, "//table/namespace::node()")) == 1
    assert len(q(r, "//table/namespace::foo")) == 0
    # predicate forms: existence is vacuously true, value comparable
    assert len(q(r, "//table[namespace::*]")) == 1
    assert len(
        q(r, '//p[namespace::xml = "http://www.w3.org/XML/1998/namespace"]')
    ) == 1
    # continuations/predicates are legal with §2.2 semantics: namespace
    # nodes have no children and no attributes
    assert q(r, "//namespace::*/tr") == []
    assert q(r, "//table/namespace::*[@id]") == []


def test_nonelement_parent_ancestor_climb():
    """Non-element steps may continue through parent/ancestor axes back to
    elements (XPath 1.0 §2.2: an attribute's parent is its owner element;
    a text/comment/PI node's is its containing element) — the devtools
    shapes //@href/.. and //td/text()/ancestor::table. Every other
    continuation now evaluates with §2.2 semantics too: child/descendant
    from a non-element is empty, attributes have no siblings, text keeps
    its element siblings."""
    html = (
        '<div><table id="a"><tr><td class="x">1<!--c--></td><td>2</td></tr>'
        '</table><table><tr><td href="h">3</td></tr></table><?php z ?></div>'
    )
    r, _ = parse_html_fast(html)

    def tags(expr):
        return [n.tag for n in q(r, expr)]

    assert [
        (n.tag, n.attrs.get("class")) for n in q(r, "//@class/..")
    ] == [("td", "x")]
    assert tags("//@href/parent::td") == ["td"]
    assert [
        (n.tag, n.attrs.get("id")) for n in q(r, "//@class/ancestor::table")
    ] == [("table", "a")]
    assert tags("//td/text()/ancestor::table") == ["table", "table"]
    assert tags("//text()/..") == ["td", "td", "td"]
    assert tags("//comment()/..") == ["td"]
    assert tags("//processing-instruction()/..") == ["div"]
    assert tags("//table/namespace::*/..") == ["table", "table"]
    assert tags("//@href/../..") == ["tr"]  # onward steps are normal again
    assert [
        (n.tag, n.attrs.get("id")) for n in q(r, "//@class/ancestor::*[@id]")
    ] == [("table", "a")]
    # formerly-rejected continuations, now evaluated per §2.2:
    assert q(r, "//@id/following-sibling::td") == []  # attrs have no siblings
    assert q(r, "//@id/td") == []                     # ...or children
    assert q(r, "//comment()/descendant::p") == []    # ...comments neither
    # self:: from a text context yields the text node itself
    from html_table_spark.xpath import XPathText

    selfs = q(r, "//text()/self::node()")
    assert [t.value for t in selfs] == ["1", "2", "3"]
    assert all(isinstance(t, XPathText) for t in selfs)
    # sibling walk from a text context reaches the comment beside it
    assert [c.data for c in q(r, "//td/text()/following-sibling::comment()")] == [
        "c"
    ]


def test_pi_and_namespace_selection_map_to_not_found():
    """Selecting a PI or namespace node via tableXPathPosition mirrors the
    reference's instanceof-DOMElement gate (Parser.php:370)."""
    from html_table_spark.config import ParserConfig
    from html_table_spark.errors import MSG_TABLE_NOT_FOUND
    from html_table_spark.semantics import parse_document

    html = "<div><?php x ?><table><tr><td>x</td></tr></table></div>"
    for expr in ("//processing-instruction()", "//table/namespace::*"):
        out = parse_document(html, ParserConfig().table_xpath_position(expr))
        assert out[0].status == "error"
        assert out[0].error_msg == MSG_TABLE_NOT_FOUND


def test_comment_selection_maps_to_not_found():
    """Selecting a comment via tableXPathPosition mirrors the reference's
    instanceof-DOMElement gate: not-found error, not not-a-table."""
    from html_table_spark.config import ParserConfig
    from html_table_spark.errors import MSG_TABLE_NOT_FOUND
    from html_table_spark.semantics import parse_document

    out = parse_document(
        "<div><!--c--><table><tr><td>x</td></tr></table></div>",
        ParserConfig().table_xpath_position("//comment()"),
    )
    assert out[0].status == "error"
    assert out[0].error_msg == MSG_TABLE_NOT_FOUND


def test_pi_target_is_name_parsed():
    """PI targets are XML Names, not whitespace-split prefixes: a
    space-less PI like ``<?php?>`` has target ``php`` — ``?`` is not a
    Name character, so the trailing junk must not leak into the target
    (libxml2 name-parses the target, then skips whitespace before the
    data begins)."""
    html = "<div><?php?><p>a</p></div>"
    r, _ = parse_html_fast(html)
    assert [n.data for n in q(r, "//processing-instruction()")] == ["php?"]
    assert len(q(r, "//processing-instruction('php')")) == 1
    assert len(q(r, "//processing-instruction('php?')")) == 0
    # string value = content after the Name-parsed target (here just the
    # leftover "?": nothing was whitespace-separated)
    assert len(q(r, "//div[processing-instruction() = '?']")) == 1


def test_union_merges_all_node_kinds_in_document_order():
    """Comment/PI nodes carry real document-order ordinals, so a union of
    mixed node kinds interleaves them with elements instead of dumping
    non-elements after every element."""
    html = "<div><!--a--><p>x</p><!--b--><span>y</span></div>"
    r, _ = parse_html_fast(html)
    got = [
        (n.tag or "", n.data or "")
        for n in q(r, "//comment() | //p | //span")
    ]
    assert got == [("", "a"), ("p", ""), ("", "b"), ("span", "")]


def test_following_axis_skips_nonelement_subtree_entries():
    """following:: starts AFTER the context's whole subtree even when the
    subtree contains comment/PI nodes — the boundary is the subtree-end
    ordinal, not the context ordinal plus its element count."""
    html = "<div><p><!--in-->x<?pi y?></p><span>y</span></div>"
    r, _ = parse_html_fast(html)
    assert [n.tag for n in q(r, "//p/following::*")] == ["span"]


def test_document_selection_maps_to_not_found():
    """A parent climb landing on the synthetic #document container mirrors
    the reference's instanceof-DOMElement gate (Parser.php:370): a
    DOMDocument is not a DOMElement, so the selector yields the not-found
    error, not not-a-table."""
    from html_table_spark.config import ParserConfig
    from html_table_spark.errors import MSG_TABLE_NOT_FOUND
    from html_table_spark.semantics import parse_document

    out = parse_document(
        "<html><body><table><tr><td>x</td></tr></table></body></html>",
        ParserConfig().table_xpath_position("//html/.."),
    )
    assert out[0].status == "error"
    assert out[0].error_msg == MSG_TABLE_NOT_FOUND


def test_round_negative_zero_sign():
    """XPath 1.0 §4.4: round(x) for x in [-0.5, -0] is NEGATIVE zero, so
    division by it yields -Infinity. floor(x + 0.5) alone loses the sign
    (it returns +0.0), flipping the comparison below."""
    r, _ = parse_html_fast("<table><tr><td>1</td></tr></table>")
    assert len(q(r, "//table[1 div round(-0.5) < 0]")) == 1
    assert len(q(r, "//table[1 div round(-0.4) < 0]")) == 1
    assert len(q(r, "//table[1 div round(0.4) > 0]")) == 1
    assert len(q(r, "//table[round(-0.6) = -1]")) == 1
    assert len(q(r, "//table[round(2.5) = 3]")) == 1


def test_node_test_enumerates_every_node_kind():
    """The bare node() test matches EVERY node kind — elements, text runs,
    comments, PIs — exactly as DOMXPath does (this replaces the round-2/3
    element-only narrowing the module docstring used to pin):
    count(//p/following::node()) counts the intervening comment."""
    from html_table_spark.htmldom import COMMENT
    from html_table_spark.xpath import XPathText

    def kinds(nodes):
        out = []
        for n in nodes:
            if isinstance(n, XPathText):
                out.append(("text", n.value))
            elif n.kind == COMMENT:
                out.append(("comment", n.data))
            else:
                out.append(("el", n.tag))
        return out

    r, _ = parse_html_fast("<div>a<p>x</p><!--c--><b>y</b></div>")
    assert kinds(q(r, "//div/node()")) == [
        ("text", "a"), ("el", "p"), ("comment", "c"), ("el", "b"),
    ]
    # positional predicates count the mixed set (§2.4)
    assert kinds(q(r, "//div/node()[2]")) == [("el", "p")]
    assert kinds(q(r, "//div/node()[last()]")) == [("el", "b")]
    # document axes interleave the kinds in exact document order
    assert kinds(q(r, "//p/following::node()")) == [
        ("comment", "c"), ("el", "b"), ("text", "y"),
    ]
    assert kinds(q(r, "//b/preceding::node()")) == [
        ("text", "a"), ("el", "p"), ("text", "x"), ("comment", "c"),
    ]
    assert len(q(r, "//div[count(.//p/following::node()) = 3]")) == 1
    # //node() is every node below the root; '.' still selects any kind
    assert kinds(q(r, "//node()")) == [
        ("el", "div"), ("text", "a"), ("el", "p"), ("text", "x"),
        ("comment", "c"), ("el", "b"), ("text", "y"),
    ]
    # general predicates evaluate on non-element contexts: string value,
    # self:: path tests, name()
    assert kinds(q(r, '//div/node()[normalize-space(.) = "a"]')) == [
        ("text", "a")
    ]
    assert kinds(q(r, "//div/node()[self::p]")) == [("el", "p")]
    assert kinds(q(r, '//div/node()[name() = "p"]')) == [("el", "p")]
    # count(node()) in expression position is the child::node() path
    assert len(q(r, "//div[count(node()) = 4]")) == 1


def test_filter_expr_path_starts():
    """General parenthesized FilterExpr path starts (XPath 1.0 §3.3),
    beyond the literal (path)[N] wrapper: the inner union merges in
    document order, predicates filter with FORWARD positions, trailing
    steps walk from the survivors — usable at the top level and inside
    predicates/count()."""
    html = (
        '<table id="a"><tr><td>1</td><td>2</td></tr></table>'
        '<p id="p1">x</p>'
        '<table id="b"><tr><td>3</td></tr></table>'
    )
    r, _ = parse_html_fast(html)

    def ids(expr):
        return [(n.attrs or {}).get("id") for n in q(r, expr)]

    def texts(expr):
        return [n.text_content() for n in q(r, expr)]

    assert texts("(//table)[2]/tr/td") == ["3"]
    assert texts("(//table)[1]//td") == ["1", "2"]
    assert ids("(//p | //table)[last()]") == ["b"]
    assert ids("(//p | //table)[1]") == ["a"]  # document-first across branches
    assert texts("(//td)[position() > 1]") == ["2", "3"]
    assert texts("((//table)[2]/tr/td)[1]") == ["3"]  # nests
    # attribute results from a filtered set
    from html_table_spark.xpath import XPathAttr

    attrs = q(r, "(//table/@id)[2]")
    assert [a.value for a in attrs] == ["b"] and isinstance(attrs[0], XPathAttr)
    # FilterExpr inside predicates: relative inner paths use the predicate
    # context; bare node-set ops parenthesize too
    assert ids('//table[(tr/td)[2] = "2"]') == ["a"]
    assert ids('//table[(@id)[1] = "b"]') == ["b"]
    assert ids("//table[count((.//td)[position() < 2]) = 1]") == ["a", "b"]
    # non-node-set primaries stay compile errors (DOMXPath parity)
    for bad in ('("s")[1]', "(1+2)/tr", "(true())[1]"):
        with pytest.raises(ParserError):
            compile_xpath(bad)


def test_name_function_one_arg():
    """name(node-set) / local-name(node-set) read the DOCUMENT-first node
    of the set (§4.1); empty set → ''. The 0-arg context form and the
    per-kind results (attribute name, PI target) are unchanged."""
    html = '<div id="d"><?php x ?><p>a</p><b>c</b></div>'
    r, _ = parse_html_fast(html)
    assert len(q(r, '//div[name(p) = "p"]')) == 1
    assert len(q(r, '//div[local-name(*) = "p"]')) == 1  # doc-first of {p,b}
    assert len(q(r, '//div[name(@id) = "id"]')) == 1
    assert len(q(r, '//div[name(processing-instruction()) = "php"]')) == 1
    assert len(q(r, '//div[name(nosuch) = ""]')) == 1  # empty set → ''
    with pytest.raises(ParserError):
        compile_xpath('//div[name("str")]')  # non-node-set argument


def test_mixed_union_exact_document_order():
    """Text runs consume document-order ordinals in the same DFS as
    elements, so a union mixing text and nested elements sorts exactly:
    the run AFTER a nested <p> must come back after it (the round-2 key
    sorted all of a parent's text by (parent, index) and would emit 'c'
    before the p)."""
    from html_table_spark.xpath import XPathText

    r, _ = parse_html_fast("<div>a<p>b</p>c</div>")
    got = [
        n.value if isinstance(n, XPathText) else n.tag
        for n in q(r, "//div/text() | //p")
    ]
    assert got == ["a", "p", "c"]
