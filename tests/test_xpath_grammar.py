"""XPath grammar tests through the public selection path.

The reference selects its table with DOMXPath, which is libxml2's XPath,
and so does ``parse_document`` under ``table_xpath_position``. These tests
run every expression through that path alone (no Spark session): node
sets, document order, the context node and eager validation are read back
from what ``parse_document`` reports, with the probes below.
"""

from __future__ import annotations

import pytest

from html_table_spark.config import ParserConfig
from html_table_spark.errors import MSG_TABLE_NOT_FOUND, ParserError, msg_not_a_table
from html_table_spark.htmldom import COMMENT, PI, parse_html
from html_table_spark.semantics import parse_document
from tests.grid_oracle import iter_elements


def select(html: str, expr: str) -> str:
    """What ``parse_document`` reports for ``expr``: the selected table's
    caption (``table:<caption>``) or the error message."""
    [table] = parse_document(html, ParserConfig().table_xpath_position(expr))
    return table.error_msg if table.status == "error" else f"table:{table.caption}"


def holds(html: str, test: str) -> bool:
    """An XPath test evaluated in ``html`` through the public path:
    ``/html[test]`` selects the root element, not a table, iff it holds. The
    root element is also the top-level context node, so a relative path
    means the same inside the predicate."""
    result = select(html, f"/html[{test}]")
    assert result in (MSG_TABLE_NOT_FOUND, msg_not_a_table("html")), result
    return result != MSG_TABLE_NOT_FOUND


# Expressions libxml2 accepts in the reference's empty-document check, and
# which select nothing where they evaluate. Most fail only in a part that
# never runs on an empty document: libxml2 checks a function's arguments
# when it calls the function, and a predicate over no nodes calls nothing.
# The Python engine rejected them all at compile time.
LIBXML2_ACCEPTS = {
    "///x",
    "(count(//td))[1]",
    "(true())[1]",
    "//table[substring()]",
    "//table[substring(1)]",
    "//table[concat(1)]",
    "//table[count(2)]",
    "//table[count()]",
    "//table[translate(1, 2)]",
    '//table[name("s")]',
    "//table[true(1)]",
    "//p[count('x')]",
    "//tr[sum(1)]",
    "//tr[sum()]",
    "//p[a | 1]",
    '//p[a | "s"]',
    '//div[name("str")]',
}


def assert_invalid(expr: str) -> None:
    """``expr`` fails the eager check, or fails to select anything where it
    evaluates (LIBXML2_ACCEPTS)."""
    if expr in LIBXML2_ACCEPTS:
        ParserConfig().table_xpath_position(expr)
        assert select(FN_HTML + ID_HTML, expr) == MSG_TABLE_NOT_FOUND
    else:
        with pytest.raises(ParserError):
            ParserConfig().table_xpath_position(expr)


def count(html: str, expr: str) -> int:
    for n in range(200):
        if holds(html, f"count({expr}) = {n}"):
            return n
    raise AssertionError(f"count({expr}) is not a node-set size")


def _literal(value: str) -> str | None:
    if '"' not in value:
        return f'"{value}"'
    return f"'{value}'" if "'" not in value else None


class Sel:
    """One node of a node set, read back through :func:`holds`: its kind,
    name, string value and ``id``/``class`` attributes, each matched
    against the strings the document holds."""

    __slots__ = ("kind", "name", "value", "attrs")

    def __init__(self, kind, name, value, attrs):
        self.kind, self.name, self.value, self.attrs = kind, name, value, attrs

    @property
    def tag(self) -> str:
        return self.name if self.kind == "element" else ""

    @property
    def data(self) -> str:
        # htmldom.Node's PI data is ``target + " " + content``
        return f"{self.name} {self.value}" if self.kind == "pi" else self.value

    def text_content(self) -> str:
        return self.value


_KINDS = [
    ("element", "self::*"),
    ("text", "self::text()"),
    ("comment", "self::comment()"),
    ("pi", "self::processing-instruction()"),
    ("document", "not(..)"),
    ("attribute", "count(../@* | .) = count(../@*)"),
    ("namespace", "true()"),
]


def _vocabulary(html: str) -> tuple[list[str], list[str]]:
    """Every name and every string value a node of ``html`` can have."""
    names, values = {"", "xml"}, {"", "http://www.w3.org/XML/1998/namespace"}
    root, _ = parse_html(html)
    values.add(root.text_content())
    for node in iter_elements(root):
        names.add(node.tag)
        values.add(node.text_content())
        names.update(node.attrs)
        values.update(node.attrs.values())
        for child in node.children:
            if type(child) is str:
                values.add(child)
            elif child.kind == COMMENT:
                values.add(child.data)
            elif child.kind == PI:
                target, _, content = child.data.partition(" ")
                names.add(target)
                values.add(content)
    return sorted(names), sorted(values)


def _match(html: str, probe: str, candidates: list[str]) -> str:
    """The candidate ``probe`` (an XPath string expression) equals."""
    for candidate in candidates:
        literal = _literal(candidate)
        if literal is not None and holds(html, f"{probe} = {literal}"):
            return candidate
    raise AssertionError(f"{probe} matches nothing in the document")


def q(html: str, expr: str) -> list[Sel]:
    """The node set ``expr`` selects in ``html``, in document order."""
    names, values = _vocabulary(html)
    out = []
    for k in range(1, count(html, expr) + 1):
        node = f"({expr})[{k}]"
        kind = next(kind for kind, test in _KINDS if holds(html, f"{node}[{test}]"))
        attrs = {
            attr: _match(html, f"string({node}/@{attr})", values)
            for attr in ("id", "class")
            if kind == "element" and holds(html, f"{node}/@{attr}")
        }
        out.append(Sel(kind, _match(html, f"name({node})", names), _match(html, f"string({node})", values), attrs))
    return out


HTML = """
<div id="top">
 <table id="a" class="data wide"><caption>A</caption><tr><td>1</td></tr></table>
 <p>x</p>
 <table class="plain"><thead><tr><th>H</th></tr></thead><tr><td>2</td></tr></table>
 <div><table id="c" class="data"><tr><td>3</td></tr><tr><td>4</td></tr></table></div>
</div>"""


@pytest.fixture(scope="module")
def root():
    return HTML


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
    assert len(q(root, expr)) == LIBXML2_COUNTS.get(expr, count), expr


# libxml2's tree has html/body wrappers, and the reference's context node is
# the root element, html: no div is a child of the document or of html. The
# Python engine's wrapper-less tree, walked from the document, counted 2 and 1.
LIBXML2_COUNTS = {"/div/table": 0, "div/div/table": 0}


def test_string_value_multi_child_document_order():
    """string() of a node with multiple text-bearing children must come back
    in document order (round-3 ADVICE: the old traversal returned 'ba' for
    <tr><td>a</td><td>b</td></tr> and 'xac' for <p>a<b>x</b>c</p>)."""
    doc = "<table><tr><td>a</td><td>b</td></tr></table><p>a<b>x</b>c</p>"
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
    """The selection takes the node set's first node, as the reference's
    ``->item(0)`` does."""
    assert select(root, "//table") == select(root, "(//table)[1]") == "table:A"
    assert select(root, "//td") == msg_not_a_table("td")
    assert select(root, "//video") == MSG_TABLE_NOT_FOUND


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
    assert_invalid(bad)


@pytest.mark.parametrize(
    "expr",
    ["count(//td)", "//td = 3", "1+2", "string(//p)", "not(//table)", "true()"],
)
def test_scalar_expression_selects_nothing(root, expr):
    """Valid scalar-valued XPath passes the reference's eager validation —
    DOMXPath::query coerces a non-nodeset result to an EMPTY DOMNodeList
    without warning (ext/dom/xpath.c) — so selection proceeds and fails
    with table-not-found, never ParserError."""
    assert select(root, expr) == MSG_TABLE_NOT_FOUND


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
    assert_invalid(expr)


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
    (round-3): attribute and text nodes in document order, deduplicated by
    node position."""

    attrs = q(root, "//table/@id")
    assert [a.value for a in attrs] == ["a", "c"]
    assert all(a.kind == "attribute" for a in attrs)
    assert q(root, "//table/@id/..")[0].tag == "table"
    # @* yields every attribute of the element
    star = q(root, '//table[@id="a"]/@*')
    assert sorted(a.name for a in star) == ["class", "id"]
    # union with itself dedups by node position, not wrapper identity
    assert len(q(root, "//table/@id | //table/@id")) == 2
    # text(): one result per text run, positional predicates allowed
    texts = q(root, "//td/text()")
    assert [t.value for t in texts] == ["1", "2", "3", "4"]
    assert all(t.kind == "text" for t in texts)
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
    inner rows come first."""
    html = (
        '<table id="outer"><table id="inner"><tr id="A"><td>a</td></tr>'
        "</table><tr id=\"B\"><td>b</td></tr></table>"
    )
    r = html
    got = [(n.attrs or {}).get("id") for n in q(r, "//table/tr")]
    assert got == ["A", "B"]
    assert (q(r, "(//table/tr)[1]")[0].attrs or {}).get("id") == "A"


def test_number_valued_predicate_is_positional():
    """XPath 1.0 §2.4: a predicate whose value is a number selects by
    position — [last()] keeps the last node per context, and a bare
    numeric function result compares against position()."""
    html = '<div><table id="a"></table><table id="b"></table><table id="c"></table></div>'
    r = html
    assert [(n.attrs or {}).get("id") for n in q(r, "//table[last()]")] == ["c"]
    # string-length(@id)=1 for all → position()=1 keeps only the first
    assert [(n.attrs or {}).get("id") for n in q(r, "//table[string-length(@id)]")] == ["a"]


def test_number_literal_dot_forms():
    """XPath 1.0 §3.7: Number ::= Digits ('.' Digits?)? | '.' Digits —
    both the leading-dot ('.5') and trailing-dot ('2.') spellings are
    numbers, not a self-node abbreviation followed by digits."""
    html = '<div><table id="a"></table><table id="b"></table><table id="c"></table></div>'
    r = html
    assert [(n.attrs or {}).get("id") for n in q(r, "(//table)[2.]")] == ["b"]
    assert [(n.attrs or {}).get("id") for n in q(r, "(//table)[.5 + .5]")] == ["a"]
    assert [(n.attrs or {}).get("id")
            for n in q(r, "//table[position() - .5 > 1]")] == ["b", "c"]
    # '.' not followed by a digit still tokenizes as the self abbreviation
    assert len(q(r, "//table[. = '']")) == 3
    assert_invalid("//table[1..2]")  # adjacent numbers, not a range


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
    return FN_HTML


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
    assert_invalid(bad)


def test_div_is_still_an_element_name(fn_root):
    """'div' at operand position is the HTML element; after an operand it
    is the operator — both in one corpus-realistic document."""
    assert _fids(fn_root, "//div") == ["div"]
    assert _fids(fn_root, "//div[div div div = 1]") == []  # no <div> children
    html = '<section><div>2</div><div>2</div><table id="x"></table></section>'
    r = html
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
    return ID_HTML


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
    r = html
    assert [n.tag for n in q(r, "//id")] == ["id"]


@pytest.mark.parametrize("bad", ["id()", "//table/id('x')", "id('x'"])
def test_id_eager_rejects(bad):
    assert_invalid(bad)


# -- round-3 review regressions ---------------------------------------------


def test_value_conversion_uses_document_first_node():
    """string()/substring()/number() of a node-set read the DOCUMENT-first
    node — with a tr nested inside a caption, the inner row comes first."""
    html = (
        "<div><table><caption><table><tr><td>I</td></tr></table></caption>"
        "<tr><td>O</td></tr></table></div>"
    )
    r = html
    assert len(q(r, '//div[string(.//table/tr)="I"]')) == 1
    assert len(q(r, '//div[substring(.//table/tr,1,1)="I"]')) == 1
    assert len(q(r, '//div[string(.//table/tr)="O"]')) == 0


def test_id_arg_sees_outer_position():
    """id()'s argument runs in the enclosing predicate's context, so
    position() inside it must resolve (and not leak an internal error)."""
    html = '<div><p id="1">a</p><p id="2">b</p><p id="9">c</p></div>'
    r = html
    # p #1 at position 1 -> id('1') exists; p #2 at position 2 -> id('2')
    # exists; p #9 at position 3 -> id('3') missing
    assert [n.attrs["id"] for n in q(r, "//p[id(string(position()))]")] == [
        "1",
        "2",
    ]


def test_top_level_position_is_singleton_context():
    # initial context is the document node: position() = last() = 1
    html = "<div><p>a</p></div>"
    r = html
    assert len(q(r, "//p[1 = position() - 0]") or q(r, "//p")) == 1
    assert count(r, "id(string(position()))") == 0  # no id '1'


def test_count_accepts_bare_node_set_ops():
    html = '<div><p id="x">t</p><p>u</p></div>'
    r = html
    assert len(q(r, "//p[count(@id) = 1]")) == 1  # same as count(./@id)
    assert len(q(r, "//p[count(./@id) = 1]")) == 1
    assert len(q(r, "//p[count(text()) = 1]")) == 2
    assert len(q(r, "//p[count(.) = 1]")) == 2
    assert len(q(r, "//div[count(p) = 2]")) == 1
    assert_invalid("//p[count('x')]")  # string literal is not a node-set


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
    # libxml2's number() reads an exponent, which XPath 1.0 does not have
    if lit == "'1e3'":
        expect_match = True
    html = "<p>x</p>"
    r = html
    # number(lit) != number(lit) is the NaN probe; for parseable literals
    # equality with itself holds
    match = len(q(r, f"//p[number({lit}) = number({lit})]")) == 1
    assert match is expect_match


def test_sum_function():
    html = (
        '<table><tr><td p="2">1</td><td p="3">2</td><td>x</td></tr>'
        "<tr><td>4</td></tr></table>"
    )
    r = html
    # sum over a path of element string values: 1+2+4 poisoned by 'x' → NaN
    assert len(q(r, "//table[sum(.//td) = sum(.//td)]")) == 0  # NaN != NaN
    # numeric-only rows sum cleanly
    assert len(q(r, "//tr[sum(td) = 4]")) == 1
    # bare node-set ops: sum(@p) per td, sum over attribute values
    assert len(q(r, "//td[sum(@p) = 3]")) == 1
    assert len(q(r, "//tr[sum(td/@p) = 5]")) == 1
    # empty node-set sums to 0
    assert len(q(r, "//tr[sum(th) = 0]")) == 2
    assert_invalid("//tr[sum(1)]")  # number literal is not a node-set
    assert_invalid("//tr[sum()]")


def test_union_in_predicate():
    html = (
        '<div><section><a>1</a></section><section><b>2</b></section>'
        '<section><c>3</c></section></div>'
    )
    r = html
    # truth: sections having an <a> OR a <b> child
    assert len(q(r, "//section[a | b]")) == 2
    assert len(q(r, "//section[a | b | c]")) == 3
    # document-first across branches: first node of (b | a) is still <a>
    r2 = "<div><a>x</a><b>y</b></div>"
    assert len(q(r2, '//div[string(b | a) = "x"]')) == 1
    # count/sum over a union
    assert len(q(r, "//div[count(.//a | .//b) = 2]")) == 1
    r3 = "<div><a>1</a><b>2</b></div>"
    assert len(q(r3, "//div[sum(a | b) = 3]")) == 1
    # union with @attr operand
    r4 = '<p id="i" class="c">t</p>'
    assert len(q(r4, "//p[count(@id | @class) = 2]")) == 1
    # dedup: same node reached twice counts once
    assert len(q(r3, "//div[count(a | a) = 1]")) == 1
    assert_invalid("//p[a | 1]")  # number is not a node-set
    assert_invalid('//p[a | "s"]')


def test_lang_function():
    html = (
        '<div xml:lang="en-US"><p>a</p>'
        '<span xml:lang="fr">b</span></div><i>c</i>'
    )
    r = html
    # libxml2's HTML parser binds no namespace: the attribute is named
    # "xml:lang", and lang() (xmlNodeGetLang) looks for lang in the XML
    # namespace, so nothing matches (the Python engine matched p and span)
    assert [a.name for a in q(r, "//@*")] == ["xml:lang", "xml:lang"]
    assert len(q(r, '//p[lang("en")]')) == 0
    assert len(q(r, '//p[lang("en-us")]')) == 0
    assert len(q(r, '//p[lang("fr")]')) == 0
    assert len(q(r, '//span[lang("fr")]')) == 0
    assert len(q(r, '//i[lang("en")]')) == 0
    # plain HTML lang attribute does NOT count (xmlNodeGetLang parity)
    r2 = '<p lang="en">x</p>'
    assert len(q(r2, '//p[lang("en")]')) == 0


def test_namespace_uri_is_empty_on_html():
    html = "<p>x</p>"
    r = html
    assert len(q(r, '//p[namespace-uri() = ""]')) == 1
    assert len(q(r, '//p[namespace-uri() = "urn:x"]')) == 0


def test_comment_node_test():
    html = (
        "<div><!--first--><p>a<!--inner--></p>"
        "<table><!--t--><tr><td>x</td></tr></table><!--last--></div>"
    )
    r = html
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
    <?...> as a PI), so the node test selects
    them — target filter, string value (content after target), predicate
    node-set and count() forms all per XPath 1.0 §2.3/§4."""
    html = (
        "<div><?php echo 1 ?><p>a<?perl x ?></p>"
        "<table><tr><td>x</td></tr></table><?xml-stylesheet href='s'?></div>"
    )
    r = html
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
        assert_invalid(bad)


def test_namespace_axis():
    """HTML-parsed libxml2 trees carry exactly one namespace node per
    element — the implicit xml binding (loadHTML creates no xmlns
    declarations) — so namespace::* selects one node per context element
    and namespace::xml / node() match it while other names do not."""
    html = '<div><table id="a"><tr><td>1</td></tr></table><p>x</p></div>'
    r = html
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
    r = html

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
    selfs = q(r, "//text()/self::node()")
    assert [t.value for t in selfs] == ["1", "2", "3"]
    assert all(t.kind == "text" for t in selfs)
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
    r = html
    assert [(n.name, n.value) for n in q(r, "//processing-instruction()")] == [("php", "?")]
    assert len(q(r, "//processing-instruction('php')")) == 1
    assert len(q(r, "//processing-instruction('php?')")) == 0
    # string value = content after the Name-parsed target (here just the
    # leftover "?": nothing was whitespace-separated)
    assert len(q(r, "//div[processing-instruction() = '?']")) == 1


def test_union_merges_all_node_kinds_in_document_order():
    """A union of mixed node kinds interleaves comments with elements in
    document order."""
    html = "<div><!--a--><p>x</p><!--b--><span>y</span></div>"
    r = html
    got = [
        (n.tag, n.data if n.kind == "comment" else "")
        for n in q(r, "//comment() | //p | //span")
    ]
    assert got == [("", "a"), ("p", ""), ("", "b"), ("span", "")]


def test_following_axis_skips_nonelement_subtree_entries():
    """following:: starts AFTER the context's whole subtree even when the
    subtree contains comment/PI nodes — the boundary is the subtree-end
    ordinal, not the context ordinal plus its element count."""
    html = "<div><p><!--in-->x<?pi y?></p><span>y</span></div>"
    r = html
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
    r = "<table><tr><td>1</td></tr></table>"
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
    def kinds(nodes):
        out = []
        for n in nodes:
            if n.kind == "text":
                out.append(("text", n.value))
            elif n.kind == "comment":
                out.append(("comment", n.data))
            else:
                out.append(("el", n.tag))
        return out

    r = "<div>a<p>x</p><!--c--><b>y</b></div>"
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
        ("el", "html"), ("el", "body"), ("el", "div"), ("text", "a"), ("el", "p"), ("text", "x"),
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
    r = html

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
    attrs = q(r, "(//table/@id)[2]")
    assert [a.value for a in attrs] == ["b"] and attrs[0].kind == "attribute"
    # FilterExpr inside predicates: relative inner paths use the predicate
    # context; bare node-set ops parenthesize too
    assert ids('//table[(tr/td)[2] = "2"]') == ["a"]
    assert ids('//table[(@id)[1] = "b"]') == ["b"]
    assert ids("//table[count((.//td)[position() < 2]) = 1]") == ["a", "b"]
    # non-node-set primaries stay compile errors (DOMXPath parity)
    for bad in ('("s")[1]', "(1+2)/tr", "(true())[1]"):
        assert_invalid(bad)


def test_name_function_one_arg():
    """name(node-set) / local-name(node-set) read the DOCUMENT-first node
    of the set (§4.1); empty set → ''. The 0-arg context form and the
    per-kind results (attribute name, PI target) are unchanged."""
    html = '<div id="d"><?php x ?><p>a</p><b>c</b></div>'
    r = html
    assert len(q(r, '//div[name(p) = "p"]')) == 1
    assert len(q(r, '//div[local-name(*) = "p"]')) == 1  # doc-first of {p,b}
    assert len(q(r, '//div[name(@id) = "id"]')) == 1
    assert len(q(r, '//div[name(processing-instruction()) = "php"]')) == 1
    assert len(q(r, '//div[name(nosuch) = ""]')) == 1  # empty set → ''
    assert_invalid('//div[name("str")]')  # non-node-set argument


def test_mixed_union_exact_document_order():
    """Text runs consume document-order ordinals in the same DFS as
    elements, so a union mixing text and nested elements sorts exactly:
    the run AFTER a nested <p> must come back after it (the round-2 key
    sorted all of a parent's text by (parent, index) and would emit 'c'
    before the p)."""
    r = "<div>a<p>b</p>c</div>"
    got = [
        n.value if n.kind == "text" else n.tag
        for n in q(r, "//div/text() | //p")
    ]
    assert got == ["a", "p", "c"]
