"""XPath 1.0 differential oracle through the public selection path:
``parse_document`` under ``table_xpath_position`` (libxml2's XPath, as in
the reference) vs the JDK's built-in ``javax.xml.xpath`` engine
(Xalan-derived, full XPath 1.0), reached through the Spark JVM via py4j.

The JDK engine is an independent, spec-complete implementation. The bridge:

- Fixtures are XML-CLEAN documents (lowercase tags, quoted attrs,
  explicit end tags, no entities/CDATA/namespaces) inside explicit
  ``<html><body>``, so libxml2's HTML parser and the JDK's XML
  DocumentBuilder produce isomorphic trees — asserted node-for-node by
  ``test_tree_parity`` before any XPath comparison is trusted.
- Every element carries a generated ``sig`` attribute (present in the
  SOURCE, hence identical in both trees): cross-engine node identity is
  read through the public path as ``(E)[k]/ancestor-or-self::*[1]
  [@sig="s"]``, which selects the k-th node's element (the node itself,
  an attribute's owner, a text node's parent) only if it is the JDK's.
- For each node of the JDK's result, in document order, ``(E)[k]`` must
  get the report the reference gives for that node: the table, not-a-table
  with its tag, or not-found for every non-element; and ``count(E)`` must
  be the JDK's count.
- Scalar expressions are typed by the corpus author and compared via the
  JDK's NUMBER/STRING/BOOLEAN result types, read back through the public
  path as ``/html[expr = value]`` (NaN==NaN; 1e-9 relative tolerance on
  floats).

Where libxml2 and the JDK differ, libxml2 is the reference's engine and
its answer is the expectation (``LIBXML2_SELECTS``, ``LIBXML2_NUMBERS``).

Documented exclusions (not differential-able here):
- ``id()``: the JDK resolves IDs only through a DTD; libxml2's
  HTML-parsed trees treat ``@id`` as an ID attribute without one
  (tests/test_xpath_grammar.py pins the reference behavior).
- ``namespace::``/``lang()``: HTML-parsed libxml2 trees bind no
  namespaces; XML trees differ.
- ``$var`` / ``ns:tag`` prefixes: eager ParserError parity with
  DOMXPath::query, verified in the grammar tests.
"""

from __future__ import annotations

import math
import random

import pytest

from html_table_spark.config import ParserConfig
from html_table_spark.errors import MSG_TABLE_NOT_FOUND, msg_not_a_table
from html_table_spark.htmldom import COMMENT, ELEMENT, PI, Node, parse_html
from html_table_spark.semantics import parse_document

# ---------------------------------------------------------------------------
# fixture documents
# ---------------------------------------------------------------------------
# element = (tag, {attrs}, [children]); child = str | element
#         | ("#comment", text) | ("#pi", target, data)

HAND_1 = (
    "doc", {}, [
        ("div", {"id": "top", "class": "a x"}, [
            ("p", {"class": "ax"}, ["alpha zebra"]),
            ("p", {}, ["beta", ("b", {}, ["mid"]), "gamma"]),
            ("#comment", "note-1"),
            ("span", {"data-n": "2"}, ["s1"]),
            ("span", {"data-n": "3"}, ["s2", ("b", {}, ["bb"])]),
        ]),
        ("table", {"id": "t1"}, [
            ("caption", {}, ["cap"]),
            ("tr", {}, [
                ("td", {"id": "c1", "data-n": "1"}, ["one", ("b", {}, ["q"])]),
                ("td", {"data-n": "4"}, ["two"]),
            ]),
            ("tr", {}, [
                ("td", {}, [
                    ("table", {"id": "t2"}, [
                        ("tr", {}, [("td", {}, ["inner"])]),
                    ]),
                ]),
                ("th", {"class": "hh"}, ["h1"]),
            ]),
        ]),
        ("#pi", "tgt", "pi-data"),
        ("u", {}, ["tail"]),
        ("em", {}, [" z "]),
    ],
)

HAND_2 = (
    "doc", {}, [
        ("div", {}, [
            ("i", {"class": "a"}, ["i1"]),
            ("i", {}, []),
            ("#comment", "c2"),
            ("i", {"class": "b c"}, ["i3"]),
            ("div", {}, [
                ("p", {"id": "deep"}, [
                    "t1", ("#comment", "inner"), "t2",
                    ("span", {"data-n": "5"}, ["five"]),
                ]),
            ]),
        ]),
        ("p", {"data-n": "-2"}, ["  spaced   text  "]),
        ("table", {}, [
            ("tr", {}, [("th", {}, ["a"]), ("th", {}, ["b"])]),
            ("tr", {}, [("td", {"data-n": "10"}, ["1"]),
                        ("td", {"data-n": "20"}, ["2"])]),
            ("tr", {}, [("td", {}, []), ("td", {}, ["z", ("i", {}, ["zz"])])]),
        ]),
    ],
)

# structurally neutral tags only: table tags (and nested <p>) trigger the
# tolerant parser's HTML implied-end rules, which an XML parser lacks —
# table coverage lives in the hand fixtures where the nesting is valid
_TAG_POOL = ["div", "span", "b", "i", "u", "em"]
_WORDS = ["alpha", "beta", "gamma", "zebra", "quick", "zz", "q", " ", "x y"]
_CLASSES = ["a", "b", "a x", "hh", "ax"]


def _random_tree(seed: int):
    """Deterministic pseudo-random fixture: nested elements, text runs,
    comments, numeric attrs — the cross-product surface hand-written
    fixtures can't enumerate."""
    rng = random.Random(seed)
    counter = [0]

    def build(depth: int):
        counter[0] += 1
        tag = rng.choice(_TAG_POOL)
        attrs = {}
        if rng.random() < 0.4:
            attrs["class"] = rng.choice(_CLASSES)
        if rng.random() < 0.3:
            attrs["data-n"] = str(rng.randint(-3, 9))
        if rng.random() < 0.2:
            attrs["id"] = f"r{seed}-{counter[0]}"
        children = []
        n_kids = rng.randint(0, 4 if depth < 4 else 0)
        for _ in range(n_kids):
            roll = rng.random()
            if roll < 0.45:
                children.append(build(depth + 1))
            elif roll < 0.85:
                children.append(rng.choice(_WORDS))
            else:
                children.append(("#comment", rng.choice(_WORDS)))
        return (tag, attrs, children)

    kids = [build(1) for _ in range(5)]
    return ("doc", {}, kids)


def _emit(tree) -> str:
    """Serialize the structure to XML, stamping every element with a
    unique ``sig`` attribute (in the SOURCE — both engines parse it)."""
    out: list[str] = []
    counter = [0]

    def walk(node):
        if isinstance(node, str):
            out.append(node)
            return
        if node[0] == "#comment":
            out.append(f"<!--{node[1]}-->")
            return
        if node[0] == "#pi":
            out.append(f"<?{node[1]} {node[2]}?>")
            return
        tag, attrs, children = node
        counter[0] += 1
        sig = f"s{counter[0]:04d}"
        attr_s = "".join(f' {k}="{v}"' for k, v in attrs.items())
        out.append(f'<{tag} sig="{sig}"{attr_s}>')
        for c in children:
            walk(c)
        out.append(f"</{tag}>")

    walk(tree)
    return "".join(out)


FIXTURES = {
    name: f"<html><body>{_emit(tree)}</body></html>"
    for name, tree in (
        ("hand1", HAND_1),
        ("hand2", HAND_2),
        ("rand1", _random_tree(1234)),
        ("rand2", _random_tree(99)),
    )
}


# ---------------------------------------------------------------------------
# engine bridges
# ---------------------------------------------------------------------------


class _Jdk:
    """javax.xml.xpath bridge over the Spark session's JVM."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        dbf = self.jvm.javax.xml.parsers.DocumentBuilderFactory.newInstance()
        self.builder = dbf.newDocumentBuilder()
        self.xp = self.jvm.javax.xml.xpath.XPathFactory.newInstance().newXPath()
        XC = self.jvm.javax.xml.xpath.XPathConstants
        self.NODESET, self.NUMBER = XC.NODESET, XC.NUMBER
        self.STRING, self.BOOLEAN = XC.STRING, XC.BOOLEAN

    def parse(self, xml: str):
        bais = self.jvm.java.io.ByteArrayInputStream(bytearray(xml, "utf8"))
        return self.builder.parse(bais)

    def nodes(self, doc, expr: str) -> list:
        res = self.xp.compile(expr).evaluate(doc, self.NODESET)
        return [res.item(i) for i in range(res.getLength())]

    def describe(self, jnode, paths: dict) -> tuple:
        """(document-order path, kind, tag, anchor): the anchor is the sig
        and tag of the element ``ancestor-or-self::*[1]`` reaches from the
        node, None for the document. ``paths`` maps an element's sig (its
        tag for the sig-less html and body) to its child-index path."""
        t = jnode.getNodeType()
        if t == 9:  # DOCUMENT_NODE
            return ((), "document", "", None)
        if t == 1:  # ELEMENT_NODE
            anchor = jnode
        elif t == 2:  # ATTRIBUTE_NODE
            anchor = jnode.getOwnerElement()
        else:  # text / comment / PI
            anchor = jnode.getParentNode()
        sig, anchor_tag = anchor.getAttribute("sig"), anchor.getNodeName()
        path = paths[sig or anchor_tag]
        if t == 2:
            path += (-1,)  # attributes come after their element, before its children
        elif t != 1:
            kids = anchor.getChildNodes()
            path += (next(i for i in range(kids.getLength()) if kids.item(i).isSameNode(jnode)),)
        if t == 1:
            return (path, "element", anchor_tag, (sig, anchor_tag))
        return (path, "other", "", (sig, anchor_tag))


@pytest.fixture(scope="module")
def jdk(spark):
    return _Jdk(spark)


def _paths(root: Node) -> dict:
    out = {}

    def walk(node: Node, path: tuple) -> None:
        for i, child in enumerate(node.children):
            if type(child) is Node and child.kind == ELEMENT:
                out[child.attrs.get("sig") or child.tag] = path + (i,)
                walk(child, path + (i,))

    walk(root, ())
    return out


@pytest.fixture(scope="module")
def parsed(jdk):
    """(html, libxml2's converted tree, jdk_doc, element paths) per fixture."""
    out = {}
    for name, html in FIXTURES.items():
        root, _ = parse_html(html)
        out[name] = (html, root, jdk.parse(html), _paths(root))
    return out


def select(html: str, expr: str) -> str:
    """What ``parse_document`` reports for ``expr``."""
    [table] = parse_document(html, ParserConfig().table_xpath_position(expr))
    return "table" if table.status == "ok" else table.error_msg


def holds(html: str, test: str) -> bool:
    result = select(html, f"/html[{test}]")
    assert result in (MSG_TABLE_NOT_FOUND, msg_not_a_table("html")), (test, result)
    return result != MSG_TABLE_NOT_FOUND


def _report(kind: str, tag: str) -> str:
    """The reference's report for a selected node (Parser.php:370-373)."""
    if kind != "element":
        return MSG_TABLE_NOT_FOUND
    return "table" if tag == "table" else msg_not_a_table(tag)


# (expression, fixture, k) where libxml2 2.9.14's ``(E)[k]`` is not the
# k-th node of E, with what it selects: its first-node shortcut for
# ``(E)[1]`` (xmlXPathCompOpEvalFirst) evaluates ``//i[last()]`` as
# ``//i``. The reference runs the same libxml2, so this is its answer.
LIBXML2_SELECTS = {("//b[1] | //i[last()]", "rand2", 1): msg_not_a_table("i")}

# libxml2's number() reads an exponent, which XPath 1.0 numbers lack
LIBXML2_NUMBERS = {"number('1e3')": 1000.0}


def assert_same_nodes(name: str, html: str, jdk, jdoc, paths: dict, expr: str) -> None:
    """The public path reports, node by node in document order, what the
    JDK's node set holds."""
    theirs = sorted((jdk.describe(n, paths) for n in jdk.nodes(jdoc, expr)), key=lambda d: d[0])
    assert holds(html, f"count({expr}) = {len(theirs)}"), (expr, len(theirs))
    for k, (_, kind, tag, anchor) in enumerate(theirs, 1):
        node = f"({expr})[{k}]"
        if (expr, name, k) in LIBXML2_SELECTS:
            assert select(html, node) == LIBXML2_SELECTS[expr, name, k]
            continue
        assert select(html, node) == _report(kind, tag), (expr, k)
        if anchor is None:
            assert select(html, f"{node}/ancestor-or-self::*[1]") == MSG_TABLE_NOT_FOUND, (expr, k)
            continue
        sig, anchor_tag = anchor
        identity = f'[@sig="{sig}"]' if sig else "[not(@sig)]"
        got = select(html, f"{node}/ancestor-or-self::*[1]{identity}")
        assert got == _report("element", anchor_tag), (expr, k, sig)


# ---------------------------------------------------------------------------
# precondition: the two parsers build isomorphic trees
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", list(FIXTURES))
def test_tree_parity(parsed, name):
    _, root, jdoc, _ = parsed[name]

    def compare(mine: Node, theirs, path: str):
        kids = theirs.getChildNodes()
        assert len(mine.children) == kids.getLength(), (
            f"{name}{path}: child count {len(mine.children)} != "
            f"{kids.getLength()}"
        )
        for i, c in enumerate(mine.children):
            jc = kids.item(i)
            jt = jc.getNodeType()
            where = f"{path}/{i}"
            if type(c) is str:
                assert jt == 3, f"{name}{where}: text vs type {jt}"
                assert c == jc.getNodeValue(), f"{name}{where}: text differs"
            elif c.kind == COMMENT:
                assert jt == 8, f"{name}{where}: comment vs type {jt}"
            elif c.kind == PI:
                assert jt == 7, f"{name}{where}: PI vs type {jt}"
            else:
                assert jt == 1, f"{name}{where}: element vs type {jt}"
                assert c.tag == jc.getNodeName(), f"{name}{where}: tag"
                jattrs = jc.getAttributes()
                names = {
                    jattrs.item(k).getNodeName(): jattrs.item(k).getNodeValue()
                    for k in range(jattrs.getLength())
                }
                assert dict(c.attrs) == names, f"{name}{where}: attrs"
                compare(c, jc, where)

    compare(root, jdoc, "")


# ---------------------------------------------------------------------------
# node-set expression corpus
# ---------------------------------------------------------------------------

_AXES = [
    "child", "descendant", "descendant-or-self", "self", "parent",
    "ancestor", "ancestor-or-self", "following", "preceding",
    "following-sibling", "preceding-sibling",
]

_PREDS = [
    "1", "2", "last()", "last() - 1", "position() = 2", "position() > 1",
    "position() < last()", "position() mod 2 = 1", "@id", "@class",
    "@class = 'a x'", "not(@id)", "b", ".//i", "count(*) > 1",
    "string-length(.) > 4", "contains(., 'z')", "starts-with(@class, 'a')",
    "normalize-space(.) = 'q'", "self::td", "following-sibling::*",
    "text()", "comment()", "(b | i)", "number(@data-n) > 2",
    "@data-n * 2 >= 4", "concat(@id, '') != ''", "name() = 'td'",
    "string(.) = string(preceding-sibling::*[1])",
]


def _nodeset_corpus() -> list[str]:
    exprs: list[str] = []
    for t in ["div", "p", "b", "td", "table", "i", "span"]:
        exprs += [f"//{t}", f"/descendant::{t}", f"//{t}/*", f"//{t}/.."]
    for axis in _AXES:
        exprs += [
            f"//td/{axis}::*",
            f"//td/{axis}::node()",
            f"//b/{axis}::span",
            f"//i/{axis}::*[1]",
            f"//td/{axis}::*[last()]",
        ]
    for pred in _PREDS:
        exprs += [f"//td[{pred}]", f"//*[{pred}]", f"//span[{pred}]"]
    exprs += [
        # non-element final steps
        "//*/@id", "//*/@*", "//td/@data-n", "//p/text()", "//table//text()",
        "//div/comment()", "//*/comment()", "//doc/processing-instruction()",
        "//doc/processing-instruction('tgt')", "//*/text()",
        "//p/node()", "//td/node()",
        # unions
        "//b | //i", "//td/@id | //th/@class", "//p/text() | //p/b",
        "//b[1] | //i[last()]", "//table | //table//table",
        # chains / nesting / positional
        "//table//td", "//table//td/b", "//table/tr/td[2]",
        "//tr[td[2]]", "//tr[td[last()]]", "//table[.//tr[2]]",
        "//td[../th]", "//td[1]/ancestor::table", "//td/ancestor-or-self::table",
        "(//td)[2]", "(//td)[last()]", "(//b | //i)[2]", "(//td/@data-n)[1]",
        "//div/p/following-sibling::*[1]", "//p/preceding-sibling::node()",
        "//*[name() = 'table']//*[name() = 'td']",
        "/doc/*", "/doc/div[1]/p", "/doc//span", "/", "/doc",
        "//td/self::td", "//td/self::th", "//*[not(*)]",
        "//*[text() and comment()]", "//*[* and not(@*)]",
        "//*[sum(.//@data-n) > 3]", "//*[count(preceding::*) < 3]",
        "//table/descendant::*[position() = count(ancestor::*)]",
        "//*[substring(name(), 1, 1) = 't']",
        "//*[translate(@class, 'abc', 'xyz') = 'x']",
        "//span[@data-n = //td/@data-n]",
        "//td[. = //th]", "//p[.. = /doc/div]",
        "//*[string() = 'q']", "//*[boolean(@data-n)]",
        # @* in expression position (round-4 differential catch)
        "//*[* and not(@*)]", "//*[@* = 'a x']", "//*[count(@*) > 2]",
        "//*[@*]", "//td[@* = 1]", "//*[not(@*)]",
        "//*[floor(@data-n) = @data-n]",
        "//*[@data-n < 0]", "//*[-@data-n > 1]",
        "//*[@data-n div 2 = 1]", "//*[@data-n mod 2 = 0]",
    ]
    # the corpus is de-duplicated but order-stable for stable test ids
    seen: set[str] = set()
    uniq = []
    for e in exprs:
        if e not in seen:
            seen.add(e)
            uniq.append(e)
    return uniq


_NODESET_CORPUS = _nodeset_corpus()


@pytest.mark.parametrize("expr", _NODESET_CORPUS)
def test_nodeset_differential(parsed, jdk, expr):
    for name, (html, _, jdoc, paths) in parsed.items():
        assert_same_nodes(name, html, jdk, jdoc, paths, expr)


def _generated_corpus(seed: int, n: int) -> list[str]:
    """Seeded random expressions composed from grammar productions the
    enumerated corpus can't cross-product: random axis/node-test/predicate
    chains, 1-3 steps, optional unions. Only supported shapes are
    generated (no $var/ns:/id(); node-type tests only in final steps), so
    every expression must compile AND match the JDK."""
    rng = random.Random(seed)
    tags = ["div", "p", "span", "b", "i", "td", "tr", "table", "u", "em", "*"]
    finals = ["text()", "comment()", "node()", "@id", "@class", "@*"]

    def pred() -> str:
        return rng.choice(
            [
                str(rng.randint(1, 3)),
                "last()",
                f"position() {rng.choice(['=', '>', '<', '>=', '<='])} "
                f"{rng.randint(1, 3)}",
                "@id",
                "@class",
                "not(@data-n)",
                f"count({rng.choice(['*', 'b', 'i', 'td'])}) "
                f"{rng.choice(['=', '>'])} {rng.randint(0, 2)}",
                f"contains(., '{rng.choice(['z', 'a', 'q', 'x y'])}')",
                f"string-length(.) > {rng.randint(0, 9)}",
                f"{rng.choice(['b', 'i', 'span', '*'])}",
                f"self::{rng.choice(tags[:-1])}",
                f"following-sibling::{rng.choice(tags)}",
                f"name() != '{rng.choice(tags[:-1])}'",
                f"position() mod {rng.randint(2, 3)} = "
                f"{rng.randint(0, 2)}",
            ]
        )

    def pred_positionless() -> str:
        return rng.choice(
            [
                "not(@data-n)",
                f"contains(., '{rng.choice(['z', 'a', 'q'])}')",
                f"string-length(.) > {rng.randint(0, 9)}",
                f"self::{rng.choice(tags[:-1])}",
                "self::node()",
            ]
        )

    def step(final: bool) -> str:
        axis = rng.choice(_AXES + ["", "", ""])  # bias to abbreviated child
        test = rng.choice(finals) if final and rng.random() < 0.3 else rng.choice(tags)
        if test.startswith("@"):
            # '@' is itself the attribute-axis abbreviation — composing it
            # after another axis ('self::@id') is a syntax error in both
            # engines; rewrite to the explicit attribute axis instead
            axis = "attribute"
            test = test[1:]
        s = f"{axis}::{test}" if axis else test
        if not test.endswith(")"):
            if axis == "attribute":
                # attribute ORDER within one element is implementation-
                # defined (XPath 1.0 §2.2 defines no ordering among an
                # element's attributes), so positional predicates on the
                # attribute axis legitimately diverge across engines —
                # generate only position-free predicates here
                for _ in range(rng.choice([0, 0, 1])):
                    s += f"[{pred_positionless()}]"
            elif axis in ("ancestor", "ancestor-or-self",
                          "preceding", "preceding-sibling"):
                # documented JDK divergence: Xalan mishandles STACKED
                # predicates on reverse axes — [last()][true()] returns a
                # different set than [last()], which is spec-impossible
                # (verified in test_reverse_axis_stacked_predicates_spec_
                # consistency); one predicate max keeps the differential
                # meaningful, the regression test pins OUR spec behavior
                for _ in range(rng.choice([0, 0, 1])):
                    s += f"[{pred()}]"
            else:
                for _ in range(rng.choice([0, 0, 0, 1, 1, 2])):
                    s += f"[{pred()}]"
        return s

    def path() -> str:
        n_steps = rng.choice([1, 1, 2, 2, 3])
        sep0 = rng.choice(["//", "//", "/"])
        parts = [step(final=(i == n_steps - 1)) for i in range(n_steps)]
        return sep0 + rng.choice(["/", "//"]).join(parts)

    out = []
    for _ in range(n):
        expr = path()
        if rng.random() < 0.15:
            expr = f"{expr} | {path()}"
        out.append(expr)
    # keep order-stable unique ids
    seen: set[str] = set()
    return [e for e in out if not (e in seen or seen.add(e))]


_GENERATED_CORPUS = _generated_corpus(seed=7, n=220)


@pytest.mark.parametrize("expr", _GENERATED_CORPUS)
def test_generated_differential(parsed, jdk, expr):
    for name, (html, _, jdoc, paths) in parsed.items():
        assert_same_nodes(name, html, jdk, jdoc, paths, expr)


def _same_set(html: str, a: str, b: str) -> bool:
    return holds(html, f"count({a}) = count({b}) and count({a} | {b}) = count({a})")


def test_reverse_axis_stacked_predicates_spec_consistency(parsed):
    """The JDK is excluded as an oracle for stacked reverse-axis predicates:
    Xalan returns DIFFERENT sets for //ancestor-or-self::td[last()] vs
    ...[last()][true()], and a tautological predicate cannot change a
    node-set under §2.4. Pin the spec behavior instead: the tautology is a
    no-op and [last()][1] equals [last()] (the filtered set per context is
    a singleton)."""
    base = "//ancestor-or-self::td[last()]"
    for name, (html, _, _, _) in parsed.items():
        for suffix in ("[true()]", "[1]", "[position() = 1]"):
            assert _same_set(html, base, base + suffix), (name, suffix)


def test_attribute_context_element_axes(parsed):
    """Per §2.2/§2.3 name tests match the principal node type (element on
    every axis but attribute::/namespace::), so element tests via self::
    from an ATTRIBUTE context select nothing — and node() still matches the
    attribute itself."""
    for name, (html, _, _, _) in parsed.items():
        assert holds(html, "count(//@id[self::td]) = 0"), name
        assert holds(html, "count(//@id[self::*]) = 0"), name
        assert holds(html, "count(//@id) > 0"), name
        assert _same_set(html, "//@id[self::node()]", "//@id"), name


def test_corpus_size():
    """The verdict asked for a 100+ expression differential corpus."""
    assert len(_NODESET_CORPUS) >= 200
    assert len(_SCALAR_CORPUS) >= 50
    assert len(_GENERATED_CORPUS) >= 150


# ---------------------------------------------------------------------------
# scalar expression corpus (typed by author, compared via JDK result types)
# ---------------------------------------------------------------------------

_SCALAR_CORPUS: list[tuple[str, str]] = [
    # numbers
    ("num", "count(//td)"),
    ("num", "count(//table//text())"),
    ("num", "count(//*[@id])"),
    ("num", "count(//b | //i)"),
    ("num", "count(//*/@data-n)"),
    ("num", "sum(//td/@data-n)"),
    ("num", "sum(//*/@data-n)"),
    ("num", "string-length(string(//p))"),
    ("num", "string-length(normalize-space(//p))"),
    ("num", "floor(sum(//td/@data-n) div 2)"),
    ("num", "ceiling(count(//td) div 4)"),
    ("num", "round(2.5)"),
    ("num", "round(-2.5)"),
    ("num", "round(-0.5)"),
    ("num", "number('12.5')"),
    ("num", "number(' 7 ')"),
    ("num", "number('1e3')"),           # XPath numbers have no exponent: NaN
    ("num", "number('Infinity')"),      # not an XPath number: NaN
    ("num", "number('')"),
    ("num", "number(true())"),
    ("num", "7 mod 3"),
    ("num", "-7 mod 3"),
    ("num", "7 mod -3"),
    ("num", "7 div 2"),
    ("num", "1 div 0"),
    ("num", "-1 div 0"),
    ("num", "0 div 0"),
    ("num", "2 + 3 * 4 - 1"),
    ("num", "(2 + 3) * -2"),
    ("num", "count(//td[@data-n > 1])"),
    ("num", "number(//td/@data-n)"),    # first node in document order
    ("num", "string-length(//p)"),
    # strings
    ("str", "name(//td)"),
    ("str", "local-name(//*)"),
    ("str", "name(//nosuchtag)"),
    ("str", "string(//p)"),
    ("str", "string(//nosuchtag)"),
    ("str", "normalize-space(//p)"),
    ("str", "normalize-space('  a  b  ')"),
    ("str", "concat(name(//table), '-', string(count(//tr)))"),
    ("str", "substring(string(//p), 2, 5)"),
    ("str", "substring('12345', 1.5, 2.6)"),   # spec §4.2 rounding golden
    ("str", "substring('12345', 0)"),
    ("str", "substring-before('a-b-c', '-')"),
    ("str", "substring-after('a-b-c', '-')"),
    ("str", "substring-after('abc', 'z')"),
    ("str", "translate('abcabc', 'ab', 'BA')"),
    ("str", "translate('abc', 'abc', 'x')"),   # unmapped chars drop
    ("str", "string(1 div 0)"),
    ("str", "string(-1 div 0)"),
    ("str", "string(0 div 0)"),
    ("str", "string(2 + 2)"),
    ("str", "string(0.5 + 0.25)"),
    ("str", "string(//td[3])"),
    ("str", "string(//td/@data-n)"),
    # booleans
    ("bool", "boolean(//nosuchtag)"),
    ("bool", "boolean(//td)"),
    ("bool", "not(//td[@id])"),
    ("bool", "contains(string(//p), 'z')"),
    ("bool", "starts-with(string(//p), 'al')"),
    ("bool", "//td = //th"),
    ("bool", "//td != //td"),
    ("bool", "count(//td) > count(//th)"),
    ("bool", "string(//b) = string(//i)"),
    ("bool", "//td/@data-n = 4"),
    ("bool", "//td/@data-n < //th"),
    ("bool", "true() and false()"),
    ("bool", "true() or false()"),
    ("bool", "not(1 = 2) and 2 >= 2"),
    ("bool", "'' = ''"),
    ("bool", "0 = false()"),
    ("bool", "'a' != 'b'"),
]


def _number(x: float) -> str:
    """``x`` as an XPath expression (XPath numbers have no exponent)."""
    if math.isinf(x):
        return "1 div 0" if x > 0 else "-1 div 0"
    return format(x, ".20f")


@pytest.mark.parametrize("kind,expr", _SCALAR_CORPUS)
def test_scalar_differential(parsed, jdk, kind, expr):
    for name, (html, _, jdoc, _) in parsed.items():
        compiled = jdk.xp.compile(expr)
        if kind == "num":
            theirs = LIBXML2_NUMBERS.get(expr, float(compiled.evaluate(jdoc, jdk.NUMBER)))
            if math.isnan(theirs):
                test = f"({expr}) != ({expr})"
            elif math.isinf(theirs) or theirs == 0:
                test = f"({expr}) = {_number(theirs)}"
            else:
                tolerance = abs(theirs) * 1e-9
                test = f"({expr}) > {_number(theirs - tolerance)} and ({expr}) < {_number(theirs + tolerance)}"
        elif kind == "str":
            theirs = compiled.evaluate(jdoc, jdk.STRING)
            assert '"' not in theirs
            test = f'string({expr}) = "{theirs}"'
        else:
            theirs = bool(compiled.evaluate(jdoc, jdk.BOOLEAN))
            test = f"boolean({expr}) = {'true' if theirs else 'false'}()"
        assert holds(html, test), f"{name} {expr!r}: JDK {theirs!r}"
