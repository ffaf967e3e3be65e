"""XPath evaluator for the extraction engine.

The reference accepts arbitrary XPath through ``tableXPathPosition``
(``src/Parser.php:67-92``, validated eagerly at ``:73-80``) and *generates*
four shapes internally (``Parser.php:56,60,102,105``; ``Section.php:25-27``).
It serves table selection (the header-row and caption shapes are one walk in
semantics.py) with a recursive-descent parser + evaluator for the DOMXPath
subset real users paste from browser devtools:

- absolute, relative, and ``.//``-anchored paths; ``/`` and ``//`` steps
  (``//`` desugars to ``descendant-or-self::node()`` + child step, so
  ``//table[2]`` counts per parent exactly as DOMXPath does)
- explicit axes: ``child::``, ``descendant::``, ``descendant-or-self::``,
  ``self::``, ``parent::`` (and ``.``/``..`` abbreviations), and — round 3 —
  ``following-sibling::``, ``preceding-sibling::``, ``ancestor::``,
  ``ancestor-or-self::``, ``following::``, ``preceding::`` (reverse axes
  count position() nearest-first per XPath 1.0 §2.4; results re-sort to
  document order)
- attribute location steps (``//table/@id``, ``@*``) and ``text()`` /
  ``comment()`` node tests on ANY element axis (child/descendant/
  sibling/following/preceding/self) — results are :class:`XPathAttr` /
  :class:`XPathText` wrappers (or COMMENT-kind Nodes), which the
  selection layer maps to the reference's not-a-DOMElement error exactly
  as ``Parser.php:370`` does; ``text()`` and ``comment()`` also work as
  predicate node-sets. The bare ``node()`` test enumerates EVERY node
  kind — elements, text runs, comments, PIs — matching DOMXPath
  (``//div/node()[2]`` counts the text run; ``count(//p/
  following::node())`` counts intervening comments), with full predicate
  support on the mixed node-sets. Only the synthetic
  ``descendant-or-self::node()`` steps the ``//`` separator inserts walk
  elements-only (identical results — the child:: step that follows one
  matches nothing on a text/comment context — at element-walk cost)
- predicates: positional (``[2]``), attribute equality (``[@id="x"]``),
  attribute existence (``[@id]``), relative-path existence (``[thead]``,
  ``[.//th]``), ``and`` / ``or`` / ``not()``, comparisons
  (``= != < <= > >=``), ``contains()``, ``starts-with()``,
  ``normalize-space()``, ``string-length()``, ``position()``, ``last()``,
  ``text()`` and ``.`` string values, numeric literals
- round 3, the rest of the XPath 1.0 §3.5/§4 core library: arithmetic
  (``+ - * div mod``, unary minus — ``[position() < last() - 1]``,
  ``[position() mod 2 = 1]``) with IEEE nan/±inf semantics, ``concat()``,
  ``substring()`` (spec rounding: ``substring('12345', 1.5, 2.6)`` →
  ``'234'``), ``substring-before/after()``, ``translate()`` (delete via
  short ``to``), ``boolean()``, ``number()``, ``count()``, ``sum()``
  (both over paths and bare ``@attr``/``text()``/``.``), ``ceiling()``,
  ``floor()``, ``round()`` (half-up toward +inf), ``true()``, ``false()``,
  ``name()``/``local-name()`` (0-arg context form and 1-arg
  document-first-node form) and ``namespace-uri()`` (constant ``''``
  on namespace-free HTML trees), ``lang()`` (xml:lang ancestor walk, the
  attribute libxml2's xmlNodeGetLang reads), UnionExpr in predicates
  (``[a | b]``, document-order merged, usable in count()/sum());
  number→string prints XPath
  ``NaN``/``Infinity`` spellings; ``id()`` as a FilterExpr path start
  (``id('t1')//tr``) and as a predicate node-set (libxml2 registers HTML
  ``@id`` as the ID attribute, first registration wins — xmlAddID)
- top-level union ``|`` and general parenthesized FilterExpr path starts
  (XPath 1.0 §3.3) — ``(//a | //b)[last()]/tr``, ``(tr/td)[2]`` inside
  predicates, ``count((//td)[position() < 3])`` — with the ``(path)[N]``
  document-order wrapper kept as the fast literal-index form
- ``processing-instruction()`` node tests (optional target literal:
  ``processing-instruction('php')``) — the tolerant tree keeps ``<?...>``
  as PI child nodes exactly as libxml2's HTML parser does, so these
  select real nodes; and the ``namespace::`` axis — HTML-parsed libxml2
  trees carry exactly ONE namespace node per element (the implicit
  ``xml`` binding; loadHTML never creates xmlns declarations), modeled
  as an :class:`XPathNs` wrapper

- arbitrary step continuations from non-element nodes (XPath 1.0
  §2.2/§5): parent/ancestor climbs (``//@href/..``,
  ``//td/text()/ancestor::table``, ``//comment()/..`` — an attribute's
  parent is its owner element), sibling axes from text/comment/PI
  contexts (attribute/namespace nodes have no siblings), self::,
  document-order following::/preceding:: (an attribute node sits after
  its element's start and before its content, so its following axis
  includes the owner's subtree), and the vacuously-empty axes (child/
  descendant/attribute from a node with no children or attributes)

Top-level SCALAR expressions (``count(//td)``, ``//td = 3``) are valid
XPath and pass the reference's eager validation — DOMXPath::query
evaluates them without warning and coerces the non-nodeset result to an
empty DOMNodeList — so they compile here to an empty node-set and the
selection layer raises the same table-not-found error the reference
does. Everything still outside the grammar raises :class:`ParserError`
with the reference's eager-validation message, so misconfigurations
surface on the driver, never inside a Spark task. ``$var`` references and prefixed
``ns:tag`` names also fail here — matching the reference, whose eager
``DOMXPath::query`` on an empty document rejects undefined variables and
undefined namespace prefixes the same way (``Parser.php:73-80``).

Results are nodes in document order, deduplicated, matching
``DOMXPath::query`` — text runs consume document-order ordinals in the
same DFS as elements, so mixed-kind sorts are exact. Known divergence vs
libxml2: adjacent text runs are merged at parse time, so ``text()``
predicates see one merged run where DOM might see several — observable
only with CDATA-ish splits the tolerant tokenizer never produces.
"""

from __future__ import annotations

import math as _math
import re
from dataclasses import dataclass, field, replace as _dc_replace
from functools import lru_cache

from .errors import ParserError, msg_invalid_xpath
from .htmldom import COMMENT, ELEMENT, PI, Node

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<num>\d+(?:\.\d*)?|\.\d+)
  | (?P<dslash>//)
  | (?P<slash>/)
  | (?P<ddot>\.\.)
  | (?P<dot>\.)
  | (?P<lbrak>\[) | (?P<rbrak>\]) | (?P<lpar>\() | (?P<rpar>\))
  | (?P<union>\|)
  | (?P<comma>,)
  | (?P<plus>\+)
  | (?P<minus>-)
  | (?P<at>@)
  | (?P<axis>[a-zA-Z][a-zA-Z-]*::)
  | (?P<name>\*|[a-zA-Z_][a-zA-Z0-9_.-]*)
  | (?P<str>"[^"]*"|'[^']*')
  | (?P<ne>!=) | (?P<le><=) | (?P<ge>>=) | (?P<lt><) | (?P<gt>>) | (?P<eq>=)
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise _SyntaxError()
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append((kind, m.group()))
    return out


class _SyntaxError(Exception):
    """Internal parse failure; converted to ParserError with the reference
    message at the compile_xpath boundary."""


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

_AXES = {
    "child",
    "descendant",
    "descendant-or-self",
    "self",
    "parent",
    # round-3 additions (VERDICT item 3): the sibling/ancestor/document
    # axes DOMXPath accepts. Reverse axes generate candidates in AXIS
    # order (nearest first) so positional predicates count per XPath 1.0
    # §2.4; final results are re-sorted to document order (needs_order_fix)
    "following-sibling",
    "preceding-sibling",
    "ancestor",
    "ancestor-or-self",
    "following",
    "preceding",
    "attribute",
    "namespace",
}

# axes whose lazy walk order is not document order (reverse axes, parent
# chains, cross-subtree document axes) — results need the eager sort
_ORDER_FIX_AXES = frozenset(
    {
        "parent",
        "ancestor",
        "ancestor-or-self",
        "following-sibling",
        "preceding-sibling",
        "following",
        "preceding",
        "attribute",
        "namespace",
    }
)


@dataclass(frozen=True)
class _Step:
    axis: str  # member of _AXES
    test: str  # tag name, '*', 'node()', or a node-test function spelling
    preds: tuple = ()  # predicate expression ASTs, applied in sequence
    # processing-instruction('target') filter; None = any target. Only
    # meaningful when test == 'processing-instruction()'.
    pi_target: str | None = None
    # True only on the synthetic descendant-or-self::node() steps the '//'
    # separator inserts: a text/comment context contributes nothing to the
    # child:: step that always follows one, so the desugar step enumerates
    # ELEMENTS only — pure walk savings with identical results. EXPLICIT
    # node() steps enumerate every node kind (DOMXPath parity).
    elements_only: bool = False


@dataclass(frozen=True)
class _FilterStart:
    """A parenthesized FilterExpr path start (XPath 1.0 §3.3):
    ``(//a | //b)[2]/tr``. The inner union evaluates first, merged and
    deduplicated in document order; the predicates then filter that set
    with FORWARD positions (§3.3 — FilterExpr predicates count in
    document order regardless of the axes inside the parentheses); any
    trailing steps walk from the survivors."""

    paths: tuple[_Path, ...]
    preds: tuple = ()


@dataclass(frozen=True)
class _Path:
    steps: tuple[_Step, ...]
    absolute: bool  # True → evaluate from the document root
    # id(arg) path start (XPath 1.0 §4.1): the arg expression AST, or None.
    # When set, the path's seed nodes are the id-matched elements (libxml2
    # registers HTML @id as the ID attribute after loadHTML — duplicate ids
    # keep the FIRST registration, xmlAddID semantics) and `absolute` is
    # irrelevant; `steps` may be empty (bare ``id('x')``).
    id_arg: object = None
    # parenthesized FilterExpr path start, or None. Like id_arg, the seed
    # nodes come from the filter; `absolute` is irrelevant (each inner
    # path carries its own flag); `steps` may be empty.
    filter_start: _FilterStart | None = None


# Expr AST: nested tuples
#   ('or', a, b) ('and', a, b) ('not', x)
#   ('cmp', op, a, b)            op in = != < <= > >=
#   ('num', float) ('str', s)
#   ('attr', name)               node-set of the attribute's value
#   ('text',)                    node-set of direct text children
#   ('dotval',)                  string value of the context node
#   ('pos',) ('last',)
#   ('contains', a, b) ('starts-with', a, b)
#   ('normalize-space', x|None) ('string-length', x|None)
#   ('path', _Path)              node-set (existence / string value)


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str):
        k, v = self.next()
        if k != kind:
            raise _SyntaxError()
        return v

    def at_end(self) -> bool:
        return self.i >= len(self.toks)

    # -- paths --------------------------------------------------------------

    def parse_union(self) -> list[_Path]:
        paths = [self.parse_path()]
        while self.peek()[0] == "union":
            self.next()
            paths.append(self.parse_path())
        return paths

    def parse_path(self) -> _Path:
        if self.peek() == ("name", "id") and self.peek(1)[0] == "lpar":
            return self._parse_id_path()
        if self.peek()[0] == "lpar":
            return self._parse_filter_path()
        steps: list[_Step] = []
        absolute = False
        need_step = True
        kind = self.peek()[0]
        if kind == "slash":
            self.next()
            absolute = True
            if self.at_end():  # bare '/' selects the document root
                return _Path(steps=(_Step("self", "node()"),), absolute=True)
        elif kind == "dslash":
            self.next()
            absolute = True
            steps.append(_Step("descendant-or-self", "node()", elements_only=True))
        elif kind == "dot":
            self.next()
            steps.append(_Step("self", "node()"))
            need_step = False
        elif kind == "ddot":
            self.next()
            steps.append(_Step("parent", "node()"))
            need_step = False
        if need_step:
            steps.append(self.parse_step())
        while not self._at_path_end():
            self._path_sep(steps)
            steps.append(self.parse_step())
        return _Path(steps=_fuse_steps(steps), absolute=absolute)

    def _parse_filter_path(self) -> _Path:
        """``(union)[preds]/steps`` FilterExpr path start (XPath 1.0 §3.3):
        ``(//table)[2]/tr``, ``(//a | //b)[last()]``, ``(tr/td)[2]``."""
        self.next()  # '('
        inner = self.parse_expr()
        self.expect("rpar")
        paths = self._expr_to_paths(inner)
        preds = self._parse_preds()
        steps: list[_Step] = []
        while not self._at_path_end():
            self._path_sep(steps)
            steps.append(self.parse_step())
        return _Path(
            steps=_fuse_steps(steps),
            absolute=False,
            filter_start=_FilterStart(paths, preds),
        )

    @classmethod
    def _expr_to_paths(cls, expr) -> tuple[_Path, ...]:
        """The node-set paths of a parenthesized FilterExpr primary — a
        path, a union of node-sets, or one of the bare node-set ops the
        value grammar parses directly (``(@href)[1]``, ``(text())[2]``,
        ``(.)``); anything non-node-set is a compile error in DOMXPath
        too."""
        op = expr[0]
        if op == "path":
            return (expr[1],)
        if op == "union":
            out: list[_Path] = []
            for part in expr[1:]:
                out.extend(cls._expr_to_paths(part))
            return tuple(out)
        if op == "attr":
            return (_Path(steps=(_Step("attribute", expr[1]),), absolute=False),)
        if op == "text":
            return (_Path(steps=(_Step("child", "text()"),), absolute=False),)
        if op == "comment":
            return (_Path(steps=(_Step("child", "comment()"),), absolute=False),)
        if op == "pi":
            return (
                _Path(
                    steps=(_Step("child", "processing-instruction()", (), expr[1]),),
                    absolute=False,
                ),
            )
        if op == "dotval":
            return (_Path(steps=(_Step("self", "node()"),), absolute=False),)
        raise _SyntaxError()

    def _parse_id_path(self) -> _Path:
        """``id(expr)`` FilterExpr path start (XPath 1.0 §3.3/§4.1), with an
        optional trailing relative path: ``id('t1')``, ``id('a b')//tr``."""
        self.next()  # 'id'
        self.next()  # '('
        arg = self.parse_expr()
        self.expect("rpar")
        steps: list[_Step] = []
        while not self._at_path_end():
            self._path_sep(steps)
            steps.append(self.parse_step())
        return _Path(steps=_fuse_steps(steps), absolute=False, id_arg=arg)

    def _at_path_end(self) -> bool:
        return self.peek()[0] not in ("slash", "dslash")

    def _path_sep(self, steps: list[_Step]) -> None:
        kind, _ = self.next()
        if kind == "dslash":
            steps.append(_Step("descendant-or-self", "node()", elements_only=True))
        elif kind != "slash":
            raise _SyntaxError()

    def parse_step(self) -> _Step:
        kind, value = self.peek()
        axis = "child"
        if kind == "axis":
            axis = value[:-2]
            if axis not in _AXES:
                raise _SyntaxError()  # unknown axis names (all 13 XPath 1.0 axes, incl. namespace::, are in _AXES)
            self.next()
            kind, value = self.peek()
        if kind == "ddot":
            self.next()
            return _Step("parent", "node()", self._parse_preds())
        if kind == "dot":
            self.next()
            return _Step("self", "node()", self._parse_preds())
        if kind == "at":
            # @name abbreviation for attribute::name (location step)
            if axis != "child":
                raise _SyntaxError()
            self.next()
            axis = "attribute"
            kind, value = self.peek()
        if kind != "name":
            raise _SyntaxError()
        self.next()
        test = value.lower()
        if axis == "attribute":
            # attribute::name / attribute::* — results are attribute VALUE
            # nodes (XPathAttr); node tests other than a name or * are
            # meaningless on this axis
            if self.peek()[0] == "lpar":
                raise _SyntaxError()
            return _Step("attribute", test, self._parse_preds())
        if axis == "namespace":
            # namespace::xml / namespace::* / namespace::node() — one
            # implicit xml-binding node per element on HTML-parsed trees
            # (XPathNs results; non-elements, so selecting one maps to the
            # reference's not-found error like @attr/text())
            if self.peek()[0] == "lpar":
                self.next()
                self.expect("rpar")
                if test != "node":
                    raise _SyntaxError()
                test = "node()"
            return _Step("namespace", test, self._parse_preds())
        if self.peek()[0] == "lpar":
            # node-test functions: node(), text() (text runs are plain
            # strings, surfaced as XPathText results), comment() (COMMENT-
            # kind Nodes), processing-instruction() (PI-kind Nodes, kept by
            # the tolerant tree exactly as libxml2's HTML parser keeps
            # <?...>) — selecting any maps to the reference's
            # instanceof-DOMElement not-found error, like text()/@attr
            self.next()
            pi_target = None
            if test == "processing-instruction" and self.peek()[0] == "str":
                pi_target = self.next()[1][1:-1]
            self.expect("rpar")
            if test == "node":
                test = "node()"
            elif test == "text":
                test = "text()"
            elif test == "comment":
                test = "comment()"
            elif test == "processing-instruction":
                test = "processing-instruction()"
            else:
                raise _SyntaxError()
            return _Step(axis, test, self._parse_preds(), pi_target)
        return _Step(axis, test, self._parse_preds())

    def _parse_preds(self) -> tuple:
        preds = []
        while self.peek()[0] == "lbrak":
            self.next()
            preds.append(self.parse_expr())
            self.expect("rbrak")
        return tuple(preds)

    # -- predicate expressions ----------------------------------------------

    def parse_expr(self):
        node = self.parse_and()
        while self.peek() == ("name", "or"):
            self.next()
            node = ("or", node, self.parse_and())
        return node

    def parse_and(self):
        node = self.parse_cmp()
        while self.peek() == ("name", "and"):
            self.next()
            node = ("and", node, self.parse_cmp())
        return node

    _CMP = {"eq": "=", "ne": "!=", "lt": "<", "le": "<=", "gt": ">", "ge": ">="}

    def parse_cmp(self):
        node = self.parse_add()
        kind = self.peek()[0]
        if kind in self._CMP:
            self.next()
            return ("cmp", self._CMP[kind], node, self.parse_add())
        return node

    # arithmetic sits between comparison and value per XPath 1.0 §3.5
    # (AdditiveExpr / MultiplicativeExpr / UnaryExpr). '*', 'div' and 'mod'
    # are operators only AFTER a complete operand — at operand position the
    # same tokens are a wildcard / path step names (e.g. [div] tests for an
    # HTML <div> child; [div div div] divides two <div> node-sets), which
    # parse_value consumes first, so the grammar disambiguates by position
    # exactly as the spec does.
    def parse_add(self):
        node = self.parse_mul()
        while self.peek()[0] in ("plus", "minus"):
            op = "+" if self.next()[0] == "plus" else "-"
            node = ("arith", op, node, self.parse_mul())
        return node

    def parse_mul(self):
        node = self.parse_unary()
        while True:
            kind, value = self.peek()
            if kind == "name" and value in ("*", "div", "mod"):
                self.next()
                op = "*" if value == "*" else value
                node = ("arith", op, node, self.parse_unary())
            else:
                return node

    _NODESET_OPS = ("path", "attr", "text", "comment", "pi", "dotval", "union")

    def parse_unary(self):
        if self.peek()[0] == "minus":
            self.next()
            return ("neg", self.parse_unary())
        node = self.parse_value()
        # UnionExpr (§3.3) binds tighter than unary minus and the
        # arithmetic operators: '//div[a | b]' is one node-set predicate.
        # Operands must themselves be node-sets (a string/number in a
        # union is a compile error in DOMXPath too).
        if self.peek()[0] == "union":
            parts = [node]
            while self.peek()[0] == "union":
                self.next()
                parts.append(self.parse_value())
            for part in parts:
                if part[0] not in self._NODESET_OPS:
                    raise _SyntaxError()
            return ("union", *parts)
        return node

    def parse_value(self):
        kind, value = self.peek()
        if kind == "num":
            self.next()
            return ("num", float(value))
        if kind == "str":
            self.next()
            return ("str", value[1:-1])
        if kind == "at":
            self.next()
            return ("attr", self.expect("name").lower())
        if kind == "lpar":
            self.next()
            node = self.parse_expr()
            self.expect("rpar")
            if self.peek()[0] in ("lbrak", "slash", "dslash"):
                # parenthesized FilterExpr continued by predicates or a
                # trailing path inside an expression: count((//td)[2]),
                # //table[(tr/td)[2] = "x"]
                paths = self._expr_to_paths(node)
                preds = self._parse_preds()
                steps: list[_Step] = []
                while not self._at_path_end():
                    self._path_sep(steps)
                    steps.append(self.parse_step())
                return (
                    "path",
                    _Path(
                        steps=_fuse_steps(steps),
                        absolute=False,
                        filter_start=_FilterStart(paths, preds),
                    ),
                )
            return node
        if kind == "name" and self.peek(1)[0] == "lpar":
            if value == "id":
                # node-set-valued: usable as a predicate truth/comparison
                # value and inside count(), like any relative path
                return ("path", self._parse_id_path())
            return self._parse_function(value.lower())
        if kind in ("name", "slash", "dslash", "dot", "ddot", "axis"):
            # relative (or absolute) path → node-set
            return ("path", self.parse_path())
        raise _SyntaxError()

    def _parse_function(self, name: str):
        self.next()  # name
        self.expect("lpar")
        if name == "not":
            arg = self.parse_expr()
            self.expect("rpar")
            return ("not", arg)
        if name in ("contains", "starts-with"):
            a = self.parse_expr()
            self.expect("comma")
            b = self.parse_expr()
            self.expect("rpar")
            return (name, a, b)
        if name in ("position", "last"):
            self.expect("rpar")
            return ("pos",) if name == "position" else ("last",)
        if name == "lang":
            arg = self.parse_expr()
            self.expect("rpar")
            return ("lang", arg)
        if name == "comment":
            # node-set of direct comment children, mirroring text()
            self.expect("rpar")
            return ("comment",)
        if name == "processing-instruction":
            # node-set of direct PI children, optional target literal
            target = None
            if self.peek()[0] == "str":
                target = self.next()[1][1:-1]
            self.expect("rpar")
            return ("pi", target)
        if name == "namespace-uri":
            # 0-arg form only; HTML-parsed trees carry no namespaces
            # (libxml2 loadHTML leaves ns NULL), so this is the constant ''
            self.expect("rpar")
            return ("str", "")
        if name == "text":
            self.expect("rpar")
            return ("text",)
        if name == "node":
            # node() in EXPRESSION position is the location path
            # child::node() (a node test, not a function call — §3.7
            # excludes NodeType names from FunctionName), so count(node())
            # counts every child of the context node
            self.expect("rpar")
            return (
                "path",
                _Path(steps=(_Step("child", "node()"),), absolute=False),
            )
        if name in ("normalize-space", "string-length", "string"):
            arg = None
            if self.peek()[0] != "rpar":
                arg = self.parse_expr()
            self.expect("rpar")
            return ("stringfn", arg) if name == "string" else (name, arg)
        if name == "concat":
            args = self._parse_args()
            if len(args) < 2:
                raise _SyntaxError()
            return ("concat", *args)
        if name in ("substring-before", "substring-after", "substring", "translate"):
            args = self._parse_args()
            arity = {
                "substring-before": (2,),
                "substring-after": (2,),
                "substring": (2, 3),
                "translate": (3,),
            }[name]
            if len(args) not in arity:
                raise _SyntaxError()
            return (name, *args)
        if name in (
            "boolean", "number", "count", "sum", "ceiling", "floor", "round",
        ):
            arg = None
            if self.peek()[0] != "rpar":
                arg = self.parse_expr()
            self.expect("rpar")
            if arg is None and name != "number":
                raise _SyntaxError()  # only number() takes 0 args
            if name in ("count", "sum"):
                # count()/sum() need a node-set: a path, a union of them,
                # or the bare node-set ops the grammar parses directly —
                # @attr, text(), '.' (count(@id) behaves like count(./@id))
                if arg[0] not in self._NODESET_OPS:
                    raise _SyntaxError()
                return (name, arg)
            return ({"boolean": "booleanfn", "number": "numberfn"}.get(name, name), arg)
        if name in ("true", "false"):
            self.expect("rpar")
            return ("bool-lit", name == "true")
        if name in ("name", "local-name"):
            # 0-arg (context node) or 1-arg (document-first node of the
            # set, §4.1); no namespaces in tolerant HTML, so
            # local-name() == name()
            arg = None
            if self.peek()[0] != "rpar":
                arg = self.parse_expr()
                if arg[0] not in self._NODESET_OPS:
                    raise _SyntaxError()
            self.expect("rpar")
            return ("namefn", arg)
        raise _SyntaxError()

    def _parse_args(self):
        args = [self.parse_expr()]
        while self.peek()[0] == "comma":
            self.next()
            args.append(self.parse_expr())
        self.expect("rpar")
        return args


# next-step axes from which a text/comment/PI context can contribute
# NOTHING (no children, no attributes): walking only elements through the
# synthetic '//' descendant-or-self::node() step is then result-identical
_ELEMENTS_ONLY_SAFE_AXES = frozenset(
    {"child", "descendant", "descendant-or-self", "attribute", "namespace"}
)


def _fuse_steps(steps: list[_Step]) -> tuple[_Step, ...]:
    """Collapse ``descendant-or-self::node()`` + ``child::X`` pairs (the
    ``//X`` desugaring) into a single ``descendant::X`` step when X carries
    no positional logic — one DFS instead of a generator per tree node, the
    shape every hot-path expression uses. Positional predicates keep the
    two-step form because ``//X[n]`` counts per parent, while
    ``descendant::X[n]`` counts per context.

    Also demotes the parse-time ``elements_only`` mark on synthetic ``//``
    steps whose NEXT step could match through a non-element context —
    ``//ancestor::p`` on ``<p>x</p>`` must reach p via the text node's
    ancestor axis, and ``//..`` must yield parents of text-only elements —
    so only continuations that are vacuously empty from non-elements
    (child/descendant/attribute/namespace, or self:: with an element name
    test) keep the element-only walk."""
    fused: list[_Step] = []
    i = 0
    while i < len(steps):
        s = steps[i]
        if (
            s.axis == "descendant-or-self"
            and s.test == "node()"
            and not s.preds
            and i + 1 < len(steps)
            and steps[i + 1].axis == "child"
            and not any(_positional_pred(p) for p in steps[i + 1].preds)
        ):
            nxt = steps[i + 1]
            fused.append(_Step("descendant", nxt.test, nxt.preds, nxt.pi_target))
            i += 2
            continue
        if s.elements_only:
            nxt = steps[i + 1] if i + 1 < len(steps) else None
            safe = nxt is not None and (
                nxt.axis in _ELEMENTS_ONLY_SAFE_AXES
                or (
                    nxt.axis == "self"
                    and nxt.test
                    not in (
                        "node()",
                        "text()",
                        "comment()",
                        "processing-instruction()",
                    )
                )
            )
            if not safe:
                s = _dc_replace(s, elements_only=False)
        fused.append(s)
        i += 1
    return tuple(fused)


# ---------------------------------------------------------------------------
# evaluation
# ---------------------------------------------------------------------------


class XPathAttr:
    """An attribute node result (``//table/@id``). Not an element: the
    reference's ``$table instanceof DOMElement`` gate maps these to the
    table-not-found error (``Parser.php:370``), and semantics.py checks
    ``type(...) is Node`` accordingly. ``value`` is the attribute value
    (the XPath string value of an attribute node)."""

    __slots__ = ("name", "value", "owner")

    def __init__(self, name: str, value: str, owner: Node):
        self.name = name
        self.value = value
        self.owner = owner

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"@{self.name}={self.value!r}"


class XPathText:
    """A text node result (``//td/text()``). Text runs are plain strings in
    this tree, so results carry (value, parent, child index) — identity per
    occurrence (two equal strings in different cells stay two nodes, which
    a bare ``str`` could not guarantee under CPython small-string caching)."""

    __slots__ = ("value", "parent", "index")

    def __init__(self, value: str, parent: Node, index: int):
        self.value = value
        self.parent = parent
        self.index = index

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"text({self.value!r})"


_XML_NS_URI = "http://www.w3.org/XML/1998/namespace"


class XPathNs:
    """A namespace node result (``namespace::*``). HTML-parsed libxml2
    trees bind exactly one namespace per element — the implicit ``xml``
    prefix (loadHTML never turns ``xmlns`` attributes into declarations) —
    so each element owns one such node. Not an element: the selection
    layer maps these to the not-found error like :class:`XPathAttr`."""

    __slots__ = ("owner",)

    name = "xml"
    value = _XML_NS_URI

    def __init__(self, owner: Node):
        self.owner = owner

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"namespace(xml={_XML_NS_URI!r})"


_PI_TARGET_RE = re.compile(r"[A-Za-z_:][A-Za-z0-9._:\-]*")


def _pi_target(node: Node) -> str:
    """PI target: the leading XML Name of the ``<?...>`` content (libxml2
    splits ``<?php echo 1 ?>`` into target ``php`` + data ``echo 1 ?``).
    Name-parsed, not whitespace-split: ``<?php?>`` has target ``php`` —
    ``?`` is not a Name character, so a space-less PI must not leak the
    trailing junk into its target."""
    m = _PI_TARGET_RE.match(node.data or "")
    return m.group() if m else ""


def _pi_value(node: Node) -> str:
    """PI string value: content after the target and the whitespace run
    separating it (xmlNodeGetContent of a PI returns its data)."""
    data = node.data or ""
    i = len(_pi_target(node))
    while i < len(data) and data[i].isspace():
        i += 1
    return data[i:]


def _children_elements(node: Node):
    for child in node.children:
        if type(child) is Node and child.kind == ELEMENT:
            yield child


def _descendants(node: Node):
    stack = node.children[::-1]
    while stack:
        n = stack.pop()
        if type(n) is Node and n.kind == ELEMENT:
            yield n
            if n.children:
                stack.extend(n.children[::-1])


def _children_all(ctx: Node):
    """Every child of ctx — any kind — in document order, text runs wrapped
    as :class:`XPathText`."""
    for i, c in enumerate(ctx.children):
        yield XPathText(c, ctx, i) if type(c) is str else c


def _subtree_all(ctx: Node):
    """Every node of ANY kind under ctx (exclusive), document order, text
    runs wrapped — the mixed-kind counterpart of :func:`_descendants`."""
    stack = [(ctx, i) for i in range(len(ctx.children) - 1, -1, -1)]
    while stack:
        parent, i = stack.pop()
        c = parent.children[i]
        if type(c) is str:
            yield XPathText(c, parent, i)
        else:
            yield c
            if c.kind == ELEMENT and c.children:
                stack.extend((c, j) for j in range(len(c.children) - 1, -1, -1))


def _test_match(n, test: str, pi_target: str | None = None) -> bool:
    """Node-test match for a candidate of ANY kind (element/comment/PI
    Node or :class:`XPathText` wrapper). Name tests and ``*`` match
    elements only — the principal node type of the element axes — and the
    synthetic ``#document`` container is not an element to DOMXPath."""
    if test == "node()":
        return True
    if type(n) is XPathText:
        return test == "text()"
    k = n.kind
    if test == "*":
        return k == ELEMENT and n.tag != "#document"
    if test == "text()":
        return False  # text runs arrive wrapped; Node kinds never match
    if test == "comment()":
        return k == COMMENT
    if test == "processing-instruction()":
        return k == PI and (pi_target is None or _pi_target(n) == pi_target)
    return k == ELEMENT and n.tag == test


def _node_index(ctx: Node, parent: Node) -> int:
    """ctx's child index within parent (identity scan)."""
    for i, c in enumerate(parent.children):
        if c is ctx:
            return i
    return -1


def _mixed_siblings(ctx: Node, parent: Node | None, index: int):
    """(preceding, following) siblings of ANY kind around the child at
    ``index`` of ``parent``, each list in document order, text wrapped."""
    if parent is None or index < 0:
        return [], []
    before: list = []
    after: list = []
    for i, c in enumerate(parent.children):
        if i == index:
            continue
        out = after if i > index else before
        out.append(XPathText(c, parent, i) if type(c) is str else c)
    return before, after


def _string_value(node: Node) -> str:
    """XPath string() of an element: concatenated descendant text in
    document order (delegates to ``Node.text_content``, which runs the
    forward-order DFS; a previous hand-rolled traversal here scrambled
    multi-child text, e.g. string(<tr><td>a</td><td>b</td></tr>) == 'ba')."""
    return node.text_content()


def _build_parent_map(root: Node) -> dict[int, Node]:
    # maps ALL Node children (elements for ../ancestor:: walks, plus
    # comment/PI nodes so //comment()/.. can climb back to the owner)
    parents: dict[int, Node] = {}
    stack = [root]
    while stack:
        n = stack.pop()
        for c in n.children:
            if type(c) is Node:
                parents[id(c)] = n
                if c.kind == ELEMENT:
                    stack.append(c)
    return parents


def _doc_order_map(
    root: Node,
) -> tuple[dict[int, int], dict[int, int], dict[tuple[int, int], int]]:
    """(ordinal, subtree_end, text_ordinal) over ALL node kinds in one DFS
    pre-order pass. Comment/PI nodes get real ordinals — union merges and
    node-set first-node reads must interleave them with elements in
    document order, not dump them at the end — and text runs consume
    ordinals too (keyed ``(id(parent), child index)``, since runs are
    plain strings), so mixed-kind sorts and the following::/preceding::
    boundaries are EXACT document order (round 2 documented the text key
    as element-approximate; the mixed node() test made that observable).
    ``subtree_end[e]`` is the largest ordinal inside element e's subtree,
    so the following:: axis stays a single comparison even though
    non-element nodes make the element count smaller than the subtree's
    ordinal width."""
    order: dict[int, int] = {}
    end: dict[int, int] = {}
    text_order: dict[tuple[int, int], int] = {}
    i = 0
    # stack entries: (node, -1) = enter, (node, -2) = exit marker,
    # (parent, child_index >= 0) = text run
    stack: list = [(root, -1)]
    while stack:
        n, mark = stack.pop()
        if mark == -2:
            end[id(n)] = i - 1
            continue
        if mark >= 0:
            text_order[(id(n), mark)] = i
            i += 1
            continue
        order[id(n)] = i
        i += 1
        if n.kind == ELEMENT and n.children:
            stack.append((n, -2))
            for j in range(len(n.children) - 1, -1, -1):
                c = n.children[j]
                stack.append((c, -1) if type(c) is Node else (n, j))
        else:
            end[id(n)] = order[id(n)]
    return order, end, text_order


class _EvalCtx:
    """Per-query evaluation state: the document root plus lazily-built
    parent and document-order maps (only paid for when an expression
    actually uses ``..``/``parent::`` or needs an order fix-up)."""

    __slots__ = ("root", "_parents", "_order", "_ids")

    def __init__(self, root: Node):
        self.root = root
        self._parents = None
        self._order = None
        self._ids = None

    def id_nodes(self, tokens) -> list:
        """Elements for ``id()`` tokens, in document order. First @id wins
        on duplicates (libxml2 xmlAddID keeps the first registration)."""
        if self._ids is None:
            ids: dict = {}
            ordn = 0
            stack = [self.root]
            while stack:
                n = stack.pop()
                if type(n) is not Node or n.kind != ELEMENT:
                    continue
                ordn += 1
                v = (n.attrs or {}).get("id")
                if v is not None and v not in ids:
                    ids[v] = (ordn, n)
                if n.children:
                    stack.extend(reversed(n.children))
            self._ids = ids
        hits = sorted(self._ids[t] for t in set(tokens) if t in self._ids)
        return [n for _, n in hits]

    def parent(self, node: Node) -> Node | None:
        if self._parents is None:
            self._parents = _build_parent_map(self.root)
        return self._parents.get(id(node))

    def ordinal(self, node: Node) -> int:
        if self._order is None:
            self._order = _doc_order_map(self.root)
        return self._order[0].get(id(node), 1 << 60)

    def subtree_end(self, node: Node) -> int:
        """Largest ordinal inside node's subtree (== its own ordinal for
        leaves and non-elements) — the following:: axis boundary."""
        if self._order is None:
            self._order = _doc_order_map(self.root)
        return self._order[1].get(id(node), 1 << 60)

    def text_ordinal(self, parent: Node, index: int) -> int:
        """Document-order ordinal of the text run at parent.children[index]
        (text runs consume ordinals in the same DFS as elements)."""
        if self._order is None:
            self._order = _doc_order_map(self.root)
        return self._order[2].get((id(parent), index), 1 << 60)

    def res_ord(self, n) -> int:
        """Ordinal of any result node kind — attribute/namespace wrappers
        sit at their owner's start position (XPath 1.0 §5: after the
        element, before its content — strict > / < comparisons against an
        element's own ordinal therefore include its content subtree)."""
        t = type(n)
        if t is XPathText:
            return self.text_ordinal(n.parent, n.index)
        if t is XPathAttr or t is XPathNs:
            return self.ordinal(n.owner)
        return self.ordinal(n)

    def sort_key(self, n):
        """Document-order key covering every result kind: attributes sort
        immediately after their owner element's start (namespace nodes
        first, §5), text runs at their own DFS ordinal — EXACT against
        nested elements in mixed unions since the text runs consume
        ordinals in the same pass."""
        t = type(n)
        if t is XPathAttr:
            return (self.ordinal(n.owner), 1, 0)
        if t is XPathText:
            return (self.text_ordinal(n.parent, n.index), 2, 0)
        if t is XPathNs:
            # namespace nodes precede attribute nodes of the same element
            # (XPath 1.0 §5: ns nodes before attr nodes in document order)
            return (self.ordinal(n.owner), 1, -1)
        return (self.ordinal(n), 0, 0)


def _uses_position(expr) -> bool:
    """Does the expression read the OUTER context's position()/last()?

    Recurses through nested expression tuples AND into a path's ``id()``
    argument — the id_arg is evaluated in the enclosing predicate's
    context, so ``[id(string(position()))]`` is positional for the outer
    step even though the path's own step predicates are not (they get
    their per-step position from ``_step_matches``)."""
    if expr[0] in ("pos", "last"):
        return True
    for part in expr[1:]:
        if isinstance(part, tuple) and _uses_position(part):
            return True
        if isinstance(part, _Path) and _path_uses_outer_position(part):
            return True
    return False


def _path_uses_outer_position(path: _Path) -> bool:
    """Does the path's SEEDING read the enclosing context's position()?
    Only id() arguments do (they evaluate in the outer context, §4.1) —
    including id() starts nested inside a FilterExpr's inner paths.
    FilterExpr predicates establish their own positions and don't count."""
    if path.id_arg is not None and _uses_position(path.id_arg):
        return True
    if path.filter_start is not None:
        return any(
            _path_uses_outer_position(sp) for sp in path.filter_start.paths
        )
    return False


def _element_siblings(ctx: Node, ev: _EvalCtx):
    """(preceding, following) element siblings of ctx, each in document
    order; ctx's position is found by identity among the parent's children."""
    p = ev.parent(ctx) if ctx is not ev.root else None
    if p is None:
        return [], []
    before: list[Node] = []
    after: list[Node] = []
    seen_self = False
    for c in p.children:
        if c is ctx:
            seen_self = True
            continue
        if type(c) is Node and c.kind == ELEMENT:
            (after if seen_self else before).append(c)
    return before, after


def _ancestors(ctx: Node, ev: _EvalCtx):
    """Ancestor chain, nearest first (the axis order of ancestor::)."""
    n = ctx
    while n is not ev.root:
        n = ev.parent(n)
        if n is None:
            return
        yield n


def _axis_candidates(ctx: Node, step: _Step, ev: _EvalCtx):
    """Axis candidates from an ELEMENT context. Name and ``*`` tests walk
    elements only (the hot path, untouched); ``node()`` walks elements
    only on the synthetic ``//``-desugar steps (identical results — the
    child:: step that follows one matches nothing on a text/comment
    context) and every node kind otherwise; the explicit ``text()`` /
    ``comment()`` / ``processing-instruction()`` tests route through the
    same mixed-kind walk."""
    test = step.test
    if (test == "node()" and not step.elements_only) or test in (
        "text()",
        "comment()",
        "processing-instruction()",
    ):
        yield from _axis_candidates_mixed(ctx, step, ev)
        return
    axis = step.axis
    if axis == "child":
        nodes = _children_elements(ctx)
    elif axis == "descendant":
        nodes = _descendants(ctx)
    elif axis == "descendant-or-self":
        def chain():
            yield ctx
            yield from _descendants(ctx)
        nodes = chain()
    elif axis == "self":
        nodes = iter((ctx,))
    elif axis == "parent":
        p = ev.parent(ctx) if ctx is not ev.root else None
        nodes = iter(()) if p is None else iter((p,))
    elif axis == "following-sibling":
        nodes = iter(_element_siblings(ctx, ev)[1])
    elif axis == "preceding-sibling":
        # reverse axis: nearest sibling first (position() counts backwards)
        nodes = iter(_element_siblings(ctx, ev)[0][::-1])
    elif axis == "ancestor":
        nodes = _ancestors(ctx, ev)
    elif axis == "ancestor-or-self":
        def chain_self():
            yield ctx
            yield from _ancestors(ctx, ev)
        nodes = chain_self()
    elif axis == "following":
        # document order, everything after ctx's subtree; DFS pre-order
        # makes the subtree a contiguous ordinal range, so "after" is a
        # single ordinal comparison against the subtree's end
        end = ev.subtree_end(ctx)
        nodes = (n for n in _descendants(ev.root) if ev.ordinal(n) > end)
    else:  # preceding: before ctx in document order, ancestors excluded,
        # generated nearest-first (reverse axis)
        anc = {id(a) for a in _ancestors(ctx, ev)}
        before = [
            n
            for n in _descendants(ev.root)
            if ev.ordinal(n) < ev.ordinal(ctx) and id(n) not in anc
        ]
        nodes = iter(before[::-1])
    if test == "node()":
        yield from nodes
    elif test == "*":
        for n in nodes:
            # the synthetic #document container is not an element to
            # DOMXPath — parent/ancestor chains stop exposing it to *
            if n.kind == ELEMENT and n.tag != "#document":
                yield n
    else:
        for n in nodes:
            if n.kind == ELEMENT and n.tag == test:
                yield n


def _axis_candidates_mixed(ctx: Node, step: _Step, ev: _EvalCtx):
    """Mixed-kind axis walk from an ELEMENT context: enumerates elements,
    text runs (wrapped), comments and PIs in axis order, then filters by
    the step's node test — the DOMXPath semantics of an explicit
    ``node()`` / ``text()`` / ``comment()`` / ``processing-instruction()``
    test on any element axis. Reverse axes generate nearest-first so
    positional predicates count per XPath 1.0 §2.4; the order-fix sort
    restores document order afterwards (text ordinals are exact)."""
    axis = step.axis
    if axis == "child":
        nodes = _children_all(ctx)
    elif axis == "descendant":
        nodes = _subtree_all(ctx)
    elif axis == "descendant-or-self":
        def chain():
            yield ctx
            yield from _subtree_all(ctx)
        nodes = chain()
    elif axis == "self":
        nodes = iter((ctx,))
    elif axis == "parent":
        # parents are always elements (or the #document root)
        p = ev.parent(ctx) if ctx is not ev.root else None
        nodes = iter(()) if p is None else iter((p,))
    elif axis == "ancestor":
        nodes = _ancestors(ctx, ev)
    elif axis == "ancestor-or-self":
        def chain_self():
            yield ctx
            yield from _ancestors(ctx, ev)
        nodes = chain_self()
    elif axis in ("following-sibling", "preceding-sibling"):
        parent = ev.parent(ctx) if ctx is not ev.root else None
        index = -1 if parent is None else _node_index(ctx, parent)
        before, after = _mixed_siblings(ctx, parent, index)
        nodes = iter(after) if axis == "following-sibling" else iter(before[::-1])
    elif axis == "following":
        end = ev.subtree_end(ctx)
        nodes = (n for n in _subtree_all(ev.root) if ev.res_ord(n) > end)
    else:  # preceding: nearest-first, element ancestors excluded (text/
        # comment/PI nodes are never ancestors)
        anc = {id(a) for a in _ancestors(ctx, ev)}
        me = ev.ordinal(ctx)
        before = [
            n
            for n in _subtree_all(ev.root)
            if ev.res_ord(n) < me
            and (type(n) is XPathText or id(n) not in anc)
        ]
        nodes = iter(before[::-1])
    test, target = step.test, step.pi_target
    for n in nodes:
        if _test_match(n, test, target):
            yield n


# top-level ops whose VALUE is a number — per XPath 1.0 §2.4 a
# number-valued predicate means position() = number, so these force the
# positional (per-context node-set) evaluation path
_NUMERIC_OPS = frozenset(
    {
        "num", "pos", "last", "string-length",
        "arith", "neg", "count", "sum", "numberfn", "ceiling", "floor",
        "round",
    }
)


def _positional_pred(p) -> bool:
    return p[0] in _NUMERIC_OPS or _uses_position(p)


def _child_kind(ctx, kind: int) -> list:
    """Direct Node children of ``kind``, document order; empty for a
    non-element context (wrappers and comment/PI nodes have no children)."""
    if type(ctx) is not Node or ctx.kind != ELEMENT:
        return []
    return [c for c in ctx.children if type(c) is Node and c.kind == kind]


def _attr_ns_matches(ctx: Node, step: _Step):
    """attribute:: / namespace:: candidates from an element context
    (predicates are applied by the caller, like every other axis)."""
    if step.axis == "attribute":
        attrs = ctx.attrs or {}
        if step.test == "*":
            return [XPathAttr(k, v, ctx) for k, v in attrs.items()]
        v = attrs.get(step.test)
        return [] if v is None else [XPathAttr(step.test, v, ctx)]
    # one implicit xml binding per element on HTML-parsed trees
    if step.test in ("*", "node()", "xml"):
        return [XPathNs(ctx)]
    return []


def _node_key(n):
    """Identity key for dedup: wrappers are fresh objects per query, so two
    paths reaching the same attribute/text node must dedup by position, not
    object id."""
    t = type(n)
    if t is XPathAttr:
        return (id(n.owner), 1, n.name)
    if t is XPathText:
        return (id(n.parent), 2, n.index)
    if t is XPathNs:
        return (id(n.owner), 3, "xml")
    return id(n)


def _result_string(n) -> str:
    """XPath string value of any result node (element, attribute, text,
    comment — a comment's string value is its data, which text_content
    deliberately excludes; a PI's is its content after the target)."""
    t = type(n)
    if t is XPathAttr or t is XPathText or t is XPathNs:
        return n.value
    if n.kind == COMMENT:
        return n.data or ""
    if n.kind == PI:
        return _pi_value(n)
    return _string_value(n)


def _ctx_attrs(node) -> dict:
    """Attribute map of a predicate CONTEXT node — empty for the
    non-element kinds (wrappers, comment/PI nodes carry no attributes)."""
    if type(node) is Node and node.kind == ELEMENT:
        return node.attrs or {}
    return {}


def _context_element(node, ev: "_EvalCtx"):
    """Nearest element to climb ancestor-sensitive functions (lang())
    from: the context itself when it is one, else the owner element
    (attribute/namespace wrappers) or containing element (text wrappers,
    comment/PI nodes)."""
    t = type(node)
    if t is Node:
        return node if node.kind == ELEMENT else ev.parent(node)
    if t is XPathText:
        return node.parent
    return node.owner  # XPathAttr / XPathNs


def _nonelement_candidates(ctx, step: _Step, ev: _EvalCtx):
    """Step candidates from a NON-ELEMENT context (attribute/namespace/
    text wrappers, comment/PI Nodes). XPath 1.0 §2.2/§5: such nodes have
    no children and no attributes (child/descendant/attribute/namespace
    axes are empty); their parent is the owner element (attribute/
    namespace) or the containing element (text/comment/PI); attribute and
    namespace nodes additionally have NO siblings. The following::/
    preceding:: axes compare document-order ordinals — an attribute node
    sits after its element's start and before the element's content (§5),
    so its following axis INCLUDES the owner's content subtree."""
    axis, test, target = step.axis, step.test, step.pi_target
    t = type(ctx)
    if t is XPathAttr or t is XPathNs:
        owner, index = ctx.owner, None
    elif t is XPathText:
        owner, index = ctx.parent, ctx.index
    else:  # COMMENT / PI Node
        owner = ev.parent(ctx)
        index = None if owner is None else _node_index(ctx, owner)
    if axis in ("child", "descendant", "attribute", "namespace"):
        return

    def self_match() -> bool:
        # the CONTEXT here can be an attribute/namespace wrapper (round-4
        # differential catch: //@id[self::a] crashed in _test_match on
        # the missing .kind). Name tests and * match the axis's PRINCIPAL
        # node type — element on every axis but attribute::/namespace:: —
        # so only node() matches these wrappers. Kept out of _test_match
        # itself: that predicate sits on the generic walk's per-candidate
        # hot path, and yielded candidates there are never wrappers.
        if t is XPathAttr or t is XPathNs:
            return test == "node()"
        return _test_match(ctx, test, target)

    if axis in ("self", "descendant-or-self"):
        if self_match():
            yield ctx
        return
    if owner is None:
        return
    if axis in ("parent", "ancestor", "ancestor-or-self"):
        if axis == "ancestor-or-self" and self_match():
            yield ctx
        if axis == "parent":
            chain = iter((owner,))
        else:  # owner plus its ancestors, nearest first

            def _chain():
                yield owner
                yield from _ancestors(owner, ev)

            chain = _chain()
        for n in chain:
            if _test_match(n, test, target):
                yield n
        return
    if axis in ("following-sibling", "preceding-sibling"):
        if t is XPathAttr or t is XPathNs:
            return  # §2.2: attribute/namespace nodes have no siblings
        before, after = _mixed_siblings(ctx, owner, index)
        nodes = after if axis == "following-sibling" else before[::-1]
        for n in nodes:
            if _test_match(n, test, target):
                yield n
        return
    # following / preceding: ordinal comparison over the whole document
    if t is XPathAttr or t is XPathNs:
        my_ord = ev.ordinal(owner)
    elif t is XPathText:
        my_ord = ev.text_ordinal(owner, index)
    else:
        my_ord = ev.ordinal(ctx)
    if axis == "following":
        for n in _subtree_all(ev.root):
            if ev.res_ord(n) > my_ord and _test_match(n, test, target):
                yield n
        return
    # preceding, nearest first; the ancestor chain (owner upwards — a
    # non-element node's ancestors are its parent's ancestor-or-self set)
    # is excluded per §2.2
    anc = {id(owner)} | {id(a) for a in _ancestors(owner, ev)}
    before = [
        n
        for n in _subtree_all(ev.root)
        if ev.res_ord(n) < my_ord
        and (type(n) is XPathText or id(n) not in anc)
    ]
    for n in before[::-1]:
        if _test_match(n, test, target):
            yield n


def _step_matches(ctx, step: _Step, ev: _EvalCtx):
    if type(ctx) is not Node or ctx.kind != ELEMENT:
        # non-element context from a preceding @attr/namespace/text()/
        # comment()/processing-instruction()/node() step
        candidates = _nonelement_candidates(ctx, step, ev)
    elif step.axis in ("attribute", "namespace"):
        candidates = iter(_attr_ns_matches(ctx, step))
    else:
        candidates = _axis_candidates(ctx, step, ev)
    if not step.preds:
        yield from candidates
        return
    yield from _apply_preds(candidates, step, ev)


def _filter_nodeset(current: list, preds: tuple, ev: _EvalCtx) -> list:
    """Apply predicates over a materialized node list, recomputing
    position()/last() each round. XPath 1.0 §2.4: a predicate whose VALUE
    is a number means position() = number — so [last()] keeps the last
    node, not "last() is nonzero therefore everything". Positions count
    in the list's order: axis order for step predicates, document order
    for FilterExpr predicates (§3.3)."""
    for p in preds:
        size = len(current)
        kept = []
        for i, n in enumerate(current):
            v = _eval_value(p, n, i + 1, size, ev)
            if v[0] == "num":
                if v[1] == i + 1:
                    kept.append(n)
            elif _truth_value(v):
                kept.append(n)
        current = kept
    return current


def _apply_preds(candidates, step: _Step, ev: _EvalCtx):
    positional = any(_positional_pred(p) for p in step.preds)
    if not positional:
        for n in candidates:
            if all(_truth(p, n, None, None, ev) for p in step.preds):
                yield n
        return
    # positional predicates need the per-context node-set materialized
    yield from _filter_nodeset(list(candidates), step.preds, ev)


def _iter_path(ctx_nodes, path: _Path, ev: _EvalCtx, pos=None, size=None):
    """Lazily yield the path's matches in document order, deduplicated.

    ``pos``/``size`` carry the ENCLOSING predicate's context position into
    ``id()`` argument evaluation (the id_arg runs in the outer context per
    §4.1, so ``//p[id(string(position()))]`` sees p's position); they are
    None for top-level evaluation, where the initial context is the
    singleton document node (position()=last()=1)."""
    steps = path.steps
    if path.filter_start is not None:
        # FilterExpr seeding (§3.3): per context node, evaluate the inner
        # union (absolute inner paths ignore the context), merge and dedup
        # in document order, apply the filter predicates with FORWARD
        # positions, then walk any trailing steps from the survivors
        fs = path.filter_start
        seeds: list = []
        seen_seed: set = set()
        for ctx in ctx_nodes:
            merged: list = []
            mseen: set = set()
            for sp in fs.paths:
                sub_ctx = [ev.root] if sp.absolute else [ctx]
                for n in _iter_path(sub_ctx, sp, ev, pos, size):
                    k = _node_key(n)
                    if k not in mseen:
                        mseen.add(k)
                        merged.append(n)
            merged.sort(key=ev.sort_key)
            for n in _filter_nodeset(merged, fs.preds, ev):
                k = _node_key(n)
                if k not in seen_seed:
                    seen_seed.add(k)
                    seeds.append(n)
        if not steps:
            yield from seeds
            return
        ctx_nodes = seeds
    if path.id_arg is not None:
        # seed from the id()-matched elements; the arg is evaluated per
        # context node (so id(@ref) works), node-set args union every
        # node's string value per §4.1
        seeds: list = []
        seen_seed: set = set()
        for ctx in ctx_nodes:
            v = _eval_value(path.id_arg, ctx, pos, size, ev)
            if v[0] == "set":
                tokens = [t for s in v[1] for t in s.split()]
            else:
                tokens = _to_string(v).split()
            for n in ev.id_nodes(tokens):
                if id(n) not in seen_seed:
                    seen_seed.add(id(n))
                    seeds.append(n)
        if not steps:
            yield from seeds
            return
        ctx_nodes = seeds
    last = len(steps) - 1

    def walk(level: int, ctx: Node):
        step = steps[level]
        if level == last:
            yield from _step_matches(ctx, step, ev)
        else:
            for node in _step_matches(ctx, step, ev):
                yield from walk(level + 1, node)

    seen: set = set()
    for ctx in ctx_nodes:
        for node in walk(0, ctx):
            key = _node_key(node)
            if key not in seen:
                seen.add(key)
                yield node


# -- predicate value model ---------------------------------------------------
# values: ('set', [str values of matched attr/text/nodes], n_nodes)
#         ('num', float) ('str', s) ('bool', b)


def _eval_nodes(expr, node: Node, pos, size, ev: "_EvalCtx") -> list:
    """Materialize a node-set expression as actual result nodes (elements
    / :class:`XPathAttr` / :class:`XPathText`) — for operators that need
    node identity and document order across branches (union)."""
    op = expr[0]
    if op == "path":
        path = expr[1]
        ctx = [ev.root] if path.absolute else [node]
        return list(_iter_path(ctx, path, ev, pos, size))
    if op == "attr":
        attrs = _ctx_attrs(node)
        if expr[1] == "*":
            # @* in expression position: ALL attribute nodes, markup order
            # (libxml2 stores attributes in declaration order)
            return [XPathAttr(k, v, node) for k, v in attrs.items()]
        v = attrs.get(expr[1])
        return [] if v is None else [XPathAttr(expr[1], v, node)]
    if op == "text":
        if type(node) is not Node or node.kind != ELEMENT:
            return []
        return [
            XPathText(c, node, i)
            for i, c in enumerate(node.children)
            if type(c) is str
        ]
    if op == "comment":
        return _child_kind(node, COMMENT)
    if op == "pi":
        cands = _child_kind(node, PI)
        if expr[1] is not None:
            cands = [c for c in cands if _pi_target(c) == expr[1]]
        return cands
    if op == "dotval":
        return [node]
    # union: dedup by node identity, then one document-order sort — the
    # FIRST node of the merged set must be the document-first across all
    # branches, not the first branch's first
    seen: set = set()
    out: list = []
    for part in expr[1:]:
        for n in _eval_nodes(part, node, pos, size, ev):
            k = _node_key(n)
            if k not in seen:
                seen.add(k)
                out.append(n)
    out.sort(key=ev.sort_key)
    return out


def _eval_value(expr, node: Node, pos, size, ev: _EvalCtx):
    op = expr[0]
    if op == "num":
        return ("num", expr[1])
    if op == "str":
        return ("str", expr[1])
    if op == "attr":
        attrs = _ctx_attrs(node)
        if expr[1] == "*":
            # all attribute values (string values), markup order
            return ("set", list(attrs.values()))
        if expr[1] in attrs:
            return ("set", [attrs[expr[1]]])
        return ("set", [])
    if op == "text":
        if type(node) is not Node or node.kind != ELEMENT:
            return ("set", [])
        return ("set", [c for c in node.children if type(c) is str])
    if op == "comment":
        return ("set", [c.data or "" for c in _child_kind(node, COMMENT)])
    if op == "pi":
        return (
            "set",
            [_pi_value(c) for c in _eval_nodes(expr, node, pos, size, ev)],
        )
    if op == "dotval":
        return ("set", [_result_string(node)])
    if op == "pos":
        # pos is None only at the top level / id()-seed evaluation, where
        # the initial context is the singleton document node (XPath 1.0:
        # context position and size start at 1) — never inside a step
        # predicate, which _step_matches routes through the positional
        # branch whenever _uses_position() sees pos/last anywhere.
        return ("num", 1.0 if pos is None else float(pos))
    if op == "last":
        return ("num", 1.0 if size is None else float(size))
    if op == "path":
        path = expr[1]
        ctx = [ev.root] if path.absolute else [node]
        nodes = list(_iter_path(ctx, path, ev, pos, size))
        if len(nodes) > 1 and _value_order_fix(path):
            # string()/number()/substring() etc. read the FIRST node of a
            # node-set; the lazy walk can emit out of document order on
            # the same shapes the top-level result path re-sorts for
            # (e.g. string(.//table/tr) with a tr nested in a caption) —
            # apply the identical fix before first-node conversion.
            nodes.sort(key=ev.sort_key)
        return ("set", [_result_string(n) for n in nodes])
    if op == "union":
        return (
            "set",
            [
                _result_string(n)
                for n in _eval_nodes(expr, node, pos, size, ev)
            ],
        )
    if op == "lang":
        # §4.3: true when the nearest self-or-ancestor xml:lang equals the
        # argument or is a sublanguage of it (prefix before '-'),
        # case-insensitive. libxml2's xmlNodeGetLang reads xml:lang ONLY —
        # a plain HTML lang attribute does not count, matching DOMXPath
        # over loadHTML.
        want = _to_string(_eval_value(expr[1], node, pos, size, ev)).lower()
        n = _context_element(node, ev)
        while n is not None:
            v = (n.attrs or {}).get("xml:lang") if type(n) is Node else None
            if v is not None:
                v = v.lower()
                return ("bool", bool(want) and (v == want or v.startswith(want + "-")))
            n = None if n is ev.root else ev.parent(n)
        return ("bool", False)
    if op == "contains":
        a = _to_string(_eval_value(expr[1], node, pos, size, ev))
        b = _to_string(_eval_value(expr[2], node, pos, size, ev))
        return ("bool", b in a)
    if op == "starts-with":
        a = _to_string(_eval_value(expr[1], node, pos, size, ev))
        b = _to_string(_eval_value(expr[2], node, pos, size, ev))
        return ("bool", a.startswith(b))
    if op == "normalize-space":
        arg = expr[1]
        s = (
            _result_string(node)
            if arg is None
            else _to_string(_eval_value(arg, node, pos, size, ev))
        )
        return ("str", " ".join(s.split()))
    if op == "string-length":
        arg = expr[1]
        s = (
            _result_string(node)
            if arg is None
            else _to_string(_eval_value(arg, node, pos, size, ev))
        )
        return ("num", float(len(s)))
    if op == "stringfn":
        arg = expr[1]
        s = (
            _result_string(node)
            if arg is None
            else _to_string(_eval_value(arg, node, pos, size, ev))
        )
        return ("str", s)
    if op == "arith":
        _, o, lhs, rhs = expr
        x = _to_number(_eval_value(lhs, node, pos, size, ev))
        y = _to_number(_eval_value(rhs, node, pos, size, ev))
        if o == "+":
            return ("num", x + y)
        if o == "-":
            return ("num", x - y)
        if o == "*":
            return ("num", x * y)
        if o == "div":
            # IEEE 754 per XPath 1.0 §3.5 — Python float division raises on
            # zero, so spell out the nan/±inf cases
            if y == 0:
                if x != x or x == 0:
                    return ("num", float("nan"))
                sign = _math.copysign(1.0, x) * _math.copysign(1.0, y)
                return ("num", sign * float("inf"))
            return ("num", x / y)
        # mod: remainder with the sign of the DIVIDEND (spec example:
        # 5 mod -2 = 1, -5 mod 2 = -1) — fmod, not Python %
        if y == 0 or x != x or y != y:
            return ("num", float("nan"))
        return ("num", _math.fmod(x, y))
    if op == "neg":
        return ("num", -_to_number(_eval_value(expr[1], node, pos, size, ev)))
    if op == "concat":
        return (
            "str",
            "".join(
                _to_string(_eval_value(a, node, pos, size, ev))
                for a in expr[1:]
            ),
        )
    if op == "substring":
        s = _to_string(_eval_value(expr[1], node, pos, size, ev))
        start = _xpath_round(_to_number(_eval_value(expr[2], node, pos, size, ev)))
        if len(expr) == 4:
            length = _xpath_round(
                _to_number(_eval_value(expr[3], node, pos, size, ev))
            )
            end = start + length
        else:
            end = float("inf")
        if start != start or end != end:  # NaN bound -> empty (§4.2)
            return ("str", "")
        # chars at 1-based positions p with round(start) <= p < end
        return (
            "str",
            "".join(c for i, c in enumerate(s, 1) if i >= start and i < end),
        )
    if op == "substring-before":
        a = _to_string(_eval_value(expr[1], node, pos, size, ev))
        b = _to_string(_eval_value(expr[2], node, pos, size, ev))
        i = a.find(b)
        return ("str", a[:i] if i >= 0 else "")
    if op == "substring-after":
        a = _to_string(_eval_value(expr[1], node, pos, size, ev))
        b = _to_string(_eval_value(expr[2], node, pos, size, ev))
        i = a.find(b)
        return ("str", a[i + len(b) :] if i >= 0 else "")
    if op == "translate":
        s = _to_string(_eval_value(expr[1], node, pos, size, ev))
        frm = _to_string(_eval_value(expr[2], node, pos, size, ev))
        to = _to_string(_eval_value(expr[3], node, pos, size, ev))
        # first occurrence in `frm` wins; chars beyond len(to) are DELETED
        tbl: dict[str, str | None] = {}
        for i, ch in enumerate(frm):
            if ch not in tbl:
                tbl[ch] = to[i] if i < len(to) else None
        out = []
        for ch in s:
            mapped = tbl.get(ch, ch)
            if mapped is not None:
                out.append(mapped)
        return ("str", "".join(out))
    if op == "booleanfn":
        return ("bool", _truth(expr[1], node, pos, size, ev))
    if op == "numberfn":
        arg = expr[1]
        if arg is None:
            return ("num", _to_number(("str", _result_string(node))))
        return ("num", _to_number(_eval_value(arg, node, pos, size, ev)))
    if op == "bool-lit":
        return ("bool", expr[1])
    if op in ("count", "sum"):
        arg = expr[1]
        if arg[0] == "path":
            path = arg[1]
            ctx = [ev.root] if path.absolute else [node]
            it = _iter_path(ctx, path, ev, pos, size)
            if op == "count":
                return ("num", float(sum(1 for _ in it)))
            values = [_result_string(n) for n in it]
        else:
            # attr/text/dotval evaluate to ('set', node string values)
            values = _eval_value(arg, node, pos, size, ev)[1]
        if op == "count":
            return ("num", float(len(values)))
        # sum(): §4.4 — the sum of number(string-value) over every node;
        # any non-numeric string value poisons the total to NaN (IEEE)
        return ("num", float(sum(_str_to_number(v) for v in values)))
    if op in ("ceiling", "floor", "round"):
        x = _to_number(_eval_value(expr[1], node, pos, size, ev))
        if x != x or x in (float("inf"), float("-inf")):
            return ("num", x)
        if op == "ceiling":
            return ("num", float(_math.ceil(x)))
        if op == "floor":
            return ("num", float(_math.floor(x)))
        return ("num", _xpath_round(x))
    if op == "namefn":
        # §4.1 name(): element → tag, attribute → its name, PI → its
        # target, namespace node → its prefix; text/comment nodes (and the
        # synthetic #document container) have no expanded-name → ''. The
        # 1-arg form reads the DOCUMENT-first node of the set ('' if empty)
        if expr[1] is not None:
            nodes = _eval_nodes(expr[1], node, pos, size, ev)
            if not nodes:
                return ("str", "")
            node = min(nodes, key=ev.sort_key) if len(nodes) > 1 else nodes[0]
        t = type(node)
        if t is XPathAttr:
            return ("str", node.name)
        if t is XPathNs:
            return ("str", "xml")
        if t is Node and node.kind == PI:
            return ("str", _pi_target(node))
        tag = node.tag if t is Node and node.kind == ELEMENT else ""
        return ("str", "" if tag.startswith("#") else tag)
    if op == "not":
        return ("bool", not _truth(expr[1], node, pos, size, ev))
    if op in ("and", "or"):
        a = _truth(expr[1], node, pos, size, ev)
        if op == "and":
            return ("bool", a and _truth(expr[2], node, pos, size, ev))
        return ("bool", a or _truth(expr[2], node, pos, size, ev))
    if op == "cmp":
        return ("bool", _compare(expr[1], expr[2], expr[3], node, pos, size, ev))
    raise _SyntaxError()


def _to_string(value) -> str:
    kind, v = value
    if kind == "set":
        return v[0] if v else ""
    if kind == "num":
        return _num_str(v)
    if kind == "bool":
        return "true" if v else "false"
    return v


def _num_str(x: float) -> str:
    # XPath string() of a number: integers print without a decimal point;
    # the specials spell NaN/Infinity (§4.2). int(x) raises on non-finite
    # floats, which arithmetic can now produce.
    if x != x:
        return "NaN"
    if x == float("inf"):
        return "Infinity"
    if x == float("-inf"):
        return "-Infinity"
    return str(int(x)) if x == int(x) else str(x)


def _xpath_round(x: float) -> float:
    """XPath 1.0 round(): floor(x + 0.5) — half-up toward +inf (so
    round(-0.5) is -0, round(2.5) is 3), NaN/±inf pass through. For x in
    [-0.5, -0] floor(x + 0.5) is +0.0, losing the sign §4.4 mandates —
    ``1 div round(-0.5)`` must be -Infinity — so restore it explicitly."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    r = float(_math.floor(x + 0.5))
    if r == 0.0 and _math.copysign(1.0, x) < 0:
        return -0.0
    return r


# XPath 1.0 §3.7 Number ::= Digits ('.' Digits?)? | '.' Digits, with §4.4
# allowing surrounding whitespace (S ::= space/tab/CR/LF only) and ONE
# optional minus sign. No exponents, no 'Infinity'/'nan' spellings, no '+'
# sign — Python float() accepts all of those, so string→number must not
# delegate to it ('1e3' and 'Infinity' are NaN in XPath; libxml2 agrees).
_XPATH_NUM_RE = re.compile(r"^[ \t\r\n]*(-?(?:\d+(?:\.\d*)?|\.\d+))[ \t\r\n]*$")


def _str_to_number(s: str) -> float:
    m = _XPATH_NUM_RE.match(s)
    return float(m.group(1)) if m else float("nan")


def _to_number(value) -> float:
    kind, v = value
    if kind == "set":
        return _str_to_number(v[0]) if v else float("nan")
    if kind == "str":
        return _str_to_number(v)
    if kind == "bool":
        return 1.0 if v else 0.0
    return v


def _compare(op: str, left, right, node, pos, size, ev) -> bool:
    a = _eval_value(left, node, pos, size, ev)
    b = _eval_value(right, node, pos, size, ev)
    # node-set comparison: true iff ANY member satisfies (XPath 1.0 §3.4)
    if a[0] == "set" or b[0] == "set":
        avs = a[1] if a[0] == "set" else [a]
        bvs = b[1] if b[0] == "set" else [b]
        for av in avs:
            av_val = ("str", av) if isinstance(av, str) else av
            for bv in bvs:
                bv_val = ("str", bv) if isinstance(bv, str) else bv
                if _cmp_scalar(op, av_val, bv_val):
                    return True
        return False
    return _cmp_scalar(op, a, b)


def _cmp_scalar(op: str, a, b) -> bool:
    if op in ("=", "!="):
        if a[0] == "num" or b[0] == "num":
            eq = _to_number(a) == _to_number(b)
        elif a[0] == "bool" or b[0] == "bool":
            eq = _truth_value(a) == _truth_value(b)
        else:
            eq = _to_string(a) == _to_string(b)
        return eq if op == "=" else not eq
    x, y = _to_number(a), _to_number(b)
    if x != x or y != y:  # NaN never compares
        return False
    return {"<": x < y, "<=": x <= y, ">": x > y, ">=": x >= y}[op]


def _truth_value(value) -> bool:
    kind, v = value
    if kind == "set":
        return bool(v)
    if kind == "num":
        return v != 0 and v == v
    if kind == "str":
        return bool(v)
    return v


def _truth(expr, node, pos, size, ev) -> bool:
    if expr[0] == "path":
        # existence test: stop at the first matching node — materializing
        # the string value of every match (O(subtree text) each) is only
        # needed when the node-set is actually compared or stringified
        path = expr[1]
        ctx = [ev.root] if path.absolute else [node]
        return next(_iter_path(ctx, path, ev), None) is not None
    return _truth_value(_eval_value(expr, node, pos, size, ev))


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class XPathExpr:
    paths: tuple[_Path, ...]
    outer_index: int | None  # 1-based, from the (...)[N] wrapper
    source: str
    needs_order_fix: bool = field(default=False)

    def _iter(self, root: Node):
        ev = _EvalCtx(root)
        if len(self.paths) == 1 and not self.needs_order_fix:
            yield from _iter_path([root], self.paths[0], ev)
            return
        # union / reverse-axis results: collect, dedup, re-sort in document
        # order (one extra DFS; only paid on the exotic shapes)
        seen: set = set()
        nodes: list = []
        for path in self.paths:
            for n in _iter_path([root], path, ev):
                k = _node_key(n)
                if k not in seen:
                    seen.add(k)
                    nodes.append(n)
        nodes.sort(key=ev.sort_key)
        yield from nodes

    def query(self, root: Node) -> list[Node]:
        it = self._iter(root)
        if self.outer_index is not None:
            i = self.outer_index - 1
            if i < 0:
                return []
            for idx, node in enumerate(it):
                if idx == i:
                    return [node]
            return []
        return list(it)

    def first(self, root: Node) -> Node | None:
        if self.outer_index is not None and self.outer_index != 1:
            result = self.query(root)
            return result[0] if result else None
        return next(self._iter(root), None)


_OUTER_RE = re.compile(r"^\((?P<path>.+)\)\s*\[(?P<idx>\d+)\]$", re.DOTALL)


@lru_cache(maxsize=512)
def _value_order_fix(path: _Path) -> bool:
    """Memoized :func:`_path_needs_order_fix` for predicate-value paths:
    the check runs once per compiled sub-path, not once per context node
    (paths are frozen dataclasses, hashable). Bounded: an unbounded cache
    would pin every distinct _Path (and its predicate AST) for process
    lifetime, outliving the 256-entry compiled-expression cache in
    semantics.py; the predicate is pure, so eviction only costs a
    recompute."""
    return _path_needs_order_fix(path)


def _path_needs_order_fix(path: _Path) -> bool:
    """Paths whose lazy two-phase walk can emit out of document order:
    parent-axis steps (a parent precedes its descendants), in-step
    positionals on a step fed by ``descendant-or-self`` contexts (the root
    context emits its Nth child before deeper, earlier-in-document contexts
    emit theirs), and any NON-FINAL descendant step (with nested same-tag
    matches, an outer context's chain results all emit before an inner
    context's, though the inner ones may precede in document order — e.g.
    ``//table/tr`` with a table nested inside a td). Such paths are
    collected and sorted into document order."""
    def expr_uses(expr) -> bool:
        if expr[0] == "path" and _path_needs_order_fix(expr[1]):
            return True
        return any(
            isinstance(p, tuple) and expr_uses(p) for p in expr[1:]
        )

    if path.id_arg is not None and path.steps:
        # two id() seeds can nest (id element inside another): the outer
        # seed's walk results all emit before the inner seed's, which may
        # precede in document order — same shape as non-final descendants
        return True
    if path.filter_start is not None:
        # FilterExpr seeds can nest the same way when trailing steps walk
        # from them, and multi-context predicate evaluation emits seeds
        # per-context — one eager sort covers both
        return True
    last = len(path.steps) - 1
    for i, step in enumerate(path.steps):
        if step.axis in _ORDER_FIX_AXES:
            return True
        if i < last and step.axis in ("descendant", "descendant-or-self"):
            return True
        for p in step.preds:
            if _positional_pred(p) or expr_uses(p):
                return True
    return False


def _compile_scalar_fallback(expression: str, text: str) -> XPathExpr:
    """Top-level expressions that are valid XPath 1.0 but not node-set
    paths — ``count(//td)``, ``//td = 3``, ``string-length(//caption)`` —
    are NOT eager-validation errors in the reference: PHP's
    ``DOMXPath::query`` evaluates a scalar-valued expression without
    warning and coerces the result to an EMPTY DOMNodeList
    (``ext/dom/xpath.c`` forces ``XPATH_NODESET`` for query(), yielding a
    zero-length list for non-nodeset results), so ``Parser.php:73-80``
    accepts the expression and selection then fails with the
    table-not-found error. Mirror that: if the full value grammar parses
    the text as a scalar expression, compile to an empty node-set.
    Node-set-valued expressions never land here (``parse_union`` accepts
    every node-set form, including FilterExpr/id() starts), so a fallback
    parse that yields a node-set op means the path grammar and the value
    grammar disagree — treat it as invalid rather than silently dropping
    real nodes.

    One carve-out: ``position()`` / ``last()`` used at the TOP level
    (outside any predicate) have no context position — libxml2 raises
    XPATH_INVALID_CTXT_POSITION when they are evaluated without one, so
    ``DOMXPath::query`` emits a warning and the reference's eager
    validation raises. Predicates carry their own context position, and
    their sub-expressions live inside ``_Step.preds`` (not in the value
    AST's tuple arms), so a tuple walk that skips ``('path', …)`` arms
    sees exactly the context-position-free scope."""

    def _uses_ctx_position(expr) -> bool:
        if not isinstance(expr, tuple):
            return False
        if expr[0] in ("pos", "last"):
            return True
        if expr[0] == "path":
            # predicates inside the path evaluate with their own
            # context position; nothing else of a path is an expression
            return False
        return any(_uses_ctx_position(arm) for arm in expr[1:])

    try:
        parser = _Parser(_tokenize(text))
        value = parser.parse_expr()
        if not parser.at_end():
            raise _SyntaxError()
        if value[0] in _Parser._NODESET_OPS:
            raise _SyntaxError()
        if _uses_ctx_position(value):
            # top-level position()/last(): XPATH_INVALID_CTXT_POSITION
            raise _SyntaxError()
    except (_SyntaxError, IndexError, ValueError):
        raise ParserError(msg_invalid_xpath(expression)) from None
    return XPathExpr(
        paths=(), outer_index=None, source=expression, needs_order_fix=False
    )


def compile_xpath(expression: str) -> XPathExpr:
    """Parse ``expression`` or raise ``ParserError`` (reference message,
    ``Parser.php:77``)."""
    text = expression.strip()
    outer_index: int | None = None
    match = _OUTER_RE.match(text)
    if match:
        outer_index = int(match.group("idx"))
        text = match.group("path").strip()
    try:
        parser = _Parser(_tokenize(text))
        paths = parser.parse_union()
        if not parser.at_end():
            raise _SyntaxError()
    except _SyntaxError:
        # Re-parse the ORIGINAL stripped text, not the _OUTER_RE-stripped
        # inner: '(count(//td))[1]' must route through _expr_to_paths,
        # which rejects predicates on scalars exactly as libxml2's eval
        # type error (and hence the reference's eager validation) does.
        return _compile_scalar_fallback(expression, expression.strip())
    except (IndexError, ValueError):
        raise ParserError(msg_invalid_xpath(expression)) from None
    return XPathExpr(
        paths=tuple(paths),
        outer_index=outer_index,
        source=expression,
        needs_order_fix=len(paths) > 1 or any(_path_needs_order_fix(p) for p in paths),
    )
