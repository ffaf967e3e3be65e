"""The DOM the extraction reads: ``Node`` trees built from libxml2's.

The reference parses with libxml2's tolerant HTML parser (PHP
``DOMDocument::loadHTML`` with ``LIBXML_NOWARNING | LIBXML_NOERROR``,
reference ``src/Parser.php:417-454``), and so does this package
(``libxml2.py``). What the reference's semantics read from that tree:

- whitespace text nodes are kept verbatim (the reference's rowspan carry is
  keyed by DOM child index *including* whitespace text nodes,
  ``Parser.php:559``, so formatting is semantically load-bearing);
- adjacent character data is one text node, so child indices are stable;
- no implicit ``<tbody>`` (libxml's HTML4 parser, unlike the HTML5
  algorithm, leaves ``<tr>`` as a direct child of ``<table>``; fixture F02
  depends on this);
- comments and processing instructions are childNodes too.
"""

from __future__ import annotations

TEXT = 0
ELEMENT = 1
COMMENT = 2
PI = 3  # processing instruction (<?php ... ?>) — a real childNode in PHP
# DOM (shifts the reference's rowspan-carry child index, Parser.php:559),
# with no textContent contribution

_EMPTY_ATTRS: dict = {}
_EMPTY_CHILDREN: list = []


class Node:
    """One element, comment or PI node (``kind`` ∈ {ELEMENT, COMMENT, PI}).

    TEXT content does NOT get Node objects: text children are plain ``str``
    entries in ``children``, which removes roughly half of all node
    allocations on text-heavy markup. Kept deliberately small
    (``__slots__``); the extraction hot path builds millions of nodes per
    Arrow batch.

    The extraction's nodes come from libxml2's tree, built by the compiled
    walker (``_tree.c``, loaded by ``libxml2.py``) in one C call per
    selected table or per document: it allocates each Node and stores the
    five slots directly, without running ``__init__``, with the same values
    ``__init__`` would give (comment/PI nodes share the empty attrs and
    children below). The slots are therefore part of that walker's
    contract: it checks them when it is bound.
    """

    __slots__ = ("kind", "tag", "attrs", "children", "data")

    def __init__(self, kind: int, tag: str = "", attrs: dict | None = None, data: str = ""):
        self.kind = kind
        self.tag = tag
        self.data = data
        if kind == ELEMENT:
            self.attrs = attrs if attrs is not None else _EMPTY_ATTRS
            self.children: list[Node] = []
        else:
            # comment/PI nodes share immutable empties — the converter
            # allocates millions of these per Arrow batch and never mutates
            # them (attrs/children are read-only by construction)
            self.attrs = _EMPTY_ATTRS
            self.children = _EMPTY_CHILDREN

    # --- reference parity helpers -------------------------------------

    def text_content(self) -> str:
        """PHP ``DOMNode::$nodeValue`` for elements = textContent: the
        concatenation of all descendant text (str) children, comments
        excluded (reference cell coercion, ``Parser.php:568``)."""
        out: list[str] = []
        stack: list = [self]
        # iterative DFS, document order
        while stack:
            node = stack.pop()
            if type(node) is str:
                out.append(node)
            elif node.kind == ELEMENT:
                stack.extend(reversed(node.children))
        return "".join(out)

    def get_attribute(self, name: str) -> str:
        """PHP ``DOMElement::getAttribute`` — '' when absent."""
        return self.attrs.get(name, "")

    def iter_elements(self):
        """All descendant elements (not self), document order."""
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if type(node) is Node and node.kind == ELEMENT:
                yield node
                stack.extend(reversed(node.children))

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        if self.kind == COMMENT:
            return f"Comment({self.data!r})"
        return f"<{self.tag} {self.attrs} children={len(self.children)}>"


def parse_html(html: str) -> tuple[Node, list[str]]:
    """libxml2's tree for the whole of ``html``, html/head/body included,
    under a ``#document`` node, with the errors libxml2 reported: the
    reference's ``loadHTML`` (Parser.php:446). Never raises on malformed
    input."""
    return libxml2.parse(html)


def php_int_cast(value: str) -> int:
    """PHP ``(int)`` string-cast semantics (reference ``Parser.php:550``):
    leading whitespace skipped, optional sign, longest numeric prefix parsed,
    anything else → 0.  ``(int)"3x" == 3``; ``(int)"" == 0``; ``(int)"1e3"``
    follows PHP's numeric-string fast path (== 1000)."""
    s = value.lstrip(" \t\n\r\v\f")
    i, n = 0, len(s)
    if i < n and s[i] in "+-":
        i += 1
    start_digits = i
    while i < n and s[i].isdigit():
        i += 1
    if i == start_digits:
        return 0
    int_end = i
    # PHP numeric-string float prefix: 12.5 / 1e3 / 1.5e2 → truncate toward 0
    j = i
    frac = ""
    exp = ""
    if j < n and s[j] == ".":
        j += 1
        fstart = j
        while j < n and s[j].isdigit():
            j += 1
        frac = s[fstart:j]
    if j < n and s[j] in "eE":
        k = j + 1
        if k < n and s[k] in "+-":
            k += 1
        estart = k
        while k < n and s[k].isdigit():
            k += 1
        if k > estart:
            exp = s[j:k]
            j = k
    if frac or exp:
        try:
            return int(float(s[:j]))
        except (ValueError, OverflowError):
            return int(s[:int_end])
    return int(s[:int_end])


from . import libxml2  # noqa: E402  (the binding builds Nodes, so it imports this module)
