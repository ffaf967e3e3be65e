"""The DOM the operators read (maincontent, markdown, metadata): ``Node``
trees built from libxml2's, as the reference parses (PHP
``DOMDocument::loadHTML``, ``src/Parser.php:417-454``; ``libxml2.py``), and
the ``Cell`` values the extraction's grid (``_tree.c``) emits. The tree keeps
whitespace text verbatim, adjacent character data as one text node,
comments and processing instructions as children, and adds no implicit
``<tbody>``.
"""

from __future__ import annotations

from typing import NamedTuple

ELEMENT = 1
COMMENT = 2
PI = 3  # processing instruction (<?php ... ?>): a childNode, no textContent

_EMPTY_ATTRS: dict = {}
_EMPTY_CHILDREN: list = []


class Node:
    """One element, comment or PI node (``kind`` ∈ {ELEMENT, COMMENT, PI}).

    Text content does NOT get Node objects: text children are plain ``str``
    entries in ``children``. The nodes come from libxml2's tree, built by
    the compiled walker (``_tree.c``, loaded by ``libxml2.py``) in one C call
    per document: it allocates each Node and stores the five slots directly,
    without running ``__init__``, with the same values ``__init__`` would
    give (comment/PI nodes share the empty attrs and children below). The
    slots are therefore part of that walker's contract: it checks them when
    it is bound.
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
            # comment/PI nodes share immutable empties (read-only by
            # construction)
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



class Cell(NamedTuple):
    """One emitted grid cell copy: raw nodeValue text + the media refs found
    inside the source cell, in document order; shared across colspan and
    rowspan. ``_tree.c`` fills the tuple as ``tuple.__new__`` does."""

    text: str
    media: tuple[str, ...] = ()


def parse_html(html: str) -> tuple[Node, list[str]]:
    """libxml2's tree for the whole of ``html``, html/head/body included,
    under a ``#document`` node, with the errors libxml2 reported: the
    reference's ``loadHTML`` (Parser.php:446). Never raises on malformed
    input."""
    return libxml2.parse(html)


from . import libxml2  # noqa: E402  (the binding builds Nodes, so it imports this module)
