"""Test helpers over libxml2's whole-document tree (``htmldom.parse_html``).

:func:`extract` runs the Python grid (``grid_oracle``) over the whole
converted tree, html/head/body wrappers included, with the tables found by a
Python walk instead of libxml2's XPath. Comparing it with ``parse_document``
(XPath selects, the compiled grid reads the selected subtrees) checks the
selection and the compiled grid. :func:`unwrap` is the normal form tree
goldens are written in.
"""

from __future__ import annotations

from html_table_spark import semantics
from html_table_spark.config import ParserConfig
from html_table_spark.errors import MSG_TABLE_NOT_FOUND
from html_table_spark.htmldom import ELEMENT, Node, parse_html
from tests import grid_oracle

_WRAPPERS = frozenset({"html", "head", "body"})


def unwrap(root: Node) -> Node:
    """Normal form for tree comparison: ``html``/``head``/``body`` elements
    are removed with their children hoisted in place, and the text runs
    that become adjacent are merged."""

    def hoist(children: list, out: list) -> None:
        for child in children:
            if type(child) is Node and child.kind == ELEMENT and child.tag in _WRAPPERS:
                hoist(child.children, out)
            elif type(child) is str and out and type(out[-1]) is str:
                out[-1] += child
            else:
                out.append(child)

    flat = Node(ELEMENT, tag=root.tag)
    hoist(root.children, flat.children)
    return flat


def _top_level_tables(root: Node) -> list[Node]:
    """Tables with no <table> ancestor, document order."""
    found: list[Node] = []
    stack = list(reversed(root.children))
    while stack:
        node = stack.pop()
        if type(node) is not Node or node.kind != ELEMENT:
            continue
        if node.tag == "table":
            found.append(node)
        else:
            stack.extend(reversed(node.children))
    return found


def extract(html: str, config: ParserConfig) -> list[semantics.ExtractedTable]:
    """``parse_document(html, config)`` over the whole-document tree, tables
    found by a walk. Covers all-tables mode and the first table,
    ``(//table)[1]``."""
    root, errors = parse_html(html)
    if config.fail_on_xml_errors and errors:
        msg = "\n".join(f"parse error: {e}" for e in errors)
        return [semantics.ExtractedTable(table_idx=0, status="error", error_msg=msg)]
    tables = _top_level_tables(root)
    if config.select_all_tables:
        return [grid_oracle.extract_table(t, config, i) for i, t in enumerate(tables)]
    assert config.table_expression == "(//table)[1]", config.table_expression
    if not tables:
        return [semantics.ExtractedTable(table_idx=0, status="error", error_msg=MSG_TABLE_NOT_FOUND)]
    return [grid_oracle.extract_table(tables[0], config, 0)]
