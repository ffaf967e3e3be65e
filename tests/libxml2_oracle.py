"""Test oracle: the reference's own HTML parser, libxml2 2.9, over ctypes.

The reference parses with PHP ``DOMDocument::loadHTML`` under
``LIBXML_NOWARNING|LIBXML_NOERROR`` (``Parser.php:446``), i.e. libxml2's
``htmlReadMemory`` with RECOVER|NOERROR|NOWARNING. :func:`parse` runs that
call on the installed ``libxml2.so.2`` and converts the result into the
same ``htmldom.Node`` tree that :func:`htmldom.parse_html_fast` builds:

- text and CDATA become ``str`` children, adjacent runs merged;
- comments become COMMENT nodes;
- a PI becomes a PI node whose ``data`` is ``target + " " + content``
  (the target alone when there is no content);
- attributes keep the first of any duplicate name;
- the DTD node libxml2 always adds is dropped.

libxml2 wraps every document in ``html``/``body`` (and ``head``); the fast
tokenizer does not yet. :func:`unwrap` is the one normal form tree
comparisons use until it does. :func:`extract` runs the extraction itself
on libxml2's tree, wrappers included, as the reference does.

A test that calls the oracle skips, with the reason, when no libxml2 2.9 is
installed: the struct layout below is 2.9's (``tree.h``).
"""

from __future__ import annotations

import ctypes
import ctypes.util
from dataclasses import replace
from unittest import mock

import pytest

from html_table_spark import semantics
from html_table_spark.config import ParserConfig
from html_table_spark.htmldom import COMMENT, ELEMENT, PI, Node

HTML_PARSE_RECOVER = 1
HTML_PARSE_NOERROR = 32
HTML_PARSE_NOWARNING = 64

_ELEMENT_NODE, _TEXT_NODE, _CDATA_NODE, _PI_NODE, _COMMENT_NODE = 1, 3, 4, 7, 8


class _XmlNode(ctypes.Structure):
    pass


class _XmlAttr(ctypes.Structure):
    pass


_node_p = ctypes.POINTER(_XmlNode)
_XmlNode._fields_ = [
    ("_private", ctypes.c_void_p),
    ("type", ctypes.c_int),
    ("name", ctypes.c_char_p),
    ("children", _node_p),
    ("last", _node_p),
    ("parent", _node_p),
    ("next", _node_p),
    ("prev", _node_p),
    ("doc", ctypes.c_void_p),
    ("ns", ctypes.c_void_p),
    ("content", ctypes.c_char_p),
    ("properties", ctypes.POINTER(_XmlAttr)),
]
_XmlAttr._fields_ = [
    ("_private", ctypes.c_void_p),
    ("type", ctypes.c_int),
    ("name", ctypes.c_char_p),
    ("children", _node_p),
    ("last", _node_p),
    ("parent", _node_p),
    ("next", ctypes.POINTER(_XmlAttr)),
]
# xmlDoc shares xmlNode's first four fields, so its children pointer is
# read through the same struct


class _XmlError(ctypes.Structure):
    # the leading fields of libxml2 2.9's xmlError (xmlerror.h)
    _fields_ = [
        ("domain", ctypes.c_int),
        ("code", ctypes.c_int),
        ("message", ctypes.c_char_p),
    ]


_ERROR_FUNC = ctypes.CFUNCTYPE(None, ctypes.c_void_p, ctypes.POINTER(_XmlError))


def _load():
    path = ctypes.util.find_library("xml2")
    if path is None:
        return None, "libxml2 not installed (find_library('xml2') is None)"
    lib = ctypes.CDLL(path)
    lib.__xmlParserVersion.restype = ctypes.POINTER(ctypes.c_char_p)
    version = lib.__xmlParserVersion().contents.value.decode()
    if not version.startswith("209"):
        return None, f"libxml2 {version} is not 2.9; the struct layout is 2.9's"
    lib.htmlReadMemory.restype = _node_p
    lib.htmlReadMemory.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p, ctypes.c_char_p, ctypes.c_int,
    ]
    lib.xmlFreeDoc.argtypes = [_node_p]
    lib.xmlSetStructuredErrorFunc.argtypes = [ctypes.c_void_p, _ERROR_FUNC]
    lib.xmlSetStructuredErrorFunc.restype = None
    return lib, version


_lib, VERSION = _load()


def _text(node_p) -> str:
    out = []
    while node_p:
        node = node_p.contents
        if node.type in (_TEXT_NODE, _CDATA_NODE) and node.content is not None:
            out.append(node.content.decode())
        node_p = node.next
    return "".join(out)


def _append_text(children: list, data: str) -> None:
    if children and type(children[-1]) is str:
        children[-1] += data
    elif data:
        children.append(data)


def _convert(node_p, out: list) -> None:
    while node_p:
        node = node_p.contents
        kind = node.type
        if kind == _ELEMENT_NODE:
            attrs: dict[str, str] = {}
            attr_p = node.properties
            while attr_p:
                attr = attr_p.contents
                attrs.setdefault(attr.name.decode(), _text(attr.children))
                attr_p = attr.next
            element = Node(ELEMENT, tag=node.name.decode(), attrs=attrs)
            _convert(node.children, element.children)
            out.append(element)
        elif kind in (_TEXT_NODE, _CDATA_NODE):
            _append_text(out, node.content.decode() if node.content else "")
        elif kind == _COMMENT_NODE:
            out.append(Node(COMMENT, data=node.content.decode() if node.content else ""))
        elif kind == _PI_NODE:
            target = node.name.decode()
            data = f"{target} {node.content.decode()}" if node.content else target
            out.append(Node(PI, data=data))
        node_p = node.next


def _read(html: str):
    if _lib is None:
        pytest.skip(VERSION)
    data = html.encode("utf-8", "surrogatepass")
    return _lib.htmlReadMemory(
        data, len(data), None, b"UTF-8",
        HTML_PARSE_RECOVER | HTML_PARSE_NOERROR | HTML_PARSE_NOWARNING,
    )


def parse(html: str) -> tuple[Node, list[str]]:
    """libxml2's tree for ``html`` as the reference parses it, in the
    ``parse_html`` signature (libxml2 errors are suppressed, so the error
    list is always empty)."""
    doc = _read(html)
    root = Node(ELEMENT, tag="#document")
    if doc:
        try:
            _convert(doc.contents.children, root.children)
        finally:
            _lib.xmlFreeDoc(doc)
    return root, []


def errors(html: str) -> list[str]:
    """The errors libxml2 reports while parsing ``html`` as the reference
    does, from its structured error stream (``xmlSetStructuredErrorFunc``):
    the stream PHP's ``libxml_get_errors`` collects and the reference's
    ``failOnXmlErrors()`` reads (Parser.php:450-453). NOERROR silences only
    the SAX error channel, not this one."""
    if _lib is None:
        pytest.skip(VERSION)
    found: list[str] = []

    def collect(_ctx, error):
        found.append((error.contents.message or b"").decode().strip())

    # the callback is reset before this frame, which holds it, returns
    callback = _ERROR_FUNC(collect)
    _lib.xmlSetStructuredErrorFunc(None, callback)
    try:
        doc = _read(html)
    finally:
        _lib.xmlSetStructuredErrorFunc(None, _ERROR_FUNC())
    if doc:
        _lib.xmlFreeDoc(doc)
    return found


_WRAPPERS = frozenset({"html", "head", "body"})


def unwrap(root: Node) -> Node:
    """Normal form for tree comparison: ``html``/``head``/``body`` elements
    are removed with their children hoisted in place, and the text runs
    that become adjacent are merged."""

    def hoist(children: list, out: list) -> None:
        for child in children:
            if type(child) is Node and child.kind == ELEMENT and child.tag in _WRAPPERS:
                hoist(child.children, out)
            elif type(child) is str:
                _append_text(out, child)
            else:
                out.append(child)

    flat = Node(ELEMENT, tag=root.tag)
    hoist(root.children, flat.children)
    return flat


def extract(html: str, config: ParserConfig) -> list[semantics.ExtractedTable]:
    """``parse_document(html, config)`` with libxml2 as the tokenizer.

    libxml2 reports no errors under NOERROR, so ``fail_on_xml_errors`` is
    off: callers compare what both parsers recover, on the same config."""
    with mock.patch.object(semantics, "parse_html", parse):
        return semantics.parse_document(html, replace(config, fail_on_xml_errors=False))
