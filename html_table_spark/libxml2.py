"""The reference's HTML parser and XPath engine: libxml2 2.9 over ctypes.

The reference parses with PHP ``DOMDocument::loadHTML`` under
``LIBXML_NOWARNING|LIBXML_NOERROR`` (``Parser.php:446``), which is
libxml2's ``htmlReadMemory`` with RECOVER|NOERROR|NOWARNING, and selects
its table with ``DOMXPath``, which is libxml2's XPath. This module makes
the same calls on the installed ``libxml2.so.2`` and converts what the
extraction reads into ``htmldom.Node`` trees:

- text and CDATA become ``str`` children, adjacent runs merged;
- comments become COMMENT nodes;
- a PI becomes a PI node whose ``data`` is ``target + " " + content``
  (the target alone when there is no content);
- attributes keep the first of any duplicate name;
- the DTD node libxml2 adds is dropped.

The struct layouts below are libxml2 2.9's (``tree.h``, ``xpath.h``), and
2.9's HTML tokenizer is the one the reference's PHP 8.2 links, so importing
this module fails unless the library is 2.9.x. Executors need the same
library: ``--py-files`` ships no compiled code.

``HTML_PARSE_HUGE`` is not passed, as the reference does not pass it: libxml2
then stops building the tree 256 elements deep, and drops what lies below.
"""

from __future__ import annotations

import ctypes
import ctypes.util
from contextlib import contextmanager

from .errors import ParserError, msg_invalid_xpath
from .htmldom import COMMENT, ELEMENT, PI, Node

_PARSE_OPTIONS = 1 | 32 | 64  # HTML_PARSE_RECOVER | NOERROR | NOWARNING
_ELEMENT, _TEXT, _CDATA, _PI, _COMMENT = 1, 3, 4, 7, 8
_XPATH_NODESET = 1


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
# xmlDoc, xmlAttr and the xmlNs copies an XPath node set holds all keep
# ``type`` at xmlNode's offset, so every node-set entry's type reads as an
# xmlNode's; the xmlNs copies die with the node set


class _XmlNodeSet(ctypes.Structure):
    _fields_ = [("nodeNr", ctypes.c_int), ("nodeMax", ctypes.c_int), ("nodeTab", ctypes.POINTER(ctypes.c_void_p))]


class _XPathObject(ctypes.Structure):
    # the leading fields of xmlXPathObject
    _fields_ = [("type", ctypes.c_int), ("nodesetval", ctypes.POINTER(_XmlNodeSet))]


class _XmlError(ctypes.Structure):
    # the leading fields of xmlError (xmlerror.h)
    _fields_ = [("domain", ctypes.c_int), ("code", ctypes.c_int), ("message", ctypes.c_char_p)]


_ERROR_FUNC = ctypes.CFUNCTYPE(None, ctypes.c_void_p, ctypes.POINTER(_XmlError))
# xmlGenericErrorFunc is variadic; a callback that reads only the fixed
# arguments ignores the rest
_GENERIC_FUNC = ctypes.CFUNCTYPE(None, ctypes.c_void_p, ctypes.c_char_p)
_SILENT = _GENERIC_FUNC(lambda _ctx, _msg: None)


def _version(lib) -> str:
    lib.__xmlParserVersion.argtypes = []
    lib.__xmlParserVersion.restype = ctypes.POINTER(ctypes.c_char_p)
    return lib.__xmlParserVersion().contents.value.decode()


def load(path: str | None):
    """``libxml2.so.2`` at ``path`` with its prototypes declared, or
    ImportError when there is none or it is not 2.9.x."""
    if path is None:
        raise ImportError("libxml2 not found (ctypes.util.find_library('xml2') is None); install libxml2 2.9.x")
    lib = ctypes.CDLL(path)
    version = _version(lib)
    if not (len(version) == 5 and version.startswith("209")):
        raise ImportError(f"{path} is libxml2 {version}; the binding needs 2.9.x (209xx)")
    protos = {
        "htmlReadMemory": (_node_p, [ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p, ctypes.c_char_p, ctypes.c_int]),
        "xmlNewDoc": (_node_p, [ctypes.c_char_p]),
        "xmlFreeDoc": (None, [_node_p]),
        "xmlDocGetRootElement": (_node_p, [_node_p]),
        "xmlXPathCompile": (ctypes.c_void_p, [ctypes.c_char_p]),
        "xmlXPathFreeCompExpr": (None, [ctypes.c_void_p]),
        "xmlXPathNewContext": (ctypes.c_void_p, [_node_p]),
        "xmlXPathFreeContext": (None, [ctypes.c_void_p]),
        "xmlXPathSetContextNode": (ctypes.c_int, [_node_p, ctypes.c_void_p]),
        "xmlXPathCompiledEval": (ctypes.POINTER(_XPathObject), [ctypes.c_void_p, ctypes.c_void_p]),
        "xmlXPathFreeObject": (None, [ctypes.POINTER(_XPathObject)]),
        "xmlSetStructuredErrorFunc": (None, [ctypes.c_void_p, _ERROR_FUNC]),
        "xmlSetGenericErrorFunc": (None, [ctypes.c_void_p, _GENERIC_FUNC]),
        "xmlThrDefSetGenericErrorFunc": (None, [ctypes.c_void_p, _GENERIC_FUNC]),
    }
    for name, (restype, argtypes) in protos.items():
        fn = getattr(lib, name)
        fn.restype, fn.argtypes = restype, argtypes
    # XPath errors have no parser context and would go to stderr; the
    # handler is per thread, so set this thread's and new threads' default
    lib.xmlSetGenericErrorFunc(None, _SILENT)
    lib.xmlThrDefSetGenericErrorFunc(None, _SILENT)
    return lib


_lib = load(ctypes.util.find_library("xml2"))
VERSION = _version(_lib)


@contextmanager
def document(html: str, errors: list[str] | None = None):
    """libxml2's document for ``html``, parsed as the reference parses it,
    freed on exit. With an ``errors`` list, the messages of libxml2's
    structured error stream (``xmlSetStructuredErrorFunc``: the stream PHP's
    ``libxml_get_errors`` collects, which NOERROR does not silence) are
    appended to it."""
    data = html.encode("utf-8", "surrogatepass")
    if errors is None:
        doc = _lib.htmlReadMemory(data, len(data), None, b"UTF-8", _PARSE_OPTIONS)
    else:

        def collect(_ctx, error):
            errors.append((error.contents.message or b"").decode("utf-8", "replace").strip())

        callback = _ERROR_FUNC(collect)
        _lib.xmlSetStructuredErrorFunc(None, callback)
        try:
            doc = _lib.htmlReadMemory(data, len(data), None, b"UTF-8", _PARSE_OPTIONS)
        finally:
            _lib.xmlSetStructuredErrorFunc(None, _ERROR_FUNC())
    try:
        yield doc
    finally:
        if doc:
            _lib.xmlFreeDoc(doc)


@contextmanager
def _compiled(expression: str):
    """``expression`` compiled, or None when it does not compile. Compiled
    per use, as DOMXPath::query compiles per query: libxml2 swaps a union's
    operands inside a compiled expression when it evaluates the union for
    its first or last node (xmlXPathCompSwap), so a reused one can select
    differently from a fresh one. A compile costs ~2 us."""
    comp = _lib.xmlXPathCompile(expression.encode("utf-8", "surrogatepass"))
    try:
        yield comp
    finally:
        if comp:
            _lib.xmlXPathFreeCompExpr(comp)


def _evaluate(doc, comp) -> list | None:
    """The node set ``comp`` selects in ``doc``, in libxml2's order, with the
    document's root element as the context node (as ``DOMXPath::query``
    sets it): a pointer per element, None per node of any other kind; [] for
    a scalar result, None when evaluation fails."""
    ctx = _lib.xmlXPathNewContext(doc)
    obj = None
    try:
        _lib.xmlXPathSetContextNode(_lib.xmlDocGetRootElement(doc), ctx)
        obj = _lib.xmlXPathCompiledEval(comp, ctx)
        if not obj:
            return None
        result = obj.contents
        if result.type != _XPATH_NODESET or not result.nodesetval:
            return []
        nodeset = result.nodesetval.contents
        # kinds are read now: namespace entries are copies freed with the
        # node set; elements live as long as ``doc``
        out = []
        for address in nodeset.nodeTab[: nodeset.nodeNr]:
            node_p = ctypes.cast(address, _node_p)
            out.append(node_p if node_p.contents.type == _ELEMENT else None)
        return out
    finally:
        if obj:
            _lib.xmlXPathFreeObject(obj)
        _lib.xmlXPathFreeContext(ctx)


def query(doc, expression: str) -> list:
    """What ``expression`` selects in ``doc``: a pointer per element, None
    per node of any other kind (attribute, text, comment, PI, namespace,
    document); [] when it selects none, is scalar-valued or fails to
    evaluate. The pointers live as long as ``doc``."""
    with _compiled(expression) as comp:
        if not doc or not comp:
            return []
        return _evaluate(doc, comp) or []


def validate(expression: str) -> None:
    """The reference's eager check (Parser.php:73-80): ``expression`` must
    compile and evaluate against an empty document, else ParserError."""
    with _compiled(expression) as comp:
        if comp:
            doc = _lib.xmlNewDoc(b"1.0")
            try:
                if _evaluate(doc, comp) is not None:
                    return
            finally:
                _lib.xmlFreeDoc(doc)
    raise ParserError(msg_invalid_xpath(expression))


def _text(node_p) -> str:
    out = []
    while node_p:
        node = node_p.contents
        if node.content is not None and node.type in (_TEXT, _CDATA):
            out.append(node.content.decode("utf-8", "replace"))
        node_p = node.next
    return "".join(out)


def _convert(node_p, out: list) -> None:
    # recursive through _element: libxml2 builds at most 256 levels
    while node_p:
        node = node_p.contents
        kind = node.type
        if kind == _ELEMENT:
            out.append(_element(node))
        elif kind == _TEXT or kind == _CDATA:
            content = node.content
            data = content.decode("utf-8", "replace") if content else ""
            if out and type(out[-1]) is str:
                out[-1] += data
            elif data:
                out.append(data)
        elif kind == _COMMENT:
            out.append(Node(COMMENT, data=node.content.decode("utf-8", "replace") if node.content else ""))
        elif kind == _PI:
            target = node.name.decode("utf-8", "replace")
            data = f"{target} {node.content.decode('utf-8', 'replace')}" if node.content else target
            out.append(Node(PI, data=data))
        node_p = node.next


def _element(node: _XmlNode) -> Node:
    attrs = None
    attr_p = node.properties
    if attr_p:
        attrs = {}
        while attr_p:
            attr = attr_p.contents
            attrs.setdefault(attr.name.decode("utf-8", "replace"), _text(attr.children))
            attr_p = attr.next
    element = Node(ELEMENT, tag=node.name.decode("utf-8", "replace"), attrs=attrs)
    children = node.children
    if children:
        _convert(children, element.children)
    return element


def element_name(node_p) -> str:
    """The tag of the element at ``node_p``."""
    return node_p.contents.name.decode("utf-8", "replace")


def to_node(node_p) -> Node:
    """The element at ``node_p``, with its subtree, as an ``htmldom.Node``."""
    return _element(node_p.contents)


def parse(html: str) -> tuple[Node, list[str]]:
    """The whole document, html/head/body included, under a ``#document``
    node, with libxml2's error messages."""
    errors: list[str] = []
    root = Node(ELEMENT, tag="#document")
    with document(html, errors) as doc:
        if doc:
            _convert(doc.contents.children, root.children)
    return root, errors
