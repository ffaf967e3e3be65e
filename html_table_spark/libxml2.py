"""The reference's HTML parser and XPath engine: libxml2 2.9, its tree as
``htmldom.Node``, and the grid over it.

The reference parses with PHP ``DOMDocument::loadHTML`` under
``LIBXML_NOWARNING|LIBXML_NOERROR`` (``Parser.php:446``), which is
libxml2's ``htmlReadMemory`` with RECOVER|NOERROR|NOWARNING, and selects
its table with ``DOMXPath``, which is libxml2's XPath. This module makes
the same calls on the installed ``libxml2.so.2`` over ctypes. The rest runs
in C, ``_tree.c``, one call each: :func:`top_level_tables` finds a
document's outermost tables (what ``//table[not(ancestor::table)]``
selects), :func:`table` reads a selected table's caption, header and rows,
into Python objects or into a :class:`Builder` that encodes them as Arrow
buffers, and :func:`parse` converts a whole document to ``htmldom.Node``
objects under these rules:

- text and CDATA become ``str`` children, adjacent runs merged, an empty
  run dropped unless it merges;
- comments become COMMENT nodes;
- a PI becomes a PI node whose ``data`` is ``target + " " + content``
  (the target alone when there is no content);
- attributes keep the first of any duplicate name;
- names and content are decoded as UTF-8 with ``replace``;
- the DTD node libxml2 adds is dropped.

Nodes are passed around as their addresses (ints), which live as long as
their document.

The struct layouts read here and in ``_tree.c`` are libxml2 2.9's
(``tree.h``, ``xpath.h``), and 2.9's HTML tokenizer is the one the
reference's PHP 8.2 links, so importing this module fails unless the
library is 2.9.x. ``_tree.c`` is compiled on first use (the first
:func:`table`, ``Builder``, :func:`top_level_tables` or :func:`parse`),
not on import, so validating XPath (:func:`validate`, which ``config``
imports) needs no compiler. It is built with ``sysconfig``'s C compiler
against ``Python.h`` (no libxml2 headers, no link step) into
``$XDG_CACHE_HOME/html_table_spark`` (default ``~/.cache/html_table_spark``),
keyed by a hash of the source and the extension suffix; that first use
raises ImportError when it cannot be built. A build's mtime is refreshed
whenever it is loaded, and each new build deletes all but the 4 most
recently used. Executors need the same library, a C compiler and Python's
headers: ``--py-files`` ships the source, nothing compiled.

``HTML_PARSE_HUGE`` is not passed, as the reference does not pass it: libxml2
then stops building the tree 256 elements deep, and drops what lies below.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import hashlib
import importlib.resources
import importlib.util
import os
import shlex
import subprocess
import sysconfig
import tempfile
import threading
from contextlib import contextmanager

from .errors import ParserError, msg_invalid_xpath
from .htmldom import _EMPTY_ATTRS, _EMPTY_CHILDREN, COMMENT, ELEMENT, PI, Cell, Node

_PARSE_OPTIONS = 1 | 32 | 64  # HTML_PARSE_RECOVER | NOERROR | NOWARNING
_ELEMENT = 1
_XPATH_NODESET = 1


class _XmlNode(ctypes.Structure):
    # the leading fields of xmlNode, which xmlDoc, xmlAttr and the xmlNs
    # copies an XPath node set holds share: every node-set entry's type
    # reads as an xmlNode's (the xmlNs copies die with the node set)
    _fields_ = [("_private", ctypes.c_void_p), ("type", ctypes.c_int), ("name", ctypes.c_char_p)]


_node_p = ctypes.POINTER(_XmlNode)


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
# builds kept in the cache: the loaded one and the 3 used before it
_KEEP_BUILDS = 4


def _prune(cache: str) -> None:
    """Deletes all but the ``_KEEP_BUILDS`` most recently used builds in
    ``cache``; another process may be pruning at the same time."""
    builds = []
    for entry in os.scandir(cache):
        if entry.name.startswith("_tree-") and entry.is_file():
            try:
                builds.append((entry.stat().st_mtime, entry.path))
            except FileNotFoundError:
                pass
    for _, path in sorted(builds, reverse=True)[_KEEP_BUILDS:]:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def build_tree_module():
    """``_tree.c`` compiled and loaded as ``<package>._tree``, or ImportError
    naming the compiler when it cannot be built. The source is read as a
    package resource, so this works from a ``--py-files`` zip too. Each
    build lands under a temporary name and is renamed into place, so
    workers that build at once do not race; then the stale builds go."""
    name = f"{__package__}._tree"
    source = importlib.resources.files(__package__).joinpath("_tree.c").read_bytes()
    suffix = sysconfig.get_config_var("EXT_SUFFIX")
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "html_table_spark")
    path = os.path.join(cache, f"_tree-{hashlib.sha256(source + suffix.encode()).hexdigest()[:16]}{suffix}")
    if not os.path.exists(path):
        cc = sysconfig.get_config_var("CC") or "cc"
        try:
            os.makedirs(cache, exist_ok=True)
            with tempfile.TemporaryDirectory(dir=cache) as tmp:
                src, out = os.path.join(tmp, "_tree.c"), os.path.join(tmp, "_tree" + suffix)
                with open(src, "wb") as fh:
                    fh.write(source)
                include = sysconfig.get_paths()["include"]
                cmd = [*shlex.split(cc), "-shared", "-fPIC", "-O2", "-I", include, src, "-o", out]
                proc = subprocess.run(cmd, capture_output=True, text=True)
                if proc.returncode:
                    raise ImportError(f"cannot build {name} with {cc!r}: {proc.stderr.strip()[-2000:]}")
                os.replace(out, path)
            _prune(cache)
        except OSError as exc:
            raise ImportError(f"cannot build {name} with {cc!r} in {cache}: {exc}") from exc
    else:
        try:
            os.utime(path)  # marks it used, for _prune
        except OSError:
            pass
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    module.bind(Node, ELEMENT, COMMENT, PI, _EMPTY_ATTRS, _EMPTY_CHILDREN, Cell)
    return module


_LOCK = threading.Lock()


def _walker():
    """The ``_tree`` module, built and loaded on first use rather than on
    import, so a driver that only validates XPath (``config``) needs no C
    compiler. It also sets the module's ``Builder`` and ``table``:

    - ``Builder()``: EXTRACTED_SCHEMA rows in C buffers: ``start(doc_id)``
      per document, ``table(..., out=builder)`` then ``add()`` or
      ``error()`` per table, ``empty()`` for a document without tables,
      ``flush()`` per output batch;
    - ``table(address, section, offset, sections, projection=(), out=None)``
      -> ``(caption, header, rows)`` for the table element at address: its
      caption, header row (section, offset; none when section is None) and
      rows, projected through the user header's (offset, name) pairs; rows
      is None when out is a Builder, which holds them for its ``add()``."""
    global _tree, Builder, table
    with _LOCK:
        if "_tree" not in globals():
            _tree = build_tree_module()
            Builder, table = _tree.Builder, _tree.table
    return _tree


def __getattr__(name: str):
    """``_tree``, ``Builder`` and ``table`` (see :func:`_walker`)."""
    if name in ("_tree", "Builder", "table"):
        _walker()
        return globals()[name]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


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
    sets it): an address per element, None per node of any other kind; []
    for a scalar result, None when evaluation fails."""
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
        addresses = nodeset.nodeTab[: nodeset.nodeNr]
        return [a if ctypes.cast(a, _node_p).contents.type == _ELEMENT else None for a in addresses]
    finally:
        if obj:
            _lib.xmlXPathFreeObject(obj)
        _lib.xmlXPathFreeContext(ctx)


def query(doc, expression: str) -> list:
    """What ``expression`` selects in ``doc``: an address per element, None
    per node of any other kind (attribute, text, comment, PI, namespace,
    document); [] when it selects none, is scalar-valued or fails to
    evaluate."""
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


def element_name(address: int) -> str:
    """The tag of the element at ``address``."""
    return ctypes.cast(address, _node_p).contents.name.decode("utf-8", "replace")


def top_level_tables(doc) -> list[int]:
    """The addresses of ``doc``'s tables with no table ancestor, in document
    order: what ``//table[not(ancestor::table)]`` selects. Nested tables
    are part of their outer cell's text, not tables of their own."""
    return _walker().top_level_tables(ctypes.addressof(doc.contents)) if doc else []


def parse(html: str) -> tuple[Node, list[str]]:
    """The whole document, html/head/body included, under a ``#document``
    node, with libxml2's error messages."""
    errors: list[str] = []
    root = Node(ELEMENT, tag="#document")
    with document(html, errors) as doc:
        if doc:
            root.children = _walker().children(ctypes.addressof(doc.contents))
    return root, errors
