"""Tolerant HTML tokenizer + lightweight DOM tree.

The north-star design calls for an "HTML5-tolerant byte-stream tag tokenizer
plus a table-grid resolver" implemented in pure Python and vectorized at the
Arrow-batch level (many documents per Python call).  This module is the
tokenizer/tree half: it turns one HTML string into a small DOM-ish tree with
the *same observable shape* the reference obtains from libxml2's tolerant
HTML parser (PHP ``DOMDocument::loadHTML`` with ``LIBXML_NOWARNING |
LIBXML_NOERROR``, reference ``src/Parser.php:417-454``):

- tag and attribute names lowercased;
- character/entity references decoded (``&nbsp;`` → U+00A0 — the header trim
  charset depends on this, ``Parser.php:539``);
- whitespace text nodes PRESERVED verbatim (the reference's rowspan carry is
  keyed by DOM child index *including* whitespace text nodes,
  ``Parser.php:559``, so formatting is semantically load-bearing);
- adjacent character data merged into a single text node (libxml behavior —
  required for stable child indices);
- no implicit ``<tbody>`` insertion (libxml's HTML4 parser, unlike the HTML5
  algorithm, leaves ``<tr>`` as a direct child of ``<table>`` — fixture F02
  depends on this);
- recoverable tag soup: implied end tags (``<tr>`` closes an open ``<tr>``,
  ``<td>`` closes ``<td>/<th>``, …), stray end tags ignored, misplaced end
  tags ignored when a higher end-priority element is open above their
  match (libxml2 ``htmlAutoCloseOnClose``), unclosed elements closed at EOF.

Recoverable-parse anomalies are collected into ``parse_errors`` so that the
reference's ``failOnXmlErrors()`` mode (``Parser.php:256-271``) can be
honoured as a per-document ``status='error'`` instead of an exception.

Pure stdlib (``html.parser``) — the sandbox has no lxml; at cluster scale
this also removes a native-lib deployment dependency from --py-files.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

TEXT = 0
ELEMENT = 1
COMMENT = 2
PI = 3  # processing instruction (<?php ... ?>) — a real childNode in PHP
# DOM (shifts the reference's rowspan-carry child index, Parser.php:559),
# with no textContent contribution

_EMPTY_ATTRS: dict = {}
_EMPTY_CHILDREN: list = []


class Node:
    """One element or comment node (``kind`` ∈ {ELEMENT, COMMENT}).

    TEXT content does NOT get Node objects: text children are plain ``str``
    entries in ``children`` — the tokenizer's text slices are reused as-is,
    which removes roughly half of all node allocations on text-heavy
    markup. Kept deliberately small (``__slots__``); the extraction hot
    path builds millions of nodes per Arrow batch.
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
            # text/comment nodes share immutable empties — the tree builder
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


VOID_ELEMENTS = frozenset(
    "area base basefont br col embed frame hr img input isindex keygen link meta param source track wbr".split()
)

# Implied end tags: when a start tag `t` arrives, pop open elements while the
# current element's tag is in CLOSE_BEFORE[t].  None of these sets contain
# 'table', so implied closes never cross a table boundary (matches libxml's
# HTML4 recovery on the fixture envelope).
_TABLE_INNER = frozenset({"td", "th", "tr", "caption", "colgroup"})
_BLOCK_CLOSES_P = frozenset({"p"})
CLOSE_BEFORE: dict[str, frozenset] = {
    "td": frozenset({"td", "th", "p"}),
    "th": frozenset({"td", "th", "p"}),
    "tr": _TABLE_INNER | {"p"},
    "thead": _TABLE_INNER | {"thead", "tbody", "tfoot", "p"},
    "tbody": _TABLE_INNER | {"thead", "tbody", "tfoot", "p"},
    "tfoot": _TABLE_INNER | {"thead", "tbody", "tfoot", "p"},
    "caption": _TABLE_INNER | {"p"},
    "colgroup": _TABLE_INNER | {"p"},
    "li": frozenset({"li", "p"}),
    "dt": frozenset({"dt", "dd", "p"}),
    "dd": frozenset({"dt", "dd", "p"}),
    "option": frozenset({"option"}),
    "p": _BLOCK_CLOSES_P,
    # block-level starts implicitly close an open <p>
    "div": _BLOCK_CLOSES_P,
    "table": _BLOCK_CLOSES_P,
    "ul": _BLOCK_CLOSES_P,
    "ol": _BLOCK_CLOSES_P,
    "pre": _BLOCK_CLOSES_P,
    "blockquote": _BLOCK_CLOSES_P,
    "form": _BLOCK_CLOSES_P,
    "hr": _BLOCK_CLOSES_P,
    "h1": _BLOCK_CLOSES_P,
    "h2": _BLOCK_CLOSES_P,
    "h3": _BLOCK_CLOSES_P,
    "h4": _BLOCK_CLOSES_P,
    "h5": _BLOCK_CLOSES_P,
    "h6": _BLOCK_CLOSES_P,
}

_STRUCTURAL = frozenset({"html", "head", "body"})

# libxml2's htmlEndPriority: a misplaced end tag may close only open
# elements of lower or equal priority (htmlAutoCloseOnClose). A stray
# </div> or </b> inside a cell therefore cannot close the cell, its row or
# its table, so a table parses the same whatever markup wraps it.
END_PRIORITY: dict[str, int] = {
    "div": 150, "td": 160, "th": 160, "tr": 170,
    "thead": 180, "tbody": 180, "tfoot": 180, "table": 190,
    "head": 200, "body": 200, "html": 220,
}
_DEFAULT_END_PRIORITY = 100


def _close_misnested(stack: list[Node], tag: str, errors: list[str]) -> None:
    """End tag ``tag`` whose element is not on top of ``stack``: pop up to
    the nearest match, unless an open element above it has a higher end
    priority. An ignored end tag is a parse error, as libxml2 reports the
    mismatch (``fail_on_xml_errors`` reads it)."""
    priority = END_PRIORITY.get(tag, _DEFAULT_END_PRIORITY)
    for i in range(len(stack) - 1, 0, -1):
        open_tag = stack[i].tag
        if open_tag == tag:
            del stack[i:]
            return
        if END_PRIORITY.get(open_tag, _DEFAULT_END_PRIORITY) > priority:
            errors.append(f"end tag </{tag}> ignored inside <{open_tag}>")
            return
    errors.append(f"unexpected end tag </{tag}>")


class _TreeBuilder(HTMLParser):
    """Incremental tree construction over the stdlib tolerant tokenizer."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node(ELEMENT, tag="#document")
        self.stack: list[Node] = [self.root]
        self.errors: list[str] = []

    # -- helpers -------------------------------------------------------

    def _current(self) -> Node:
        return self.stack[-1]

    def _append(self, node: Node) -> None:
        self._current().children.append(node)

    def _append_text(self, data: str) -> None:
        if not data:
            return
        children = self._current().children
        if children and type(children[-1]) is str:
            # libxml keeps contiguous character data as ONE text node; child
            # indices (rowspan carry keys) depend on this merge.
            children[-1] += data
        else:
            children.append(data)

    # -- tokenizer callbacks --------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _STRUCTURAL:
            # <html>/<head>/<body> wrappers are skipped entirely — every
            # XPath in scope uses the descendant axis, so wrappers are
            # structurally inert (libxml would synthesize them anyway).
            return
        close_set = CLOSE_BEFORE.get(tag)
        if close_set:
            while len(self.stack) > 1 and self.stack[-1].tag in close_set:
                self.stack.pop()
        attr_dict: dict[str, str] = {}
        for name, value in attrs:
            name = name.lower()
            if name not in attr_dict:  # libxml keeps the first duplicate
                attr_dict[name] = value if value is not None else ""
        node = Node(ELEMENT, tag=tag, attrs=attr_dict)
        self._append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _STRUCTURAL:
            return
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
            return
        self.handle_starttag(tag, attrs)
        # non-void self-closing (XHTML-ish): empty element
        if self.stack and self.stack[-1].tag == tag:
            self.stack.pop()

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in _STRUCTURAL:
            return
        if tag in VOID_ELEMENTS:
            return
        if self.stack[-1].tag == tag:
            self.stack.pop()
        else:
            _close_misnested(self.stack, tag, self.errors)

    def handle_data(self, data: str) -> None:
        self._append_text(data)

    def handle_comment(self, data: str) -> None:
        # Comments ARE childNodes in the reference DOM: they shift the
        # rowspan-carry child index (Parser.php:559) but contribute nothing
        # to nodeValue — keep them as real nodes.
        self._append(Node(COMMENT, data=data))

    def handle_pi(self, data: str) -> None:
        # libxml2's HTML parser keeps <?...> as a PI childNode (PHP DOM
        # shows them); they count for child indices, contribute no text
        self._append(Node(PI, data=data))

    def parse_html_declaration(self, i: int) -> int:
        # align with the fast tokenizer and libxml2's htmlSkipBogusComment:
        # real comments parse normally; DOCTYPE, <![CDATA[ and bogus <!x
        # declarations skip to the FIRST '>' and produce no node (stdlib's
        # default would scan marked sections to ']]>' and emit bogus
        # comments — a different, SGML-ish recovery)
        rawdata = self.rawdata
        if rawdata[i : i + 4] == "<!--":
            return self.parse_comment(i)
        gt = rawdata.find(">", i)
        if gt == -1:
            return -1  # incomplete at buffer end
        return gt + 1


def parse_html_stdlib(html: str) -> tuple[Node, list[str]]:
    """Reference tree builder over the stdlib tokenizer — kept as the
    differential-testing oracle for the fast tokenizer below."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
        if builder.cdata_elem and builder.rawdata:
            # unclosed <script>/<style> raw text runs to EOF (libxml2
            # htmlParseScript; the stdlib goahead loop just buffers it)
            builder.handle_data(builder.rawdata)
            builder.rawdata = ""
    except Exception as exc:  # pragma: no cover - extreme tag soup
        builder.errors.append(f"tokenizer error: {exc}")
    if len(builder.stack) > 1:
        builder.errors.append(
            "unclosed elements at EOF: " + ",".join(n.tag for n in builder.stack[1:])
        )
    return builder.root, builder.errors


# ---------------------------------------------------------------------------
# Fast tokenizer
# ---------------------------------------------------------------------------
# The stdlib tokenizer costs ~2/3 of kernel time (feed/goahead/updatepos do
# line-tracking and incremental-buffer work we never use).  This is a
# single-pass regex scanner producing the SAME tree shape — verified by a
# differential test over all fixtures and the synthetic corpus
# (tests/test_htmldom.py) — at ~3-4× the throughput.

# start-tag alternative first: it's ~half of all tokens and the alternatives
# are mutually exclusive on the character after '<', so order only affects
# how fast the engine reaches the common case
_TAG_RE = re.compile(
    r"""<(?:
        (?P<name>[a-zA-Z][^\s/>]*)(?P<attrs>(?:"[^"]*"|'[^']*'|[^>])*?)(?P<selfclose>/?)>
      | (?P<end>/)\s*(?P<ename>[a-zA-Z][^\s>]*)[^>]*>
      | !--(?P<comment>.*?)--\s*>
      | (?P<bang>![^>]*)>
      | \?(?P<pi>[^>]*)>
    )""",
    re.DOTALL | re.VERBOSE,
)
_G_NAME = _TAG_RE.groupindex["name"]
_G_ATTRS = _TAG_RE.groupindex["attrs"]
_G_SELFCLOSE = _TAG_RE.groupindex["selfclose"]
_G_ENAME = _TAG_RE.groupindex["ename"]
_G_COMMENT = _TAG_RE.groupindex["comment"]
_G_PI = _TAG_RE.groupindex["pi"]

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)
        (?:\s*=\s*("([^"]*)"|'([^']*)'|[^\s>]*))?""",
    re.VERBOSE,
)

_RAWTEXT = frozenset({"script", "style"})
_RAWTEXT_END = {t: re.compile(f"</{t}", re.IGNORECASE) for t in _RAWTEXT}

# one-lookup dispatch table for known tags: (close_set|None, skip, void,
# rawtext). Unknown tags (custom elements) fall back to the default tuple.
_TAG_INFO: dict[str, tuple[frozenset | None, bool, bool, bool]] = {}
for _t in (
    set(CLOSE_BEFORE) | VOID_ELEMENTS | _STRUCTURAL | _RAWTEXT
    | {"a", "span", "b", "i", "u", "em", "strong", "td", "th", "tr", "table"}
):
    _TAG_INFO[_t] = (
        CLOSE_BEFORE.get(_t),
        _t in _STRUCTURAL,
        _t in VOID_ELEMENTS,
        _t in _RAWTEXT,
    )
_TAG_INFO_DEFAULT: tuple = (None, False, False, False)


def _parse_attrs(attrs_src: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _ATTR_RE.finditer(attrs_src):
        name = m.group(1).lower()
        if name in out:  # libxml keeps the first duplicate
            continue
        raw = m.group(2)
        if raw is None:
            value = ""
        elif m.group(3) is not None:
            value = m.group(3)
        elif m.group(4) is not None:
            value = m.group(4)
        else:
            value = raw
        out[name] = unescape(value) if "&" in value else value
    return out


def parse_html_fast(html: str) -> tuple[Node, list[str]]:
    """Single-pass tolerant tokenizer + tree builder (same observable tree
    as :func:`parse_html_stdlib`).

    Hot-loop notes: text slices are appended directly (adjacent runs merge
    at append time, so entity decoding per-piece equals decoding the merged
    run — an entity can never contain '<'); group lookups are positional;
    ``.lower()`` only allocates when the input isn't already lowercase."""
    root = Node(ELEMENT, tag="#document")
    stack = [root]
    errors: list[str] = []
    pos = 0
    n = len(html)
    find = html.find
    tag_match = _TAG_RE.match

    def append_text(data: str) -> None:
        if "&" in data:
            data = unescape(data)
        children = stack[-1].children
        if children and type(children[-1]) is str:
            children[-1] += data
        else:
            children.append(data)

    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            append_text(html[pos:])
            break
        if lt > pos:
            append_text(html[pos:lt])
        m = tag_match(html, lt)
        if m is None:
            # lone '<' that opens no tag — character data (stdlib parity)
            append_text("<")
            pos = lt + 1
            continue
        pos = m.end()
        g = m.group
        # one C call fetches the whole start-tag branch (the common case)
        name, attrs_src, selfclose = g(_G_NAME, _G_ATTRS, _G_SELFCLOSE)
        if name is not None:
            tag = name if name.islower() else name.lower()
            close_set, skip, void, rawtext = _TAG_INFO.get(tag, _TAG_INFO_DEFAULT)
            if skip:
                continue
            if close_set:
                while len(stack) > 1 and stack[-1].tag in close_set:
                    stack.pop()
            attrs = (
                _parse_attrs(attrs_src)
                if attrs_src and not attrs_src.isspace()
                else None  # Node shares one empty dict for attr-less elements
            )
            node = Node(ELEMENT, tag=tag, attrs=attrs)
            stack[-1].children.append(node)
            if void:
                continue
            if selfclose:
                continue  # empty element (XHTML-ish)
            stack.append(node)
            if rawtext:
                # raw-text content: case-insensitive search for the end tag
                # from pos (lowercasing the whole document per script/style
                # element would be O(k·n) allocation)
                m_end = _RAWTEXT_END[tag].search(html, pos)
                end = m_end.start() if m_end else n
                if end > pos:
                    node.children.append(html[pos:end])
                if m_end is None:
                    # raw text ran to EOF: keep the element on the stack so
                    # the unclosed-at-EOF error fires, matching the stdlib
                    # engine (failOnXmlErrors parity must not depend on the
                    # tokenizer choice)
                    pos = n
                    continue
                gt = find(">", end)
                pos = n if gt == -1 else gt + 1
                stack.pop()
            continue
        ename = g(_G_ENAME)
        if ename is not None:
            tag = ename if ename.islower() else ename.lower()
            if tag in _STRUCTURAL or tag in VOID_ELEMENTS:
                continue
            if stack[-1].tag == tag:
                stack.pop()
            else:
                _close_misnested(stack, tag, errors)
            continue
        comment = g(_G_COMMENT)
        if comment is not None:
            stack[-1].children.append(Node(COMMENT, data=comment))
            continue
        pi = g(_G_PI)
        if pi is not None:
            # PHP DOM keeps <?...> as a PI childNode — index parity
            stack[-1].children.append(Node(PI, data=pi))
            continue
        # doctype / bogus declarations: skipped to '>' with no node
        # (libxml2 htmlSkipBogusComment)
    if len(stack) > 1:
        errors.append(
            "unclosed elements at EOF: " + ",".join(n.tag for n in stack[1:])
        )
    return root, errors


# the runtime tokenizer (Parser.php:446 ``loadHTML`` under
# ``LIBXML_NOWARNING|NOERROR``): never raises on malformed input, and its
# error list feeds the ``fail_on_xml_errors`` config knob
parse_html = parse_html_fast


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
