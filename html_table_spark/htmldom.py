"""Tolerant HTML tokenizer + lightweight DOM tree.

The north-star design calls for an "HTML5-tolerant byte-stream tag tokenizer
plus a table-grid resolver" implemented in pure Python and vectorized at the
Arrow-batch level (many documents per Python call).  This module is the
tokenizer/tree half: it turns one HTML string into a small DOM-ish tree with
the *same observable shape* the reference obtains from libxml2's tolerant
HTML parser (PHP ``DOMDocument::loadHTML`` with ``LIBXML_NOWARNING |
LIBXML_NOERROR``, reference ``src/Parser.php:417-454``):

- tag and attribute names lowercased;
- character/entity references decoded as libxml2 2.9 does: HTML 4 names
  only, each ended by ``;`` (``&nbsp;`` → U+00A0 — the header trim charset
  depends on this, ``Parser.php:539``);
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
  match (libxml2 ``htmlAutoCloseOnClose``), unclosed elements closed at EOF,
  a tag cut off by end of input built as a tag.

Recoverable-parse anomalies are collected into ``parse_errors`` so that the
reference's ``failOnXmlErrors()`` mode (``Parser.php:256-271``) can be
honoured as a per-document ``status='error'`` instead of an exception.

A single-pass regex scanner in pure Python, so executors need no native
library shipped with --py-files. Its trees are checked against libxml2
2.9.14 itself, the reference's parser (``tests/libxml2_oracle.py``). Its
token grammar (``_TAG_RE``) is the only one in the package.
"""

from __future__ import annotations

import re
from html.entities import name2codepoint

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
# current element's tag is in CLOSE_BEFORE[t]. The sets are libxml2 2.9.14's
# htmlStartClose pairs (checked against libxml2 itself by
# tests/test_htmldom.py), so e.g. a cell closes an open inline <b>, a
# caption or thead after a cell nests in it, and <dt> does not close <dt>.
# None of the sets contain 'table', so implied closes never cross a table
# boundary.
CLOSE_BEFORE: dict[str, frozenset] = {
    tag: frozenset(closes.split())
    for tag, closes in {
        "td": "td th p a b font i span u",
        "th": "td th p a b font i span u",
        "tr": "tr td th caption colgroup p",
        "thead": "caption colgroup",
        "tbody": "thead tbody tfoot tr td th caption colgroup p",
        "tfoot": "thead tbody tr td th caption colgroup p",
        "caption": "p",
        "colgroup": "caption colgroup p",
        "col": "caption p",
        "table": "p a pre h1 h2 h3 h4 h5 h6",
        "p": "p b big i s small strike tt u h1 h2 h3 h4 h5 h6",
        "li": "li p address dl pre h1 h2 h3 h4 h5 h6",
        "dt": "dd p address dir menu pre",
        "dd": "dt p address dir menu pre",
        "dl": "dt p address dir menu pre",
        "ul": "ol p address dir menu pre",
        "ol": "ul p",
        "pre": "ul p",
        "menu": "ul p",
        "address": "ul p",
        "form": "form p address dir dl menu ol pre ul h1 h2 h3 h4 h5 h6",
        "fieldset": "legend p a pre h1 h2 h3 h4 h5 h6",
        "center": "b font i p",
        "a": "a",
        "option": "option",
        "optgroup": "option",
        **dict.fromkeys("dir div blockquote hr h1 h2 h3 h4 h5 h6".split(), "p"),
    }.items()
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


# The one HTML token grammar, walked by the tree builder. Start-tag
# alternative first: it's ~half of all tokens and the alternatives are
# mutually exclusive on the character after '<', so order only affects how
# fast the engine reaches the common case. Names use libxml2's
# htmlParseHTMLName class, so '<td<b>' is a td. Every tag ends at '>' or at
# the end of input, as libxml2 builds a tag cut off by end of input; the
# attribute region is possessive, so a tag with no '>' after it costs one
# linear scan, never a backtracking search.
_TAG_RE = re.compile(
    r"""<(?:
        (?P<name>[a-zA-Z][-a-zA-Z0-9:_.]*)
        (?P<attrs>(?:"[^"]*"|'[^']*'|[^>"'/]++|/(?!>)|["'])*+)(?P<selfclose>/?)(?:>|\Z)
      | (?P<end>/)(?:(?P<ename>[a-zA-Z][-a-zA-Z0-9:_.]*)[^>]*+(?:>|\Z)|(?![a-zA-Z]))
      | !--(?P<comment>.*?)--(?:\s*|!)>
      | !(?:--|(?i:doctype))[^>]*+(?:>|\Z)
      | \?(?:(?P<pi>[^>]*+)>|.*)
    )""",
    re.DOTALL | re.VERBOSE,
)
_G_NAME = _TAG_RE.groupindex["name"]
_G_ATTRS = _TAG_RE.groupindex["attrs"]
_G_SELFCLOSE = _TAG_RE.groupindex["selfclose"]
_G_END = _TAG_RE.groupindex["end"]
_G_ENAME = _TAG_RE.groupindex["ename"]
_G_COMMENT = _TAG_RE.groupindex["comment"]
_G_PI = _TAG_RE.groupindex["pi"]

# an attribute, or a run libxml2 drops because no name starts it (its
# htmlParseStartTag skips such a run up to the next blank). A quoted value
# the tag ends inside runs to the tag's end, as libxml2's runs to the end
# of input.
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)
        (?:\s*=\s*("([^"]*)(?:"|\Z)|'([^']*)(?:'|\Z)|[^\s>]*))?
      | \S+""",
    re.VERBOSE,
)

_RAWTEXT = frozenset({"script", "style"})
_RAWTEXT_END = {t: re.compile(f"</{t}", re.IGNORECASE) for t in _RAWTEXT}

# one-lookup dispatch table for known tags: (close_set|None, skip, void,
# rawtext). Unknown tags (custom elements) fall back to the default tuple.
_TAG_INFO: dict[str, tuple[frozenset | None, bool, bool, bool]] = {}
for _t in set(CLOSE_BEFORE) | VOID_ELEMENTS | _STRUCTURAL | _RAWTEXT:
    _TAG_INFO[_t] = (
        CLOSE_BEFORE.get(_t),
        _t in _STRUCTURAL,
        _t in VOID_ELEMENTS,
        _t in _RAWTEXT,
    )
_TAG_INFO_DEFAULT: tuple = (None, False, False, False)


# libxml2's htmlIsBooleanAttr: a valueless boolean attribute gets its own
# name as value (``<td nowrap>`` reads nowrap="nowrap"), any other ''
_BOOLEAN_ATTRS = frozenset(
    "checked compact declare defer disabled ismap multiple nohref noresize "
    "noshade nowrap readonly selected".split()
)

# libxml2 2.9 decodes only the HTML 4 entity set (plus &apos;), and a named
# reference only when ';' follows its name (htmlParseEntityRef), so
# "&notice" and "&ap;" stay literal; html.unescape would decode both
_ENTITIES = {name: chr(cp) for name, cp in name2codepoint.items()}
_ENTITIES["apos"] = "'"
_REF_RE = re.compile(r"&(?:#[xX]([0-9a-fA-F]*);?|#([0-9]*);?|([A-Za-z_:][-A-Za-z0-9_:.]*);)")


def _decode_ref(m: re.Match) -> str:
    """One reference as libxml2 decodes it (htmlParseCharRef); '' for a
    character reference to a code point XML does not allow."""
    hex_digits, dec_digits, name = m.groups()
    if name is not None:
        return _ENTITIES.get(name, m.group(0))
    digits, base = (hex_digits, 16) if hex_digits is not None else (dec_digits, 10)
    # libxml2 stops accumulating past 0x10FFFF; 8 significant digits
    # already exceed it, and int() of a huge digit run would raise
    cp = int(digits.lstrip("0")[:8] or "0", base)
    valid = cp in (0x9, 0xA, 0xD) or 0x20 <= cp <= 0xD7FF or 0xE000 <= cp <= 0xFFFD
    return chr(cp) if valid or 0x10000 <= cp <= 0x10FFFF else ""


def _decode_attr(value: str) -> str:
    """An attribute value's references decoded; an invalid character
    reference ends the value, as htmlParseHTMLAttribute writes it into its
    C string as a NUL (a literal NUL ends it there too)."""
    return _REF_RE.sub(lambda m: _decode_ref(m) or "\0", value).split("\0", 1)[0]


def _parse_attrs(attrs_src: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _ATTR_RE.finditer(attrs_src):
        name = m.group(1)
        if name is None:
            continue
        name = name.lower()
        if name in out:  # libxml keeps the first duplicate
            continue
        raw = m.group(2)
        if raw is None:
            value = name if name in _BOOLEAN_ATTRS else ""
        elif m.group(3) is not None:
            value = m.group(3)
        elif m.group(4) is not None:
            value = m.group(4)
        else:
            value = raw
        out[name] = _decode_attr(value) if "&" in value else value
    return out


def _rawtext_end(html: str, tag: str, pos: int) -> tuple[int, int | None]:
    """The raw text of a ``<script>``/``<style>`` whose start tag ends at
    ``pos``: ``(end, after)``, ``after`` being the position past its end
    tag, or None when the raw text runs to the end of ``html``. A
    case-insensitive search from ``pos``: lowercasing the whole document
    per element would be O(k·n) allocation."""
    m_end = _RAWTEXT_END[tag].search(html, pos)
    if m_end is None:
        return len(html), None
    end = m_end.start()
    gt = html.find(">", end)
    return end, len(html) if gt == -1 else gt + 1


def parse_html_fast(html: str) -> tuple[Node, list[str]]:
    """Single-pass tolerant tokenizer + tree builder: libxml2's tree for
    ``html`` without its implied ``html``/``head``/``body`` wrappers.

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
            data = _REF_RE.sub(_decode_ref, data)
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
            # lone '<' that opens no tag — character data, as in libxml2
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
                end, after = _rawtext_end(html, tag, pos)
                if end > pos:
                    node.children.append(html[pos:end])
                pos = n if after is None else after
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
        if g(_G_END):
            # '</' with no name after it: libxml2's htmlParseEndTag drops
            # the '</' and what follows stays character data
            errors.append("end tag without a name")
        # a doctype or an unterminated comment is skipped to '>' with no
        # node; any other '<!' opens no tag and stays character data
    # elements still open at the end of input close silently: libxml2
    # reports no error for a payload cut off mid-table
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
