/* libxml2's tree as htmldom.Node objects, the reference's grid over it, and
   the extraction's output rows as Arrow buffers.

   libxml2.py builds and loads this file as <package>._tree and binds it to
   htmldom's Node and Cell classes once (bind). children() converts a
   subtree to Nodes under the rules libxml2.py's docstring lists, and
   top_level_tables() finds a document's outermost tables. table() reads a
   selected table's caption, header and rows with the semantics
   semantics.py lists, building no Node: the grid is C arrays (sheet), which
   become rows of Cells for parse_document, or stay in a Builder, whose
   add() encodes them as output spans (spans.encode_table_flat's encoding)
   straight into the growable buffers of EXTRACTED_SCHEMA's columns, and
   whose flush() hands those over as pa.Array.from_buffers arguments. Text
   is stored as the UTF-8 of each text node's decode(..., "replace").

   Only the leading fields of xmlNode and xmlAttr (tree.h) are read,
   declared below as the ctypes binding declares them, so the build needs
   Python.h alone: no libxml2 headers, nothing to link. */

#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <structmember.h>
#include <string.h>

enum { XML_ELEMENT = 1, XML_TEXT = 3, XML_CDATA = 4, XML_PI = 7, XML_COMMENT = 8 };

typedef struct xml_attr xml_attr;
typedef struct xml_node {
    void *private_;
    int type;
    const char *name;
    struct xml_node *children, *last, *parent, *next, *prev;
    void *doc, *ns;
    const char *content;
    xml_attr *properties;
} xml_node;
struct xml_attr {
    void *private_;
    int type;
    const char *name;
    xml_node *children, *last, *parent;
    xml_attr *next;
};

/* what bind() holds: Node, its kind values, shared empties and Cell */
enum { NODE_TYPE, ELEMENT, COMMENT, PI, EMPTY_ATTRS, EMPTY_CHILDREN, CELL_TYPE, EMPTY_STR, HELD };
/* Node's slots, in make_node's argument order */
static const char *const SLOTS[] = {"kind", "tag", "attrs", "children", "data"};
#define NSLOTS 5

typedef struct {
    PyObject *held[HELD];
    Py_ssize_t offset[NSLOTS];
} state;

static PyObject *
decode(const char *s)
{
    return PyUnicode_DecodeUTF8(s, (Py_ssize_t)strlen(s), "replace");
}

/* A Node with the given slot values; steals all five references. */
static PyObject *
make_node(state *st, PyObject *kind, PyObject *tag, PyObject *attrs, PyObject *children, PyObject *data)
{
    PyTypeObject *type = (PyTypeObject *)st->held[NODE_TYPE];
    PyObject *node = type->tp_alloc(type, 0);
    PyObject *values[NSLOTS] = {kind, tag, attrs, children, data};
    for (int i = 0; i < NSLOTS; i++) {
        if (node == NULL)
            Py_DECREF(values[i]);
        else
            *(PyObject **)((char *)node + st->offset[i]) = values[i];
    }
    return node;
}

/* The concatenated text and CDATA content of an attribute's children. */
static PyObject *
attr_value(state *st, xml_node *n)
{
    PyObject *value = Py_NewRef(st->held[EMPTY_STR]);
    for (; n && value; n = n->next) {
        if ((n->type == XML_TEXT || n->type == XML_CDATA) && n->content) {
            PyObject *piece = decode(n->content);
            Py_SETREF(value, piece ? PyUnicode_Concat(value, piece) : NULL);
            Py_XDECREF(piece);
        }
    }
    return value;
}

static PyObject *
attributes(state *st, xml_attr *a)
{
    PyObject *attrs = PyDict_New();
    for (; a && attrs; a = a->next) {
        PyObject *name = decode(a->name ? a->name : "");
        int seen = name ? PyDict_Contains(attrs, name) : -1;
        PyObject *value = seen == 0 ? attr_value(st, a->children) : NULL;
        /* the first of a duplicate name wins */
        if (seen < 0 || (seen == 0 && (value == NULL || PyDict_SetItem(attrs, name, value) < 0)))
            Py_CLEAR(attrs);
        Py_XDECREF(name);
        Py_XDECREF(value);
    }
    return attrs;
}

static int convert(state *st, xml_node *n, PyObject *out);

static PyObject *
element(state *st, xml_node *n)
{
    PyObject *tag = decode(n->name ? n->name : "");
    PyObject *attrs = n->properties ? attributes(st, n->properties) : Py_NewRef(st->held[EMPTY_ATTRS]);
    PyObject *children = PyList_New(0);
    if (tag == NULL || attrs == NULL || children == NULL || convert(st, n->children, children) < 0) {
        Py_XDECREF(tag);
        Py_XDECREF(attrs);
        Py_XDECREF(children);
        return NULL;
    }
    return make_node(st, Py_NewRef(st->held[ELEMENT]), tag, attrs, children, Py_NewRef(st->held[EMPTY_STR]));
}

static PyObject *
leaf(state *st, int kind, PyObject *data)
{
    if (data == NULL)
        return NULL;
    return make_node(st, Py_NewRef(st->held[kind]), Py_NewRef(st->held[EMPTY_STR]),
                     Py_NewRef(st->held[EMPTY_ATTRS]), Py_NewRef(st->held[EMPTY_CHILDREN]), data);
}

/* Appends the sibling chain from n to out. Text and CDATA runs merge into
   one str; an empty run is dropped unless it merges. */
static int
convert(state *st, xml_node *n, PyObject *out)
{
    for (; n; n = n->next) {
        PyObject *item;
        if (n->type == XML_ELEMENT) {
            /* libxml2 builds at most 256 levels; this guards the C stack */
            if (Py_EnterRecursiveCall(" converting a libxml2 tree"))
                return -1;
            item = element(st, n);
            Py_LeaveRecursiveCall();
        }
        else if (n->type == XML_TEXT || n->type == XML_CDATA) {
            item = n->content ? decode(n->content) : Py_NewRef(st->held[EMPTY_STR]);
            Py_ssize_t last = PyList_GET_SIZE(out) - 1;
            if (item && last >= 0 && PyUnicode_CheckExact(PyList_GET_ITEM(out, last))) {
                PyObject *merged = PyUnicode_Concat(PyList_GET_ITEM(out, last), item);
                Py_DECREF(item);
                if (merged == NULL)
                    return -1;
                PyList_SetItem(out, last, merged);
                continue;
            }
            if (item && PyUnicode_GET_LENGTH(item) == 0) {
                Py_DECREF(item);
                continue;
            }
        }
        else if (n->type == XML_COMMENT)
            item = leaf(st, COMMENT, n->content ? decode(n->content) : Py_NewRef(st->held[EMPTY_STR]));
        else if (n->type == XML_PI) {
            /* the target, then " " and the content when there is any */
            PyObject *data = decode(n->name ? n->name : "");
            if (data && n->content && n->content[0]) {
                PyObject *content = decode(n->content);
                Py_SETREF(data, content ? PyUnicode_FromFormat("%U %U", data, content) : NULL);
                Py_XDECREF(content);
            }
            item = leaf(st, PI, data);
        }
        else
            continue;
        if (item == NULL || PyList_Append(out, item) < 0) {
            Py_XDECREF(item);
            return -1;
        }
        Py_DECREF(item);
    }
    return 0;
}


/* ---- growable buffers -------------------------------------------------- */

typedef struct {
    char *data;
    Py_ssize_t len, cap;
} buf;

#define ITEMS(b, type) ((type *)(b).data)
#define COUNT(b, type) ((b).len / (Py_ssize_t)sizeof(type))

static int
put(buf *b, const void *p, Py_ssize_t n)
{
    if (n == 0)
        return 0;
    if (b->len + n > b->cap) {
        Py_ssize_t cap = b->cap ? b->cap : 256;
        while (cap < b->len + n)
            cap *= 2;
        char *data = PyMem_Realloc(b->data, cap);
        if (data == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        b->data = data, b->cap = cap;
    }
    memcpy(b->data + b->len, p, n);
    b->len += n;
    return 0;
}

static void
release(buf *b)
{
    PyMem_Free(b->data);
    b->data = NULL, b->len = b->cap = 0;
}

/* b's bytes from at: never NULL, so "" is not mistaken for a null string */
static const char *
bytes_at(const buf *b, Py_ssize_t at)
{
    return b->data ? b->data + at : "";
}

static int
push_index(buf *b, Py_ssize_t v)
{
    return put(b, &v, sizeof v);
}

/* Arrow's offsets and int columns are int32 */
static int
push_i32(buf *b, Py_ssize_t v)
{
    if (v < INT32_MIN || v > INT32_MAX) {
        PyErr_SetString(PyExc_OverflowError, "an int32 Arrow offset or value overflows");
        return -1;
    }
    int32_t x = (int32_t)v;
    return put(b, &x, sizeof x);
}

/* Whether s[:n] is what Python's UTF-8 codec decodes strictly: no
   surrogates, overlongs or code points past U+10FFFF. */
static int
utf8_valid(const unsigned char *s, Py_ssize_t n)
{
    for (Py_ssize_t i = 0; i < n;) {
        unsigned c = s[i];
        if (c < 0x80) {
            i++;
            continue;
        }
        int k = c >= 0xC2 && c <= 0xDF ? 1 : c >= 0xE0 && c <= 0xEF ? 2 : c >= 0xF0 && c <= 0xF4 ? 3 : 0;
        unsigned lo = c == 0xE0 ? 0xA0 : c == 0xF0 ? 0x90 : 0x80, hi = c == 0xED ? 0x9F : c == 0xF4 ? 0x8F : 0xBF;
        if (k == 0 || n - i <= k || s[i + 1] < lo || s[i + 1] > hi)
            return 0;
        for (int j = 2; j <= k; j++)
            if ((s[i + j] & 0xC0) != 0x80)
                return 0;
        i += k + 1;
    }
    return 1;
}

/* Appends the UTF-8 of decode(s, "utf-8", "replace"), which is s itself
   unless s is not valid UTF-8. */
static int
put_text(buf *b, const char *s)
{
    Py_ssize_t n = (Py_ssize_t)strlen(s), len;
    if (utf8_valid((const unsigned char *)s, n))
        return put(b, s, n);
    PyObject *text = PyUnicode_DecodeUTF8(s, n, "replace");
    const char *utf8 = text ? PyUnicode_AsUTF8AndSize(text, &len) : NULL;
    int rc = utf8 ? put(b, utf8, len) : -1;
    Py_XDECREF(text);
    return rc;
}


/* ---- the grid (Parser.php:366-622) over libxml2's nodes ---------------- */

/* A table's grid as C arrays: each td/th once in cells, its text in text
   and its media refs in refs; the rows as slots, a cell's index per grid
   position (-1 for None), each row's end in ends. */
typedef struct {
    Py_ssize_t text, len, ref, n_refs;
} cellinfo;
typedef struct {
    Py_ssize_t at, len;
} piece;
typedef struct {
    buf text, ref_bytes, refs, cells, slots, ends, projection, attr;
} sheet;

/* Empties sh, keeping its memory for the next table unless free_memory. */
static void
reset(sheet *sh, int free_memory)
{
    buf *all[] = {&sh->text, &sh->ref_bytes, &sh->refs, &sh->cells, &sh->slots, &sh->ends, &sh->projection, &sh->attr};
    for (size_t i = 0; i < sizeof(all) / sizeof(*all); i++) {
        if (free_memory)
            release(all[i]);
        all[i]->len = 0;
    }
}

static int
is_text(const xml_node *n)
{
    return n->type == XML_TEXT || n->type == XML_CDATA;
}

static int
is_tag(const xml_node *n, const char *tag)
{
    return n && n->type == XML_ELEMENT && n->name && strcmp(n->name, tag) == 0;
}

/* The node after n's subtree in root's, in document order. */
static xml_node *
beyond(xml_node *n, const xml_node *root)
{
    for (; n != root; n = n->parent)
        if (n->next)
            return n->next;
    return NULL;
}

/* The node after n in root's subtree in document order, entering elements
   only, as convert() does. */
static xml_node *
after(xml_node *n, const xml_node *root)
{
    return n->type == XML_ELEMENT && n->children ? n->children : beyond(n, root);
}

/* The first attribute called name: the first of a duplicate wins. */
static xml_attr *
attribute(const xml_node *n, const char *name)
{
    xml_attr *a = n->properties;
    while (a && !(a->name && strcmp(a->name, name) == 0))
        a = a->next;
    return a;
}

/* An attribute's value as attr_value() decodes it, appended to b. */
static int
put_attr(buf *b, xml_node *n)
{
    for (; n; n = n->next)
        if (is_text(n) && n->content && put_text(b, n->content) < 0)
            return -1;
    return 0;
}

static int
is_media(const xml_node *n)
{
    static const char *const tags[] = {"img", "object", "embed", "video", "audio", "source", "iframe"};
    for (size_t i = 0; i < sizeof(tags) / sizeof(*tags); i++)
        if (is_tag(n, tags[i]))
            return 1;
    return 0;
}

/* Node.text_content() of root's converted tree, into sh->text: each text
   and CDATA node under it decoded on its own, joined. With media, the
   non-empty data-media-ref of each media element under root goes to
   sh->refs (F13). */
static int
text_content(sheet *sh, xml_node *root, int media, cellinfo *c)
{
    c->text = sh->text.len, c->ref = COUNT(sh->refs, piece);
    for (xml_node *n = root; (n = after(n, root));) {
        xml_attr *a = media && is_media(n) ? attribute(n, "data-media-ref") : NULL;
        if (a) {
            piece p = {sh->ref_bytes.len, 0};
            if (put_attr(&sh->ref_bytes, a->children) < 0)
                return -1;
            p.len = sh->ref_bytes.len - p.at;
            if (p.len && put(&sh->refs, &p, sizeof p) < 0)
                return -1;
        }
        else if (is_text(n) && n->content && put_text(&sh->text, n->content) < 0)
            return -1;
    }
    c->len = sh->text.len - c->text, c->n_refs = COUNT(sh->refs, piece) - c->ref;
    return 0;
}

static PyObject *
cell_text(const sheet *sh, const cellinfo *c)
{
    return PyUnicode_DecodeUTF8(bytes_at(&sh->text, c->text), c->len, NULL);
}

/* Parser.php:549-556: the attribute's PHP (int) cast, clamped to 2..1000,
   else 1; -1 with an exception set. The cast skips leading whitespace and
   reads the longest decimal number (ASCII digits, as PHP reads them) and
   truncates it; one that overflows keeps its integer part. */
static int
span(sheet *sh, const xml_node *n, const char *name)
{
    xml_attr *a = attribute(n, name);
    if (a == NULL)
        return 1;
    sh->attr.len = 0;
    if (put_attr(&sh->attr, a->children) < 0 || put(&sh->attr, "", 1) < 0)
        return -1;
    const char *s = sh->attr.data + strspn(sh->attr.data, " \t\n\r\v\f");
    const char *digits = s + (*s == '+' || *s == '-'), *end = digits + strspn(digits, "0123456789");
    double v = 0;
    if (end > digits) {
        char *stop;
        v = PyOS_string_to_double(s, &stop, NULL);
        if (PyErr_Occurred())
            return -1;
        if (Py_IS_INFINITY(v) && *s != '-')
            for (v = 0; digits < end && v < 1001; digits++)
                v = 10 * v + (*digits - '0');
    }
    return v >= 2 && v < 1001 ? (int)v : 1;
}

/* A rowspan state (Parser.php:559-574), by child index: at[i] holds left
   more rows of colspan copies of cell, spliced in before child i. */
typedef struct {
    struct carry {
        Py_ssize_t cell;
        int colspan, left;
    } *at;
    Py_ssize_t size;
} carries;

static int
splice(sheet *sh, carries *cs, Py_ssize_t i)
{
    struct carry *c = i < cs->size && cs->at[i].left ? &cs->at[i] : NULL;
    for (int k = 0; c && k < c->colspan; k++)
        if (push_index(&sh->slots, c->cell) < 0)
            return -1;
    if (c)
        c->left--;
    return 0;
}

/* One table() call's settings: media refs or not; the header row, kept out
   of the body, and its width, which rows are cut or padded to (if >= 0);
   the user header's projection, or none. */
typedef struct {
    sheet *sh;
    int media;
    xml_node *skip;
    Py_ssize_t width, n_projected;
} grid;

/* Adds td/th n, child i of its row, to the cells and colspan copies of it
   to the row; queues its rowspan. */
static int
cell(grid *g, xml_node *n, carries *cs, Py_ssize_t i)
{
    sheet *sh = g->sh;
    int colspan = 1, rowspan = 1;
    if (n->properties && ((colspan = span(sh, n, "colspan")) < 0 || (rowspan = span(sh, n, "rowspan")) < 0))
        return -1;
    if (rowspan > 1 && i >= cs->size) {
        struct carry *at = PyMem_Realloc(cs->at, (2 * i + 8) * sizeof(*at));
        if (at == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        memset(at + cs->size, 0, (2 * i + 8 - cs->size) * sizeof(*at));
        cs->at = at, cs->size = 2 * i + 8;
    }
    cellinfo c;
    if (text_content(sh, n, g->media, &c) < 0 || put(&sh->cells, &c, sizeof c) < 0)
        return -1;
    Py_ssize_t index = COUNT(sh->cells, cellinfo) - 1;
    if (rowspan > 1)
        cs->at[i].cell = index, cs->at[i].colspan = colspan, cs->at[i].left = rowspan - 1;
    for (int k = 0; k < colspan; k++)
        if (push_index(&sh->slots, index) < 0)
            return -1;
    return 0;
}

/* One <tr> grid-expanded (Parser.php:547-587) into a new row of slots:
   colspan copies of each td/th, earlier rowspans' carries spliced in
   before the child at their index (children indexed as convert() keeps
   them), the single trailing splice; cut or padded with None
   (Parser.php:614-622), then projected through the user header. */
static int
record(grid *g, xml_node *tr, carries *cs)
{
    sheet *sh = g->sh;
    Py_ssize_t start = COUNT(sh->slots, Py_ssize_t), index = 0;
    int in_text = 0;
    for (xml_node *n = tr->children; n; n = n->next) {
        if (is_text(n)) {
            if (in_text || !n->content || !n->content[0])
                continue;
            in_text = 1;
        }
        else if (n->type == XML_ELEMENT || n->type == XML_COMMENT || n->type == XML_PI)
            in_text = 0;
        else
            continue;
        if (splice(sh, cs, index) < 0 || ((is_tag(n, "td") || is_tag(n, "th")) && cell(g, n, cs, index) < 0))
            return -1;
        index++;
    }
    /* PHP: $index ??= -2 in a row with no children, and no carry is at -1 */
    if (index > 0 && splice(sh, cs, index) < 0)
        return -1;
    if (g->width >= 0 && COUNT(sh->slots, Py_ssize_t) - start > g->width)
        sh->slots.len = (start + g->width) * (Py_ssize_t)sizeof(Py_ssize_t);
    while (g->width >= 0 && COUNT(sh->slots, Py_ssize_t) - start < g->width)
        if (push_index(&sh->slots, -1) < 0)
            return -1;
    if (g->n_projected) {
        /* row[offset] if 0 <= offset < len(row) else None, appended after
           the row, then moved over it */
        Py_ssize_t n = COUNT(sh->slots, Py_ssize_t) - start;
        for (Py_ssize_t k = 0; k < g->n_projected; k++) {
            Py_ssize_t off = ITEMS(sh->projection, Py_ssize_t)[k];
            if (push_index(&sh->slots, off >= 0 && off < n ? ITEMS(sh->slots, Py_ssize_t)[start + off] : -1) < 0)
                return -1;
        }
        Py_ssize_t *slots = ITEMS(sh->slots, Py_ssize_t);
        memmove(slots + start, slots + start + n, g->n_projected * sizeof(*slots));
        sh->slots.len = (start + g->n_projected) * (Py_ssize_t)sizeof(Py_ssize_t);
    }
    return push_index(&sh->ends, COUNT(sh->slots, Py_ssize_t));
}

/* Records tr, if tr is a body row. */
static int
add_row(grid *g, xml_node *tr, carries *cs)
{
    return is_tag(tr, "tr") && tr != g->skip ? record(g, tr, cs) : 0;
}

/* Parser.php:475-508: the rows of the table's children named in sections
   (of thead, tbody, tfoot, tr), in document order; the rowspan state is
   fresh per thead/tbody/tfoot, shared by the table's own tr children. */
static int
body(grid *g, xml_node *table, PyObject *sections)
{
    carries shared = {NULL, 0};
    int rc = 0;
    for (xml_node *s = table->children; s && rc == 0; s = s->next) {
        int included = 0;
        for (Py_ssize_t i = 0; s->type == XML_ELEMENT && s->name && i < PyTuple_GET_SIZE(sections); i++) {
            PyObject *name = PyTuple_GET_ITEM(sections, i);
            included |= PyUnicode_Check(name) && PyUnicode_CompareWithASCIIString(name, s->name) == 0;
        }
        if (!included)
            continue;
        if (is_tag(s, "tr")) {
            rc = add_row(g, s, &shared);
            continue;
        }
        carries own = {NULL, 0};
        for (xml_node *tr = s->children; tr && rc == 0; tr = tr->next)
            rc = add_row(g, tr, &own);
        PyMem_Free(own.at);
    }
    PyMem_Free(shared.at);
    return rc;
}

/* The reference's two lookups over the re-rooted table (Parser.php:375-390)
   in one walk of its subtree, nested tables included: (//caption)[1] and,
   with a section, (//table/{section}/tr)[offset + 1] (Section::xpathRow,
   Section.php:19-28; //table/tr for the tr section). */
static void
lookups(xml_node *table, const char *section, Py_ssize_t offset, xml_node **caption, xml_node **header)
{
    int direct = section && strcmp(section, "tr") == 0;
    *caption = *header = NULL;
    for (xml_node *n = table; !(*caption && (*header || !section)) && (n = after(n, table));) {
        if (!*caption && is_tag(n, "caption"))
            *caption = n;
        else if (section && !*header && is_tag(n, "tr")
                 && (direct ? is_tag(n->parent, "table") : is_tag(n->parent, section) && is_tag(n->parent->parent, "table"))
                 && offset-- == 0)
            *header = n;
    }
}

/* Fills sh with table's body grid and returns (caption, header) as table()
   does, the header row read with a throwaway rowspan state, and no media
   (Parser.php:532-540); a header of one cell or more keeps its row out of
   the body. */
static PyObject *
fill(sheet *sh, xml_node *table, const char *section, Py_ssize_t offset, PyObject *sections, PyObject *projection)
{
    xml_node *caption, *header_row;
    lookups(table, section, offset, &caption, &header_row);
    reset(sh, 0);
    grid g = {sh, 0, NULL, -1, 0};
    carries none = {NULL, 0};
    int rc = header_row ? record(&g, header_row, &none) : 0;
    PyMem_Free(none.at);
    Py_ssize_t width = COUNT(sh->slots, Py_ssize_t);
    PyObject *header = rc == 0 ? PyList_New(width) : NULL;
    for (Py_ssize_t i = 0; header && i < width; i++) {
        PyObject *name = cell_text(sh, &ITEMS(sh->cells, cellinfo)[ITEMS(sh->slots, Py_ssize_t)[i]]);
        if (name == NULL)
            Py_CLEAR(header);
        else
            PyList_SET_ITEM(header, i, name);
    }
    reset(sh, 0);
    if (header == NULL)
        return NULL;
    if (width)
        g.skip = header_row, g.width = width;
    g.media = 1;
    /* the user header's (offset, name) pairs; an offset past Py_ssize_t
       never matches a source offset */
    Py_ssize_t n_projected = projection ? PyTuple_GET_SIZE(projection) : 0;
    for (Py_ssize_t i = 0; rc == 0 && i < n_projected; i++) {
        PyObject *pair = PyTuple_GET_ITEM(projection, i);
        Py_ssize_t off = PyTuple_Check(pair) && PyTuple_GET_SIZE(pair) ? PyNumber_AsSsize_t(PyTuple_GET_ITEM(pair, 0), NULL) : -1;
        if (off == -1 && PyErr_Occurred())
            rc = -1;
        else
            rc = push_index(&sh->projection, off);
    }
    g.n_projected = n_projected;
    cellinfo c;
    PyObject *text = NULL;
    if (rc == 0 && body(&g, table, sections) == 0)
        text = caption == NULL ? Py_NewRef(Py_None) : text_content(sh, caption, 0, &c) == 0 ? cell_text(sh, &c) : NULL;
    PyObject *result = text ? PyTuple_Pack(2, text, header) : NULL;
    Py_XDECREF(text);
    Py_DECREF(header);
    return result;
}

/* Cell(text, refs) for cell i of sh, filled as tuple_subtype_new fills a
   tuple subclass. */
static PyObject *
new_cell(state *st, const sheet *sh, Py_ssize_t i)
{
    PyTypeObject *type = (PyTypeObject *)st->held[CELL_TYPE];
    const cellinfo *c = &ITEMS(sh->cells, cellinfo)[i];
    PyObject *text = cell_text(sh, c), *refs = PyTuple_New(c->n_refs), *cell = NULL;
    for (Py_ssize_t k = 0; refs && k < c->n_refs; k++) {
        const piece *p = &ITEMS(sh->refs, piece)[c->ref + k];
        PyObject *ref = PyUnicode_DecodeUTF8(bytes_at(&sh->ref_bytes, p->at), p->len, NULL);
        if (ref == NULL)
            Py_CLEAR(refs);
        else
            PyTuple_SET_ITEM(refs, k, ref);
    }
    if (text && refs && (cell = type->tp_alloc(type, 2))) {
        PyTuple_SET_ITEM(cell, 0, text);
        PyTuple_SET_ITEM(cell, 1, refs);
        return cell;
    }
    Py_XDECREF(text);
    Py_XDECREF(refs);
    return NULL;
}

/* The rows of sh as lists of Cells, None where a slot is -1; a cell's
   copies share one Cell. */
static PyObject *
py_rows(state *st, const sheet *sh)
{
    Py_ssize_t n_cells = COUNT(sh->cells, cellinfo), n_rows = COUNT(sh->ends, Py_ssize_t), at = 0;
    PyObject **made = PyMem_Calloc(n_cells + 1, sizeof(PyObject *));
    PyObject *rows = made ? PyList_New(n_rows) : PyErr_NoMemory();
    for (Py_ssize_t r = 0; rows && r < n_rows; r++) {
        Py_ssize_t start = at, end = ITEMS(sh->ends, Py_ssize_t)[r];
        PyObject *row = PyList_New(end - start);
        for (; row && at < end; at++) {
            Py_ssize_t i = ITEMS(sh->slots, Py_ssize_t)[at];
            if (i >= 0 && made[i] == NULL && (made[i] = new_cell(st, sh, i)) == NULL)
                Py_CLEAR(row);
            else
                PyList_SET_ITEM(row, at - start, Py_NewRef(i >= 0 ? made[i] : Py_None));
        }
        if (row == NULL)
            Py_CLEAR(rows);
        else
            PyList_SET_ITEM(rows, r, row);
    }
    for (Py_ssize_t i = 0; made && i < n_cells; i++)
        Py_XDECREF(made[i]);
    PyMem_Free(made);
    return rows;
}


/* ---- the output builder: EXTRACTED_SCHEMA rows as Arrow buffers ---------- */

/* An Arrow string column being built: validity bits, int32 offsets, data. */
typedef struct {
    buf valid, offsets, data;
    Py_ssize_t n, nulls;
} strings;

/* Appends s[:len], or a null when s is NULL. */
static int
add_str(strings *c, const char *s, Py_ssize_t len)
{
    if (c->n % 8 == 0 && put(&c->valid, "", 1) < 0)
        return -1;
    if (s)
        c->valid.data[c->n / 8] |= (char)(1 << (c->n % 8));
    else
        c->nulls++;
    if ((s && put(&c->data, s, len) < 0) || push_i32(&c->offsets, c->data.len) < 0)
        return -1;
    c->n++;
    return 0;
}

/* The string columns, then the int32 buffers: flat columns, list offsets
   (HEADER into NAMES, SPANS into the span fields, ROW_LENS into LENS) and
   the spans' offset field (POSITION). */
enum { DOC_ID, CAPTION, NAMES, KIND, TEXT, MEDIA_REF, STATUS, ERROR_MSG, NSTRINGS };
enum { TABLE_IDX, HEADER, SPANS, POSITION, ROW_LENS, LENS, N_ROWS, N_CELLS, NINTS };

typedef struct {
    PyObject_HEAD
    sheet grid;   /* what the last table() call into this builder read */
    int pending;  /* whether add() may take it */
    buf doc;      /* the current document's id, UTF-8 */
    int doc_null;
    Py_ssize_t rows;
    strings s[NSTRINGS];
    buf i[NINTS];
} builder;

static PyTypeObject builder_type;

/* Empties the columns; each list's offsets start at 0. */
static int
clear_columns(builder *b)
{
    b->rows = 0;
    for (int k = 0; k < NSTRINGS; k++) {
        b->s[k].valid.len = b->s[k].offsets.len = b->s[k].data.len = 0;
        b->s[k].n = b->s[k].nulls = 0;
        if (push_i32(&b->s[k].offsets, 0) < 0)
            return -1;
    }
    for (int k = 0; k < NINTS; k++) {
        b->i[k].len = 0;
        if ((k == HEADER || k == SPANS || k == ROW_LENS) && push_i32(&b->i[k], 0) < 0)
            return -1;
    }
    return 0;
}

static PyObject *
builder_new(PyTypeObject *type, PyObject *args, PyObject *kwargs)
{
    static char *none[] = {NULL};
    if (!PyArg_ParseTupleAndKeywords(args, kwargs, ":Builder", none))
        return NULL;
    builder *b = (builder *)type->tp_alloc(type, 0);
    if (b && clear_columns(b) < 0)
        Py_CLEAR(b);
    return (PyObject *)b;
}

static void
builder_dealloc(builder *b)
{
    reset(&b->grid, 1);
    release(&b->doc);
    for (int k = 0; k < NSTRINGS; k++) {
        release(&b->s[k].valid);
        release(&b->s[k].offsets);
        release(&b->s[k].data);
    }
    for (int k = 0; k < NINTS; k++)
        release(&b->i[k]);
    Py_TYPE(b)->tp_free((PyObject *)b);
}

static PyObject *
builder_start(builder *b, PyObject *doc_id)
{
    Py_ssize_t len = 0;
    const char *utf8 = doc_id == Py_None ? "" : PyUnicode_AsUTF8AndSize(doc_id, &len);
    if (utf8 == NULL)
        return NULL;
    b->doc.len = 0;
    b->doc_null = doc_id == Py_None;
    if (put(&b->doc, utf8, len) < 0)
        return NULL;
    Py_RETURN_NONE;
}

static int
start_row(builder *b, Py_ssize_t table_idx)
{
    b->pending = 0;
    return add_str(&b->s[DOC_ID], b->doc_null ? NULL : bytes_at(&b->doc, 0), b->doc.len) < 0
               || push_i32(&b->i[TABLE_IDX], table_idx) < 0 ? -1 : 0;
}

/* Closes the row start_row() opened: the list ends, counts and status. */
static int
finish_row(builder *b, Py_ssize_t n_rows, Py_ssize_t n_cells, const char *status, const char *msg, Py_ssize_t msg_len)
{
    if (push_i32(&b->i[HEADER], b->s[NAMES].n) < 0 || push_i32(&b->i[SPANS], b->s[KIND].n) < 0
        || push_i32(&b->i[ROW_LENS], COUNT(b->i[LENS], int32_t)) < 0 || push_i32(&b->i[N_ROWS], n_rows) < 0
        || push_i32(&b->i[N_CELLS], n_cells) < 0 || add_str(&b->s[STATUS], status, (Py_ssize_t)strlen(status)) < 0
        || add_str(&b->s[ERROR_MSG], msg, msg_len) < 0)
        return -1;
    b->rows++;
    return 0;
}

/* One output span: kind, text (NULL: null), media_ref (NULL: null) and
   its position in the table's sequence. */
static int
add_span(builder *b, const char *kind, const char *text, Py_ssize_t text_len, const char *ref, Py_ssize_t ref_len,
         Py_ssize_t position)
{
    return add_str(&b->s[KIND], kind, (Py_ssize_t)strlen(kind)) < 0 || add_str(&b->s[TEXT], text, text_len) < 0
               || add_str(&b->s[MEDIA_REF], ref, ref_len) < 0 || push_i32(&b->i[POSITION], position) < 0 ? -1 : 0;
}

/* add(table_idx, caption, header, None): an ok row of the grid the last
   table() call read into this builder, its spans encoded as
   spans.encode_table_flat encodes them. */
static PyObject *
builder_add(builder *b, PyObject *args)
{
    Py_ssize_t table_idx, len, pos = 0;
    PyObject *caption, *header, *rows;
    if (!PyArg_ParseTuple(args, "nOO!O:add", &table_idx, &caption, &PyList_Type, &header, &rows))
        return NULL;
    if (!b->pending || rows != Py_None)
        return PyErr_Format(PyExc_ValueError, "add() takes rows=None after a table() call into this builder");
    /* every str is encoded before anything is written */
    const char *cap = caption == Py_None ? NULL : PyUnicode_AsUTF8AndSize(caption, &len);
    Py_ssize_t cap_len = cap ? len : 0;
    if (caption != Py_None && cap == NULL)
        return NULL;
    for (Py_ssize_t k = 0; k < PyList_GET_SIZE(header); k++)
        if (PyUnicode_AsUTF8AndSize(PyList_GET_ITEM(header, k), &len) == NULL)
            return NULL;
    if (start_row(b, table_idx) < 0 || add_str(&b->s[CAPTION], cap, cap_len) < 0
        || (cap && add_span(b, "caption", cap, cap_len, NULL, 0, pos++) < 0))
        return NULL;
    for (Py_ssize_t k = 0; k < PyList_GET_SIZE(header); k++) {
        const char *name = PyUnicode_AsUTF8AndSize(PyList_GET_ITEM(header, k), &len);
        if (add_str(&b->s[NAMES], name, len) < 0 || add_span(b, "header", name, len, NULL, 0, pos++) < 0)
            return NULL;
    }
    const sheet *sh = &b->grid;
    Py_ssize_t at = 0, n_rows = COUNT(sh->ends, Py_ssize_t);
    for (Py_ssize_t r = 0; r < n_rows; r++) {
        Py_ssize_t end = ITEMS(sh->ends, Py_ssize_t)[r];
        if (push_i32(&b->i[LENS], end - at) < 0)
            return NULL;
        for (; at < end; at++) {
            Py_ssize_t i = ITEMS(sh->slots, Py_ssize_t)[at];
            const cellinfo *c = i >= 0 ? &ITEMS(sh->cells, cellinfo)[i] : NULL;
            if (add_span(b, "cell", c ? bytes_at(&sh->text, c->text) : NULL, c ? c->len : 0, NULL, 0, pos++) < 0)
                return NULL;
            for (Py_ssize_t k = 0; c && k < c->n_refs; k++) {
                const piece *p = &ITEMS(sh->refs, piece)[c->ref + k];
                if (add_span(b, "media", "", 0, bytes_at(&sh->ref_bytes, p->at), p->len, pos++) < 0)
                    return NULL;
            }
        }
    }
    if (finish_row(b, n_rows, at, "ok", NULL, 0) < 0)
        return NULL;
    Py_RETURN_NONE;
}

/* A row with no spans: an error, or (status None) a table-less document's
   completion marker. */
static int
add_bare(builder *b, Py_ssize_t table_idx, PyObject *msg)
{
    Py_ssize_t len = 0;
    const char *utf8 = msg == Py_None ? NULL : PyUnicode_AsUTF8AndSize(msg, &len);
    if ((msg != Py_None && utf8 == NULL) || start_row(b, table_idx) < 0 || add_str(&b->s[CAPTION], NULL, 0) < 0)
        return -1;
    return finish_row(b, 0, 0, utf8 ? "error" : "ok", utf8, len);
}

static PyObject *
builder_error(builder *b, PyObject *args)
{
    Py_ssize_t table_idx;
    PyObject *msg;
    if (!PyArg_ParseTuple(args, "nU:error", &table_idx, &msg) || add_bare(b, table_idx, msg) < 0)
        return NULL;
    Py_RETURN_NONE;
}

static PyObject *
builder_empty(builder *b, PyObject *Py_UNUSED(unused))
{
    if (add_bare(b, -1, Py_None) < 0)
        return NULL;
    Py_RETURN_NONE;
}

static PyObject *
bytes_of(const buf *b)
{
    return PyBytes_FromStringAndSize(bytes_at(b, 0), b->len);
}

/* The (length, null_count, buffers, children) of one column: what
   pa.Array.from_buffers takes, children as the same tuples. */
static PyObject *
string_spec(const strings *c)
{
    return Py_BuildValue("(nn(NNN)())", c->n, c->nulls, c->nulls ? bytes_of(&c->valid) : Py_NewRef(Py_None),
                         bytes_of(&c->offsets), bytes_of(&c->data));
}

static PyObject *
int32_spec(const buf *b)
{
    return Py_BuildValue("(nn(ON)())", COUNT(*b, int32_t), (Py_ssize_t)0, Py_None, bytes_of(b));
}

static PyObject *
list_spec(const buf *offsets, PyObject *child)
{
    if (child == NULL)
        return NULL;
    return Py_BuildValue("(nn(ON)(N))", COUNT(*offsets, int32_t) - 1, (Py_ssize_t)0, Py_None, bytes_of(offsets), child);
}

/* flush() -> the buffered rows' columns, in EXTRACTED_SCHEMA's order up to
   error_msg, as (length, null_count, buffers, children) tuples; empties
   the builder. */
static PyObject *
builder_flush(builder *b, PyObject *Py_UNUSED(unused))
{
    PyObject *spans = Py_BuildValue("(nn(O)(NNNN))", b->s[KIND].n, (Py_ssize_t)0, Py_None, string_spec(&b->s[KIND]),
                                    string_spec(&b->s[TEXT]), string_spec(&b->s[MEDIA_REF]), int32_spec(&b->i[POSITION]));
    PyObject *columns = Py_BuildValue(
        "[NNNNNNNNNN]", string_spec(&b->s[DOC_ID]), int32_spec(&b->i[TABLE_IDX]), string_spec(&b->s[CAPTION]),
        list_spec(&b->i[HEADER], string_spec(&b->s[NAMES])), list_spec(&b->i[SPANS], spans),
        list_spec(&b->i[ROW_LENS], int32_spec(&b->i[LENS])), int32_spec(&b->i[N_ROWS]), int32_spec(&b->i[N_CELLS]),
        string_spec(&b->s[STATUS]), string_spec(&b->s[ERROR_MSG]));
    if (columns && clear_columns(b) < 0)
        Py_CLEAR(columns);
    return columns;
}

static PyMethodDef builder_methods[] = {
    {"start", (PyCFunction)builder_start, METH_O, "start(doc_id): the document whose rows follow (a str or None)"},
    {"add", (PyCFunction)builder_add, METH_VARARGS,
     "add(table_idx, caption, header, None): an ok row of the grid the last table() call read into this builder"},
    {"error", (PyCFunction)builder_error, METH_VARARGS, "error(table_idx, message): an error row"},
    {"empty", (PyCFunction)builder_empty, METH_NOARGS, "empty(): the completion-marker row of a document with no tables"},
    {"flush", (PyCFunction)builder_flush, METH_NOARGS,
     "flush() -> the rows' columns as pa.Array.from_buffers arguments; empties the builder"},
    {NULL, NULL, 0, NULL},
};

static PyMemberDef builder_members[] = {
    {"rows", T_PYSSIZET, offsetof(builder, rows), READONLY, "rows buffered since the last flush()"},
    {NULL, 0, 0, 0, NULL},
};

static PyTypeObject builder_type = {
    PyVarObject_HEAD_INIT(NULL, 0).tp_name = "_tree.Builder",
    .tp_doc = "Builder(): extraction rows in growable C buffers, flushed as Arrow buffers",
    .tp_basicsize = sizeof(builder),
    .tp_flags = Py_TPFLAGS_DEFAULT,
    .tp_new = builder_new,
    .tp_dealloc = (destructor)builder_dealloc,
    .tp_methods = builder_methods,
    .tp_members = builder_members,
};


/* ---- the module ---------------------------------------------------------- */

static state *
bound(PyObject *module)
{
    state *st = PyModule_GetState(module);
    if (st->held[NODE_TYPE] == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "_tree.bind() has not been called");
        return NULL;
    }
    return st;
}

static xml_node *
address(PyObject *arg)
{
    xml_node *n = PyLong_AsVoidPtr(arg);
    if (n == NULL && !PyErr_Occurred())
        PyErr_SetString(PyExc_ValueError, "null node address");
    return n;
}

static PyObject *
py_children(PyObject *module, PyObject *arg)
{
    state *st = bound(module);
    xml_node *n = st ? address(arg) : NULL;
    PyObject *out = n ? PyList_New(0) : NULL;
    if (out && convert(st, n->children, out) < 0)
        Py_CLEAR(out);
    return out;
}

/* The table elements of the document at address with no table ancestor,
   in document order: //table[not(ancestor::table)]. */
static PyObject *
py_top_level_tables(PyObject *Py_UNUSED(module), PyObject *arg)
{
    xml_node *doc = address(arg), *n = doc ? doc->children : NULL;
    PyObject *tables = doc ? PyList_New(0) : NULL;
    while (tables && n) {
        if (!is_tag(n, "table")) {
            n = after(n, doc);
            continue;
        }
        PyObject *table = PyLong_FromVoidPtr(n);
        if (table == NULL || PyList_Append(tables, table) < 0)
            Py_CLEAR(tables);
        Py_XDECREF(table);
        n = beyond(n, doc);
    }
    return tables;
}

static PyObject *
py_table(PyObject *module, PyObject *args)
{
    PyObject *where, *sections, *projection = NULL, *out = Py_None;
    const char *section;
    Py_ssize_t offset;
    if (!PyArg_ParseTuple(args, "OznO!|O!O:table", &where, &section, &offset, &PyTuple_Type, &sections, &PyTuple_Type,
                          &projection, &out))
        return NULL;
    state *st = bound(module);
    xml_node *table = st ? address(where) : NULL;
    if (table == NULL)
        return NULL;
    builder *b = PyObject_TypeCheck(out, &builder_type) ? (builder *)out : NULL;
    sheet own = {0}, *sh = b ? &b->grid : &own;
    if (b)
        b->pending = 0;
    PyObject *read = fill(sh, table, section, offset, sections, projection);
    PyObject *rows = read == NULL ? NULL : b ? Py_NewRef(Py_None) : py_rows(st, sh);
    PyObject *result = rows ? PyTuple_Pack(3, PyTuple_GET_ITEM(read, 0), PyTuple_GET_ITEM(read, 1), rows) : NULL;
    if (b && result)
        b->pending = 1;
    Py_XDECREF(read);
    Py_XDECREF(rows);
    reset(&own, 1);
    return result;
}

static PyObject *
py_bind(PyObject *module, PyObject *args)
{
    state *st = PyModule_GetState(module);
    PyObject *held[HELD];
    if (!PyArg_ParseTuple(args, "O!OOOO!O!O!:bind", &PyType_Type, &held[NODE_TYPE], &held[ELEMENT],
                          &held[COMMENT], &held[PI], &PyDict_Type, &held[EMPTY_ATTRS], &PyList_Type,
                          &held[EMPTY_CHILDREN], &PyType_Type, &held[CELL_TYPE]))
        return NULL;
    /* table() fills a Cell as tuple_subtype_new does a tuple subclass */
    PyTypeObject *cell = (PyTypeObject *)held[CELL_TYPE];
    if (!PyType_IsSubtype(cell, &PyTuple_Type) || cell->tp_basicsize != PyTuple_Type.tp_basicsize)
        return PyErr_Format(PyExc_TypeError, "%R is not a tuple subclass without slots", cell);
    for (int i = 0; i < NSLOTS; i++) {
        PyObject *slot = PyObject_GetAttrString(held[NODE_TYPE], SLOTS[i]);
        if (slot == NULL)
            return NULL;
        int ok = Py_IS_TYPE(slot, &PyMemberDescr_Type) && ((PyMemberDescrObject *)slot)->d_member->type == T_OBJECT_EX;
        if (ok)
            st->offset[i] = ((PyMemberDescrObject *)slot)->d_member->offset;
        Py_DECREF(slot);
        if (!ok)
            return PyErr_Format(PyExc_TypeError, "%R.%s is not a __slots__ entry", held[NODE_TYPE], SLOTS[i]);
    }
    if ((held[EMPTY_STR] = PyUnicode_New(0, 0)) == NULL)
        return NULL;
    for (int i = 0; i < HELD; i++)
        Py_XSETREF(st->held[i], i == EMPTY_STR ? held[i] : Py_NewRef(held[i]));
    Py_RETURN_NONE;
}

static int
tree_traverse(PyObject *module, visitproc visit, void *arg)
{
    state *st = PyModule_GetState(module);
    for (int i = 0; st && i < HELD; i++)
        Py_VISIT(st->held[i]);
    return 0;
}

static int
tree_clear(PyObject *module)
{
    state *st = PyModule_GetState(module);
    for (int i = 0; st && i < HELD; i++)
        Py_CLEAR(st->held[i]);
    return 0;
}

static PyMethodDef methods[] = {
    {"bind", py_bind, METH_VARARGS,
     "bind(Node, ELEMENT, COMMENT, PI, empty_attrs, empty_children, Cell): the classes and shared values to build with"},
    {"table", py_table, METH_VARARGS,
     "table(address, section, offset, sections, projection=(), out=None) -> (caption, header, rows) of the "
     "xmlNode table at address; rows is None when out is a Builder, which then holds them for its add()"},
    {"top_level_tables", py_top_level_tables, METH_O,
     "top_level_tables(address) -> the addresses of the document's tables with no table ancestor, in document order"},
    {"children", py_children, METH_O, "children(address) -> the children of the xmlNode or xmlDoc at address"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef tree_module = {
    PyModuleDef_HEAD_INIT, "_tree", "libxml2's tree as htmldom.Node objects, and the reference's grid over it", sizeof(state), methods,
    NULL, tree_traverse, tree_clear, NULL,
};

PyMODINIT_FUNC
PyInit__tree(void)
{
    PyObject *module = PyType_Ready(&builder_type) < 0 ? NULL : PyModule_Create(&tree_module);
    if (module && PyModule_AddType(module, &builder_type) < 0)
        Py_CLEAR(module);
    return module;
}
