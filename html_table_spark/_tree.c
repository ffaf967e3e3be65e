/* libxml2's tree as htmldom.Node objects, and the reference's grid over it.

   libxml2.py builds and loads this file as <package>._tree and binds it to
   htmldom's Node and Cell classes once (bind). children() converts a
   subtree to Nodes under the rules libxml2.py's docstring lists; table()
   reads a selected table's caption, header and rows with the semantics
   semantics.py lists, building no Node. Only the leading fields of xmlNode
   and xmlAttr (tree.h) are read, declared below as the ctypes binding
   declares them, so the build needs Python.h alone: no libxml2 headers,
   nothing to link. */

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


/* ---- the grid (Parser.php:366-622) over libxml2's nodes ---------------- */

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

/* The node after n in root's subtree in document order, entering elements
   only, as convert() does. */
static xml_node *
after(xml_node *n, const xml_node *root)
{
    if (n->type == XML_ELEMENT && n->children)
        return n->children;
    for (; n != root; n = n->parent)
        if (n->next)
            return n->next;
    return NULL;
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

static const char *const MEDIA_TAGS[] = {"img", "object", "embed", "video", "audio", "source", "iframe", NULL};

/* Node.text_content() of root's converted tree: each text and CDATA node
   under it decoded on its own, joined. With refs, the non-empty
   data-media-ref of each media element under root goes to refs (F13). */
static PyObject *
text_content(state *st, xml_node *root, PyObject *refs)
{
    xml_node *only = root->children;
    if (only && !only->next && is_text(only))
        return only->content ? decode(only->content) : Py_NewRef(st->held[EMPTY_STR]);
    PyObject *parts = PyList_New(0), *item;
    for (xml_node *n = root; parts && (n = after(n, root));) {
        int media = 0;
        for (int i = 0; refs && MEDIA_TAGS[i]; i++)
            media |= is_tag(n, MEDIA_TAGS[i]);
        xml_attr *a = media ? attribute(n, "data-media-ref") : NULL;
        if (a)
            item = attr_value(st, a->children);
        else if (is_text(n) && n->content && n->content[0])
            item = decode(n->content);
        else
            continue;
        if (item == NULL || (PyUnicode_GET_LENGTH(item) && PyList_Append(a ? refs : parts, item) < 0))
            Py_CLEAR(parts);
        Py_XDECREF(item);
    }
    PyObject *text = parts ? PyUnicode_Join(st->held[EMPTY_STR], parts) : NULL;
    Py_XDECREF(parts);
    return text;
}

/* Parser.php:549-556: the attribute's PHP (int) cast, clamped to 2..1000,
   else 1; -1 with an exception set. The cast skips leading whitespace and
   reads the longest decimal number (ASCII digits, as PHP reads them) and
   truncates it; one that overflows keeps its integer part. */
static int
span(state *st, const xml_node *n, const char *name)
{
    xml_attr *a = attribute(n, name);
    PyObject *value = a ? attr_value(st, a->children) : NULL;
    const char *s = value ? PyUnicode_AsUTF8(value) : NULL;
    double v = 0;
    if (s) {
        s += strspn(s, " \t\n\r\v\f");
        const char *digits = s + (*s == '+' || *s == '-'), *end = digits + strspn(digits, "0123456789");
        char *stop;
        v = end > digits ? PyOS_string_to_double(s, &stop, NULL) : 0;
        if (Py_IS_INFINITY(v) && *s != '-')
            for (v = 0; digits < end && v < 1001; digits++)
                v = 10 * v + (*digits - '0');
    }
    Py_XDECREF(value);
    if (a && (s == NULL || PyErr_Occurred()))
        return -1;
    return v >= 2 && v < 1001 ? (int)v : 1;
}

/* A rowspan state (Parser.php:559-574), by child index: at[i] holds left
   more rows of colspan copies of cell, spliced in before child i. */
typedef struct {
    struct carry {
        PyObject *cell;
        int colspan, left;
    } *at;
    Py_ssize_t size;
} carries;

static void
drop(carries *cs)
{
    for (Py_ssize_t i = 0; i < cs->size; i++)
        Py_XDECREF(cs->at[i].cell);
    PyMem_Free(cs->at);
}

static int
splice(carries *cs, Py_ssize_t i, PyObject *row)
{
    struct carry *c = i < cs->size && cs->at[i].left ? &cs->at[i] : NULL;
    for (int k = 0; c && k < c->colspan; k++)
        if (PyList_Append(row, c->cell) < 0)
            return -1;
    if (c && --c->left == 0)
        Py_CLEAR(c->cell);
    return 0;
}

/* One table() call's settings: media refs or not; the header row, kept out
   of the body, and its width, which rows are cut or padded to (if >= 0). */
typedef struct {
    state *st;
    int media;
    xml_node *skip;
    Py_ssize_t width;
} grid;

/* Appends colspan copies of td/th n, child i of its row; queues its rowspan. */
static int
cell(grid *g, xml_node *n, carries *cs, Py_ssize_t i, PyObject *row)
{
    PyTypeObject *type = (PyTypeObject *)g->st->held[CELL_TYPE];
    int colspan = 1, rowspan = 1;
    if (n->properties && ((colspan = span(g->st, n, "colspan")) < 0 || (rowspan = span(g->st, n, "rowspan")) < 0))
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
    PyObject *refs = g->media ? PyList_New(0) : NULL;
    PyObject *text = refs || !g->media ? text_content(g->st, n, refs) : NULL;
    PyObject *media = text == NULL ? NULL : refs ? PyList_AsTuple(refs) : PyTuple_New(0);
    PyObject *cell = media ? type->tp_alloc(type, 2) : NULL;
    Py_XDECREF(refs);
    if (cell == NULL) {
        Py_XDECREF(text);
        Py_XDECREF(media);
        return -1;
    }
    PyTuple_SET_ITEM(cell, 0, text);
    PyTuple_SET_ITEM(cell, 1, media);
    if (rowspan > 1) {
        Py_XSETREF(cs->at[i].cell, Py_NewRef(cell));
        cs->at[i].colspan = colspan, cs->at[i].left = rowspan - 1;
    }
    int rc = 0;
    for (int k = 0; rc == 0 && k < colspan; k++)
        rc = PyList_Append(row, cell);
    Py_DECREF(cell);
    return rc;
}

/* One <tr> grid-expanded (Parser.php:547-587) into a new list: colspan
   copies of each td/th, earlier rowspans' carries spliced in before the
   child at their index (children indexed as convert() keeps them), the
   single trailing splice; cut or padded with None (Parser.php:614-622). */
static PyObject *
record(grid *g, xml_node *tr, carries *cs)
{
    PyObject *row = PyList_New(0);
    Py_ssize_t index = 0;
    int in_text = 0;
    for (xml_node *n = tr->children; row && n; n = n->next) {
        if (is_text(n)) {
            if (in_text || !n->content || !n->content[0])
                continue;
            in_text = 1;
        }
        else if (n->type == XML_ELEMENT || n->type == XML_COMMENT || n->type == XML_PI)
            in_text = 0;
        else
            continue;
        if (splice(cs, index, row) < 0 || ((is_tag(n, "td") || is_tag(n, "th")) && cell(g, n, cs, index, row) < 0))
            Py_CLEAR(row);
        index++;
    }
    /* PHP: $index ??= -2 in a row with no children, and no carry is at -1 */
    if (row && index > 0 && splice(cs, index, row) < 0)
        Py_CLEAR(row);
    while (row && g->width >= 0 && PyList_GET_SIZE(row) != g->width)
        if ((PyList_GET_SIZE(row) > g->width ? PyList_SetSlice(row, g->width, PY_SSIZE_T_MAX, NULL)
                                              : PyList_Append(row, Py_None)) < 0)
            Py_CLEAR(row);
    return row;
}

/* Appends the record of tr to rows, if tr is a body row. */
static int
add_row(grid *g, xml_node *tr, carries *cs, PyObject *rows)
{
    if (!is_tag(tr, "tr") || tr == g->skip)
        return 0;
    PyObject *row = record(g, tr, cs);
    int rc = row ? PyList_Append(rows, row) : -1;
    Py_XDECREF(row);
    return rc;
}

/* Parser.php:475-508: the rows of the table's children named in sections
   (of thead, tbody, tfoot, tr), in document order; the rowspan state is
   fresh per thead/tbody/tfoot, shared by the table's own tr children. */
static int
body(grid *g, xml_node *table, PyObject *sections, PyObject *rows)
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
            rc = add_row(g, s, &shared, rows);
            continue;
        }
        carries own = {NULL, 0};
        for (xml_node *tr = s->children; tr && rc == 0; tr = tr->next)
            rc = add_row(g, tr, &own, rows);
        drop(&own);
    }
    drop(&shared);
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

static PyObject *
py_table(PyObject *module, PyObject *args)
{
    PyObject *where, *sections, *rows = NULL, *text = NULL, *result = NULL;
    const char *section;
    Py_ssize_t offset;
    int media;
    if (!PyArg_ParseTuple(args, "OznO!p:table", &where, &section, &offset, &PyTuple_Type, &sections, &media))
        return NULL;
    state *st = bound(module);
    xml_node *table = st ? address(where) : NULL, *caption, *header_row;
    if (table == NULL)
        return NULL;
    lookups(table, section, offset, &caption, &header_row);
    /* Parser.php:532-540: the header row with a throwaway rowspan state;
       a header of one cell or more keeps its row out of the body */
    grid g = {st, 0, NULL, -1};
    carries none = {NULL, 0};
    PyObject *header = header_row ? record(&g, header_row, &none) : PyList_New(0);
    drop(&none);
    for (Py_ssize_t i = 0; header && i < PyList_GET_SIZE(header); i++)
        PyList_SetItem(header, i, Py_NewRef(PyTuple_GET_ITEM(PyList_GET_ITEM(header, i), 0)));
    if (header && PyList_GET_SIZE(header))
        g.skip = header_row, g.width = PyList_GET_SIZE(header);
    g.media = media;
    rows = header ? PyList_New(0) : NULL;
    if (rows && body(&g, table, sections, rows) == 0)
        text = caption ? text_content(st, caption, NULL) : Py_NewRef(Py_None);
    if (text)
        result = PyTuple_Pack(3, text, header, rows);
    Py_XDECREF(text);
    Py_XDECREF(header);
    Py_XDECREF(rows);
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
     "table(address, section, offset, sections, media) -> (caption, header, rows) of the xmlNode table at address"},
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
    return PyModule_Create(&tree_module);
}
