/* libxml2's tree as htmldom.Node objects, one C call per subtree.

   libxml2.py builds and loads this file as <package>._tree and binds it to
   htmldom's Node class once (bind). element() and children() then walk
   libxml2 2.9 nodes by address under the rules libxml2.py's docstring
   lists. Only the leading fields of xmlNode and xmlAttr (tree.h) are read,
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

/* what bind() holds: Node, its kind values and shared empties */
enum { NODE_TYPE, ELEMENT, COMMENT, PI, EMPTY_ATTRS, EMPTY_CHILDREN, EMPTY_STR, HELD };
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
py_element(PyObject *module, PyObject *arg)
{
    state *st = bound(module);
    xml_node *n = st ? address(arg) : NULL;
    return n ? element(st, n) : NULL;
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
py_bind(PyObject *module, PyObject *args)
{
    state *st = PyModule_GetState(module);
    PyObject *held[HELD];
    if (!PyArg_ParseTuple(args, "O!OOOO!O!:bind", &PyType_Type, &held[NODE_TYPE], &held[ELEMENT],
                          &held[COMMENT], &held[PI], &PyDict_Type, &held[EMPTY_ATTRS], &PyList_Type,
                          &held[EMPTY_CHILDREN]))
        return NULL;
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
     "bind(Node, ELEMENT, COMMENT, PI, empty_attrs, empty_children): the class and shared values to build with"},
    {"element", py_element, METH_O, "element(address) -> the xmlNode element at address, subtree included, as a Node"},
    {"children", py_children, METH_O, "children(address) -> the children of the xmlNode or xmlDoc at address"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef tree_module = {
    PyModuleDef_HEAD_INIT, "_tree", "libxml2's tree as htmldom.Node objects", sizeof(state), methods,
    NULL, tree_traverse, tree_clear, NULL,
};

PyMODINIT_FUNC
PyInit__tree(void)
{
    return PyModule_Create(&tree_module);
}
