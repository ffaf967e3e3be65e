"""The compiled tree walker (``html_table_spark/_tree.c``): libxml2's nodes
become the same ``htmldom.Node`` trees, with no leaked references, from a
build that works where the package is imported from a ``--py-files`` zip,
and an import that fails loudly when there is no compiler. The grid the same
file compiles is checked in ``test_grid_c.py``."""

from __future__ import annotations

import ctypes
import ctypes.util
import gc
import os
import shlex
import shutil
import subprocess
import sys
import sysconfig
import time
import tracemalloc
from pathlib import Path

import pytest

from html_table_spark import htmldom
from html_table_spark import libxml2 as binding
from html_table_spark.htmldom import parse_html
from tests import libxml2_oracle as oracle
from tests.grid_oracle import iter_elements
from tests.test_libxml2_corpus import ser

REPO = Path(__file__).resolve().parents[1]

# 250 divs in a td: the deepest div is element 255 of the document
# (html, body, table, tr, td, divs), one short of libxml2's cap
_DEPTH = 250
# each part's tree is pinned by a 2.9.14 golden in test_libxml2_corpus:
# attr_dupes_first_wins, attr_entity, attr_valueless, entity_named,
# entity_unknown, comment_normal, pi_php, script_rawtext
FIXTURE = (
    '<table id="a" id="b" title="a&amp;b" nowrap>'
    "<tr><td>a&amp;b&nbsp;c &foo;<!-- note --><?php echo 1 ?><?x>"
    "<script>var t='<table>';</script></td></tr>"
    "<tr><td>" + "<div>" * _DEPTH + "deep" + "</div>" * _DEPTH + "</td></tr></table>"
)
FIXTURE_TABLE = (
    "table(id='a' nowrap='nowrap' title='a&b')["
    "tr[td['a&b\\xa0c &foo;' #c' note ' #pi'php echo 1 ?' #pi'x' script[\"var t='<table>';\"]]] "
    "tr[td[" + "div[" * _DEPTH + "'deep'" + "]" * _DEPTH + "]]]"
)


def children(node_p) -> list:
    """``_tree.children`` of the element or document at ``node_p``."""
    return binding._tree.children(ctypes.cast(node_p, ctypes.c_void_p).value)


def test_fixture_converts_to_the_goldens():
    """Attributes (duplicates, entities, valueless), entities, a comment,
    PIs with and without content, ``<script>`` CDATA and a 255-deep chain,
    converted from an element (the body) and from the whole document."""
    with binding.document(FIXTURE) as doc:
        [body] = binding.query(doc, "//body")
        assert [ser(node) for node in children(body)] == [FIXTURE_TABLE]
    root, _ = parse_html(FIXTURE)
    assert ser(oracle.unwrap(root)) == f"#document[{FIXTURE_TABLE}]"


def _api():
    lib = ctypes.CDLL(ctypes.util.find_library("xml2"))
    vp, cp = ctypes.c_void_p, ctypes.c_char_p
    for name, restype, argtypes in [
        ("xmlNewDoc", vp, [cp]),
        ("xmlFreeDoc", None, [vp]),
        ("xmlNewDocNode", vp, [vp, vp, cp, cp]),
        ("xmlDocSetRootElement", vp, [vp, vp]),
        ("xmlNewDocText", vp, [vp, cp]),
        ("xmlNewCDataBlock", vp, [vp, cp, ctypes.c_int]),
        ("xmlNewDocComment", vp, [vp, cp]),
        ("xmlNewProp", vp, [vp, cp, cp]),
        ("xmlAddChild", vp, [vp, vp]),
    ]:
        fn = getattr(lib, name)
        fn.restype, fn.argtypes = restype, argtypes
    return lib


def test_adjacent_text_runs_merge():
    """libxml2's HTML parser merges adjacent text itself, so these siblings
    are built through its tree API: text and CDATA runs merge into one str,
    an empty run is dropped unless it merges, and a duplicate attribute
    (which xmlNewProp does not check for) keeps its first value."""
    lib = _api()
    doc = lib.xmlNewDoc(b"1.0")
    try:
        td = lib.xmlNewDocNode(doc, None, b"td", None)
        lib.xmlDocSetRootElement(doc, td)
        lib.xmlNewProp(td, b"id", b"first")
        lib.xmlNewProp(td, b"id", b"second")
        lib.xmlNewProp(td, b"nowrap", None)
        for child in [
            lib.xmlNewDocText(doc, b""),
            lib.xmlNewDocComment(doc, b"c"),
            lib.xmlNewCDataBlock(doc, b"b", 1),
            lib.xmlNewDocText(doc, b"c"),
            lib.xmlNewCDataBlock(doc, b"", 0),
            lib.xmlNewDocNode(doc, None, b"b", None),
            lib.xmlNewDocText(doc, b""),
            lib.xmlNewCDataBlock(doc, b"d", 1),
            lib.xmlNewDocText(doc, b"\xc3\xa9"),
        ]:
            lib.xmlAddChild(td, child)
        [node] = children(doc)
        assert ser(node) == "td(id='first' nowrap='')[#c'c' 'bc' b[] 'dé']"
        assert [type(c) for c in node.children] == [htmldom.Node, str, htmldom.Node, str]
    finally:
        lib.xmlFreeDoc(doc)


def test_conversion_does_not_leak():
    """Converting a one-table body 20,000 times, each tree dropped, grows traced
    memory by under 1 MB, and leaves the shared empties' reference counts
    where they were."""
    html = (
        '<table id="t1" class="cls"><tr><th colspan="2">head</th></tr>'
        "<tr><td>a<!-- c --><?pi x?><b>b</b></td><td nowrap>c&amp;d</td></tr></table>"
    )
    refs = sys.getrefcount(htmldom._EMPTY_ATTRS), sys.getrefcount(htmldom._EMPTY_CHILDREN)
    with binding.document(html) as doc:
        [body] = binding.query(doc, "//body")
        for _ in range(100):
            children(body)
        gc.collect()
        tracemalloc.start()
        try:
            before = tracemalloc.get_traced_memory()[0]
            for _ in range(20_000):
                children(body)
            gc.collect()
            grown = tracemalloc.get_traced_memory()[0] - before
        finally:
            tracemalloc.stop()
    assert grown < 1_000_000, grown
    assert (sys.getrefcount(htmldom._EMPTY_ATTRS), sys.getrefcount(htmldom._EMPTY_CHILDREN)) == refs


def _img_table(n_attrs: int) -> str:
    attrs = " ".join(f"a{i}={i}" for i in range(n_attrs))
    return f"<table><tr><td>a<img {attrs}></td><td>b</td></tr></table>"


def test_attribute_loop_is_linear():
    """The walker's work per attribute is constant: 8x the attributes on one
    element converts in well under 8^2 = 64x the time. (libxml2's own
    duplicate-attribute check at parse time is quadratic, as in the
    reference; it is not timed here.)"""

    def convert_s(n_attrs: int) -> float:
        with binding.document(_img_table(n_attrs)) as doc:
            [body] = binding.query(doc, "//body")
            [img] = [e for e in iter_elements(children(body)[0]) if e.tag == "img"]
            assert len(img.attrs) == n_attrs
            best = float("inf")
            for _ in range(5):
                t = time.perf_counter()
                children(body)
                best = min(best, time.perf_counter() - t)
            return best

    assert convert_s(10_000) / convert_s(1_250) < 24


def test_compiled_walker_needs_a_compiler(tmp_path):
    """With the compiler pointed at a missing binary and an empty build
    cache, the kernel's first parse fails with an ImportError that names
    the compiler."""
    code = (
        "import sysconfig\n"
        "sysconfig.get_config_vars()['CC'] = '/nonexistent/bin/cc'\n"
        "from html_table_spark.config import ParserConfig\n"
        "from html_table_spark.semantics import parse_document\n"
        "parse_document('<table></table>', ParserConfig())\n"
    )
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache")}
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True)
    assert proc.returncode != 0
    assert "ImportError: cannot build html_table_spark._tree with '/nonexistent/bin/cc'" in proc.stderr, proc.stderr


def test_validating_xpath_builds_no_walker(tmp_path):
    """The job's driver validates its table selection (``ParserConfig``,
    over ctypes) but parses no HTML: with an empty build cache that compiles
    and loads nothing, and the first parse afterwards builds the walker."""
    code = (
        "import os, sys\n"
        "from html_table_spark.config import ParserConfig\n"
        "config = ParserConfig().table_position('x')\n"
        "cache = os.path.join(os.environ['XDG_CACHE_HOME'], 'html_table_spark')\n"
        "print(os.path.exists(cache) and sorted(os.listdir(cache)), 'html_table_spark._tree' in sys.modules)\n"
        "from html_table_spark.semantics import parse_document\n"
        "[t] = parse_document('<table id=\"x\"><tr><td>a</td></tr></table>', config)\n"
        "print(t.status, t.row_texts(), 'html_table_spark._tree' in sys.modules)\n"
    )
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache")}
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.splitlines() == ["False False", "ok [['a']] True"]
    assert [p.name[:6] for p in (tmp_path / "cache" / "html_table_spark").iterdir()] == ["_tree-"]


def test_walker_builds_from_the_py_files_zip(tmp_path):
    """The zip ``scripts/submit.sh`` ships carries ``_tree.c``: a process
    with only that zip (and pyspark's directory) on ``sys.path`` and an
    empty build cache compiles the walker from it and extracts a table."""
    import pyspark

    zip_path = tmp_path / "ship" / "html_table_spark.zip"
    zip_path.parent.mkdir()
    subprocess.run([sys.executable, str(REPO / "scripts" / "pack_py_files.py"), str(zip_path)], check=True)
    code = (
        "import html_table_spark\n"
        "from html_table_spark import ParserConfig, parse_document\n"
        f"assert html_table_spark.__file__.startswith({str(zip_path)!r}), html_table_spark.__file__\n"
        "[t] = parse_document('<table><tr><td>a<b>b</b></td><td>c</td></tr></table>', ParserConfig())\n"
        "print(t.status, t.row_texts())\n"
    )
    cache = tmp_path / "cache"
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(cache),
        "PYTHONPATH": os.pathsep.join([str(zip_path), str(Path(pyspark.__file__).parents[1])]),
    }
    # -S: no site-packages beyond PYTHONPATH; the working directory holds no package
    proc = subprocess.run(
        [sys.executable, "-S", "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip() == "ok [['ab', 'c']]"
    assert [p.name.startswith("_tree-") for p in (cache / "html_table_spark").iterdir()] == [True]


def test_new_build_prunes_stale_builds(tmp_path):
    """A build into a cache that holds 6 older builds leaves at most 4
    ``_tree-*`` files, the loaded one among them; a later import of the same
    build refreshes its mtime and deletes nothing."""
    cache = tmp_path / "cache" / "html_table_spark"
    cache.mkdir(parents=True)
    suffix = sysconfig.get_config_var("EXT_SUFFIX")
    for k in range(6):
        stale = cache / f"_tree-{k:016x}{suffix}"
        stale.write_bytes(b"not a build")
        os.utime(stale, (1_000_000 + k, 1_000_000 + k))
    code = "from html_table_spark import libxml2\nprint(libxml2._tree.__file__)\n"
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache")}

    def load() -> Path:
        proc = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True)
        assert proc.returncode == 0, proc.stderr[-3000:]
        return Path(proc.stdout.strip())

    loaded = load()
    builds = sorted(cache.glob("_tree-*"))
    assert loaded in builds and len(builds) <= 4, builds
    os.utime(loaded, (1_000, 1_000))
    assert load() == loaded
    assert sorted(cache.glob("_tree-*")) == builds
    assert loaded.stat().st_mtime > 1_000_000


def test_tree_c_compiles_without_warnings(tmp_path):
    """``_tree.c`` builds with sysconfig's compiler under ``-Wall -Wextra
    -Werror`` against ``Python.h`` (the import builds it with ``-O2`` only,
    which hides warnings)."""
    cc = shlex.split(sysconfig.get_config_var("CC") or "cc")
    if shutil.which(cc[0]) is None:
        pytest.skip(f"no C compiler: {cc[0]!r} is not on PATH")
    cmd = [*cc, "-Wall", "-Wextra", "-Werror", "-O2", "-fPIC", "-c", "-I", sysconfig.get_paths()["include"]]
    proc = subprocess.run(
        [*cmd, str(REPO / "html_table_spark" / "_tree.c"), "-o", str(tmp_path / "_tree.o")],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
