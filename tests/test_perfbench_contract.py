"""The benchmark harness (``perfbench/``) and the scripts tier-1 does not
run (``bench.py``, ``__spark_entry__.py``, ``scripts/*.py``) against the
package they use.

perfbench is kept fixed between benchmark changes, so a package change that
drops or renames a name it uses shows up only when the benchmark runs, and
then as no numbers at all; a script breaks as silently. This reads their
source with ``ast`` (no Spark session, nothing run) and checks every use of
the package, and of ``__spark_entry__`` and ``bench``, there:

- each ``from html_table_spark... import x`` (or ``import m as y``) resolves;
- each call of such a name, or of ``module.attr`` on an imported module,
  binds its positional count and keyword names to the callee's signature;
- each attribute read or assigned on an imported module exists.

A name perfbench patches must also still be called: the traced write job
(``layers.traced_write_job``) reads one span from each of the three it
patches, so one test runs ``run_job`` with those names counted.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import types
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PERFBENCH = REPO / "perfbench"
SOURCES = sorted(PERFBENCH.rglob("*.py"))
SCRIPTS = [REPO / "bench.py", REPO / "__spark_entry__.py", *sorted((REPO / "scripts").glob("*.py"))]
# the repo's own modules; a use of any other import is not checked
CHECKED = ("html_table_spark", "__spark_entry__", "bench")


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        raise AssertionError(f"from {module} import {name}: {name} is gone") from None


def _package_names(tree: ast.AST) -> dict[str, object]:
    """Local name -> object, for every import of a ``CHECKED`` module in the
    file (the files import inside functions; their names do not clash)."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in CHECKED:
                    # ``import a.b`` binds ``a``; ``import a.b as c`` binds ``a.b``
                    module = alias.name if alias.asname else alias.name.split(".")[0]
                    names[alias.asname or module] = importlib.import_module(module)
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.split(".")[0] in CHECKED:
            for alias in node.names:
                names[alias.asname or alias.name] = _resolve(node.module, alias.name)
    return names


def _bind(fn, call: ast.Call, where: str) -> None:
    try:
        sig = inspect.signature(fn)
    except (TypeError, ValueError):
        return
    kwargs = {k.arg: None for k in call.keywords if k.arg is not None}
    if any(isinstance(a, ast.Starred) for a in call.args):
        args = ()
    else:
        args = (None,) * len(call.args)
    try:
        sig.bind_partial(*args, **kwargs)
    except TypeError as exc:
        raise AssertionError(f"{where}: {ast.unparse(call)[:120]} does not bind to {sig}: {exc}")


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(PERFBENCH)))
def test_perfbench_uses_of_the_package_resolve(path):
    _check(path)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_script_uses_of_the_package_resolve(path):
    _check(path)


def _check(path: Path) -> None:
    tree = ast.parse(path.read_text(), filename=str(path))
    names = _package_names(tree)
    modules = {n for n, obj in names.items() if isinstance(obj, types.ModuleType)}
    for node in ast.walk(tree):
        where = f"{path.name}:{getattr(node, 'lineno', '?')}"
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            # reads, calls and assignments (monkeypatching) alike
            assert hasattr(names[node.value.id], node.attr), (
                f"{where}: {node.value.id}.{node.attr} is gone"
            )
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        if isinstance(func, ast.Name) and func.id in names:
            _bind(names[func.id], node, where)
        elif (
            isinstance(func, ast.Attribute)
            and isinstance(func.value, ast.Name)
            and func.value.id in modules
        ):
            _bind(getattr(names[func.value.id], func.attr), node, where)


def test_the_harness_is_read():
    """The walk above sees the harness's own package imports."""
    seen = set()
    for path in SOURCES:
        seen |= set(_package_names(ast.parse(path.read_text())))
    assert {"run_extraction_concurrent", "extract_tables", "pipeline", "get_spark"} <= seen


def test_run_job_calls_the_names_the_traced_write_patches(spark, tmp_path, monkeypatch):
    """``layers.traced_write_job`` times the write, the lineage and the
    commit by patching ``pipeline.run_extraction_concurrent``,
    ``pipeline.lineage_from_extracted`` and the sink's ``commit_run``:
    ``run_job`` calls each once, the lineage before the commit."""
    from html_table_spark.corpus import synthesize_documents
    from html_table_spark.plans import pipeline
    from html_table_spark.sources.documents import DOCUMENTS_SCHEMA
    from html_table_spark.sources.sinks import SnapshotSink

    calls = []

    def counted(name, fn):
        def wrapper(*a, **k):
            calls.append(name)
            return fn(*a, **k)

        return wrapper

    for name in ("run_extraction_concurrent", "lineage_from_extracted"):
        monkeypatch.setattr(pipeline, name, counted(name, getattr(pipeline, name)))
    sink = SnapshotSink(str(tmp_path / "sink"))
    sink.commit_run = counted("commit_run", sink.commit_run)
    docs = spark.createDataFrame(synthesize_documents(n_docs=4, seed=3), DOCUMENTS_SCHEMA)
    pipeline.run_job(spark, docs, sink)
    assert calls == ["run_extraction_concurrent", "lineage_from_extracted", "commit_run"]
