"""Every top-level function and class in ``dataflow_spark/``, and every
method of its top-level classes, is referenced by some Python file of the
repo outside its own definition.

A reference is an ``ast.Name`` or ``ast.Attribute`` node, or a name in an
import statement. Strings, docstrings and comments do not count, so an
operator that only a docstring still mentions is reported. References
from ``tests/`` count: tests keep reference implementations alive on
purpose. Dunder methods and Spark's ``onQuery*`` listener callbacks are
called by Python and Spark, not by repo code, so they are exempt. No
SparkSession is needed.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files(root):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(
            d for d in dirnames if not d.startswith(".") and d != "__pycache__"
        )
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _references(tree):
    """(name, lineno) of every identifier the module's code uses."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield alias.name.rsplit(".", 1)[-1], node.lineno


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _span(node):
    return min([node.lineno] + [d.lineno for d in node.decorator_list]), node.end_lineno


def _exempt(method):
    return (method.startswith("__") and method.endswith("__")) or method.startswith(
        "onQuery"
    )


def unreferenced_definitions(repo=REPO):
    """Sorted ``module:name`` (``module:Class.method`` for methods) of the
    package's top-level defs, classes and class methods that nothing
    references outside their own definition."""
    defs = []  # (path, reported name, referenced name, first line, last line)
    refs = {}  # name -> [(path, lineno)]
    for path in _py_files(repo):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        if path.startswith(os.path.join(repo, "dataflow_spark") + os.sep):
            for node in tree.body:
                if isinstance(node, (*_FUNCS, ast.ClassDef)):
                    defs.append((path, node.name, node.name, *_span(node)))
                if isinstance(node, ast.ClassDef):
                    for m in node.body:
                        if isinstance(m, _FUNCS) and not _exempt(m.name):
                            qual = f"{node.name}.{m.name}"
                            defs.append((path, qual, m.name, *_span(m)))
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))
    dead = []
    for path, qual, name, first, last in defs:
        if not any(
            p != path or not first <= line <= last for p, line in refs.get(name, ())
        ):
            module = os.path.relpath(path, repo)[: -len(".py")].replace(os.sep, ".")
            dead.append(f"{module}:{qual}")
    return sorted(dead)


def test_every_package_definition_is_referenced():
    assert unreferenced_definitions() == []


def test_scan_sees_through_docstrings_and_self_references(tmp_path):
    pkg = tmp_path / "dataflow_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def used():\n"
        "    return 1\n"
        "\n"
        "def recursive(n):\n"
        "    '''calls used() and recursive() in prose only'''\n"
        "    return recursive(n - 1) if n else 0\n"
        "\n"
        "class Holder:\n"
        "    pass\n"
    )
    (tmp_path / "caller.py").write_text(
        "from dataflow_spark import mod\n"
        "from dataflow_spark.mod import Holder\n"
        "mod.used()\n"
        "# recursive()\n"
    )
    assert unreferenced_definitions(str(tmp_path)) == ["dataflow_spark.mod:recursive"]


def test_scan_sees_unreferenced_methods(tmp_path):
    pkg = tmp_path / "dataflow_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "class Holder:\n"
        "    def __init__(self):\n"
        "        self.kept()\n"
        "\n"
        "    def kept(self):\n"
        "        return 1\n"
        "\n"
        "    def leftover(self):\n"
        "        'mentions kept() and leftover() in prose only'\n"
        "        return self.leftover\n"
        "\n"
        "    def onQueryProgress(self, event):\n"
        "        pass\n"
    )
    (tmp_path / "caller.py").write_text(
        "from dataflow_spark.mod import Holder\n"
        "Holder()\n"
    )
    assert unreferenced_definitions(str(tmp_path)) == ["dataflow_spark.mod:Holder.leftover"]
