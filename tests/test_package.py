# -*- coding: utf-8 -*-
"""The spark-submit ``--py-files`` archive is built, never committed:
``scripts/package.sh`` must produce a zip the package imports from."""

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IGNORED_DIRS = {".git", ".cache", "spark-warehouse", "__pycache__", ".bench_build", "dist", "profiles"}


def test_package_zip_is_importable(tmp_path):
    subprocess.run(
        ["sh", os.path.join(ROOT, "scripts", "package.sh")], check=True, capture_output=True
    )
    zip_path = os.path.join(ROOT, "dist", "serbian_osm_lint_spark.zip")
    # fresh interpreter outside the checkout: the zip is the only copy on the path
    out = subprocess.run(
        [sys.executable, "-c",
         "import serbian_osm_lint_spark.operators.spatial as m; print(m.__file__)"],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": zip_path},
        check=True,
        capture_output=True,
        text=True,
    ).stdout.strip()
    assert out.startswith(zip_path + os.sep), out


def test_no_python_file_hardcodes_the_checkout_path():
    """Scripts and tests find the package relative to themselves; a tree
    that names its own checkout path imports from (and writes into) that
    checkout when copied elsewhere. The tree is walked, not listed by git,
    so a clone and an unpacked source archive check the same files."""
    sources = []
    for d, dirs, files in os.walk(ROOT):  # the directories .gitignore names hold no source
        dirs[:] = [x for x in dirs if x not in IGNORED_DIRS]
        sources += [os.path.relpath(os.path.join(d, f), ROOT) for f in files if f.endswith(".py")]
    hits = []
    for rel in sources:
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            hits += [f"{rel}:{i}" for i, line in enumerate(f, 1) if ROOT in line]
    assert not hits, hits


def _probes_import(node):
    """``try: import x / except ImportError`` imports only to probe."""
    return any(isinstance(h.type, ast.Name) and h.type.id == "ImportError" for h in node.handlers)


def _unused_imports(tree):
    """(line, name) of every name a module or function body imports and
    never reads in that scope (nested scopes included); availability
    probes (:func:`_probes_import`) are not bindings."""
    found = []
    for scope in ast.walk(tree):
        if not isinstance(scope, (ast.Module, ast.FunctionDef)):
            continue
        bound, todo = [], list(scope.body)
        while todo:  # the scope's own statements, not nested defs or classes
            node = todo.pop()
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                if not (isinstance(node, ast.ImportFrom) and node.module == "__future__"):
                    bound += [(node.lineno, (a.asname or a.name).split(".")[0])
                              for a in node.names if a.name != "*"]
            elif isinstance(node, ast.Try) and _probes_import(node):
                todo += node.orelse + node.finalbody + [s for h in node.handlers for s in h.body]
            elif not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                todo += [c for c in ast.iter_child_nodes(node) if isinstance(c, ast.stmt)]
        read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)
                and not isinstance(n.ctx, ast.Store)}
        found += [(line, name) for line, name in bound if name not in read]
    return found


def test_no_unused_imports():
    """Every name the package or a job imports is read in the scope that
    imports it (a stdlib-``ast`` stand-in for a linter's unused-import
    rule; ``# noqa`` does not exempt a line)."""
    hits = []
    for top in ("serbian_osm_lint_spark", "jobs"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(x for x in files if x.endswith(".py")):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                rel = os.path.relpath(path, ROOT)
                hits += [f"{rel}:{line}: {name}" for line, name in _unused_imports(tree)]
    assert not hits, hits
