# -*- coding: utf-8 -*-
"""The spark-submit ``--py-files`` archive is built, never committed:
``scripts/package.sh`` must produce a zip the package imports from."""

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
