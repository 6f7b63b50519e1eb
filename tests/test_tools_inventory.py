"""The kept measurement and release tools stay importable, cited paths
stay real, and scale_check's shape table stays in step with the operator
signatures it re-implements."""

from __future__ import annotations

import ast
import importlib
import re
import subprocess
import sys
from pathlib import Path

import pytest
from conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))

# Files whose citations of tool scripts and artifacts must resolve. The
# historical records (CHANGES.md, OPTIMIZATION_r*.md, VERDICT.md,
# SURVEY.md) describe the repo as it was and are exempt.
CITING = [
    REPO / "README.md",
    REPO / "DEPLOY.md",
    REPO / "bench.py",
    *sorted((REPO / "sparkstreamingrealtimedatawithkafka_spark").rglob("*.py")),
    *sorted((REPO / "tests").glob("*.py")),
]
CITATION = re.compile(r"\btools/(\w+\.(?:py|json))\b")


@pytest.mark.parametrize("stem", TOOLS)
def test_tool_imports_without_running_main(stem):
    """Importing a tool runs none of its work, and its ``__main__`` guard is
    the last top-level statement: a def below the guard does not exist yet
    when the file runs as a script."""
    importlib.import_module(f"tools.{stem}")
    body = ast.parse((REPO / "tools" / f"{stem}.py").read_text()).body
    guard = body[-1]
    assert (
        isinstance(guard, ast.If)
        and ast.unparse(guard.test) == "__name__ == '__main__'"
    ), f"tools/{stem}.py: the __main__ guard must come last"
    calls = [
        c
        for node in body[:-1]
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef))
        for c in ast.walk(node)
        if isinstance(c, ast.Call) and getattr(c.func, "id", None) == "main"
    ]
    assert not calls, f"tools/{stem}.py calls main() outside its guard"


def test_tools_dir_first_on_path_keeps_pyspark_importable():
    """A tool run as a script has tools/ first on sys.path, where
    profile.py answers the stdlib ``import profile`` that pyspark makes
    through cProfile; the import must still get the stdlib module."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import pyspark.sql, profile; assert hasattr(profile, 'runctx')"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(REPO / "tools")],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]


def test_cited_tool_paths_exist():
    missing = sorted(
        f"{src.relative_to(REPO)} -> tools/{name}"
        for src in CITING
        for name in CITATION.findall(src.read_text())
        if not (REPO / "tools" / name).exists()
    )
    assert not missing, missing


def test_scale_check_shapes_build_at_1x(spark):
    """Every row of the shape table builds over sf0.001 inputs and resolves
    its schema. No 10x copy is materialized; the path graph is shrunk
    because its size, unlike the tables', does not follow the sf."""
    from tools import scale_check

    assert len(scale_check.SHAPES) == 44
    t = scale_check.inputs(spark, SF_DIR)
    t["path"] = scale_check.path_edges(spark, 1_000)
    for name, shape in scale_check.SHAPES.items():
        assert shape(t).schema.fields, name
