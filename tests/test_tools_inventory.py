"""The kept measurement and release tools stay importable, cited paths
stay real, scale_check's name table points every old shape row at a
catalog entry, and its 10x sf-dir is a faithful 10x of the fixture."""

from __future__ import annotations

import ast
import importlib
import json
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
    """A tool run as a script has tools/ first on sys.path, so a tool named
    after a stdlib module pyspark imports (``profile``, through cProfile)
    would shadow it and break every tool; the import must get the stdlib
    module."""
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


# Rows re-measured under a suffixed name of a table shape.
REMEASURED = {
    "ppjoin_exact_posfilter": "ppjoin_exact",
    "snm_linear_recheck": "snm_linear",
}


def _rows(path: Path) -> dict:
    """The measured rows of a committed scale_check artifact, by name."""
    data = json.loads(path.read_text())
    rows = {k: v for k, v in data.items() if isinstance(v, dict) and "time_ratio" in v}
    return {**rows, **data.get("rows", {})}


def test_scale_check_names_map_to_registry_keys():
    """Every old shape name maps to a catalog entry, every shape row in the
    committed shape-era artifacts is a table name (or the synthetic path
    graph), and the entry-era artifact covers every key mapped from the
    r7 full sweep."""
    from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY
    from tools import scale_check

    assert len(scale_check.SHAPE_KEYS) == 43
    assert set(scale_check.SHAPE_KEYS.values()) <= set(REGISTRY)
    assert len(scale_check.SHAPE_OF) == len(scale_check.SHAPE_KEYS)
    known = set(scale_check.SHAPE_KEYS) | {scale_check.SYNTHETIC}
    for path in sorted((REPO / "tools").glob("scale_check_r*.json")):
        names = {REMEASURED.get(n, n) for n in _rows(path)}
        assert names <= known, (path.name, sorted(names - known))

    entries = _rows(REPO / "tools" / "scale_check_entries.json")
    assert set(entries) <= set(REGISTRY) | {scale_check.SYNTHETIC}
    r7_keys = {
        scale_check.SHAPE_KEYS[n]
        for n in _rows(REPO / "tools" / "scale_check_r7_full.json")
    }
    assert r7_keys <= set(entries), sorted(r7_keys - set(entries))


PRIMARY_KEYS = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "documents": ["doc_id"],
    "events": ["event_id"],
    "part": ["p_partkey"],
    "embeddings": ["vec_id"],
}


def test_scale_check_materializes_a_full_schema_10x_sf_dir(spark, tmp_path):
    """Over sf0.001: every table loads through the schema contract; the
    replicated tables hold 10x the rows and 10x the distinct primary keys,
    the symlinked ones their own rows; ``n_chars`` follows the new text;
    the lineitem-orders join and q1's groups grow exactly 10x."""
    from pyspark.sql import functions as F

    from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY
    from sparkstreamingrealtimedatawithkafka_spark.sources.registry import (
        TABLES,
        load_table,
    )
    from tools import scale_check

    assert set(scale_check.REPLICATED) == set(PRIMARY_KEYS)
    out = scale_check.materialize(spark, SF_DIR, str(tmp_path / "sf10"))
    assert (tmp_path / "sf10" / "_DONE").exists()
    t1 = {n: load_table(spark, SF_DIR, n) for n in TABLES}
    t10 = {n: load_table(spark, out, n) for n in TABLES}
    for name in TABLES:
        factor = 10 if name in PRIMARY_KEYS else 1
        assert t10[name].count() == factor * t1[name].count(), name
        if name in PRIMARY_KEYS:
            keys = PRIMARY_KEYS[name]
            distinct = [t[name].select(*keys).distinct().count() for t in (t1, t10)]
            assert distinct[1] == 10 * distinct[0], name

    docs = t10["documents"]
    assert docs.filter(F.col("n_chars") != F.length("text")).count() == 0

    def joined(t):
        return t["lineitem"].join(
            t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        ).count()

    assert joined(t10) == 10 * joined(t1) > 0

    q1 = REGISTRY["q1_pricing_summary"].fn
    groups = [
        {
            (r.l_returnflag, r.l_linestatus): r.count_order
            for r in q1(spark, d).collect()
        }
        for d in (SF_DIR, out)
    ]
    assert groups[1] == {g: 10 * n for g, n in groups[0].items()}


def test_scale_check_synthetic_row_builds_no_10x_dir(spark, monkeypatch, capsys):
    """``ccstar_path`` reads no fixture: a run of that row alone neither
    materializes the 10x sf-dir nor counts its rows."""
    from tools import scale_check

    def no_materialize(*args):
        raise AssertionError("materialize called for a synthetic-only run")

    monkeypatch.setattr(scale_check, "materialize", no_materialize)
    monkeypatch.setattr(scale_check, "build_session", lambda **kw: spark)
    monkeypatch.setattr(scale_check, "SF_DIR", SF_DIR)
    monkeypatch.setattr(scale_check, "min_time", lambda spark, build: 1.0)
    monkeypatch.setattr(scale_check, "ccstar_path", lambda spark, n: None)
    monkeypatch.setattr(scale_check, "noop", lambda df: None)
    monkeypatch.setattr(sys, "argv", ["scale_check.py", scale_check.SYNTHETIC])
    scale_check.main()
    summary = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert list(summary["rows"]) == [scale_check.SYNTHETIC]
    assert "rows_10x" not in summary


def test_scale_check_warms_star_code_before_timing(spark, monkeypatch, capsys):
    """The ``ccstar_path`` row times its 1x side first, so a small path runs
    the star contraction, untimed, before any timing starts."""
    from tools import scale_check

    events = []

    def path(spark, n):
        events.append(("build", n))
        return n

    def timed(spark, build):
        events.append(("time", build()))
        return 1.0

    monkeypatch.setattr(scale_check, "build_session", lambda **kw: spark)
    monkeypatch.setattr(scale_check, "SF_DIR", SF_DIR)
    monkeypatch.setattr(scale_check, "ccstar_path", path)
    monkeypatch.setattr(scale_check, "noop", lambda df: events.append(("run", df)))
    monkeypatch.setattr(scale_check, "min_time", timed)
    monkeypatch.setattr(sys, "argv", ["scale_check.py", scale_check.SYNTHETIC])
    scale_check.main()
    capsys.readouterr()
    warm = scale_check.WARM_PATH_NODES
    assert events[1:] == [
        ("build", warm),
        ("run", warm),
        ("build", scale_check.PATH_NODES),
        ("time", scale_check.PATH_NODES),
        ("build", scale_check.PATH_NODES * scale_check.FACTOR),
        ("time", scale_check.PATH_NODES * scale_check.FACTOR),
    ]


def test_scale_check_path_runs_distributed_star(spark, monkeypatch):
    """Both sizes of ``ccstar_path`` time the distributed contraction, though
    the 1x path is small enough to finish on the driver; the driver finish
    is on again afterwards."""
    from sparkstreamingrealtimedatawithkafka_spark.operators import graph
    from tools import scale_check

    assert scale_check.PATH_NODES - 1 <= graph.DRIVER_MAX_EDGES
    loops = []
    iterate = graph._iterate

    def counted(*args, **kw):
        loops.append(args)
        return iterate(*args, **kw)

    monkeypatch.setattr(graph, "_iterate", counted)
    bound = graph.DRIVER_MAX_EDGES
    row = scale_check.ccstar_path(spark, 50).collect()[0]
    assert (row.n, row.s) == (50, 50)
    assert loops, "the star path finished on the driver"
    assert graph.DRIVER_MAX_EDGES == bound
