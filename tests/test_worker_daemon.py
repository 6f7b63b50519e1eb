"""Python workers keep their zip-archive directories across tasks.

Each task a Python worker runs calls ``importlib.invalidate_caches()``. On
CPython 3.10-3.12 every ``zipimporter`` then re-reads its archive's central
directory at once; ``worker_daemon.install`` backports 3.13's lazy
invalidation, and ``build_session`` runs it as Spark's daemon module below
3.13. The lazy-invalidation test holds on any version: from 3.13 on
``install`` does nothing and the stock ``zipimport`` has to pass it. The
stock 3.13 ``pkgutil`` still reads the dropped directory, which the
backport mends below 3.13 only.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pkgutil
import subprocess
import sys
import zipfile
import zipimport
from collections import defaultdict
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sparkstreamingrealtimedatawithkafka_spark import worker_daemon
from sparkstreamingrealtimedatawithkafka_spark.session import PYTHON_DAEMON_CONF

REPO = Path(__file__).resolve().parent.parent

PACKAGE_DAEMON = worker_daemon.__name__ if worker_daemon.EAGER_ZIP_INVALIDATION else None

# Single-partition probe jobs to run at most while waiting for one worker to
# run three of them; Spark hands its idle workers out in turn.
MAX_PROBE_JOBS = 40


@pytest.fixture
def lazy_zipimport():
    """``worker_daemon.install()`` for one test; ``zipimporter`` is restored after."""
    cls = zipimport.zipimporter
    names = ("_files", "invalidate_caches")
    saved = {name: vars(cls)[name] for name in names if name in vars(cls)}
    worker_daemon.install()
    yield
    for name in names:
        if name in saved:
            setattr(cls, name, saved[name])
        elif name in vars(cls):
            delattr(cls, name)
    pkgutil.iter_importer_modules.register(cls, pkgutil.iter_zipimport_modules)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_invalidation_is_lazy(lazy_zipimport, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_a.py", "VALUE = 'a'\n")
    importer = zipimport.zipimporter(str(archive))  # created after install()
    assert _load(importer, "zipmod_a").VALUE == "a"

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(100):
        importer.invalidate_caches()
    assert reads == []

    # The directory is cached: an entry added behind the importer's back stays
    # invisible until the next invalidation.
    importer.find_spec("zipmod_a")
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zipmod_b.py", "VALUE = 'b'\n")
    assert importer.find_spec("zipmod_b") is None
    importer.invalidate_caches()
    assert _load(importer, "zipmod_b").VALUE == "b"
    assert reads == [str(archive)] * 2


@pytest.mark.skipif(
    not worker_daemon.EAGER_ZIP_INVALIDATION,
    reason="stock zipimport: pkgutil reads the directory invalidate_caches dropped",
)
def test_pkgutil_lists_an_invalidated_archive(lazy_zipimport, tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_a.py", "")
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    assert [name for name, _ in pkgutil.iter_importer_modules(importer)] == ["zipmod_a"]


def test_session_runs_package_daemon(spark):
    assert spark.sparkContext.getConf().get(PYTHON_DAEMON_CONF, None) == PACKAGE_DAEMON


def test_package_import_leaves_daemon_unimported():
    """Workers start the daemon with ``python -m``; had importing the package
    already imported it, runpy would warn and execute the module twice."""
    name = worker_daemon.__name__
    script = (
        "import runpy, sys, warnings\n"
        "import sparkstreamingrealtimedatawithkafka_spark.session\n"
        f"assert {name!r} not in sys.modules, 'imported with the package'\n"
        "warnings.simplefilter('error')\n"
        f"runpy.run_module({name!r}, run_name='probe')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]


def test_extra_restores_stock_daemon():
    # The daemon module is read from the SparkContext's conf, so build one.
    script = (
        "import json\n"
        "from sparkstreamingrealtimedatawithkafka_spark.session import build_session\n"
        "spark = build_session(master='local[1]', shuffle_partitions=1, extra={\n"
        f"    {PYTHON_DAEMON_CONF!r}: 'pyspark.daemon', 'spark.driver.memory': '512m'}})\n"
        f"print(json.dumps(spark.sparkContext.getConf().get({PYTHON_DAEMON_CONF!r})))\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([str(REPO), *sys.path])}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == "pyspark.daemon"


def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    @F.pandas_udf(StringType())
    def probe(ids: pd.Series) -> pd.Series:
        import os
        import sys
        import zipimport

        archive = next(p for p in sys.path if p.endswith("pyspark.zip"))
        directory = zipimport._zip_directory_cache.get(archive)
        verdict = "first"
        if hasattr(zipimport, "_probe_directory"):
            # A re-read stores a new directory object in the cache; a lazy
            # invalidation with no lookup since leaves no entry at all.
            kept = directory is None or directory is zipimport._probe_directory
            verdict = "kept" if kept else "reread"
        zipimport._probe_directory = directory
        return pd.Series([f"{os.getpid()}:{verdict}"] * len(ids))

    query = spark.range(0, 100, 1, numPartitions=1).select(probe("id").alias("p"))
    tasks: dict[str, list[str]] = defaultdict(list)
    for _ in range(MAX_PROBE_JOBS):
        pid, verdict = query.collect()[0].p.split(":")
        tasks[pid].append(verdict)
        if len(tasks[pid]) == 3:
            break
    assert max(len(v) for v in tasks.values()) == 3, dict(tasks)
    for verdicts in tasks.values():
        assert verdicts[0] == "first" and set(verdicts[1:]) <= {"kept"}, dict(tasks)
