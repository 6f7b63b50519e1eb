"""Spark's generated-code cache is sized for the session's working set.

``build_session`` sets the static conf ``spark.sql.codegen.cache.maxEntries``
so that a session cycling through more generated classes than Spark's
default 100 entries stops recompiling them on every pass. The pass test
reads Janino compilations from Spark's ``CodegenMetrics``; with the default
size its second pass recompiles every query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from sparkstreamingrealtimedatawithkafka_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
)

REPO = Path(__file__).resolve().parent.parent

# More distinct queries than Spark's default cache holds (100 entries).
N_QUERIES = 150


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sets_codegen_cache_size(spark):
    assert spark.conf.get(CODEGEN_CACHE_CONF) == str(CODEGEN_CACHE_ENTRIES)


def test_extra_overrides_codegen_cache_size():
    # A static conf only takes effect in a new JVM, so build one.
    script = (
        "import json\n"
        "from sparkstreamingrealtimedatawithkafka_spark.session import build_session\n"
        "spark = build_session(master='local[1]', shuffle_partitions=1, extra={\n"
        f"    {CODEGEN_CACHE_CONF!r}: '123', 'spark.driver.memory': '512m'}})\n"
        f"print(json.dumps(spark.conf.get({CODEGEN_CACHE_CONF!r})))\n"
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
    assert json.loads(out.stdout.strip().splitlines()[-1]) == "123"


def test_repeated_queries_compile_once(spark):
    # Integer literals are inlined into the generated code, so every query
    # compiles its own class.
    queries = [
        spark.range(10).selectExpr(f"id * {i} + {i} AS v") for i in range(1, N_QUERIES + 1)
    ]
    first_start = _compilations(spark)
    for i, df in enumerate(queries, start=1):
        assert df.collect()[3].v == 3 * i + i
    first = _compilations(spark) - first_start

    second_start = _compilations(spark)
    for df in queries:
        df.collect()
    second = _compilations(spark) - second_start

    assert first >= N_QUERIES
    assert second == 0
