"""SparkSession factory.

Carries the runtime confs the reference job needs
(/root/reference/readme.md:79-80 — JDK17 ``--add-opens`` comes from
spark-submit, ``spark.sql.execution.pyspark.udf.faulthandler.enabled=true``
because a crashing Python-worker UDF should produce a traceback, not a hang)
plus scale-oriented defaults: AQE with skew-join handling, UTC session
timezone (oracle comparability), Arrow-based pandas conversion.

Local mode is one JVM with N threads; on a real cluster the same confs hold
and the parallelism knobs (``spark.sql.shuffle.partitions``) should be set
to ~2-3x total executor cores.

Checkpoint file manager: when unqualified paths land on the local file
system (``fs.defaultFS`` is ``file:``), streaming checkpoints go through
Spark's FileSystem-API manager instead of the default FileContext one.
Without the native Hadoop library (pip PySpark ships none) FileContext
forks a ``readlink`` process for every status call on a ``file:`` path, so
each offset, commit, source-log and state-delta file costs several process
spawns per trigger. Local ``rename(2)`` is atomic, so the FileSystem
manager keeps every guarantee the checkpoint needs there; an HDFS default
FS keeps FileContext and its atomic rename-with-overwrite.

Generated-code cache: Spark keeps Janino-compiled whole-stage-codegen and
projection classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries (default 100). A session that cycles through more distinct classes
than that misses on every lookup and recompiles each pass. Sizing rule:
count Janino compilations (``CodegenMetrics.METRIC_COMPILATION_TIME``) over
the largest session in the repo, the bench warm-up plus one pass of
``bench.py``'s 73 keys at sf0.1 with an unbounded cache, and take the next
round number at or above twice the count. The count was 1,185 classes, so
the cache holds 2,500. The headroom is there because Guava splits the bound
over its 4 segments, so a skewed working set starts evicting below the
total. It is a static conf: it must be on the builder before
``getOrCreate()`` (``spark.conf.set`` rejects it), and because the cache is
JVM-wide and sized when code is first generated, a session rebuilt in the
same JVM keeps the first size.

Python worker daemon: every task a Python worker runs calls
``importlib.invalidate_caches()`` (pyspark's ``setup_spark_files``), so
that files shipped since the last task are found. On CPython 3.10-3.12
that makes every ``zipimporter`` on the worker's ``sys.path`` re-read its
archive's whole central directory there and then. Spark puts three
archives ahead of everything else: ``pyspark.zip`` (1,328 entries), the
py4j zip and the spark-core jar (5,359). A worker that has imported
pyspark from the zip holds 16 zipimporters (the zip, 13 of its subpackage
paths and the jar twice), so each task re-reads 26,672 entries. On a
4-vCPU host that call took ~150 ms per task, Spark reported ~200 ms of
"time to initialize Python workers" per task, and an identity pandas UDF
over 1,000 rows took 269 ms against 61 ms for the plan without it.
CPython 3.13 invalidates lazily: the directory is dropped and re-read at
the next lookup through its importer. Below 3.13 the session runs
``worker_daemon``, Spark's daemon with that behaviour backported, as
``spark.python.daemon.module`` (with it, the call took ~1 ms). That is the
only supported place for the fix: ``spark.python.worker.module`` accepts
only ``pyspark*`` modules, ``PYTHONPATH`` cannot move Spark's archives
behind site-packages, and a no-op ``invalidate_caches`` would stop workers
from seeing archives that change between tasks. Executors must be able to
import the package to start the daemon (see DEPLOY.md).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from sparkstreamingrealtimedatawithkafka_spark import worker_daemon

CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 2500

PYTHON_DAEMON_CONF = "spark.python.daemon.module"


def build_session(
    app_name: str = "ssk-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # Fixture-drift safety net: some fixture generations write events.ts
        # as TIMESTAMP(NANOS), which Spark's parquet reader rejects without
        # this legacy flag (it is inert for non-NANOS columns, including the
        # current timestamp[us] fixtures). The events loader branches on the
        # type actually resolved (sources/registry.py:event_time_columns),
        # so either physical type round-trips to the same epoch-micros.
        # Session-level (not per-query set/restore) because streaming plans
        # freeze confs asynchronously after start().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # A 150-query session compiles thousands of whole-stage-codegen
        # classes; the JVM's default 240 MB code cache fills and late
        # queries fall back to the interpreter (A/B on the bench preamble:
        # dedup_simhash 4.01s -> 3.22s min-of-2 with the larger cache).
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        # The same problem one level up: Spark's LRU cache of compiled
        # generated classes holds 100 by default, fewer than a many-query
        # session cycles through, so every pass would recompile them. Sized at
        # the next round number >= 2x the measured working set (1,185
        # classes: bench warm-up + one sf0.1 pass; see the module
        # docstring). Static and JVM-wide: only a builder conf before the
        # first getOrCreate() in a JVM takes effect.
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    if worker_daemon.EAGER_ZIP_INVALIDATION:
        # Per-task zipimport re-reads in every Python worker; CPython 3.13
        # fixed them itself (see the module docstring).
        builder = builder.config(PYTHON_DAEMON_CONF, worker_daemon.__name__)
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if urlparse(default_fs).scheme == "file" and (
        spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    ):
        # A runtime SQL conf: every query started afterwards picks it up.
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    return spark
