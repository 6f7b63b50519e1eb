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

Local file system: without the native Hadoop library,
``RawLocalFileSystem.setPermission`` runs ``chmod`` in a child process,
and Hadoop sets the mode of every file and directory it creates on
``file:``; under ``ChecksumFileSystem`` each file's ``.crc`` is one more.
A steady ``news_trickle`` trigger forked 22 of them (16 for the 4
partitions' state deltas, 2 each for the offsets, commits and source
logs, those 6 serially on the stream thread), at 4-6 ms each in a 1 GB
JVM against 0.1-0.3 ms for ``Files.setPosixFilePermissions``; a 4-file
parquet write forked 18. The session makes ``NioLocalFileSystem`` (from
``jvm/nio-local-fs.jar``, built from the ``.java`` beside it) the
``file:`` implementation; left alone, the hive-exec jar's
``ProxyLocalFileSystem`` wins the scheme by service-loader order. It is
Hadoop's ``LocalFileSystem``, checksums and all, with a raw layer that sets
the same nine rwx bits through NIO, and takes Hadoop's own path when the
native library is loaded, the mode has the sticky bit or the platform is
not POSIX. The class must be on the driver's class path when the JVM
starts, because spark-submit already resolves ``spark.jars`` through the
``file:`` FS, and by the time a session is built ``file:`` is in Hadoop's
JVM-wide FileSystem cache. So the session sets the FS only when it launches
the driver JVM itself: it prepends the jar to ``spark.driver.extraClassPath``
(behind it, the value from ``extra=`` or else ``spark-defaults.conf``, which
a builder conf would otherwise replace). It leaves ``file:`` alone when
``extra=`` or ``spark-defaults.conf`` name a ``file:`` FS, when
``PYSPARK_SUBMIT_ARGS`` sets the FS, the driver class path or a properties
file (they follow the builder's confs on spark-submit's command line), and
in a JVM started elsewhere (``spark-submit app.py``, a pyspark shell, a
notebook); there, ``--driver-class-path`` with the jar and ``--conf
spark.hadoop.fs.file.impl=...`` turn it on (see DEPLOY.md). Whenever the FS is on, the session adds the jar with
``addJar`` so executors load it; ``spark.jars`` is left to the caller. To
run Hadoop's FS, pass ``extra={"spark.hadoop.fs.file.impl":
"org.apache.hadoop.fs.LocalFileSystem"}``.
"""

from __future__ import annotations

import os
import re
import shlex
from pathlib import Path
from urllib.parse import urlparse

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 2500

PYTHON_DAEMON_CONF = "spark.python.daemon.module"

LOCAL_FS_CONF = "spark.hadoop.fs.file.impl"
LOCAL_FS_CLASS = "sparkstreamingrealtimedatawithkafka_spark.jvm.NioLocalFileSystem"
LOCAL_FS_JAR = Path(__file__).resolve().parent / "jvm" / "nio-local-fs.jar"
DRIVER_CLASS_PATH_CONF = "spark.driver.extraClassPath"

JAVA_OPTIONS_CONF = "spark.driver.extraJavaOptions"
# A 150-query session compiles thousands of whole-stage-codegen classes;
# the JVM's default 240 MB code cache fills and late queries fall back to
# the interpreter (A/B on the bench preamble: dedup_simhash 4.01s -> 3.22s
# min-of-2 with the larger cache).
CODE_CACHE_OPTION = "-XX:ReservedCodeCacheSize=512m"


def _spark_defaults() -> dict[str, str]:
    """``spark-defaults.conf`` as spark-submit finds it; a builder conf
    replaces its value for the same key."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    path = Path(conf_dir, "spark-defaults.conf")
    if not path.is_file():
        return {}
    lines = (line.strip() for line in path.read_text().splitlines())
    pairs = (re.split(r"\s*[=:\s]\s*", line, maxsplit=1) for line in lines)
    return {p[0]: p[1] if len(p) > 1 else "" for p in pairs if p[0] and not p[0].startswith(("#", "!"))}


def _ahead_of_caller(key: str, value: str, sep: str, extra: dict[str, str], defaults: dict[str, str]) -> str:
    """``value`` followed by the caller's own value for the launch conf
    ``key``: the one from ``extra=``, or else the one from
    ``spark-defaults.conf``, which the builder's conf would otherwise
    replace. The caller's entries come later, so where a later entry wins
    (a repeated ``-XX`` flag) the caller's does."""
    return sep.join(filter(None, [value, extra.get(key, defaults.get(key))]))


def _local_fs_confs(extra: dict[str, str], defaults: dict[str, str]) -> dict[str, str]:
    """The launch confs that make ``file:`` the package's FS, or none where
    this call cannot put the jar on the driver's class path or the caller
    chose the FS (see the module docstring)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}
    # Later on spark-submit's command line than the builder's confs, so they win.
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    names = {arg.split("=", 1)[0] for arg in shlex.split(submit)}
    if names & {"--driver-class-path", "--properties-file", DRIVER_CLASS_PATH_CONF, LOCAL_FS_CONF}:
        return {}
    if LOCAL_FS_CONF in extra or LOCAL_FS_CONF in defaults:
        return {}
    return {
        DRIVER_CLASS_PATH_CONF: _ahead_of_caller(DRIVER_CLASS_PATH_CONF, str(LOCAL_FS_JAR), os.pathsep, extra, defaults),
        LOCAL_FS_CONF: LOCAL_FS_CLASS,
    }


def build_session(
    app_name: str = "ssk-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Imported here, not at module level: the daemon runs as ``python -m``,
    # and runpy warns and executes a module twice when importing its
    # package has already imported it.
    from sparkstreamingrealtimedatawithkafka_spark import worker_daemon

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
        # The problem of CODE_CACHE_OPTION one level up: Spark's LRU cache
        # of compiled generated classes holds 100 by default, fewer than a
        # many-query session cycles through, so every pass would recompile
        # them. Sized at the next round number >= 2x the measured working
        # set (1,185 classes: bench warm-up + one sf0.1 pass; see the
        # module docstring). Static and JVM-wide: only a builder conf
        # before the first getOrCreate() in a JVM takes effect.
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    if worker_daemon.EAGER_ZIP_INVALIDATION:
        # Per-task zipimport re-reads in every Python worker; CPython 3.13
        # fixed them itself (see the module docstring).
        builder = builder.config(PYTHON_DAEMON_CONF, worker_daemon.__name__)
    # The code-cache flag, and ``file:`` writes that set permissions
    # without forking ``chmod`` (see the module docstring); both launch
    # confs already hold any caller entry.
    extra = extra or {}
    defaults = _spark_defaults()
    java_options = _ahead_of_caller(JAVA_OPTIONS_CONF, CODE_CACHE_OPTION, " ", extra, defaults)
    for key, value in {**extra, JAVA_OPTIONS_CONF: java_options, **_local_fs_confs(extra, defaults)}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    served = spark.sparkContext._jsc.sc().listJars().mkString(" ")
    if spark.conf.get(LOCAL_FS_CONF, None) == LOCAL_FS_CLASS and LOCAL_FS_JAR.name not in served:
        # Executors load the class from the jar the driver serves.
        spark.sparkContext._jsc.addJar(str(LOCAL_FS_JAR))
    spark.sparkContext.setLogLevel("WARN")
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    if urlparse(default_fs).scheme == "file" and (
        spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    ):
        # A runtime SQL conf: every query started afterwards picks it up.
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    return spark
