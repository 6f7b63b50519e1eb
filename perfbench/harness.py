"""Shared plumbing: run environment, timed session set-up, memory sampling
and summary statistics.

Everything here works from outside the package: it calls
``session.build_session`` and reads Spark's public status APIs and
``/proc``.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "sparkstreamingrealtimedatawithkafka_spark"
CORES = 4
HEAP = "1g"
SETUP_SAMPLES = 3


def prepare_environment(work: Path) -> None:
    """Point every scratch path of Spark, the JVM and Python inside ``work``
    and make the package importable by the Python workers.

    Must run before pyspark starts the JVM.
    """
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM spark-submit starts, the launcher included: no hsperfdata
    # file, which the JVM would write to /tmp whatever java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))


def fresh_dir(path: Path) -> Path:
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    return path


def build_session(work: Path, master: str, ui: bool):
    from sparkstreamingrealtimedatawithkafka_spark.session import build_session as build

    tmp = work / "tmp"
    return build(
        app_name="perfbench",
        master=master,
        shuffle_partitions=CORES,
        extra={
            # A fixed-size heap: the JVM then touches the same memory every
            # run instead of growing the heap on GC-timing-dependent cues.
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:ReservedCodeCacheSize=512m",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )


class SetupTimer:
    """Times session build plus warm-up, ``SETUP_SAMPLES`` times per run.

    The first sample is the run's own set-up (JVM launch, session build,
    warm-up) and its session does the measured work. The other samples
    stop the session and rebuild it in the running JVM after the
    measurement, so they cannot disturb it.
    """

    def __init__(self, work: Path, master: str, ui: bool, tracer) -> None:
        self._work, self._master, self._ui, self._tracer = work, master, ui, tracer
        self.builds: list[float] = []
        self.warms: list[float] = []
        self._warm_up = None

    def sample(self, warm_up=None):
        """Build and warm one session; returns it."""
        self._warm_up = warm_up or self._warm_up
        i = len(self.builds)
        with self._tracer.span("session.build", sample=i):
            t0 = time.perf_counter()
            spark = build_session(self._work, self._master, self._ui)
            t1 = time.perf_counter()
        with self._tracer.span("session.warmup", sample=i):
            self._warm_up(spark, i)
            t2 = time.perf_counter()
        self.builds.append(t1 - t0)
        self.warms.append(t2 - t1)
        return spark

    def remaining_samples(self) -> None:
        from pyspark.sql import SparkSession

        while self._warm_up is not None and len(self.builds) < SETUP_SAMPLES:
            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            self.sample()

    def totals(self) -> list[float]:
        return [b + w for b, w in zip(self.builds, self.warms)]


def cpu_ticks() -> tuple[int, int]:
    """Total and stolen CPU time of the machine, in clock ticks. On a
    shared virtual machine the stolen share shows how much CPU the host
    gave to other guests during a measurement."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


# --- statistics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest whole percentile with at least ten samples beyond it,
    and its value. Below twenty samples no such percentile is above the
    median, so the median is returned."""
    n = len(values)
    level = max(50.0, math.floor(100.0 * (1.0 - 10.0 / n))) if n else 50.0
    return level, percentile(values, level)


# --- memory -------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", "rb") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers share
    most of theirs) are split among the processes sharing them, so the sum
    over processes is the memory they use together."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().strip() == b"java"
    except OSError:
        return False


class RssSampler:
    """Samples the resident memory (as PSS) of this process, its JVM and
    the JVM's Python workers every ``interval`` seconds, keeping the peak
    of each group and of their sum."""

    def __init__(self, interval: float = 0.5) -> None:
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self.peak = {"total": 0, "bench": 0, "jvm": 0, "workers": 0}

    def sample(self) -> None:
        me = os.getpid()
        bench = _pss_bytes(me)
        jvm = workers = 0
        stack = _children(me)
        while stack:
            pid = stack.pop()
            stack.extend(_children(pid))
            if _is_jvm(pid):
                jvm += _pss_bytes(pid)
            else:
                workers += _pss_bytes(pid)
        total = bench + jvm + workers
        for key, value in (("total", total), ("bench", bench), ("jvm", jvm), ("workers", workers)):
            self.peak[key] = max(self.peak[key], value)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def peak_mb(self, key: str = "total") -> float:
        return self.peak[key] / 2**20
