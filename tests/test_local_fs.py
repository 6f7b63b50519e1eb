"""The session's ``file:`` file system sets permissions without ``chmod``.

``build_session`` puts ``jvm/nio-local-fs.jar`` on the driver's class path
when it launches the JVM, makes its ``NioLocalFileSystem`` the ``file:``
implementation and adds the jar for executors: Hadoop's checksummed
``LocalFileSystem`` whose raw layer sets the nine rwx bits with
``Files.setPosixFilePermissions``. Without the native Hadoop library the
stock raw layer forks one ``chmod`` per file it creates, ``.crc`` files
included.

The fork tests run in subprocesses, because a JVM's ``PATH`` is fixed at
launch: a logging ``chmod`` first on ``PATH`` sees every fork. They stream
the paper's pipeline onto a file checkpoint and write parquet, whose files
are written on executor threads, so a fork-free run shows that those threads
load the class too. The same run on Hadoop's stock FS is the control, and
the same script run by ``spark-submit`` covers a JVM that ``build_session``
did not launch.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.find_spark_home import _find_spark_home

from sparkstreamingrealtimedatawithkafka_spark.session import (
    LOCAL_FS_CLASS,
    LOCAL_FS_CONF,
    LOCAL_FS_JAR,
)

REPO = Path(__file__).resolve().parent.parent
SOURCE = LOCAL_FS_JAR.parent / "NioLocalFileSystem.java"
STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"

CHMOD_SHIM = '#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec "$REAL_CHMOD" "$@"\n'

# Three steady triggers of parse_articles -> entity_counts -> to_output_json
# on a file checkpoint, then a small parquet write. Prints the FS class, the
# driver's class path, ``spark.jars``, the jars served to executors, and
# every file's mode and whether it has a .crc.
CHILD = r"""
import json, stat, sys
from pathlib import Path

from sparkstreamingrealtimedatawithkafka_spark.session import build_session
from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
    entity_counts, parse_articles, to_output_json)

work, extra = Path(sys.argv[1]), json.loads(sys.argv[2])
spark = build_session(master="local[2]", shuffle_partitions=2, extra=extra)
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(
    spark.sparkContext._jsc.hadoopConfiguration())
src = work / "src"
src.mkdir()
raw = spark.readStream.format("text").load(str(src))
query = (
    to_output_json(entity_counts(parse_articles(raw)))
    .writeStream.format("memory").queryName("out").outputMode("complete")
    .option("checkpointLocation", str(work / "ckpt")).start()
)
for i in range(3):
    article = {"title": "spark stream", "content": "join window " * (i + 1)}
    (src / f"articles-{i}.txt").write_text(json.dumps(article) + "\n")
    query.processAllAvailable()
query.stop()
spark.range(100).repartition(4).write.parquet(str(work / "table"))
files = {}
for root in ("ckpt", "table"):
    for p in sorted((work / root).rglob("*")):
        files[str(p.relative_to(work))] = {
            "dir": p.is_dir(),
            "mode": stat.S_IMODE(p.stat().st_mode),
            "crc": (p.parent / f".{p.name}.crc").exists(),
        }
print(json.dumps({
    "fs": fs.getClass().getName(),
    "class_path": jvm.System.getProperty("java.class.path"),
    "jars": spark.conf.get("spark.jars", ""),
    "served": spark.sparkContext._jsc.sc().listJars().mkString(","),
    "files": files,
}))
spark.stop()
"""


def _spawn(
    tmp_path: Path, name: str, extra: dict, submit: list[str] | None = None, env: dict | None = None
) -> tuple[subprocess.Popen, Path]:
    """Run ``CHILD`` under umask 022 with a logging ``chmod`` first on
    ``PATH``: with ``python``, or with ``spark-submit`` and its ``submit``
    options when that is given."""
    work = tmp_path / name
    shim = work / "bin" / "chmod"
    shim.parent.mkdir(parents=True)
    shim.write_text(CHMOD_SHIM)
    shim.chmod(0o755)
    log = work / "chmod.log"
    env = {
        **os.environ,
        "PATH": os.pathsep.join([str(shim.parent), os.environ["PATH"]]),
        "CHMOD_LOG": str(log),
        "REAL_CHMOD": shutil.which("chmod"),
        "PYTHONPATH": os.pathsep.join([str(REPO), *sys.path]),
        "PYSPARK_PYTHON": sys.executable,
        **(env or {}),
    }
    args = [str(work), json.dumps({"spark.driver.memory": "512m", **extra})]
    if submit is None:
        cmd = [sys.executable, "-c", CHILD, *args]
    else:
        script = work / "child.py"
        script.write_text(CHILD)
        spark_submit = Path(_find_spark_home(), "bin", "spark-submit")
        cmd = [str(spark_submit), "--driver-memory", "512m", *submit, str(script), *args]
    proc = subprocess.Popen(
        cmd, cwd=REPO, env=env, umask=0o022, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
    )
    return proc, log


def _run_pair(*runs: tuple[subprocess.Popen, Path]) -> list[tuple[dict, list[str]]]:
    """Wait for both children (each one's work is small, so they run at once)."""
    try:
        results = []
        for proc, log in runs:
            out, err = proc.communicate(timeout=600)
            assert proc.returncode == 0, err[-3000:]
            calls = log.read_text().splitlines() if log.exists() else []
            results.append((json.loads(out.strip().splitlines()[-1]), calls))
        return results
    finally:
        for proc, _ in runs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def _file_chmods(calls: list[str]) -> list[str]:
    # Spark itself marks each jar it fetches for an executor ``a+x`` (once
    # per jar and executor, not per write); every other call sets the mode
    # of a file or directory being written.
    return [c for c in calls if not (c.startswith("a+x ") and c.endswith(".jar"))]


def _served(run: dict) -> set[str]:
    return {url.rsplit("/", 1)[-1] for url in run["served"].split(",") if url}


def _assert_nio(run: dict, calls: list[str]) -> None:
    assert run["fs"] == LOCAL_FS_CLASS
    assert LOCAL_FS_JAR.name in _served(run)
    assert _file_chmods(calls) == []


def _assert_stock(run: dict, calls: list[str]) -> None:
    assert run["fs"] != LOCAL_FS_CLASS
    assert LOCAL_FS_JAR.name not in _served(run)
    # The shim sees the stock FS fork at least once for every file it
    # leaves behind, .crc files included.
    assert len(_file_chmods(calls)) >= sum(not f["dir"] for f in run["files"].values())


def _assert_files(run: dict) -> None:
    files = run["files"]
    assert any(name.startswith("ckpt/state/") for name in files)
    assert any(name.startswith("table/part-") for name in files)
    # Under umask 022: the modes chmod sets from Hadoop's defaults.
    assert {f["mode"] for f in files.values() if f["dir"]} == {0o755}
    assert {f["mode"] for f in files.values() if not f["dir"]} == {0o644}
    missing = [
        name for name, f in files.items() if not f["dir"] and not name.endswith(".crc") and not f["crc"]
    ]
    assert missing == []


def _caller_jar(tmp_path: Path) -> Path:
    jar = tmp_path / "caller.jar"
    with zipfile.ZipFile(jar, "w") as out:
        out.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    return jar


def test_file_writes_fork_no_chmod(tmp_path):
    # A caller's jar in spark-defaults.conf stays on the driver's class path
    # and in spark.jars, next to the package's.
    caller_jar = _caller_jar(tmp_path)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        f"spark.driver.extraClassPath {caller_jar}\nspark.jars={caller_jar}\n"
    )
    (nio, nio_calls), (stock, stock_calls) = _run_pair(
        _spawn(tmp_path, "nio", {}, env={"SPARK_CONF_DIR": str(conf_dir)}),
        _spawn(tmp_path, "stock", {LOCAL_FS_CONF: STOCK_FS}),
    )
    _assert_nio(nio, nio_calls)
    assert nio["class_path"].split(os.pathsep)[:2] == [str(LOCAL_FS_JAR), str(caller_jar)]
    assert nio["jars"] == caller_jar.as_uri()
    assert caller_jar.name in _served(nio)
    _assert_stock(stock, stock_calls)
    assert stock["fs"] == STOCK_FS
    assert str(LOCAL_FS_JAR) not in stock["class_path"]
    for run in (nio, stock):
        _assert_files(run)


def test_spark_submit_driver(tmp_path):
    # ``spark-submit app.py`` launches the JVM before build_session runs:
    # left alone, the session keeps Hadoop's FS and works; with the jar on
    # the driver class path and the FS conf, the session ships the jar to
    # executors and nothing forks.
    (plain, plain_calls), (nio, nio_calls) = _run_pair(
        _spawn(tmp_path, "plain", {}, submit=[]),
        _spawn(
            tmp_path,
            "nio",
            {},
            submit=["--driver-class-path", str(LOCAL_FS_JAR), "--conf", f"{LOCAL_FS_CONF}={LOCAL_FS_CLASS}"],
        ),
    )
    _assert_stock(plain, plain_calls)
    _assert_nio(nio, nio_calls)
    for run in (plain, nio):
        _assert_files(run)


def test_checksums_still_verified(spark, tmp_path):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/data.bin")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert spark.conf.get(LOCAL_FS_CONF) == LOCAL_FS_CLASS

    payload = bytearray(range(256)) * 8
    out = fs.create(path)
    out.write(payload)
    out.close()
    assert (tmp_path / ".data.bin.crc").exists()

    def read_back() -> bytes:
        inp = fs.open(path)
        try:
            return jvm.org.apache.commons.io.IOUtils.toByteArray(inp)
        finally:
            inp.close()

    assert read_back() == (tmp_path / "data.bin").read_bytes() == bytes(payload)
    data = tmp_path / "data.bin"
    raw = bytearray(data.read_bytes())
    raw[1000] ^= 0xFF
    data.write_bytes(bytes(raw))
    with pytest.raises(Py4JJavaError) as err:
        read_back()
    assert err.value.java_exception.getClass().getName() == (
        "org.apache.hadoop.fs.ChecksumException"
    )


def _spark_jars_dir() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    import pyspark

    return Path(pyspark.__file__).parent / "jars"


def test_jar_matches_source(tmp_path):
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    (hadoop,) = _spark_jars_dir().glob("hadoop-client-api-*.jar")
    subprocess.run(
        [javac, "--release", "17", "-cp", str(hadoop), "-d", str(tmp_path), str(SOURCE)],
        check=True,
        capture_output=True,
        timeout=300,
    )
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes() for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(LOCAL_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert f"{LOCAL_FS_CLASS.replace('.', '/')}.class" in committed
    assert built == committed
