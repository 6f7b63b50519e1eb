"""``build_session`` keeps the caller's driver launch options.

The session puts the JVM code-cache flag in ``spark.driver.extraJavaOptions``.
A builder conf replaces the value ``spark-defaults.conf`` holds for the same
key, and one from ``extra=`` would replace the flag, so the session joins
them: its flag first, then the caller's options. Launch options only take
effect in a new JVM, so each case builds one in a subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from sparkstreamingrealtimedatawithkafka_spark.session import (
    CODE_CACHE_OPTION,
    JAVA_OPTIONS_CONF,
)

REPO = Path(__file__).resolve().parent.parent

CHILD = r"""
import json, sys
from sparkstreamingrealtimedatawithkafka_spark.session import build_session

spark = build_session(master="local[1]", shuffle_partitions=1, extra=json.loads(sys.argv[1]))
jvm = spark._jvm
print(json.dumps({
    "probe": jvm.System.getProperty("probe.flag"),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


@pytest.mark.parametrize("source", ["spark-defaults.conf", "extra"])
def test_caller_java_options_kept_with_code_cache_flag(tmp_path, source):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    extra = {"spark.driver.memory": "512m"}
    if source == "extra":
        extra[JAVA_OPTIONS_CONF] = "-Dprobe.flag=on"
    else:
        (conf_dir / "spark-defaults.conf").write_text(f"{JAVA_OPTIONS_CONF} -Dprobe.flag=on\n")
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([str(REPO), *sys.path]),
        "SPARK_CONF_DIR": str(conf_dir),
    }
    out = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(extra)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    run = json.loads(out.stdout.strip().splitlines()[-1])
    assert run["probe"] == "on"
    args = run["args"]
    assert CODE_CACHE_OPTION in args
    # The caller's options follow the flag, so a caller -XX flag wins.
    assert args.index(CODE_CACHE_OPTION) < args.index("-Dprobe.flag=on")
