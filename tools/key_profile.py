"""Per-query profiler for the bench keys.

For each bench key (or the subset on the command line), runs the query
with the bench's noop-sink methodology and reports:

- ``construct``: Python-side plan build time (REGISTRY[name].fn call);
- ``exec``: min-of-N wall time of build + noop write, timed by
  ``perf_protocol.min_time`` (the bench's timed region);
- per-stage breakdown of the last run from the local UI REST API: stage
  name, task count, executor run/CPU time, input and shuffle bytes.

Usage:
    python tools/key_profile.py [-n RUNS] [key ...]

Writes JSON to stdout (one object per key) so runs are diffable. The
session is ``build_session``'s default shape (bench.py's, unless
SPARK_MASTER is set) except the UI is enabled for the REST scrape —
timings here guide optimization; the bench remains the decision metric.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import BENCH_QUERIES  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY  # noqa: E402
from sparkstreamingrealtimedatawithkafka_spark.session import build_session  # noqa: E402
from tools.perf_protocol import min_time, noop  # noqa: E402


def rest(app_url: str, path: str):
    with urllib.request.urlopen(app_url + path) as r:
        return json.loads(r.read())


def stage_rows(app_url: str, jobs: list[dict]) -> list[dict]:
    stages = []
    for sid in sorted({s for j in jobs for s in j["stageIds"]}):
        try:
            for att in rest(app_url, f"/stages/{sid}"):
                stages.append(
                    {
                        "id": sid,
                        "name": att["name"].split("\n")[0][:80],
                        "tasks": att["numCompleteTasks"],
                        "executorRunTime_ms": att["executorRunTime"],
                        "executorCpuTime_ms": att.get("executorCpuTime", 0)
                        // 1_000_000,
                        "input_mb": round(att["inputBytes"] / 1e6, 1),
                        "sh_read_mb": round(att["shuffleReadBytes"] / 1e6, 2),
                        "sh_write_mb": round(att["shuffleWriteBytes"] / 1e6, 2),
                    }
                )
        except Exception:
            pass
    return stages


def main() -> None:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    keys = args or list(BENCH_QUERIES)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name="ssk-profile", extra={"spark.ui.enabled": "true"}
    )
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    app_url = f"{ui}/api/v1/applications/{app_id}"

    # warmup (bench preamble)
    noop(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))

    for name in keys:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        fn = REGISTRY[name].fn
        # plan construction + analysis cost (Python + Catalyst analysis)
        t0 = time.time()
        df = fn(spark, sf_dir)
        construct = time.time() - t0
        t0 = time.time()
        df.schema  # force analysis
        analyze = time.time() - t0

        jobs_before = {j["jobId"] for j in rest(app_url, "/jobs")}
        best = min_time(spark, lambda: fn(spark, sf_dir), runs)
        # Every run launches the same jobs, so the newest 1/runs of the
        # jobs since the snapshot are the last run's (min-of-N jitter is
        # in stage wall time, not structure).
        new_jobs = sorted(
            (j for j in rest(app_url, "/jobs") if j["jobId"] not in jobs_before),
            key=lambda j: j["jobId"],
        )
        jobs = new_jobs[len(new_jobs) - len(new_jobs) // runs :]
        rec = {
            "key": name,
            "construct_s": round(construct, 3),
            "analyze_s": round(analyze, 3),
            "exec_s": round(best, 3),
            "n_jobs_last_run": len(jobs),
            "stages": stage_rows(app_url, jobs),
        }
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
