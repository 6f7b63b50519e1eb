"""perfbench: the repository's benchmark, one command for three workloads.

    python3 perfbench/run.py --workload news_backlog --seed 1 --seconds 6 --trace 0

Workloads (see ``stream.py`` and ``catalog.py``):

- ``news_backlog``: the paper's pipeline with the pandas-UDF extractor,
  draining a seeded backlog of Kafka-shaped article files in 1,000-article
  triggers (closed loop).
- ``news_trickle``: the same pipeline with the JVM extractor, fed 250
  articles/s in 25-article files by an open-loop generator thread.
- ``catalog_llm``: two LLM-operator catalog keys and two relational
  controls over a synthetic fixture, each timed as construct then exec.

Every run builds the session and warms it up three times (``setup_s`` is
the median), checks the program's outputs (reference entity counts on the
stream workloads, DuckDB oracles on the catalog) and prints, as its last
line, ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the Spark UI is on,
jobs are tagged with job groups, spans are recorded and written under
``.perfbench_work/trace/``, and the metrics are the per-layer ones.

End-to-end metrics mean, per workload:

================  ===================  =====================  =========================
metric            news_backlog         news_trickle           catalog_llm
================  ===================  =====================  =========================
throughput_per_s  articles/s, warm     articles/s delivered   keys/s (keys / catalog_s)
latency_ms        trigger p50          freshness p50          mean key construct+exec
================  ===================  =====================  =========================

plus ``setup_s`` and ``peak_rss_mb`` (PSS of the bench process, the JVM
and the Python workers, sampled from ``/proc``) on all three. Tails are in
the run record and the per-layer metrics: the highest whole percentile
with at least ten samples beyond it, with that percentile and the sample
count. Failed or wrong operations are the ``failed`` count of the result
line and ``failed_ratio`` in the record.

All inputs, checkpoints, Spark scratch space and trace files live under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("news_backlog", "news_trickle", "catalog_llm")


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names with their units, as
    ``BENCHMARK.json`` declares them."""
    spec = json.loads((harness.REPO / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    tracer: Tracer
    work: Path
    run_dir: Path
    setup_timer: harness.SetupTimer

    def setup(self, warm_up):
        """Build and warm the session for the measured work; returns it."""
        return self.setup_timer.sample(warm_up)


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark() -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (harness.REPO / harness.PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {harness.PACKAGE} not found under {harness.REPO}", file=sys.stderr)
        return 2
    work = harness.REPO / ".perfbench_work"
    harness.prepare_environment(work)
    run_dir = harness.fresh_dir(work / "runs" / f"{args.workload}-{os.getpid()}")
    tracer = Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}-{int(time.time())}")
    timer = harness.SetupTimer(work, f"local[{harness.CORES}]", bool(args.trace), tracer)
    ctx = Context(args.workload, args.seed, args.seconds, tracer, work, run_dir, timer)

    if args.workload == "catalog_llm":
        from catalog import run_catalog as run
    elif args.workload == "news_backlog":
        from stream import run_backlog as run
    else:
        from stream import run_trickle as run

    t0 = time.perf_counter()
    ticks0 = harness.cpu_ticks()
    try:
        with harness.RssSampler() as rss, tracer.span("run", workload=args.workload):
            result = run(ctx)
            ticks1 = harness.cpu_ticks()
            # Peak memory is the measured work's; the extra set-up samples
            # briefly overlap old and new Python workers.
            rss.stop()
            timer.remaining_samples()
    finally:
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    wall = time.perf_counter() - t0

    setup = timer.totals()
    e2e = {"setup_s": harness.median(setup), "peak_rss_mb": rss.peak_mb(), **result["metrics"]}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": wall,
        "setup_samples_s": setup,
        "host_steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "failed_ratio": result["failed"] / result["attempted"],
        "named": {k: {"value": v, "unit": u} for k, (v, u) in result["named"].items()},
        "failures": result["detail"],
    }
    if "per_key" in result:
        record["per_key"] = result["per_key"]
    end_to_end, per_layer = _metric_units()
    if args.trace:
        layers = dict.fromkeys(per_layer, 0.0)
        layers.update(result["layers"])
        layers.update(
            {
                "session.build_s": harness.median(timer.builds),
                "session.warmup_s": harness.median(timer.warms),
                "session.cold_setup_s": setup[0],
                "rss.bench_mb": rss.peak_mb("bench"),
                "rss.jvm_mb": rss.peak_mb("jvm"),
                "rss.workers_mb": rss.peak_mb("workers"),
                "trace.overhead_s": tracer.overhead_s,
                "trace.overhead_frac": tracer.overhead_s / wall,
            }
        )
        unknown = set(layers) - set(per_layer)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
        record["end_to_end_traced"] = e2e
        record["layers"] = tracer.layer_table()
        _print_layers(record["layers"])
        out = work / "trace"
        out.mkdir(exist_ok=True)
        path = out / f"{args.workload}-seed{args.seed}.json"
        tracer.write(path, {"record": record, "per_layer": layers})
        record["trace_file"] = str(path.relative_to(harness.REPO))
        # Tracing overhead on the end-to-end metrics: this run against the
        # checkout's last untraced run of the workload, when there is one.
        last = work / "last" / f"{args.workload}.json"
        if last.exists():
            untraced = json.loads(last.read_text())
            record["untraced_reference"] = untraced
            record["traced_vs_untraced"] = {k: e2e[k] / untraced[k] - 1.0 for k in e2e if untraced.get(k)}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()}
        (work / "last").mkdir(exist_ok=True)
        (work / "last" / f"{args.workload}.json").write_text(json.dumps(e2e))
    print(json.dumps(record, default=str))
    lines = {k: (e2e[k], u) for k, u in end_to_end.items()}
    lines.update({k: (m["value"], m["unit"]) for k, m in record["named"].items()})
    lines["failed_ratio"] = (record["failed_ratio"], "ratio")
    for name, (value, unit) in lines.items():
        print(f"  {name:<24} {value:>14.4f} {unit}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _print_layers(table: dict[str, dict[str, float]]) -> None:
    print(f"  {'span':<32} {'count':>6} {'total_s':>10} {'self_s':>10}")
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {name:<32} {row['count']:>6} {row['total_s']:>10.3f} {row['self_s']:>10.3f}")


if __name__ == "__main__":
    sys.exit(main())
