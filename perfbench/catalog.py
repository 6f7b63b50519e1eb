"""The ``catalog_llm`` workload: batch keys from the plan registry over the
synthetic fixture, each timed as construct (the plan function, including
any eager jobs it runs) then exec (a noop write of the final plan).

An untimed first pass collects every key and compares it with the key's
DuckDB oracle under the compare rules of ``tests/oracle_harness.py``; it
also warms the JIT for the timed passes. Between keys, orphaned persisted
RDDs are unpersisted and the JVM is asked to collect garbage, outside the
timed region.
"""

from __future__ import annotations

import hashlib
import importlib.util
import random
import sys
import time
import traceback
from pathlib import Path

import fixture
from harness import CORES, REPO, cpu_ticks, median, tail
from spans import RestApi

# Each key is timed in at least MIN_PASSES passes and its fastest time
# counts. These keys run thousands of short jobs and py4j calls, so their
# times track the share of CPU a shared host steals (about 3% slower per
# point of steal here); a pass during which the host stole more than
# STEAL_LIMIT does not count towards MIN_PASSES, up to MAX_PASSES passes.
MIN_PASSES = 2
MAX_PASSES = 3
STEAL_LIMIT = 0.05
# LLM-operator keys: the heaviest eager-job key (exact, MinHash-LSH and
# connected-components dedup in one pipeline, 21 jobs) and the pandas-UDF
# parity pipeline.
LLM_KEYS = ("pipeline_full_dedup", "pipeline_parity_udf")
# Relational and event-time controls, which run no eager jobs.
CONTROL_KEYS = ("q1_pricing_summary", "events_sessionization_stats")
KEYS = LLM_KEYS + CONTROL_KEYS


def _oracle_harness():
    spec = importlib.util.spec_from_file_location("oracle_harness", REPO / "tests" / "oracle_harness.py")
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # dataclasses look their module up here
    spec.loader.exec_module(module)
    return module


def _clean(spark) -> None:
    """Unpersist orphaned persisted RDDs (localCheckpoint blocks of earlier
    keys) and run a JVM GC, so one key's debris is not timed in the next."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_up(spark, sf_dir: str) -> None:
    """A relational key and the pandas-UDF key: loads the parquet reader,
    compiles generated code and starts the Python workers. The untimed
    check pass warms everything else."""
    from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY

    for key in ("q1_pricing_summary", "pipeline_parity_udf"):
        _noop(REGISTRY[key].fn(spark, sf_dir))


def _oracle_frame(con, cache: Path, key: str, sql: str):
    """The oracle's answer for ``key``. The fixture is fixed, so each
    answer is computed once per checkout and kept as parquet, keyed by a
    hash of the oracle's SQL."""
    import pandas as pd

    path = cache / f"{key}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet"
    if path.exists():
        return pd.read_parquet(path)
    frame = con.execute(sql).fetchdf()
    cache.mkdir(parents=True, exist_ok=True)
    frame.to_parquet(path.with_suffix(".tmp"))
    path.with_suffix(".tmp").rename(path)
    return frame


def _check_pass(spark, sf_dir: str, order: list[str], cache: Path) -> dict[str, str]:
    """Collect each key and compare with its oracle; returns failures."""
    from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY

    oh = _oracle_harness()
    con = oh.duck_connection(sf_dir)
    failures: dict[str, str] = {}
    try:
        for key in order:
            spec = REGISTRY[key]
            try:
                if spec.oracle is None:
                    failures[key] = "no oracle"
                    continue
                res = oh.compare(key, spec.fn(spark, sf_dir), _oracle_frame(con, cache, key, spec.oracle))
                if not res.ok or res.detail == "empty (weak)":
                    failures[key] = res.detail or "mismatch"
            except Exception:  # a key that raises is a failed operation
                failures[key] = traceback.format_exc(limit=3)
            _clean(spark)
    finally:
        con.close()
    return failures


def run_catalog(ctx) -> dict:
    from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY

    fixture_dir = fixture.ensure(ctx.work)
    sf_dir = str(fixture_dir)
    spark = ctx.setup(lambda s, i: _warm_up(s, sf_dir))
    order = list(KEYS)
    random.Random(ctx.seed).shuffle(order)
    sc = spark.sparkContext
    tracer = ctx.tracer

    with tracer.span("plans.check_pass"):
        failures = _check_pass(spark, sf_dir, order, fixture_dir / "oracle")

    passes: list[dict[str, tuple[float, float]]] = []
    pass_walls: list[float] = []
    errors: dict[str, str] = {}
    t_start = time.perf_counter()
    clean_passes = 0
    pass_steal: list[float] = []
    while len(passes) < MAX_PASSES and (clean_passes < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds):
        times: dict[str, tuple[float, float]] = {}
        p = len(passes)
        ticks0 = cpu_ticks()
        with tracer.span("plans.pass", index=p):
            t_pass = time.perf_counter()
            for key in order:
                _clean(spark)
                try:
                    if tracer.enabled:
                        sc.setJobGroup(f"{key}:construct:{p}", f"{key} construct")
                    with tracer.span("plans.construct", key=key):
                        t0 = time.perf_counter()
                        df = REGISTRY[key].fn(spark, sf_dir)
                        t1 = time.perf_counter()
                    if tracer.enabled:
                        sc.setJobGroup(f"{key}:exec:{p}", f"{key} exec")
                    with tracer.span("plans.exec", key=key):
                        _noop(df)
                        t2 = time.perf_counter()
                except Exception:  # counted as a failed operation
                    errors[f"{key}#{p}"] = traceback.format_exc(limit=3)
                    continue
                times[key] = (t1 - t0, t2 - t1)
            pass_walls.append(time.perf_counter() - t_pass)
        passes.append(times)
        ticks1 = cpu_ticks()
        pass_steal.append((ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]))
        clean_passes += pass_steal[-1] <= STEAL_LIMIT
    if tracer.enabled:
        sc.setJobGroup("perfbench", "idle")

    best = {k: min((t[k] for t in passes if k in t), key=sum) for k in order if any(k in t for t in passes)}
    catalog_s = sum(sum(ce) for ce in best.values())
    samples = [sum(t[k]) * 1000.0 for t in passes for k in t]
    level, tail_ms = tail(samples)
    # A catalog caller waits for one key at a time; the latency is the mean
    # key time, which unlike the median of a few unlike keys does not hinge
    # on the one or two keys in the middle.
    metrics = {"throughput_per_s": len(best) / catalog_s, "latency_ms": catalog_s / len(best) * 1000.0}
    named = {
        "catalog_s": (catalog_s, "s"),
        "keys_per_s": (metrics["throughput_per_s"], "1/s"),
        "key_mean_ms": (metrics["latency_ms"], "ms"),
        "key_p50_ms": (median(samples), "ms"),
        f"key_p{level:g}_ms": (tail_ms, "ms"),
        "key_samples": (len(samples), "count"),
        "passes": (len(passes), "count"),
        "pass_steal_max": (max(pass_steal), "ratio"),
        "pass_steal_min": (min(pass_steal), "ratio"),
    }
    layers: dict[str, float] = {"latency.tail_ms": tail_ms, "latency.tail_pct": level, "latency.samples": len(samples)}
    for key, (c, e) in best.items():
        layers[f"plans.{key}.construct_s"] = c
        layers[f"plans.{key}.exec_s"] = e
    # How much of the timed passes' wall time the key timings cover (the
    # rest is the cleanup between keys).
    layers["plans.layer_sum_share"] = sum(sum(ce) for t in passes for ce in t.values()) / sum(pass_walls)
    if tracer.enabled:
        layers.update(_job_layers(spark, tracer, len(passes), pass_walls))
    attempted = len(order) * (1 + len(passes))
    failed = len(failures) + len(errors)
    return {
        "attempted": attempted,
        "failed": failed,
        "per_key": {k: [sum(t[k]) for t in passes if k in t] for k in order},
        "detail": {"oracle_failures": failures, "errors": errors} if failed else {},
        "metrics": metrics,
        "named": named,
        "layers": layers,
    }


def _job_layers(spark, tracer, n_passes: int, pass_walls: list[float]) -> dict[str, float]:
    """Jobs per key and layer from the status tracker; executor busy time
    and shuffle bytes from the REST API. Per-key counts are per pass."""
    st = spark.sparkContext.statusTracker()
    layers: dict[str, float] = {}
    eager = final = 0
    for key in KEYS:
        e = sum(len(st.getJobIdsForGroup(f"{key}:construct:{p}")) for p in range(n_passes))
        f = sum(len(st.getJobIdsForGroup(f"{key}:exec:{p}")) for p in range(n_passes))
        layers[f"plans.{key}.eager_jobs"] = e / n_passes
        eager += e
        final += f
    layers["plans.eager_jobs"] = eager / n_passes
    layers["plans.final_jobs"] = final / n_passes

    rest = RestApi(spark, tracer)
    stage_ids: set[int] = set()
    for job in rest.jobs():
        group = job.get("jobGroup") or ""
        if ":construct:" in group or ":exec:" in group:
            stage_ids.update(job.get("stageIds", []))
    run_ms = shuffle = 0
    for stage in rest.stages():
        if stage["stageId"] in stage_ids:
            run_ms += stage.get("executorRunTime", 0)
            shuffle += stage.get("shuffleWriteBytes", 0)
    layers["plans.busy_frac"] = run_ms / 1000.0 / (CORES * sum(pass_walls))
    layers["plans.shuffle_write_mb"] = shuffle / 2**20 / n_passes
    return layers
