"""The ``news_*`` workloads: the paper's pipeline
(``parse_articles`` → ``entity_counts`` → ``to_output_json``, complete
mode) on the hermetic file-source twin, with a memory sink.

- ``news_backlog`` drains a pre-written backlog in fixed-size triggers
  (closed loop: ``availableNow`` starts the next trigger when the last one
  commits) with the pandas-UDF extractor.
- ``news_trickle`` feeds the JVM extractor from a generator thread that
  publishes small files on a fixed schedule (open loop), under a
  ``processingTime="0 seconds"`` trigger.

Per-trigger numbers come from a ``StreamingQueryListener``; which trigger
read which file comes from the file-source log in the checkpoint.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import threading
import time
from collections import Counter
from datetime import datetime, timezone
from pathlib import Path

from articles import ArticleGenerator, reference_counts, write_file
from harness import fresh_dir, median, percentile, tail
from spans import RestApi, metric_total

# news_backlog: one 1,000-article file per trigger, as from a
# single-partition topic (one file is one split). The backlog holds about
# --seconds of triggers at the rate measured on a 4-core machine.
BACKLOG_FILE_ARTICLES = 1000
BACKLOG_TRIGGERS_PER_S = 1.25
# The query's first trigger also plans and opens state, and the next is
# still compiling; neither is a sample.
WARM_TRIGGERS = 2
# news_trickle: 10 files of 25 articles per second, 250 articles/s. The
# first PREROLL_S seconds of files are not samples: trigger times keep
# falling for the first few seconds of the loop while the JIT compiles the
# small-batch path.
TRICKLE_FILES_PER_S = 10
TRICKLE_FILE_ARTICLES = 25
PREROLL_S = 2
DRAIN_TIMEOUT_S = 20.0
WARM_FILE_ARTICLES = 200
# Order of the protocol steps inside a trigger, used to lay out its parts
# as child spans (Spark reports their durations, not their start times).
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every progress record; ``query.recentProgress`` keeps only
        the last 100."""

        def __init__(self) -> None:
            self._lock = threading.Lock()
            self._records: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            record = {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "start": _epoch(p.timestamp),
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state_rows": state.numRowsTotal if state else 0,
                "state_updated": state.numRowsUpdated if state else 0,
                "state_mem_bytes": state.memoryUsedBytes if state else 0,
                "state_commit_ms": state.commitTimeMs if state else 0,
                "sink_rows": p.sink.numOutputRows,
            }
            with self._lock:
                self._records.append(record)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def records(self, run_id: str) -> list[dict]:
            with self._lock:
                mine = [r for r in self._records if r["run_id"] == run_id]
            return sorted(mine, key=lambda r: r["batch_id"])

    return ProgressLog


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _start_query(spark, source_dir: Path, checkpoint: Path, use_udf: bool, available_now: bool, max_files: int | None):
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        entity_counts,
        parse_articles,
        to_output_json,
    )

    reader = spark.readStream.format("text")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    raw = reader.load(str(source_dir))
    out = to_output_json(entity_counts(parse_articles(raw), use_udf=use_udf))
    name = f"counts_{checkpoint.name}_{int(time.time() * 1000)}"
    writer = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(checkpoint))
    )
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(processingTime="0 seconds")
    return writer.start(), name


def _emitted_counts(spark, table: str) -> Counter:
    """The sink's last complete-mode table, as ``{entity: count}``."""
    counts: Counter = Counter()
    for row in spark.table(table).collect():
        msg = json.loads(row["value"])
        if msg["entity"] in counts or "timestamp" not in msg:
            raise ValueError(f"malformed output message {row['value']!r}")
        counts[msg["entity"]] = msg["count"]
    return counts


def _file_batches(checkpoint: Path) -> dict[str, int]:
    """File name → id of the batch that read it, from the file-source log.

    Every tenth log entry is an ``N.compact`` file holding all entries up
    to N; the others hold one batch each. Both carry each file's batch id.
    """
    log_dir = checkpoint / "sources" / "0"
    mapping: dict[str, int] = {}
    for entry in sorted(os.listdir(log_dir)):
        if entry.startswith("."):
            continue
        with open(log_dir / entry, encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line:
                rec = json.loads(line)
                mapping[os.path.basename(rec["path"])] = rec["batchId"]
    return mapping


def _wait_for_records(log, query, timeout: float = 10.0) -> list[dict]:
    """Progress events reach the listener asynchronously; wait until the
    record for the query's last batch has arrived."""
    last = query.lastProgress
    want = last["batchId"] if last else -1
    deadline = time.time() + timeout
    while True:
        recs = log.records(str(query.runId))
        if (recs and recs[-1]["batch_id"] >= want) or time.time() > deadline:
            return recs
        time.sleep(0.02)


def _python_eval_nodes(query) -> int:
    """``ArrowEvalPython`` nodes in the query's last executed plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        query.explain()
    return buf.getvalue().count("ArrowEvalPython")


def _warm_up(spark, work: Path, use_udf: bool, seed: int, sample: int) -> None:
    """One small trigger through the same pipeline in a throwaway query:
    starts the Python workers, compiles the generated code and loads the
    state-store provider."""
    base = fresh_dir(work / f"warm{sample}")
    src = fresh_dir(base / "in")
    write_file(str(src), "warm.txt", ArticleGenerator(seed ^ 0x5EED).batch(WARM_FILE_ARTICLES))
    query, _ = _start_query(spark, src, base / "ckpt", use_udf, available_now=True, max_files=1)
    query.awaitTermination()


def _trigger_spans(tracer, records: list[dict]) -> None:
    for r in records:
        d = r["durations"]
        start = r["start"]
        span = tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000.0, batch_id=r["batch_id"], rows=r["rows"])
        cursor = start
        for phase in _PHASES:
            ms = d.get(phase)
            if ms:
                tracer.add(f"streaming.{phase}", cursor, cursor + ms / 1000.0, parent=span, synthetic_start=True)
                cursor += ms / 1000.0


def _trigger_layers(records: list[dict]) -> dict[str, float]:
    """Per-trigger layer metrics, p50 over ``records``."""

    def p50(key: str) -> float:
        return median([r["durations"].get(key, 0) for r in records])

    te = [r["durations"]["triggerExecution"] for r in records]
    ab = [r["durations"].get("addBatch", 0) for r in records]
    updated = sum(r["state_updated"] for r in records)
    emitted = sum(r["sink_rows"] if r["sink_rows"] >= 0 else r["state_rows"] for r in records)
    return {
        "sources.latest_offset_ms": p50("latestOffset"),
        "sources.get_batch_ms": p50("getBatch"),
        "streaming.query_planning_ms": p50("queryPlanning"),
        "streaming.wal_commit_ms": p50("walCommit"),
        "streaming.commit_offsets_ms": p50("commitOffsets"),
        "streaming.add_batch_ms": p50("addBatch"),
        "streaming.protocol_share": (sum(te) - sum(ab)) / sum(te),
        "streaming.state_commit_ms": median([r["state_commit_ms"] for r in records]),
        "streaming.state_rows": records[-1]["state_rows"],
        "streaming.state_mem_bytes": records[-1]["state_mem_bytes"],
        "streaming.rows_emitted_per_updated": emitted / updated if updated else 0.0,
    }


def _python_plane(rest: RestApi, run_id: str, articles: int) -> dict[str, float]:
    """Python-worker SQL metrics summed over the query's micro-batches."""
    sent = run_s = 0.0
    for execution in rest.sql_executions():
        if run_id not in execution.get("description", ""):
            continue
        for node in execution.get("nodes", []):
            if "EvalPython" not in node.get("nodeName", ""):
                continue
            for m in node.get("metrics", []):
                if m["name"] == "data sent to Python workers":
                    sent += metric_total(m["value"])
                elif m["name"] == "time to run Python workers":
                    run_s += metric_total(m["value"])
    return {
        "functions.python_bytes_per_article": sent / articles if articles else 0.0,
        "functions.python_run_ms": run_s * 1000.0,
    }


def run_backlog(ctx) -> dict:
    spark = ctx.setup(lambda s, i: _warm_up(s, ctx.run_dir, True, ctx.seed, i))
    log = _listener_class()()
    spark.streams.addListener(log)

    n_files = WARM_TRIGGERS + max(8, round(ctx.seconds * BACKLOG_TRIGGERS_PER_S))
    src = fresh_dir(ctx.run_dir / "input")
    gen = ArticleGenerator(ctx.seed)
    expected: Counter = Counter()
    for i in range(n_files):
        values = gen.batch(BACKLOG_FILE_ARTICLES)
        expected += reference_counts(values)
        write_file(str(src), f"articles-{i:05d}.txt", values)
    n_articles = n_files * BACKLOG_FILE_ARTICLES

    with ctx.tracer.span("streaming.drain", files=n_files):
        t0 = time.time()
        query, table = _start_query(spark, src, ctx.run_dir / "ckpt", True, available_now=True, max_files=1)
        query.awaitTermination()
        wall = time.time() - t0
    records = _wait_for_records(log, query)
    eval_nodes = _python_eval_nodes(query)
    warm = records[WARM_TRIGGERS:]
    te_ms = [r["durations"]["triggerExecution"] for r in warm]

    got = _emitted_counts(spark, table)
    read = _file_batches(ctx.run_dir / "ckpt")
    ok = got == expected and len(read) == n_files
    failed = 0 if ok else n_files
    level, tail_ms = tail(te_ms)
    # Triggers are equal-sized, so the median per-trigger rate estimates the
    # drain rate without letting one trigger caught in a host stall move it.
    metrics = {
        "throughput_per_s": median([r["rows"] / r["durations"]["triggerExecution"] * 1000.0 for r in warm]),
        "latency_ms": median(te_ms),
    }
    named = {
        "articles_per_s": (metrics["throughput_per_s"], "1/s"),
        "drain_articles_per_s": (sum(r["rows"] for r in records) / wall, "1/s"),
        "trigger_p50_ms": (metrics["latency_ms"], "ms"),
        f"trigger_p{level:g}_ms": (tail_ms, "ms"),
        "trigger_samples": (len(te_ms), "count"),
        "drain_wall_s": (wall, "s"),
    }
    layers = _trigger_layers(warm)
    layers.update(
        {
            "latency.tail_ms": tail_ms,
            "latency.tail_pct": level,
            "latency.samples": len(te_ms),
            "functions.python_eval_nodes": eval_nodes,
            "streaming.trigger_sum_share": sum(r["durations"]["triggerExecution"] for r in records) / 1000.0 / wall,
        }
    )
    spark.streams.removeListener(log)
    if ctx.tracer.enabled:
        _trigger_spans(ctx.tracer, records)
        layers.update(_python_plane(RestApi(spark, ctx.tracer), str(query.runId), n_articles))
        local1 = _single_core_point(ctx, spark)
        layers["scaling.local1_articles_per_s"] = local1
        layers["scaling.speedup_vs_local1"] = metrics["throughput_per_s"] / local1
    return {
        "attempted": n_files,
        "failed": failed,
        "detail": {"emitted": dict(got), "expected": dict(expected)} if not ok else {},
        "metrics": metrics,
        "named": named,
        "layers": layers,
    }


def _single_core_point(ctx, spark) -> float:
    """Scaling baseline for the traced run: warm articles/s of the same
    drain on ``local[1]``, in a session rebuilt on one core."""
    from harness import build_session

    with ctx.tracer.span("scaling.local1"):
        spark.stop()
        one = build_session(ctx.work, "local[1]", ui=False)
        _warm_up(one, ctx.run_dir, True, ctx.seed, 99)
        log = _listener_class()()
        one.streams.addListener(log)
        src = fresh_dir(ctx.run_dir / "input1")
        gen = ArticleGenerator(ctx.seed + 1)
        for i in range(5):
            write_file(str(src), f"articles-{i:05d}.txt", gen.batch(BACKLOG_FILE_ARTICLES))
        query, _ = _start_query(one, src, ctx.run_dir / "ckpt1", True, available_now=True, max_files=1)
        query.awaitTermination()
        warm = _wait_for_records(log, query)[1:]
        rate = sum(r["rows"] for r in warm) / (sum(r["durations"]["triggerExecution"] for r in warm) / 1000.0)
        one.streams.removeListener(log)
        one.stop()
    return rate


class _Generator(threading.Thread):
    """Publishes pre-built files at ``t0 + i / rate``, whatever the
    pipeline is doing, and records when each file actually landed."""

    def __init__(self, directory: Path, files: list[tuple[str, list[str]]], rate: float, tracer, parent) -> None:
        super().__init__(name="article-generator", daemon=True)
        self._dir = str(directory)
        self._files = files
        self._period = 1.0 / rate
        self._tracer = tracer
        self._parent = parent
        self.scheduled: dict[str, float] = {}
        self.late_s: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            t0 = time.time() + 0.05
            for i, (name, values) in enumerate(self._files):
                due = t0 + i * self._period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                with self._tracer.span("sources.generator_write", parent=self._parent, file=name, due=due):
                    write_file(self._dir, name, values)
                self.late_s.append(time.time() - due)
                self.scheduled[name] = due
        except Exception as e:  # re-raised by the caller after join()
            self.error = e


def run_trickle(ctx) -> dict:
    spark = ctx.setup(lambda s, i: _warm_up(s, ctx.run_dir, False, ctx.seed, i))
    log = _listener_class()()
    spark.streams.addListener(log)

    gen = ArticleGenerator(ctx.seed)
    src = fresh_dir(ctx.run_dir / "input")
    first = gen.batch(TRICKLE_FILE_ARTICLES)
    n_preroll = PREROLL_S * TRICKLE_FILES_PER_S
    n_files = ctx.seconds * TRICKLE_FILES_PER_S
    all_files = [(f"articles-{i:05d}.txt", gen.batch(TRICKLE_FILE_ARTICLES)) for i in range(n_preroll + n_files)]
    files = all_files[n_preroll:]
    expected = reference_counts(first)
    for _, values in all_files:
        expected += reference_counts(values)
    total_rows = (len(all_files) + 1) * TRICKLE_FILE_ARTICLES

    query, table = _start_query(spark, src, ctx.run_dir / "ckpt", False, available_now=False, max_files=None)
    run_id = str(query.runId)
    # One file before the clock starts, so the query's first trigger
    # (planning, state-store creation) is not a sample.
    write_file(str(src), "articles-first.txt", first)
    _wait_rows(log, run_id, TRICKLE_FILE_ARTICLES, DRAIN_TIMEOUT_S)

    with ctx.tracer.span("sources.generator", files=len(all_files)) as gen_span:
        producer = _Generator(src, all_files, TRICKLE_FILES_PER_S, ctx.tracer, gen_span)
        producer.start()
        producer.join()
    if producer.error is not None:
        raise producer.error
    drained = _wait_rows(log, run_id, total_rows, DRAIN_TIMEOUT_S)
    query.stop()
    records = _wait_for_records(log, query)
    got = _emitted_counts(spark, table)

    batch_of = _file_batches(ctx.run_dir / "ckpt")
    end_of = {r["batch_id"]: r["start"] + r["durations"]["triggerExecution"] / 1000.0 for r in records}
    fresh_ms = []
    missing = 0
    for name, _ in files:
        batch = batch_of.get(name)
        if batch is None or batch not in end_of:
            missing += 1
            continue
        fresh_ms.append((end_of[batch] - producer.scheduled[name]) * 1000.0)

    ok = drained and got == expected
    failed = n_files if not ok else missing
    level, tail_ms = tail(fresh_ms)
    sample_batches = {batch_of[n] for n, _ in files if n in batch_of}
    measured = [r for r in records if r["batch_id"] in sample_batches]
    # Delivered rate: measured articles that reached an emitted table, over
    # the time from the first one's due time to the last trigger's end.
    span_s = max(end_of[b] for b in sample_batches) - producer.scheduled[files[0][0]]
    metrics = {
        "throughput_per_s": len(fresh_ms) * TRICKLE_FILE_ARTICLES / span_s,
        "latency_ms": median(fresh_ms),
    }
    named = {
        "articles_per_s": (metrics["throughput_per_s"], "1/s"),
        "offered_articles_per_s": (TRICKLE_FILES_PER_S * TRICKLE_FILE_ARTICLES, "1/s"),
        "freshness_p50_ms": (metrics["latency_ms"], "ms"),
        f"freshness_p{level:g}_ms": (tail_ms, "ms"),
        "freshness_samples": (len(fresh_ms), "count"),
        "generator_late_max_ms": (max(producer.late_s) * 1000.0, "ms"),
        "backlog_files_end": (missing, "count"),
    }
    layers = _trigger_layers(measured)
    layers.update(
        {
            "latency.tail_ms": tail_ms,
            "latency.tail_pct": level,
            "latency.samples": len(fresh_ms),
            "sources.backlog_files_end": missing,
            "sources.generator_late_ms": percentile([s * 1000.0 for s in producer.late_s], 99.0),
            "functions.python_eval_nodes": _python_eval_nodes(query),
        }
    )
    if ctx.tracer.enabled:
        _trigger_spans(ctx.tracer, records)
        layers.update(_python_plane(RestApi(spark, ctx.tracer), run_id, total_rows))
    spark.streams.removeListener(log)
    return {
        "attempted": n_files,
        "failed": failed,
        "detail": {"emitted": dict(got), "expected": dict(expected), "drained": drained} if not ok else {},
        "metrics": metrics,
        "named": named,
        "layers": layers,
    }


def _wait_rows(log, run_id: str, rows: int, timeout: float) -> bool:
    """Wait until the query's committed triggers have read ``rows`` rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if sum(r["rows"] for r in log.records(run_id)) >= rows:
            return True
        time.sleep(0.01)
    return False
