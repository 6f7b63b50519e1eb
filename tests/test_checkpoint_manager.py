"""Checkpoint file manager choice in ``build_session``.

On a ``file:`` default FS the session routes streaming checkpoints through
Spark's FileSystem-API manager (no per-operation ``readlink`` spawns from
Hadoop's FileContext); a caller's own choice wins, and a non-local default
FS keeps Spark's FileContext default. The restart test proves the manager
keeps the checkpoint's recovery contract for the paper's pipeline: a query
stopped and restarted on the same checkpoint ends with the counts of one
uninterrupted run.
"""

from __future__ import annotations

import json
from collections import Counter

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX
from sparkstreamingrealtimedatawithkafka_spark.session import (
    CHECKPOINT_MANAGER_CONF,
    FS_CHECKPOINT_MANAGER,
    build_session,
)
from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
    entity_counts,
    parse_articles,
)

from conftest import SESSION_KW

FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _hadoop_conf(spark):
    return spark.sparkContext._jsc.hadoopConfiguration()


def test_local_default_fs_uses_filesystem_manager(spark):
    assert _hadoop_conf(spark).get("fs.defaultFS").startswith("file:")
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER


def test_caller_choice_wins(spark):
    extra = {**SESSION_KW["extra"], CHECKPOINT_MANAGER_CONF: FILE_CONTEXT_MANAGER}
    try:
        again = build_session(**{**SESSION_KW, "extra": extra})
        assert again.conf.get(CHECKPOINT_MANAGER_CONF) == FILE_CONTEXT_MANAGER
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)


def test_remote_default_fs_keeps_spark_default(spark):
    conf = _hadoop_conf(spark)
    default_fs = conf.get("fs.defaultFS")
    spark.conf.unset(CHECKPOINT_MANAGER_CONF)
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        again = build_session(**SESSION_KW)
        assert again.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    finally:
        conf.set("fs.defaultFS", default_fs)
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)


_BODIES = [
    ("spark spark query", "the window", "join merge spark"),
    ("customer batch", "", "stream table table"),
    ("vector", "spark", None),
    ("no entities here", "", ""),
    ("merge merge", "customer", "query window"),
    ("batch stream", "join", "vector spark"),
]


def _article(title, description, content) -> str:
    return json.dumps(
        {"title": title, "description": description, "content": content}
    )


def _write_file(src, i: int) -> None:
    # Two articles per file, one malformed line: every file adds counts,
    # so a file read twice or skipped changes the final table.
    lines = [_article(*_BODIES[i]), _article(*_BODIES[(i + 1) % len(_BODIES)])]
    lines.append("{broken json")
    (src / f"articles-{i:02d}.txt").write_text("\n".join(lines) + "\n")


def _expected(n_files: int) -> Counter:
    counts: Counter = Counter()
    for i in range(n_files):
        for body in (_BODIES[i], _BODIES[(i + 1) % len(_BODIES)]):
            text = " ".join(part for part in body if part is not None)
            counts.update(tok for tok in text.split(" ") if tok in TX.ENTITY_TERMS)
    return counts


def _run(spark, src, ckpt, batches: list, stop_when_idle: bool):
    """One query instance over ``src`` on checkpoint ``ckpt``; every
    complete-mode emission lands in ``batches`` as (batch_id, counts).
    The memory sink cannot recover from a checkpoint, so the sink is
    foreachBatch."""

    def capture(batch_df, batch_id):
        batches.append((batch_id, {r["entity"]: r["cnt"] for r in batch_df.collect()}))

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(str(src))
    writer = (
        entity_counts(parse_articles(raw))
        .writeStream.foreachBatch(capture)
        .outputMode("complete")
        .option("checkpointLocation", str(ckpt))
    )
    if stop_when_idle:
        q = writer.trigger(processingTime="0 seconds").start()
        q.processAllAvailable()
        q.stop()
    else:
        writer.trigger(availableNow=True).start().awaitTermination()


def test_restart_on_same_checkpoint_matches_uninterrupted_run(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _write_file(src, i)

    first: list = []
    _run(spark, src, tmp_path / "ckpt", first, stop_when_idle=True)
    assert [b for b, _ in first] == [0, 1, 2]
    assert first[-1][1] == _expected(3)

    for i in range(3, len(_BODIES)):
        _write_file(src, i)
    second: list = []
    _run(spark, src, tmp_path / "ckpt", second, stop_when_idle=False)
    # Resumes from the committed offsets: only the new files, with batch
    # ids continuing the first run's numbering.
    assert [b for b, _ in second] == [3, 4, 5]

    whole: list = []
    _run(spark, src, tmp_path / "ckpt_whole", whole, stop_when_idle=False)
    assert second[-1][1] == whole[-1][1] == _expected(len(_BODIES))
