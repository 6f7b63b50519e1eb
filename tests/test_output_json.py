"""The streaming output message: its format, its stamp, and no per-trigger
compilation.

``to_output_json`` emits ``{"entity":…,"count":…,"timestamp":…}`` per entity,
stamped with the trigger's batch time (``current_timestamp()`` in a
micro-batch). The stamp is kept out of the generated Java source, so a
steady query reuses its compiled classes: Janino compilations, read from
Spark's ``CodegenMetrics``, stop after the first triggers.
"""

from __future__ import annotations

import json
import re

from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
    entity_counts,
    parse_articles,
    to_output_json,
)

MESSAGE = re.compile(
    r'^\{"entity":"[a-z]+","count":\d+,'
    r'"timestamp":"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{3}Z"\}$'
)
TRIGGERS = 5


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_steady_triggers_compile_nothing_and_keep_the_format(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    raw = spark.readStream.format("text").load(str(src))
    query = (
        to_output_json(entity_counts(parse_articles(raw)))
        .writeStream.format("memory")
        .queryName("output_json_contract")
        .outputMode("complete")
        .start()
    )
    compiled, triggers = [], []
    try:
        for i in range(TRIGGERS):
            article = {"title": "spark stream", "content": "join " * (i + 1) + "vector"}
            (src / f"articles-{i}.txt").write_text(json.dumps(article) + "\n")
            query.processAllAvailable()
            triggers.append([r.value for r in spark.table("output_json_contract").collect()])
            compiled.append(_compilations(spark))
    finally:
        query.stop()

    assert compiled[1] == compiled[-1], f"compilations after each trigger: {compiled}"
    stamps = []
    for i, messages in enumerate(triggers):
        assert messages and all(MESSAGE.match(m) for m in messages), messages
        parsed = [json.loads(m) for m in messages]
        assert all(list(p) == ["entity", "count", "timestamp"] for p in parsed)
        assert {p["entity"]: p["count"] for p in parsed}["join"] == (i + 1) * (i + 2) // 2
        (stamp,) = {p["timestamp"] for p in parsed}
        stamps.append(stamp)
    assert all(a < b for a, b in zip(stamps, stamps[1:])), stamps
