"""The NER extractor runs once per document.

A plain ``explode`` over the UDF's output made Catalyst infer a
``size(entities) > 0`` filter and copy the UDF into it, so the plan held two
``ArrowEvalPython`` nodes and every document crossed the Arrow boundary
twice. ``explode_once`` keeps one evaluation; these tests pin that on the
streaming pipeline and on the catalog's UDF entry, and pin that the helper
keeps ``explode``'s row semantics.
"""

from __future__ import annotations

import contextlib
import io
import json

import pytest
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY
from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
    entity_counts,
    explode_once,
    parse_articles,
)

from conftest import SF_DIR


def test_streaming_pipeline_plans_one_python_eval(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text(
        json.dumps({"title": "spark query", "content": "spark stream"}) + "\n"
    )
    raw = spark.readStream.format("text").load(str(src))
    q = (
        entity_counts(parse_articles(raw), use_udf=True)
        .writeStream.format("memory")
        .queryName("ner_single_eval")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    assert buf.getvalue().count("ArrowEvalPython") == 1, buf.getvalue()
    got = {r["entity"]: r["cnt"] for r in spark.table("ner_single_eval").collect()}
    assert got == {"spark": 2, "query": 1, "stream": 1}


def test_udf_catalog_entry_plans_one_python_eval(spark):
    df = REGISTRY["pipeline_parity_udf"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


@pytest.mark.parametrize(
    "arr",
    [[], None, [None, "spark"], ["spark", "query", "spark"]],
    ids=["empty", "null", "null-element", "duplicates"],
)
def test_explode_once_matches_explode(spark, arr):
    df = spark.createDataFrame([(0, arr), (1, ["join"])], "id int, arr array<string>")
    expected = df.select(F.explode("arr").alias("x")).collect()
    got = explode_once(df, "arr", "x")
    assert got.columns == ["x"]
    assert sorted(got.collect(), key=repr) == sorted(expected, key=repr)
