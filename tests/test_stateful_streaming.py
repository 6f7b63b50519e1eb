"""Cross-micro-batch state persistence for the applyInPandasWithState
operator (streaming/stateful.py).

The catalog entry (streaming_stateful_user_stats) runs the bounded source
in one micro-batch, so it can't distinguish durable state from per-batch
aggregation. This test forces THREE micro-batches (maxFilesPerTrigger=1
over three parquet files) and checks that the final emission per user is
the cumulative total over all batches — i.e. state really carried across
state-store commits.
"""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.streaming.stateful import (
    USER_STATS_SCHEMA,
    UserStatsProcessor,
    _update_user_stats,
    user_running_stats,
)


@pytest.fixture()
def split_events(spark, tmp_path):
    """events split deterministically into 3 parquet files by event_id.
    Goes through the schema-adaptive loader (never a hand-pinned ts
    expression — that is exactly what broke in round 3)."""
    from sparkstreamingrealtimedatawithkafka_spark.sources.registry import load_table

    src = str(tmp_path / "events_split")
    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value", "ts_us"
    )
    events.repartition(3, "event_id").write.parquet(src)
    return src


def test_state_accumulates_across_micro_batches(spark, tmp_path, split_events):
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, value double, ts_us long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(split_events)
    )
    stats = user_running_stats(stream.select("user_id", "value", "ts_us"))

    name = "stateful_multibatch"
    query = (
        stats.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    assert query.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"

    out = spark.table(name).toPandas()
    # update mode: one emission per (user, batch-containing-that-user);
    # running totals are monotone, so the max row per user is the final state.
    final = out.sort_values("n_events").groupby("user_id").tail(1)

    expected = (
        spark.read.parquet(split_events)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
            F.min("ts_us").alias("first_us"),
            F.max("ts_us").alias("last_us"),
        )
        .toPandas()
    )

    merged = final.merge(expected, on="user_id", suffixes=("_got", "_exp"))
    assert len(merged) == len(expected)
    for col in ["n_events", "value_cents", "first_us", "last_us"]:
        pd.testing.assert_series_equal(
            merged[f"{col}_got"].reset_index(drop=True),
            merged[f"{col}_exp"].reset_index(drop=True),
            check_names=False,
        )
    # at least one user must span multiple batches for this test to mean
    # anything (emissions > distinct users)
    assert len(out) > len(expected)


class _ValueState:
    """A ``transformWithStateInPandas`` value-state handle, in memory."""

    def __init__(self):
        self.value = None

    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


class _GroupState:
    """An ``applyInPandasWithState`` ``GroupState``, in memory."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


def test_both_stateful_apis_fold_alike():
    """``applyInPandasWithState``'s function and ``transformWithStateInPandas``'s
    processor carry the same state and emit the same frames over two batches
    (the processor cannot run here: its state protocol needs protobuf)."""
    batches = [
        [
            pd.DataFrame({"value": [1.25, 2.5], "ts_us": [30, 10]}),
            pd.DataFrame({"value": [], "ts_us": []}),
        ],
        [pd.DataFrame({"value": [0.1, 4.0, 3.3], "ts_us": [50, 5, 20]})],
    ]
    group_state, value_state = _GroupState(), _ValueState()
    processor = UserStatsProcessor()
    processor.init(SimpleNamespace(getValueState=lambda name, schema: value_state))
    for batch in batches:
        (by_function,) = _update_user_stats((7,), iter(batch), group_state)
        (by_processor,) = processor.handleInputRows((7,), iter(batch), None)
        pd.testing.assert_frame_equal(by_function, by_processor)
        assert group_state.value == value_state.value
    assert group_state.value == (5, 1115, 5, 50)
    assert list(by_function.columns) == USER_STATS_SCHEMA.fieldNames()
