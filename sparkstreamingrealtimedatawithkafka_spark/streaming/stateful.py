"""Custom stateful streaming operator built on ``applyInPandasWithState``.

The reference's only stateful operator is the built-in streaming
``groupBy().count()`` (/root/reference/app/spark_entity_counter.py:139).
This module is the engine's extension point for state machines that the
built-in aggregates can't express: arbitrary per-key Python logic over
Arrow batches, with durable state in Spark's state store (checkpointed,
recovered on restart, partitioned by the grouping key).

Scale posture: state is keyed by ``user_id`` and partitioned by the state
store (one instance per shuffle partition); per-batch work is
Arrow-vectorized pandas within each key group. The driver never holds
state; a 1000-executor cluster shards the key space exactly like the
built-in streaming aggregation.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# (n_events, value_cents, first_us, last_us)
_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)

USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("value_cents", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def _fold_user_stats(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    prior: tuple[Any, ...] | None,
) -> tuple[tuple[Any, ...], pd.DataFrame]:
    """Merge this batch's rows for one user into the carried
    ``(n_events, value_cents, first_us, last_us)`` (``None``: no state yet);
    returns the new state and its one-row output frame.

    Value accumulation happens in integer cents (exact, associative) so the
    emitted totals are independent of row order within the batch — the same
    determinism contract as the relational catalog (plans/_util.py).
    """
    n, cents_total, first_us, last_us = prior if prior is not None else (0, 0, None, None)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        cents_total += int(round(pdf["value"].mul(100).round(0).sum()))
        lo = int(pdf["ts_us"].min())
        hi = int(pdf["ts_us"].max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    stats = (n, cents_total, first_us, last_us)
    return stats, pd.DataFrame([(key[0], *stats)], columns=USER_STATS_SCHEMA.fieldNames())


def _update_user_stats(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit one user's running totals after this batch (update semantics:
    one row per user per batch), carried in durable state."""
    stats, out = _fold_user_stats(key, pdfs, state.get if state.exists else None)
    state.update(stats)
    yield out


class UserStatsProcessor(StatefulProcessor):
    """The same per-user running-stats state machine as
    ``_update_user_stats``, on the Spark 4 ``transformWithStateInPandas``
    API (StatefulProcessor): typed state handles (`getValueState`) instead
    of one opaque tuple, explicit init/close lifecycle, and optional
    timers/TTL the old API lacks. Requires the RocksDB state store
    provider."""

    def init(self, handle) -> None:
        self._stats = handle.getValueState(
            "stats", "n_events bigint, value_cents bigint, first_us bigint, last_us bigint"
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        stats, out = _fold_user_stats(key, rows, self._stats.get())
        self._stats.update(stats)
        yield out

    def close(self) -> None:
        pass


def has_tws_runtime() -> bool:
    """True when ``transformWithStateInPandas`` can actually EXECUTE here:
    its worker<->state-server protocol rides on ``google.protobuf``, which
    pip-forbidden sandboxes may lack. Catalog registration keys off this,
    so the TWS entry lights up automatically the moment the environment
    gains the dependency (no code change) — the same env-gate posture as
    the Kafka surfaces (SURVEY §5.3)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_running_stats_tws(events: DataFrame) -> DataFrame:
    """``user_running_stats`` built on ``transformWithStateInPandas``
    (Spark 4). Same input/output contract; state lives in RocksDB (the
    caller must set the RocksDB state store provider before the query
    starts — the new operator refuses the default HDFS-backed store).

    Environment gate (the Kafka pattern, SURVEY §5.3): the operator's
    state-server protocol needs ``google.protobuf`` in the Python workers,
    which this container lacks — so this stays OUT of the oracle catalog.
    The plan-construction contract (grouping key, output schema, streaming
    flag) is asserted without execution in tests/test_spark4_surfaces.py;
    the cross-batch execution test runs wherever protobuf exists."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStatsProcessor(),
        outputStructType=USER_STATS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def user_running_stats(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, value_cents, first_us, last_us) as a
    custom stateful operator.

    ``events`` must carry ``user_id``, ``value`` (double), ``ts_us`` (long).
    Output mode is ``update``: each micro-batch emits the new running totals
    for every user present in the batch; state persists across batches via
    the checkpointed state store.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# (ewma double, n long) — the recursive smoother's carried state
_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("ewma", DoubleType()),
        StructField("n", LongType()),
    ]
)

EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_cents", DoubleType()),
    ]
)


def _update_ewma(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Continue the per-user EWMA fold (alpha = 1/2) from carried state.

    Within a batch, rows are sorted by (ts_us, event_id) before folding —
    Spark does not order rows inside a key group, and EWMA is
    order-sensitive. Across batches, correctness requires time-ordered
    arrival (later batches carry later events), which is how ingestion
    pipelines deliver and what the parity test constructs. Python floats
    ARE IEEE-754 doubles, and the fold ``acc/2 + x/2`` is the identical
    operation sequence as the batch operator's JVM ``aggregate`` and the
    oracle's DuckDB ``list_reduce`` — bit-identical results across all
    three."""
    rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    if state.exists:
        ewma, n = state.get
    else:
        ewma, n = 0.0, 0
    for c in rows["cents"]:
        x = float(c)
        ewma = x if n == 0 else ewma / 2 + x / 2
        n += 1
    state.update((ewma, n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "ewma_cents": [ewma]}
    )


def user_ewma(events: DataFrame) -> DataFrame:
    """Per-user streaming EWMA (alpha = 1/2) as a custom stateful
    operator; ``events`` must carry ``user_id``, ``event_id``, ``ts_us``,
    ``cents``. Update mode: the new smoothed value per user per batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("ps", LongType()),
        StructField("mn", LongType()),
        StructField("s_max", LongType()),
        StructField("n_alarms", LongType()),
        StructField("first_alarm", LongType()),
    ]
)

CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_alarms", LongType()),
        StructField("max_cusum_c", LongType()),
        StructField("first_alarm_event", LongType()),
    ]
)

_CUSUM_K_CENTS = 6000
_CUSUM_H_CENTS = 20000


def _update_cusum(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Continue the per-user one-sided CUSUM fold from carried state.

    The carried state is (prefix sum, min(0, min prefix), peak statistic,
    alarm count, first alarm event) — ALL exact int64, so stream == batch
    to the last cent with no float drift. Rows are sorted by
    (ts_us, event_id) within the batch; across batches correctness needs
    time-ordered arrival, same contract as ``_update_ewma``. The identity
    S_t = P_t - min(0, min prefix P) means the state is two running
    integers, not history — the unbounded-ingest form of the batch
    entry's stacked windows (plans/events.py events_cusum_changepoint).
    """
    rows = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    if state.exists:
        ps, mn, s_max, n_alarms, first_alarm = state.get
    else:
        ps, mn, s_max, n_alarms, first_alarm = 0, 0, 0, 0, -1
    for cents_v, eid in zip(rows["cents"], rows["event_id"]):
        ps += int(cents_v) - _CUSUM_K_CENTS
        if ps < mn:
            mn = ps
        s = ps - mn
        if s > s_max:
            s_max = s
        if s > _CUSUM_H_CENTS:
            n_alarms += 1
            if first_alarm < 0:
                first_alarm = int(eid)
    state.update((ps, mn, s_max, n_alarms, first_alarm))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_alarms": [n_alarms],
            "max_cusum_c": [s_max],
            "first_alarm_event": [first_alarm if first_alarm >= 0 else None],
        }
    )


def user_cusum(events: DataFrame) -> DataFrame:
    """Per-user streaming CUSUM (k=$60, h=$200, exact cents) as a custom
    stateful operator; ``events`` must carry ``user_id``, ``event_id``,
    ``ts_us``, ``cents``. Update mode: the latest alarm summary per user
    per batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_cusum,
        outputStructType=CUSUM_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
