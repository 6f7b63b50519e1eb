"""Batch source catalog over the driver-generated parquet fixtures.

The fixture tables (TESTDATA.md) live at ``{sf_dir}/{name}.parquet``.
One scan quirk: ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some
fixture generations and TIMESTAMP(MICROS) in others, so the loader is
*schema-adaptive*: it inspects the type Spark actually resolved for ``ts``
and branches.

- timestamp / timestamp_ntz (current fixtures): ``ts_us =
  unix_micros(cast(ts as timestamp))``. The session timezone is pinned UTC
  (session.py), so the NTZ→instant cast is identity and ``ts_us`` is the
  same wall-clock micros the DuckDB oracles compute with ``epoch_ns(ts)//1000``.
- int64 (NANOS fixtures read under ``spark.sql.legacy.parquet.nanosAsLong``,
  kept as a session default purely as a drift safety net — it is inert for
  non-NANOS columns): ``ts_us = ts div 1000``; integer division keeps full
  precision where a double division would not (epoch-nanos ≈ 1.7e18 > 2^53).

Either way the loader emits the same two columns: ``ts_us`` (epoch-micros
long — the value every oracle-checked query computes on) and ``ts``
(TimestampType instant).

Scale note: these are plain ``spark.read.parquet`` scans — column pruning and
predicate pushdown reach the file scan via Catalyst, so at 100 TB the same
loaders work over a partitioned directory tree; nothing here materializes
driver-side. The schema inspection reads only the parquet footer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class SchemaDriftError(TypeError):
    """A fixture table's resolved schema violates its contract.

    Raised with every violation listed, so one driver regeneration that
    changes several columns reads as one self-describing failure instead of
    a cascade of red catalog entries (the round-3 failure class —
    SURVEY §1.2's string-vs-struct ``source`` mismatch is the reference
    ancestor: news_producer.py:127 vs spark_entity_counter.py:106).
    """


# --- type families -----------------------------------------------------------
# Contracts are stated per *family*, not per physical type, so width/unit
# drift (int32<->int64, float<->double, decimal(p,2)->double,
# timestamp[us]/[ns]/ntz, nanos-as-long) stays loadable; only a change of
# kind (e.g. a key column arriving as string) trips the contract.

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONAL = (FloatType, DoubleType, DecimalType)


def _in_family(dt, family: str) -> bool:
    if family == "integral":
        return isinstance(dt, _INTEGRAL)
    if family == "fractional":
        return isinstance(dt, _FRACTIONAL)
    if family == "string":
        return isinstance(dt, StringType)
    if family == "timestamp":
        # LongType admitted for the nanos-as-long legacy read (events.ts
        # round-3 history); DateType for a date-typed regeneration.
        return isinstance(
            dt, (TimestampType, TimestampNTZType, DateType, LongType)
        )
    if family == "float_array":
        return isinstance(dt, ArrayType) and isinstance(
            dt.elementType, _FRACTIONAL
        )
    raise ValueError(f"unknown type family {family!r}")


# Expected columns per fixture table (TESTDATA.md). Order-insensitive;
# missing, extra, or family-mismatched columns all trip the contract.
EXPECTED_SCHEMAS: dict = {
    "region": {"r_regionkey": "integral", "r_name": "string"},
    "nation": {
        "n_nationkey": "integral",
        "n_name": "string",
        "n_regionkey": "integral",
    },
    "customer": {
        "c_custkey": "integral",
        "c_name": "string",
        "c_nationkey": "integral",
        "c_acctbal": "fractional",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "integral",
        "s_name": "string",
        "s_nationkey": "integral",
        "s_acctbal": "fractional",
    },
    "part": {
        "p_partkey": "integral",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "integral",
        "p_retailprice": "fractional",
    },
    "orders": {
        "o_orderkey": "integral",
        "o_custkey": "integral",
        "o_orderstatus": "string",
        "o_totalprice": "fractional",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "integral",
        "l_partkey": "integral",
        "l_suppkey": "integral",
        "l_linenumber": "integral",
        "l_quantity": "fractional",
        "l_extendedprice": "fractional",
        "l_discount": "fractional",
        "l_tax": "fractional",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "integral",
        "ts": "timestamp",
        "user_id": "integral",
        "event_type": "string",
        "value": "fractional",
        "props": "string",
    },
    "documents": {
        "doc_id": "integral",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "integral",
    },
    "embeddings": {
        "vec_id": "integral",
        "embedding": "float_array",
        "label": "integral",
    },
}


def check_schema_contract(schema, name: str) -> None:
    """Validate a resolved Spark schema against the table's contract.

    Raises :class:`SchemaDriftError` naming every violation; returns None
    when the schema is conforming. Reads only resolved metadata — no data
    scan, so calling it on every load costs a parquet-footer read that the
    load was doing anyway.
    """
    expected = EXPECTED_SCHEMAS[name]
    got = {f.name: f.dataType for f in schema.fields}
    problems = []
    for col, family in expected.items():
        if col not in got:
            problems.append(f"missing column {col!r} (expected {family})")
        elif not _in_family(got[col], family):
            problems.append(
                f"column {col!r} resolved as {got[col].simpleString()}, "
                f"expected family {family!r}"
            )
    for col in got:
        if col not in expected:
            problems.append(
                f"unexpected column {col!r} ({got[col].simpleString()})"
            )
    if problems:
        raise SchemaDriftError(
            f"fixture table {name!r} schema drifted: " + "; ".join(problems)
        )


def _normalize_columns(df: DataFrame, name: str) -> DataFrame:
    """Cast drifted physical types back to the canonical forms the plan
    library was written against (the ``event_time_columns`` idea, applied
    to every table):

    - fractional scalars -> double (value-preserving for float32; the
      closest-behavior choice for a decimal regeneration)
    - timestamp columns -> TimestampNTZType (the type Spark resolves for
      today's tz-less parquet timestamps, i.e. the steady state every plan
      was validated against; instant/date casts are identity under the
      pinned-UTC session, nanos-as-long goes via ``timestamp_micros``)
    - integral / string / float-array columns pass through as resolved
      (plans are width-agnostic; both engines read the same parquet).

    Returns ``df`` unchanged when nothing drifted, so the steady-state plan
    is byte-identical to a plain parquet scan.
    """
    exprs, changed = [], False
    for f in df.schema.fields:
        family = EXPECTED_SCHEMAS[name][f.name]
        dt = f.dataType
        if family == "fractional" and not isinstance(dt, DoubleType):
            exprs.append(F.col(f.name).cast(DoubleType()).alias(f.name))
            changed = True
        elif family == "timestamp" and not isinstance(dt, TimestampNTZType):
            if isinstance(dt, LongType):  # nanos-as-long legacy read
                col = F.expr(f"timestamp_micros({f.name} div 1000)")
            else:  # TimestampType / DateType — UTC session tz, identity
                col = F.col(f.name)
            exprs.append(col.cast(TimestampNTZType()).alias(f.name))
            changed = True
        else:
            exprs.append(F.col(f.name))
    return df.select(*exprs) if changed else df


def event_time_columns(ts_type) -> tuple:
    """Return ``(ts_us, ts)`` column expressions for an events ``ts`` column
    of the given resolved Spark type — the one switch point for fixture
    schema drift (nanos-as-long vs timestamp[us]/[ns] vs timestamp_ntz)."""
    if isinstance(ts_type, LongType):
        # legacy nanosAsLong read: raw int64 epoch-nanos
        return (
            F.expr("ts div 1000").alias("ts_us"),
            F.expr("timestamp_micros(ts div 1000)").alias("ts"),
        )
    if isinstance(ts_type, (TimestampType, TimestampNTZType)):
        # UTC session timezone → NTZ cast is identity; unix_micros needs an
        # instant (TIMESTAMP), hence the explicit cast.
        ts_instant = F.col("ts").cast(TimestampType())
        return (
            F.unix_micros(ts_instant).alias("ts_us"),
            ts_instant.alias("ts"),
        )
    raise TypeError(f"unsupported events.ts type {ts_type!r}")


# Resolved-schema memo. ``spark.read.parquet`` without an explicit schema
# runs a footer-inference JOB per call — 93 of the 540 jobs in a full bench
# pass were these (tools/profile_r15_jobs.json). After the first load
# resolves (and contract-checks) a table's schema, later loads pass it
# explicitly and skip the job. This memoizes METADATA only — every query
# still reads row data from the parquet files; no results or
# intermediates are cached. Keyed by
# (sf_dir, name); each entry carries the file's (mtime_ns, size) stamp from
# when it was read, and a load whose stamp differs re-infers, so a file
# rewritten at the same path is checked against its own schema, never the
# cached one. A schema object is session-independent, so the memo survives
# session restarts. Paths that ``os.stat`` cannot see (remote file systems)
# are never memoized.
_SCHEMA_CACHE: dict = {}


def _file_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_fixture(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture file through the schema memo, contract-checked."""
    path = f"{sf_dir}/{name}.parquet"
    stamp = _file_stamp(path)
    memo = _SCHEMA_CACHE.get((sf_dir, name))
    if stamp is not None and memo is not None and memo[0] == stamp:
        raw = spark.read.schema(memo[1]).parquet(path)
    else:
        raw = spark.read.parquet(path)
    check_schema_contract(raw.schema, name)
    if stamp is not None:
        _SCHEMA_CACHE[(sf_dir, name)] = (stamp, raw.schema)
    return raw


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _read_fixture(spark, sf_dir, "events")
    ts_us, ts = event_time_columns(raw.schema["ts"].dataType)
    value = F.col("value")
    if not isinstance(raw.schema["value"].dataType, DoubleType):
        value = value.cast(DoubleType()).alias("value")
    return raw.select("event_id", ts_us, ts, "user_id", "event_type", value, "props")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its schema contract enforced.

    Every table passes :func:`check_schema_contract` (loud, named failure on
    drift — the round-3 lesson) and :func:`_normalize_columns` (adaptive
    casts back to canonical types); ``events`` additionally gets the
    nanos→micros ``(ts_us, ts)`` treatment.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _normalize_columns(_read_fixture(spark, sf_dir, name), name)
