"""The reference streaming pipeline, rebuilt as reusable Structured
Streaming components.

Reference dataflow (/root/reference/app/spark_entity_counter.py:117-156):
Kafka source → CAST(value AS STRING) → from_json(9-field schema) →
concat_ws(title, description, content) → pandas-UDF NER → explode →
groupBy(entity).count() → to_json(struct(entity, count, ts)) → Kafka sink,
complete mode, 30 s processing-time trigger, no watermark.

Engine changes (SURVEY.md §2.8):
- Sources/sinks are pluggable: Kafka stays config-gated (no broker in CI);
  file streams + memory/parquet sinks with ``availableNow`` make every
  semantic test hermetic and deterministic.
- ``complete`` mode is kept for parity, but the scalable default is
  *watermarked* windowed aggregation in ``update``/``append`` — complete
  mode re-emits ALL state every trigger, which is unusable at 100 TB.
- The schema keeps the reference's consumer contract (all-string, ``source``
  typed string even though the producer emits a struct — that mismatch and
  its from_json→NULL consequence are load-bearing, FIXTURES.md §B); a fixed
  variant types ``source`` properly.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX

_ARTICLE_FIELDS = (
    "source",
    "author",
    "title",
    "description",
    "url",
    "publishedAt",
    "content",
    "fetchedAt",
    "query",
)

# The consumer schema as the reference declares it
# (spark_entity_counter.py:105-115): 9 nullable strings.
ARTICLE_SCHEMA = StructType(
    [StructField(name, StringType(), True) for name in _ARTICLE_FIELDS]
)

# Fixed variant: the producer actually emits `source` as {"id","name"}
# (news_producer.py:127) — typed properly here.
ARTICLE_SCHEMA_FIXED = StructType(
    [
        StructField(
            "source",
            StructType(
                [StructField("id", StringType(), True), StructField("name", StringType(), True)]
            ),
            True,
        )
    ]
    + [StructField(name, StringType(), True) for name in _ARTICLE_FIELDS[1:]]
)


def parse_articles(raw: DataFrame, schema: StructType = ARTICLE_SCHEMA) -> DataFrame:
    """Kafka-value bytes → parsed article → derived ``text`` column.

    Mirrors spark_entity_counter.py:127-132 exactly: PERMISSIVE from_json
    (malformed → null struct) and null-skipping concat_ws (null fields
    vanish; fully-null rows yield empty text, which later drops at explode).
    """
    return (
        raw.selectExpr("CAST(value AS STRING) AS json_str")
        .select(F.from_json(F.col("json_str"), schema).alias("data"))
        .select(
            F.concat_ws(
                " ", F.col("data.title"), F.col("data.description"), F.col("data.content")
            ).alias("text")
        )
    )


def explode_once(df: DataFrame, array_col: str, alias: str) -> DataFrame:
    """``df.select(F.explode(array_col).alias(alias))`` with the array
    expression evaluated once per row.

    A plain ``explode`` makes Catalyst's ``InferFiltersFromGenerate`` add a
    ``size(arr) > 0`` filter below the Generate, and filter pushdown then
    copies the expression producing ``arr`` into it: a pandas UDF there is
    planned as a second ``ArrowEvalPython`` node and runs twice per row.
    ``posexplode_outer`` infers no filter; dropping its ``pos IS NULL``
    rows removes exactly the null and empty arrays ``explode`` drops, and
    null elements inside an array survive as they do under ``explode``.
    """
    return (
        df.select(F.posexplode_outer(array_col).alias("pos", alias))
        .where(F.col("pos").isNotNull())
        .select(alias)
    )


def entity_counts(text_df: DataFrame, use_udf: bool = False) -> DataFrame:
    """text → entities → explode → running count (spark_entity_counter.py:135-139).

    ``use_udf=True`` runs the Arrow pandas-UDF extractor plane (the
    reference's execution shape); default is the JVM column expression.
    Either extractor runs once per document (:func:`explode_once`).
    Works identically on batch and streaming inputs.
    """
    entities = (
        TX.extract_entities_udf(F.col("text")) if use_udf else TX.extract_entities("text")
    )
    return (
        explode_once(text_df.withColumn("entities", entities), "entities", "entity")
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def to_output_json(counts: DataFrame) -> DataFrame:
    """Output message shape (spark_entity_counter.py:142-144):
    one JSON string per entity with a processing-time stamp."""
    # In a micro-batch ``current_timestamp()`` is the trigger's batch time,
    # and codegen inlines that literal into the Java source: every trigger
    # would compile new classes. A higher-order function is not code
    # generated, so the identity ``transform`` keeps the value out of the
    # source; the stamp, its type and its JSON format are unchanged.
    stamp = F.transform(F.array(F.current_timestamp()), lambda ts: ts)[0]
    return counts.select(
        F.to_json(
            F.struct(
                F.col("entity"),
                F.col("cnt").alias("count"),
                stamp.alias("timestamp"),
            )
        ).alias("value")
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    delay: str = "1 hour",
    window_len: str = "1 day",
) -> DataFrame:
    """The scalable replacement for the reference's unbounded complete-mode
    state: watermarked tumbling windows (bounded state, append output)."""
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window_len), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("win_start_us"),
            "event_type",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Sources / sinks
# ---------------------------------------------------------------------------


def kafka_broker_addr(timeout: float = 0.25) -> str | None:
    """Bootstrap address of a reachable Kafka broker, or None.

    Probes ``$KAFKA_BOOTSTRAP_SERVERS`` (default ``localhost:9092``) with
    a short TCP connect — the same auto-gating posture as
    ``stateful.has_tws_runtime``: environment-blocked surfaces register
    themselves the moment the environment provides them, with zero config
    edits. A broker deployment is assumed to carry the Kafka connector
    JAR on the Spark classpath (they ship together in every distro)."""
    import socket

    addr = os.environ.get("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092")
    host, _, port = addr.rpartition(":")
    try:
        with socket.create_connection((host or "localhost", int(port)), timeout=timeout):
            return addr
    except (OSError, ValueError):
        return None


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming source, verbatim reference config
    (spark_entity_counter.py:117-124). Needs the Kafka connector JAR on the
    classpath and a live broker — config-gated, not exercised in CI."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    output_mode: str = "complete",
    trigger_interval: str = "30 seconds",
):
    """Kafka streaming sink (spark_entity_counter.py:147-156): complete-mode
    republish of the whole count table per trigger, parameterized
    checkpoint (the reference hardcodes /tmp, :153)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(processingTime=trigger_interval)
        .start()
    )


def as_stream_dir(*files: str) -> str:
    """FileStreamSource only accepts directories; expose individual parquet
    files through a temp directory of symlinks."""
    d = tempfile.mkdtemp(prefix="ssk_stream_")
    for i, f in enumerate(files):
        os.symlink(f, os.path.join(d, f"part-{i:05d}.parquet"))
    return d


def file_stream(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Hermetic bounded source: parquet file stream with explicit schema.
    ``path`` may be a single parquet file (wrapped via ``as_stream_dir``)."""
    if os.path.isfile(path):
        path = as_stream_dir(path)
    return spark.readStream.schema(schema).parquet(path)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str,
    name: str | None = None,
    state_partitions: int = 8,
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink; return the result table. Test/driver harness only —
    memory sinks collect to the driver.

    ``state_partitions`` pins the stateful-operator partition count for the
    query (stateful queries freeze ``spark.sql.shuffle.partitions`` at first
    start). Each state partition costs a state-store instance plus delta
    files per micro-batch, so it should track state *size*, not CPU count —
    8 is right for the test corpus; a 100 TB deployment sizes it to keep
    per-partition state under the executor memory budget.
    """
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        # Micro-batch planning happens async after start(), and that is
        # where the conf is frozen into the query — restore only once the
        # run is fully drained.
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
