"""Streaming incremental near-dup dedup: each micro-batch is banded and
joined against the PERSISTED LSH band index of everything ingested before
it, then appended to that index — near-dup detection as a continuous
ingest-time process instead of a periodic full-corpus job.

This is the streaming face of ``operators/dedup.py:incremental_lsh_pairs``
(same band join, same verification) wired through ``foreachBatch``. The
state is NOT in the streaming state store: the band index and token
snapshot live as plain parquet tables, because at 100 TB they are corpus-
sized — state-store state must stay bounded (watermarked windows, dedup
keys), while corpus-sized lookaside state belongs in a table the batch
join can prune and AQE can size. Cost per micro-batch scales with
|batch| x bucket density, never with the archive.

Output contract: a pair (a, b) is emitted exactly once — in the batch
where its LATER member arrives (the earlier member is in the index by
then; same-batch pairs are found batch-vs-batch and collapsed by the
ordered-pair dedup). The FINAL pair set over a bounded stream therefore
equals the full-corpus batch LSH result regardless of how files are
sliced into micro-batches — the prefix-consistency argument, extended to
a pipeline with out-of-band state.

Exactly-once on replay: ALL THREE tables (pairs, bands, tokens) are
partitioned by batch_id and written with dynamic partition overwrite, so
a re-run of a batch after a crash REPLACES its own contribution instead
of duplicating it — a replayed batch cannot double its index rows, which
would otherwise break the verification join's distinct-token assumption
and re-emit pairs in later batches. A production deployment could also
stage-commit via a manifest (the protocol demonstrated by
``sources/pysink.py``) or use an ACID table format.

Reference ancestry: the producer-side LRUSet dedup
(news_producer.py:30-48) keeps a bounded in-process "seen" set; this
operator is that idea grown into engine state — durable, corpus-sized,
and shared across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (
    minhash_band_table,
    verify_jaccard,
)


def write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch's output under ``path/batch_id=<id>`` with
    dynamic partition overwrite: a replayed batch REPLACES its own
    partition instead of appending a duplicate, and leaves every other
    batch's partition untouched."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def dedup_batch_processor(
    spark: SparkSession,
    work_dir: str,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
):
    """The per-micro-batch body of :func:`incremental_dedup_query`,
    exposed as a plain ``(batch_df, batch_id) -> None`` callable so replay
    schedules the streaming engine can't be coaxed into — resume from an
    arbitrary batch k against index state already containing batches
    ``>= k`` — are directly drivable (the Hypothesis property in
    tests/test_incremental_replay.py exercises exactly that grid)."""
    bands_dir = f"{work_dir}/bands"
    toks_dir = f"{work_dir}/tokens"
    pairs_dir = f"{work_dir}/pairs"

    # Epoch ids are Java longs: an int32 read schema cannot hold a batch id
    # past 2**31, and reading that batch's partitions back would fail.
    part_field = StructField("batch_id", LongType(), True)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(
            F.col(id_col).alias("id"), F.col(tokens_col).alias("tok")
        )
        # Write-first ordering (tokens -> bands -> pairs): each step reads
        # its inputs back from the just-written index tables, so the
        # tokenization chain upstream of ``tokens_col`` runs ONCE per batch
        # (the r1-r14 shape evaluated it three times — band checkpoint,
        # verification union, tokens append — and paid a localCheckpoint
        # job to share the band table between join and append; measured
        # 52 -> fewer jobs / -3s warm at sf0.01,
        # tools/profile_stream_r15_before.json vs _after.json).
        # Explicit read schemas skip parquet footer inference per batch.
        tok_schema = StructType(list(batch.schema.fields) + [part_field])
        write_batch(batch, batch_id, toks_dir)
        cur_toks = (
            spark.read.schema(tok_schema)
            .parquet(toks_dir)
            .filter(F.col("batch_id") == F.lit(batch_id))
            .select("id", "tok")
        )
        bt = minhash_band_table(cur_toks, "id", "tok", num_hashes, bands)
        band_schema = StructType(list(bt.schema.fields) + [part_field])
        write_batch(bt, batch_id, bands_dir)
        # Join the batch's bands against index partitions <= current only.
        # (bands <= k) |><| (bands == k) is row-identical to the r1-r14
        # (prior < k UNION batch) |><| batch join, and the <= bound is what
        # makes replay idempotent from ANY restart point: a cross-batch
        # pair is owned by max(batch(a), batch(b)), so a replayed batch
        # re-emits exactly its original partition even against a
        # future-contaminated index — checkpoint lost, state table intact
        # (caught by tests/test_incremental_replay.py). A corrupt or
        # unreadable index fails loudly here rather than silently running
        # the dedup join with an empty base (incomplete pair set).
        all_bands = (
            spark.read.schema(band_schema)
            .parquet(bands_dir)
            .filter(F.col("batch_id") <= F.lit(batch_id))
            .select("id", "band", "bhash")
        )
        cur_bands = (
            spark.read.schema(band_schema)
            .parquet(bands_dir)
            .filter(F.col("batch_id") == F.lit(batch_id))
            .select(F.col("id").alias("id_d"), "band", "bhash")
        )
        cand = (
            all_bands.join(cur_bands, ["band", "bhash"])
            .filter(F.col("id") != F.col("id_d"))
            .select(
                F.least("id", "id_d").alias("id_a"),
                F.greatest("id", "id_d").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        all_toks = (
            spark.read.schema(tok_schema)
            .parquet(toks_dir)
            .filter(F.col("batch_id") <= F.lit(batch_id))
            .select("id", "tok")
        )
        pairs = verify_jaccard(cand, all_toks, "id", "tok", jaccard_threshold)
        write_batch(pairs, batch_id, pairs_dir)

    return process


def incremental_dedup_query(
    spark: SparkSession,
    stream_df: DataFrame,
    work_dir: str,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
):
    """Build the foreachBatch streaming query (caller starts/awaits it).

    Layout under ``work_dir``: ``bands/`` (id, band, bhash) — the LSH
    index; ``tokens/`` (id, tok) — verification payloads; ``pairs/`` —
    the emitted (id_a, id_b, jaccard). All three are partitioned by
    batch_id and written with dynamic partition overwrite (replay-safe).
    """
    process = dedup_batch_processor(
        spark, work_dir, id_col, tokens_col, num_hashes, bands,
        jaccard_threshold,
    )
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{work_dir}/ckpt")
        .trigger(availableNow=True)
    )


def topk_batch_processor(
    spark: SparkSession,
    work_dir: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The per-micro-batch body of :func:`incremental_topk_query`,
    exposed like :func:`dedup_batch_processor` so arbitrary replay
    schedules are directly drivable in tests. Unlike the dedup index,
    each batch's state contribution reads NOTHING from other batches,
    so replay idempotence here rests on dynamic partition overwrite
    alone — pinned by the same (k, m)-grid property."""
    from pyspark.sql.window import Window as W

    from sparkstreamingrealtimedatawithkafka_spark.functions.vector import dot, norm

    state_dir = f"{work_dir}/topk"
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
        .withColumn("qnorm", norm(F.col("qvec")))
        .localCheckpoint()
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        c = batch_df.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ).withColumn("cnorm", norm(F.col("cvec")))
        scored = (
            c.crossJoin(F.broadcast(q))
            .withColumn(
                "sim",
                dot(F.col("cvec"), F.col("qvec"))
                / (F.col("cnorm") * F.col("qnorm")),
            )
            .select("query_id", "neighbor_id", "sim")
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        top = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim")
        )
        write_batch(top, batch_id, state_dir)

    return process


def incremental_topk_query(
    spark: SparkSession,
    stream_df: DataFrame,
    work_dir: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous exact top-k maintenance over an embedding stream
    (caller starts/awaits): each micro-batch is scored against the
    broadcast query set and only its PER-BATCH top-k survives into the
    state table — k rows per query per batch, so state grows with batch
    COUNT, never corpus size. The final global top-k is the rank over
    the union of per-batch winners, correct because top-k is a monotone
    selection (the true top-k of the whole stream is contained in the
    union of per-batch top-ks, each batch's non-winners can never enter
    the global top-k).

    Replay safety is the same discipline as the dedup index: the state
    table is partitioned by batch_id and written with dynamic partition
    overwrite, so a replayed batch REPLACES its own winners instead of
    duplicating them. No read-modify-write on shared state at all — the
    rolling-merge formulation (re-rank state ∪ batch, overwrite) would
    read and overwrite the same path inside one foreachBatch, which is
    not crash-atomic on plain parquet.
    """
    process = topk_batch_processor(
        spark, work_dir, queries, k, id_col, vec_col
    )
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{work_dir}/ckpt")
        .trigger(availableNow=True)
    )
