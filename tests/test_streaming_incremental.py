"""Streaming incremental dedup: the final pair set must be invariant to
how the corpus is sliced into micro-batches, and equal to the batch
full-corpus LSH result (prefix consistency extended to out-of-band index
state)."""

from __future__ import annotations

import glob
import shutil
import tempfile

from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX
from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (
    lsh_candidate_pairs,
)
from sparkstreamingrealtimedatawithkafka_spark.plans._util import t
from sparkstreamingrealtimedatawithkafka_spark.plans.streaming_queries import (
    _DOCS_SCHEMA,
)
from sparkstreamingrealtimedatawithkafka_spark.streaming.incremental import (
    dedup_batch_processor,
    incremental_dedup_query,
)
from sparkstreamingrealtimedatawithkafka_spark.streaming.pipeline import as_stream_dir

from conftest import SF_DIR


def _stream_pairs(spark, n_slices: int) -> set:
    docs = t(spark, SF_DIR, "documents")
    work = tempfile.mkdtemp(prefix=f"ssk_incr_test_{n_slices}_")
    files = []
    for i in range(n_slices):
        sd = f"{work}/slice{i}"
        docs.filter(F.col("doc_id") % n_slices == i).coalesce(1).write.parquet(sd)
        files.extend(glob.glob(f"{sd}/part-*.parquet"))
    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(as_stream_dir(*files))
    )
    stream = raw.select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    q = incremental_dedup_query(
        spark, stream, work, "doc_id", "sh", jaccard_threshold=0.4
    ).start()
    q.awaitTermination()
    out = spark.read.parquet(f"{work}/pairs")
    rows = out.select("id_a", "id_b", "jaccard", "batch_id").collect()
    shutil.rmtree(work, ignore_errors=True)
    # exactly-once: no pair may appear under two batch ids
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "pair emitted in more than one batch"
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in rows}


def test_stream_equals_batch_and_slice_invariant(spark):
    docs = t(spark, SF_DIR, "documents")
    toks = docs.select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    batch = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in lsh_candidate_pairs(
            toks, "doc_id", "sh", num_hashes=64, bands=16, jaccard_threshold=0.4
        ).collect()
    }
    s2 = _stream_pairs(spark, 2)
    s4 = _stream_pairs(spark, 4)
    assert s2 == batch
    assert s4 == batch


def test_batch_id_past_int32_keeps_bands_and_pairs(spark, tmp_path):
    """Epoch ids are Java longs. A batch id past 2**31 must still find its
    own index partitions; an int32 partition schema cannot read them."""
    batch_id = 2**31 + 7
    docs = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo"), (2, "alpha bravo charlie delta echo foxtrot")],
        "doc_id long, text string",
    ).select("doc_id", TX.word_shingles("text", 2).alias("sh"))
    work = str(tmp_path)
    process = dedup_batch_processor(spark, work, "doc_id", "sh", jaccard_threshold=0.4)
    process(docs, batch_id)

    bands = spark.read.parquet(f"{work}/bands")
    assert bands.count() > 0
    assert {r.batch_id for r in bands.select("batch_id").collect()} == {batch_id}
    pairs = spark.read.parquet(f"{work}/pairs").collect()
    assert [(r.id_a, r.id_b, r.batch_id) for r in pairs] == [(1, 2, batch_id)]
