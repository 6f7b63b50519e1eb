"""The NER UDF builds its extractor once per Python worker, not per task.

The reference keeps one NER pipeline per worker process
(spark_entity_counter.py:45-60); with the optional HF model a rebuild loads
the model. A probe UDF evaluated in the same Arrow batch as the extractor
reads the worker module's build count, so each row reports how many builds
its worker process has made so far.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sparkstreamingrealtimedatawithkafka_spark.functions import text as TX

PARTITIONS = 6
PASSES = 2


def test_extractor_built_once_per_worker(spark):
    @F.pandas_udf(StringType())
    def worker_builds(texts: pd.Series) -> pd.Series:
        import os

        from sparkstreamingrealtimedatawithkafka_spark.functions import text

        return pd.Series([f"{os.getpid()}:{text._EXTRACTOR_BUILDS}"] * len(texts))

    ids = spark.range(0, 4 * PARTITIONS, 1, numPartitions=PARTITIONS)
    docs = ids.select(
        "id",
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("spark query "), F.col("id").cast("string")))
        .alias("text"),
    )
    query = docs.select(
        "id",
        TX.extract_entities_udf("text").alias("entities"),
        worker_builds("text").alias("probe"),
    )
    assert query.rdd.getNumPartitions() == PARTITIONS

    builds: dict[str, int] = {}
    for _ in range(PASSES):
        rows = query.collect()
        assert len(rows) == 4 * PARTITIONS
        for r in rows:
            # Fail-soft contract: a null document yields [].
            assert r.entities == ([] if r.id % 5 == 0 else ["spark", "query"])
            pid, n = r.probe.split(":")
            builds[pid] = max(builds.get(pid, 0), int(n))

    assert max(builds.values()) == 1, builds
