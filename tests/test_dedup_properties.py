"""Structural guarantees of the near-dup dedup operators."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature_table,
    simhash_table,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string").select(
        "id", F.split("text", " ").alias("toks")
    )


def test_identical_docs_always_pair_with_jaccard_one(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(
        spark,
        [
            (1, base),
            (2, base),  # exact duplicate of 1 — identical shingle set
            (3, "one two three four five six seven eight"),  # disjoint
        ],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in lsh_candidate_pairs(
            docs, "id", "toks", num_hashes=32, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    # identical token sets ⇒ identical signatures ⇒ collide in EVERY band:
    # detection is guaranteed, not probabilistic
    assert pairs == {(1, 2): 1.0}


def test_simhash_identical_docs_same_signature(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "completely different words here"),
        ],
    )
    sigs = {r["id"]: r["sig"] for r in simhash_table(docs, "id", "toks").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_empty_token_docs_never_pair(spark):
    docs = spark.createDataFrame(
        [(1, []), (2, []), (3, ["x", "y"])], "id long, toks array<string>"
    )
    out = lsh_candidate_pairs(docs, "id", "toks", num_hashes=32, bands=8).collect()
    assert out == []


def test_max_bucket_cap_drops_monster_buckets_only(spark):
    """The opt-in runaway guard: a huge group of identical docs (one
    monster bucket per band) is dropped when over the cap, while normal
    near-dup pairs elsewhere in the corpus are untouched."""
    monster = [(i, "same same text here") for i in range(1, 41)]  # 40 identical
    normal = [(100, "quick brown fox jumps"), (101, "quick brown fox jumps")]
    docs = _docs(spark, monster + normal)

    capped = lsh_candidate_pairs(
        docs, "id", "toks", num_hashes=32, bands=8, jaccard_threshold=0.5,
        max_bucket=10,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}

    # default (no cap) stays exact: all 40*39/2 monster pairs present
    uncapped = lsh_candidate_pairs(
        docs, "id", "toks", num_hashes=32, bands=8, jaccard_threshold=0.5
    ).count()
    assert uncapped == 40 * 39 // 2 + 1

def test_max_bucket_cap_engages_with_observed_drops(spark):
    """Pathological corpus: 40 docs sharing one near-identical token set
    all land in the same LSH bucket in every band; with the cap on, those
    buckets are dropped (bounding the k²/2 expansion), the drop is
    *observed* (never silent), and well-behaved buckets still pair."""
    from pyspark.sql import Observation

    from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import bucket_pairs

    mega = [(i, 0, 7777) for i in range(40)]          # one 40-id bucket
    small = [(100, 1, 42), (101, 1, 42)]              # one healthy pair
    banded = spark.createDataFrame(
        mega + small, "id long, band int, bhash long"
    )
    obs = Observation("cap_test")
    pairs = bucket_pairs(
        banded, ["band", "bhash"], max_bucket=10, drop_observation=obs
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(100, 101)}
    assert obs.get["buckets_dropped"] == 1
    assert obs.get["ids_in_dropped_buckets"] == 40
    assert obs.get["max_bucket_size"] == 40


def test_max_bucket_cap_observed_alike_by_batch_and_incremental_pairs(spark):
    """``bucket_pairs`` and ``incremental_lsh_pairs`` share one cap: on a
    corpus with exactly one oversize bucket (one band, 40 identical docs)
    both drop it, report the same three metrics, and keep the healthy
    pair."""
    from pyspark.sql import Observation

    from sparkstreamingrealtimedatawithkafka_spark.operators.dedup import (
        bucket_pairs,
        incremental_lsh_pairs,
        minhash_band_table,
    )

    monster = [(i, "same same text here") for i in range(1, 41)]
    normal = [(100, "quick brown fox jumps"), (101, "quick brown fox jumps")]
    docs = _docs(spark, monster + normal)

    batch_obs = Observation("cap_batch")
    banded = minhash_band_table(docs, "id", "toks", num_hashes=4, bands=1)
    batch = bucket_pairs(
        banded, ["band", "bhash"], max_bucket=10, drop_observation=batch_obs
    ).collect()
    incr_obs = Observation("cap_incremental")
    incr = incremental_lsh_pairs(
        docs, F.col("id") % 2 == 1, "id", "toks", num_hashes=4, bands=1,
        max_bucket=10, drop_observation=incr_obs,
    ).collect()

    assert {(r["id_a"], r["id_b"]) for r in batch} == {(100, 101)}
    assert {(r["id_a"], r["id_b"]) for r in incr} == {(100, 101)}
    want = {"buckets_dropped": 1, "ids_in_dropped_buckets": 40, "max_bucket_size": 40}
    assert {k: batch_obs.get[k] for k in want} == want
    assert {k: incr_obs.get[k] for k in want} == want


def test_max_bucket_cap_inert_on_healthy_corpus(spark):
    """With buckets under the cap, results are identical to the exact
    (uncapped) path and the observation reports zero drops."""
    from pyspark.sql import Observation

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(spark, [(1, base), (2, base), (3, "one two three four")])
    obs = Observation("inert_test")
    capped = lsh_candidate_pairs(
        docs, "id", "toks", num_hashes=32, bands=8,
        jaccard_threshold=0.5, max_bucket=512, drop_observation=obs,
    ).collect()
    exact = lsh_candidate_pairs(
        docs, "id", "toks", num_hashes=32, bands=8, jaccard_threshold=0.5
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, exact))
    assert obs.get["buckets_dropped"] == 0
    assert obs.get["ids_in_dropped_buckets"] == 0


def _minhash_reference(df, id_col, tokens_col, num_hashes):
    """The column-builder formulation ``minhash_signature_table`` replaced."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(F.array_distinct(F.col(tokens_col)), lambda x: F.xxhash64(x))
        ).alias("h0"),
    )
    mins = tok.groupBy("id").agg(
        *[F.min(F.xxhash64("h0", F.lit(s))).alias(f"m{s}") for s in range(num_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{s}") for s in range(num_hashes)]).alias("sig")
    )


def _plan_shape(df) -> str:
    """Optimized plan with expression ids and lambda variable ids removed."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\bx_\d+", "x", re.sub(r"#\d+L?", "#", plan))


def test_minhash_signature_table_matches_column_builder_form(spark):
    docs = spark.createDataFrame(
        [
            (1, ["alpha", "beta", "gamma"]),
            (2, ["gamma", "beta", "alpha", "alpha"]),  # same set as 1
            (3, ["delta"]),
            (4, []),  # empty token set: absent from both tables
            (5, ["beta", "epsilon", "zeta", "eta"]),
        ],
        "id long, toks array<string>",
    )
    new = minhash_signature_table(docs, "id", "toks", num_hashes=16)
    ref = _minhash_reference(docs, "id", "toks", num_hashes=16)

    assert new.schema == ref.schema
    assert _plan_shape(new) == _plan_shape(ref)
    rows = sorted(new.collect())
    assert rows == sorted(ref.collect())
    assert [r.id for r in rows] == [1, 2, 3, 5]
    assert rows[0].sig == rows[1].sig and len(rows[0].sig) == 16
