"""``array_pairs`` is ``itertools.combinations(arr, 2)``, optionally
filtered, on any sorted array: empty, one element, repeated values."""

from __future__ import annotations

from itertools import combinations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sparkstreamingrealtimedatawithkafka_spark.functions.pairs import array_pairs

# Each predicate runs unchanged on Spark columns and on Python ints.
KEEPS = {
    "none": None,
    "sum_odd": lambda x, y: (x + y) % 2 != 0,
    "distinct": lambda x, y: x != y,
    "never": lambda x, y: x != x,
}

arrays = st.lists(st.integers(min_value=-3, max_value=6), max_size=7).map(sorted)


@settings(max_examples=15, deadline=None)
@given(st.lists(arrays, min_size=1, max_size=6), st.sampled_from(sorted(KEEPS)))
def test_array_pairs_matches_combinations(spark, arrs, keep_name):
    keep = KEEPS[keep_name]
    df = spark.createDataFrame(list(enumerate(arrs)), "row int, arr array<int>")
    pairs = array_pairs("arr", lambda x, y: F.struct(x.alias("a"), y.alias("b")), keep)
    got = {
        r["row"]: [(p["a"], p["b"]) for p in r["pairs"]]
        for r in df.select("row", pairs.alias("pairs")).collect()
    }
    want = {
        i: [p for p in combinations(arr, 2) if keep is None or keep(*p)]
        for i, arr in enumerate(arrs)
    }
    assert got == want
