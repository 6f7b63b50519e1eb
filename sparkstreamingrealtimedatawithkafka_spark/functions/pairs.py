"""In-array pair expansion — the one column expression behind every
"pairs within a group" operator (LSH buckets, co-purchase baskets,
document token co-occurrence).

A group is collected into one sorted array and its unordered pairs are
generated inside that row by higher-order functions: no self-join, so
nothing but the grouping key and the members ever shuffles, and the
k²/2 expansion is bounded by the group width.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_pairs(
    arr: Column | str,
    pair: Callable[[Column, Column], Column],
    keep: Callable[[Column, Column], Column] | None = None,
) -> Column:
    """``array(pair(arr[i], arr[j]) for i < j)``, in index order.

    ``keep(x, y)`` (optional) drops pairs where it is false, applied
    before ``pair`` builds anything, so shed pairs never pay for their
    struct. On a sorted array every pair has ``x <= y``.
    """
    arr = F.col(arr) if isinstance(arr, str) else arr

    def later(x: Column, i: Column) -> Column:
        rest = F.slice(arr, i + F.lit(2), F.size(arr))
        if keep is not None:
            rest = F.filter(rest, lambda y: keep(x, y))
        return F.transform(rest, lambda y: pair(x, y))

    return F.flatten(F.transform(arr, later))
