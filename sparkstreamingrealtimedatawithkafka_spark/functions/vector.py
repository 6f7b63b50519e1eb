"""Vector column expressions for embedding similarity.

All pure higher-order-function expressions (``zip_with`` + ``aggregate``) —
JVM-side, codegen'd, no Python workers. Elements are cast to double before
arithmetic so results are stable and match a double-precision SQL oracle.

At 100 TB scale these run inside whole-stage codegen per row; the expensive
part of similarity search is the *pairing* strategy (see
``operators/similarity.py``), not the per-pair math.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def int8_codes_expr(dim: int) -> Column:
    """Per-dimension affine int8 quantization of column ``v`` given
    one-row-broadcast ``mins``/``maxs`` array columns: code d =
    round((v[d]-mins[d])/(maxs[d]-mins[d]) * 254) - 127 in [-127, 127];
    constant dimensions (mins[d] == maxs[d]) map to 0. The rounding runs
    as the identical double expression on any ANSI-SQL engine, so a
    replay oracle is bit-exact."""
    return F.expr(
        f"transform(sequence(1, {dim}), d -> "
        "CASE WHEN maxs[d-1] = mins[d-1] THEN 0L "
        "ELSE CAST(ROUND((v[d-1] - mins[d-1]) / (maxs[d-1] - mins[d-1]) * 254, 0) "
        "AS BIGINT) - 127 END)"
    )


def quantize_int8(df, vec_col: str, dim: int, id_col: str = "vec_id"):
    """(id, qv) int8 codes for an embedding table: pass 1 reduces per-dim
    min/max to ONE row (2*dim aggregates, map-side combinable), broadcast
    back; pass 2 quantizes inside codegen. The corpus never shuffles."""
    emb = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    mm = emb.agg(
        F.array(*[F.min(F.element_at("v", d + 1)) for d in range(dim)]).alias("mins"),
        F.array(*[F.max(F.element_at("v", d + 1)) for d in range(dim)]).alias("maxs"),
    )
    return emb.crossJoin(F.broadcast(mm)).select(
        "vec_id", int8_codes_expr(dim).alias("qv")
    )
