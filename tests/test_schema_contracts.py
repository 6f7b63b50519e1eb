"""Schema-drift armor for ALL fixture tables (round-5 hardening).

Round 3 lost a round to one table's physical-type drift (``events.ts``
nanos→micros). Round 4 armored events only; this file extends the contract
to every fixture table so that a driver regeneration of *any* table with a
changed physical type turns into one named test failure here — or, for the
drift classes we can absorb (width, decimal, ntz/date, nanos-as-long), into
a silent value-preserving normalization inside ``load_table``.

Three layers:
1. contract: resolved schema must match the per-table family map
   (``EXPECTED_SCHEMAS``); mutations raise ``SchemaDriftError`` naming the
   column.
2. normalization: tolerated drifts (decimal→double, float32→double,
   ntz/date→timestamp, nanos-long→timestamp) load to canonical types with
   values preserved.
3. range tripwires: fixture-wide value bands (embedding dim/norm, lineitem
   quantity/discount/date bands) that catch *semantic* regeneration drift
   even when types stay put.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, TimestampNTZType

from sparkstreamingrealtimedatawithkafka_spark.sources.registry import (
    EXPECTED_SCHEMAS,
    TABLES,
    SchemaDriftError,
    check_schema_contract,
    load_table,
)

from conftest import SF_DIR


# ---------------------------------------------------------------------------
# layer 1: contracts pass on the real fixtures, fail loudly on mutations
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", TABLES)
def test_contract_passes_on_real_fixture(spark, name):
    # load_table itself runs the contract; reaching an action proves it
    assert load_table(spark, SF_DIR, name).limit(1).count() >= 0


# one representative type *kind* mutation per table: family changes, not
# mere width changes, must trip the contract.
_MUTATIONS = {
    "region": ("r_regionkey", pa.string()),
    "nation": ("n_name", pa.int64()),
    "customer": ("c_acctbal", pa.string()),
    "supplier": ("s_suppkey", pa.string()),
    "part": ("p_size", pa.string()),
    "orders": ("o_orderdate", pa.string()),
    "lineitem": ("l_quantity", pa.string()),
    "events": ("ts", pa.string()),
    "documents": ("text", pa.int64()),
    "embeddings": ("embedding", pa.string()),
}


def _rewrite_with_type(src: str, dst_dir: str, name: str, col: str, new_type):
    t = pq.read_table(src)
    i = t.schema.get_field_index(col)
    try:
        new_col = t.column(col).cast(new_type)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        # unparseable cast (e.g. string->int); a constant column of the new
        # type serves equally well for a type-kind mutation
        fill = "x" if pa.types.is_string(new_type) else 0
        new_col = pa.array([fill] * t.num_rows, type=new_type)
    t = t.set_column(i, col, new_col)
    os.makedirs(dst_dir, exist_ok=True)
    pq.write_table(t, f"{dst_dir}/{name}.parquet")


@pytest.mark.parametrize("name", TABLES)
def test_contract_trips_on_kind_mutation(spark, tmp_path, name):
    col, new_type = _MUTATIONS[name]
    dst = str(tmp_path / name)
    _rewrite_with_type(f"{SF_DIR}/{name}.parquet", dst, name, col, new_type)
    with pytest.raises(SchemaDriftError, match=col):
        load_table(spark, dst, name)


def test_contract_trips_on_missing_and_extra_column(spark, tmp_path):
    t = pq.read_table(f"{SF_DIR}/region.parquet")
    dropped = t.drop_columns(["r_name"])
    extra = t.append_column("r_comment", pa.array(["x"] * t.num_rows))
    d1, d2 = str(tmp_path / "m"), str(tmp_path / "x")
    os.makedirs(d1), os.makedirs(d2)
    pq.write_table(dropped, f"{d1}/region.parquet")
    pq.write_table(extra, f"{d2}/region.parquet")
    with pytest.raises(SchemaDriftError, match="missing column 'r_name'"):
        load_table(spark, d1, "region")
    with pytest.raises(SchemaDriftError, match="unexpected column 'r_comment'"):
        load_table(spark, d2, "region")


def test_contract_lists_every_violation_at_once():
    import pyspark.sql.types as T

    bad = T.StructType(
        [
            T.StructField("r_regionkey", T.StringType()),
            T.StructField("r_bogus", T.LongType()),
        ]
    )
    with pytest.raises(SchemaDriftError) as e:
        check_schema_contract(bad, "region")
    msg = str(e.value)
    assert "r_regionkey" in msg and "r_name" in msg and "r_bogus" in msg


# ---------------------------------------------------------------------------
# layer 2: tolerated drifts normalize to canonical types, values preserved
# ---------------------------------------------------------------------------


def test_decimal_lineitem_normalizes_to_double(spark, tmp_path):
    dst = str(tmp_path / "dec")
    _rewrite_with_type(
        f"{SF_DIR}/lineitem.parquet", dst, "lineitem", "l_quantity",
        pa.decimal128(12, 2),
    )
    df = load_table(spark, dst, "lineitem")
    assert isinstance(df.schema["l_quantity"].dataType, DoubleType)
    ref = load_table(spark, SF_DIR, "lineitem")
    got = df.agg(F.sum("l_quantity").alias("s")).first()["s"]
    want = ref.agg(F.sum("l_quantity").alias("s")).first()["s"]
    assert got == pytest.approx(want, rel=1e-12)


def test_float32_acctbal_normalizes_to_double(spark, tmp_path):
    dst = str(tmp_path / "f32")
    _rewrite_with_type(
        f"{SF_DIR}/customer.parquet", dst, "customer", "c_acctbal",
        pa.float32(),
    )
    df = load_table(spark, dst, "customer")
    assert isinstance(df.schema["c_acctbal"].dataType, DoubleType)
    # float32 round-trips through double exactly (value-preserving widening)
    assert df.filter(F.col("c_acctbal").isNull()).count() == 0


def test_ntz_orderdate_normalizes_to_timestamp(spark, tmp_path):
    src = pq.read_table(f"{SF_DIR}/orders.parquet")
    i = src.schema.get_field_index("o_orderdate")
    # timestamp without tz metadata == NTZ when Spark's inference flag favors
    # it; a plain date column exercises the DateType branch deterministically.
    as_date = src.set_column(
        i, "o_orderdate", src.column("o_orderdate").cast(pa.date32())
    )
    dst = str(tmp_path / "date")
    os.makedirs(dst)
    pq.write_table(as_date, f"{dst}/orders.parquet")
    df = load_table(spark, dst, "orders")
    assert isinstance(df.schema["o_orderdate"].dataType, TimestampNTZType)
    row = df.agg(F.min("o_orderdate").alias("lo")).first()
    assert row["lo"].year == 1995


def test_float64_embedding_passes_family_check(spark, tmp_path):
    dst = str(tmp_path / "f64")
    _rewrite_with_type(
        f"{SF_DIR}/embeddings.parquet", dst, "embeddings", "embedding",
        pa.list_(pa.float64()),
    )
    df = load_table(spark, dst, "embeddings")
    # arrays pass through as resolved (both engines read the same parquet)
    assert df.count() > 0


def test_steady_state_plan_is_plain_scan(spark):
    """When nothing drifted, load_table must not inject an extra Project —
    the normalization layer returns the scan unchanged so pushdown/pruning
    behavior is byte-identical to round 4."""
    df = load_table(spark, SF_DIR, "lineitem")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Project" not in plan, plan


# ---------------------------------------------------------------------------
# layer 3: value-range tripwires (semantic drift with unchanged types)
# ---------------------------------------------------------------------------


def test_embeddings_dim_and_norm_tripwire(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    row = emb.select(
        F.min(F.size("embedding")).alias("dlo"),
        F.max(F.size("embedding")).alias("dhi"),
        F.min(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("nlo"),
        F.max(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("nhi"),
        F.count_distinct("vec_id").alias("ids"),
        F.count("*").alias("n"),
    ).first()
    assert row["dlo"] == row["dhi"], "embedding dim no longer constant"
    assert 8 <= row["dlo"] <= 4096, f"implausible embedding dim {row['dlo']}"
    # fixtures are unit-normalized; a unit-drift (e.g. raw logits) trips this
    assert 0.9 < row["nlo"] <= row["nhi"] < 1.1, (
        f"embedding norms² outside unit band: [{row['nlo']}, {row['nhi']}]"
    )
    assert row["ids"] == row["n"], "vec_id no longer unique"


def test_lineitem_value_tripwire(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    row = li.select(
        F.min("l_quantity").alias("qlo"),
        F.max("l_quantity").alias("qhi"),
        F.min("l_discount").alias("dlo"),
        F.max("l_discount").alias("dhi"),
        F.min("l_extendedprice").alias("plo"),
        F.min(F.year("l_shipdate")).alias("ylo"),
        F.max(F.year("l_shipdate")).alias("yhi"),
    ).first()
    # TPC-H-ish bands, wide enough to survive an SF change, tight enough to
    # catch cents-vs-dollars or epoch-unit drift
    assert 0 < row["qlo"] <= row["qhi"] <= 1000
    assert 0 <= row["dlo"] <= row["dhi"] <= 1.0
    assert row["plo"] > 0
    assert 1990 <= row["ylo"] <= row["yhi"] <= 2050, (
        f"l_shipdate years [{row['ylo']}, {row['yhi']}] — epoch-unit drift?"
    )


def test_orders_and_documents_tripwire(spark):
    o = load_table(spark, SF_DIR, "orders").select(
        F.min(F.year("o_orderdate")).alias("ylo"),
        F.max(F.year("o_orderdate")).alias("yhi"),
        F.min("o_totalprice").alias("plo"),
    ).first()
    assert 1990 <= o["ylo"] <= o["yhi"] <= 2050
    assert o["plo"] > 0
    d = load_table(spark, SF_DIR, "documents").select(
        F.count_distinct("doc_id").alias("ids"),
        F.count("*").alias("n"),
        F.min(F.length("text")).alias("tlo"),
    ).first()
    assert d["ids"] == d["n"], "doc_id no longer unique"
    assert d["tlo"] > 0, "empty document text appeared"


def test_expected_schemas_cover_all_tables():
    assert set(EXPECTED_SCHEMAS) == set(TABLES)


# ---------------------------------------------------------------------------
# resolved-schema memo (r15): the second load of a table passes the first
# load's inferred schema explicitly (skipping the footer-inference job) and
# must be bit-identical to an inference load — schema, plan shape, and rows.
# ---------------------------------------------------------------------------


def test_schema_memo_second_load_identical(spark):
    from sparkstreamingrealtimedatawithkafka_spark.sources import registry

    registry._SCHEMA_CACHE.pop((SF_DIR, "nation"), None)
    first = load_table(spark, SF_DIR, "nation")
    assert (SF_DIR, "nation") in registry._SCHEMA_CACHE
    second = load_table(spark, SF_DIR, "nation")
    assert second.schema == first.schema
    plan = second._jdf.queryExecution().optimizedPlan().toString()
    assert "Project" not in plan, plan  # memo must not inject normalization
    assert sorted(map(tuple, second.collect())) == sorted(
        map(tuple, first.collect())
    )


def test_schema_memo_events_loader(spark):
    from sparkstreamingrealtimedatawithkafka_spark.sources import registry

    registry._SCHEMA_CACHE.pop((SF_DIR, "events"), None)
    first = load_table(spark, SF_DIR, "events")
    assert (SF_DIR, "events") in registry._SCHEMA_CACHE
    second = load_table(spark, SF_DIR, "events")
    assert second.schema == first.schema
    a = first.agg(F.sum("ts_us"), F.count(F.lit(1))).collect()
    b = second.agg(F.sum("ts_us"), F.count(F.lit(1))).collect()
    assert a == b


def test_schema_memo_does_not_bypass_contract(spark, tmp_path):
    """A drifted table must still trip the contract even when a HEALTHY
    schema for the same table name (different dir) is already memoized."""
    load_table(spark, SF_DIR, "region")  # memoize the healthy schema
    t = pq.read_table(f"{SF_DIR}/region.parquet")
    dropped = t.drop_columns(["r_name"])
    d = str(tmp_path / "drift")
    os.makedirs(d)
    pq.write_table(dropped, f"{d}/region.parquet")
    with pytest.raises(SchemaDriftError, match="missing column 'r_name'"):
        load_table(spark, d, "region")


def test_schema_memo_sees_same_path_rewrite(spark, tmp_path):
    """A fixture rewritten in place with a drifted schema must be checked
    against the new file, not against the memoized schema of the old one."""
    d = str(tmp_path / "rewrite")
    os.makedirs(d)
    t = pq.read_table(f"{SF_DIR}/region.parquet")
    pq.write_table(t, f"{d}/region.parquet")
    load_table(spark, d, "region")  # memoize the healthy schema
    pq.write_table(t.drop_columns(["r_name"]), f"{d}/region.parquet")
    with pytest.raises(SchemaDriftError, match="missing column 'r_name'"):
        load_table(spark, d, "region")
