"""Mirror of the driver's t2 gate: run every __spark_entry__ query AND
its DuckDB oracle at sf0.001, compare row-count + column names +
order-insensitive values."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v, bridge):
    # Collections first: pd.isna() on them returns an array, not a bool.
    if isinstance(v, (list, tuple)) or (hasattr(v, "__len__")
                                        and not isinstance(v, str)):
        return "[" + ",".join(_canon(x, bridge) for x in v) + "]"
    # NULL-spelling rules are SIDE-AWARE (ADVICE r10): on the DuckDB
    # pandas bridge a NULL double/timestamp surfaces as NaN/NaT, so
    # there NaN must collapse to the NULL token. Spark hands NULLs back
    # as Python None, so a float NaN on the Spark side is a GENUINE
    # computed NaN and keeps its own token — collapsing it too (the r10
    # fix's overreach) would mask a Spark-NaN-vs-oracle-NULL divergence.
    if v is None:
        return "∅"
    if isinstance(v, float) and v != v:
        return "∅" if bridge else "nan"
    if pd.isna(v):  # pandas NaT / pd.NA (bridge-only spellings)
        return "∅"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def _rowset(rows, cols, bridge=False):
    return sorted(",".join(_canon(r[c], bridge) for c in cols)
                  for r in rows)


def _dtype_ok(spark_type, arrow_type):
    """Canonical Spark-type ↔ DuckDB-Arrow-type map (VERDICT r12 item 2).

    The driver hashes serialized bytes, so value-equality is not
    enough: a DuckDB bare ``sum(INT)`` serializes as decimal128(38,0)
    over Arrow while the Spark twin emits int64 — same values,
    different bytes, red hash (the r12 `events_km_survival` failure).
    This map is WIDTH-EXACT for ints/floats and hard-fails decimal128
    anywhere the Spark side is not itself a decimal of the same
    (precision, scale). Twins must CAST to close any gap this finds.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(spark_type, T.DecimalType):
        return (pa.types.is_decimal(arrow_type)
                and arrow_type.precision == spark_type.precision
                and arrow_type.scale == spark_type.scale)
    if pa.types.is_decimal(arrow_type):
        return False  # decimal on the bridge, non-decimal in Spark
    if isinstance(spark_type, T.LongType):
        return pa.types.is_int64(arrow_type)
    if isinstance(spark_type, T.IntegerType):
        return pa.types.is_int32(arrow_type)
    if isinstance(spark_type, T.ShortType):
        return pa.types.is_int16(arrow_type)
    if isinstance(spark_type, T.ByteType):
        return pa.types.is_int8(arrow_type)
    if isinstance(spark_type, T.DoubleType):
        return pa.types.is_float64(arrow_type)
    if isinstance(spark_type, T.FloatType):
        return pa.types.is_float32(arrow_type)
    if isinstance(spark_type, T.StringType):
        return (pa.types.is_string(arrow_type)
                or pa.types.is_large_string(arrow_type))
    if isinstance(spark_type, T.BooleanType):
        return pa.types.is_boolean(arrow_type)
    if isinstance(spark_type, T.BinaryType):
        return (pa.types.is_binary(arrow_type)
                or pa.types.is_large_binary(arrow_type))
    if isinstance(spark_type, T.DateType):
        return pa.types.is_date(arrow_type)
    if isinstance(spark_type, T.TimestampType):
        return pa.types.is_timestamp(arrow_type)
    if isinstance(spark_type, T.ArrayType):
        return ((pa.types.is_list(arrow_type)
                 or pa.types.is_large_list(arrow_type))
                and _dtype_ok(spark_type.elementType,
                              arrow_type.value_type))
    if isinstance(spark_type, T.StructType):
        if not pa.types.is_struct(arrow_type):
            return False
        if arrow_type.num_fields != len(spark_type.fields):
            return False
        return all(_dtype_ok(sf.dataType, arrow_type.field(i).type)
                   for i, sf in enumerate(spark_type.fields))
    if isinstance(spark_type, T.MapType):
        return pa.types.is_map(arrow_type)
    return True  # unmapped exotic — don't block, values still checked


def _assert_dtypes(name, sdf, arrow_schema):
    spark_types = {f.name: f.dataType for f in sdf.schema.fields}
    bad = []
    for field in arrow_schema:
        st = spark_types.get(field.name)
        if st is not None and not _dtype_ok(st, field.type):
            bad.append(f"{field.name}: spark={st.simpleString()} "
                       f"vs duckdb-arrow={field.type}")
    assert not bad, (
        f"{name}: oracle Arrow dtype diverges from Spark schema — the "
        f"driver hashes bytes, so this WILL go red even when values "
        f"match. CAST the oracle (or Spark) side. Diffs: {bad}")


# Default scope (r17, VERDICT r16 task 2 — the driver-budget fix):
# the full 244-query registry battery costs ~6 min of suite wall; the
# DEFAULT run mirrors the driver's own gate (the first
# window_ledger.WINDOW_SIZE registered queries — exactly the rows the
# driver hashes) and SPARK_GRAFT_FULL_BATTERY=1 restores the full
# registry. One recorded full-battery run per round (both small SFs)
# stays a release gate — see OPTIMIZATION_rNN.md "gates".
import os

from window_ledger import WINDOW_SIZE

ALL = sorted(entrymod.queries())
if os.environ.get("SPARK_GRAFT_FULL_BATTERY") != "1":
    _window = set(list(entrymod.queries())[:WINDOW_SIZE])
    ALL = [n for n in ALL if n in _window]
WITH_ORACLE = [n for n in ALL if n in entrymod.oracle_sql()]
ROWS_ONLY = [n for n in ALL if n not in entrymod.oracle_sql()]


def assert_matches_oracle(spark, sf_dir, ddb, name):
    """Run registered query `name` and its DuckDB oracle; assert the
    same columns, dtypes, row count and order-insensitive values."""
    q = entrymod.queries()[name]
    sdf = q(spark, sf_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]
    cols = sdf.columns

    otbl = ddb.execute(entrymod.oracle_sql()[name]).arrow()
    _assert_dtypes(name, sdf, otbl.schema)
    odf = otbl.to_pandas()
    assert sorted(cols) == sorted(odf.columns), (
        f"{name}: column mismatch {cols} vs {list(odf.columns)}")
    oracle_rows = odf.to_dict("records")
    assert len(spark_rows) == len(oracle_rows), (
        f"{name}: rowcount {len(spark_rows)} vs {len(oracle_rows)}")
    s = _rowset(spark_rows, cols, bridge=False)
    o = _rowset(oracle_rows, cols, bridge=True)
    mismatches = [(a, b) for a, b in zip(s, o) if a != b][:5]
    assert s == o, f"{name}: first diffs {mismatches}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    assert_matches_oracle(spark, sf_dir, ddb, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_dtype_guard_catches_uncast_sum(spark, ddb):
    """The battery must fail on a deliberately UNCAST integer sum:
    DuckDB serializes bare sum(INT) as decimal128(38,0) over Arrow
    while Spark emits int64 (the r12 events_km_survival driver red).
    """
    from pyspark.sql import functions as F

    tbl = ddb.execute(
        "SELECT sum(r_regionkey) AS s FROM region").arrow()
    import pyarrow as pa
    assert pa.types.is_decimal(tbl.schema.field("s").type), (
        "fixture assumption broke: duckdb bare sum no longer decimal")
    sdf = spark.range(3).select(F.sum("id").alias("s"))
    with pytest.raises(AssertionError, match="hashes bytes"):
        _assert_dtypes("uncast_fixture", sdf, tbl.schema)
    # and the CAST repair passes
    tbl2 = ddb.execute(
        "SELECT CAST(sum(r_regionkey) AS BIGINT) AS s FROM region"
    ).arrow()
    _assert_dtypes("cast_fixture", sdf, tbl2.schema)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {r["route"] for r in rows} <= {"bad", "good", "neutral"}
