"""Fixture catalog: load the driver-generated parquet tables.

Mirrors the reference's catalog role (database/schema/table creation,
XELoader/InputParameters.cs:385-515) in Spark terms: tables are parquet
paths; `register_views` exposes them as SQL views so `spark.sql` works
like the downstream SQL Server the reference loads into.

A table is one parquet file, so its schema is declared from the file's
footer (`footer_schema`), read on the driver: loading a table starts no
Spark job. Parquet schema inference would start one per load (~0.1 s
against ~0.02 s declared); inference stays the fallback for a directory
or a column type the footer mapping does not cover exactly.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _maps_exactly(at: pa.DataType, binary_as_string: bool) -> bool:
    """Whether `from_arrow_schema` gives the type `at` the type Spark's
    parquet reader infers for it. Timestamps (mapped by the caller, at
    the top level only), unsigned integers, dictionaries and the rarer
    types are not."""
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return _maps_exactly(at.value_type, binary_as_string)
    if pa.types.is_map(at):
        return all(_maps_exactly(t, binary_as_string) for t in (at.key_type, at.item_type))
    if pa.types.is_struct(at):
        return all(_maps_exactly(f.type, binary_as_string) for f in at)
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return not binary_as_string
    return (
        pa.types.is_boolean(at)
        or pa.types.is_signed_integer(at)
        or pa.types.is_float32(at)
        or pa.types.is_float64(at)
        or pa.types.is_decimal128(at)
        or pa.types.is_string(at)
        or pa.types.is_large_string(at)
        or pa.types.is_date32(at)
    )


def _nullable(dt: T.DataType) -> T.DataType:
    """`dt` with every field, element and value nullable, as a file
    source's schema always is."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


# the schema a Spark writer stores in the footer; Spark's reader takes it
# verbatim in place of converting the parquet schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's parquet inference gives the local file `path`,
    read from its footer on the driver, so no Spark job runs. A file
    Spark wrote carries its schema; any other is converted column by
    column under the session's reader settings: TIMESTAMP(NANOS) is
    `long` under `spark.sql.legacy.parquet.nanosAsLong`, an INT96
    timestamp is TIMESTAMP under `spark.sql.parquet.int96AsTimestamp`,
    and a UTC-naive one is TIMESTAMP_NTZ under
    `spark.sql.parquet.inferTimestampNTZ.enabled`.
    Returns None, meaning "infer instead", for a directory, a non-local
    path or a file whose footer does not read, and for any column whose
    type it does not map exactly (a timestamp is mapped only at the top
    level)."""
    if not os.path.isfile(path):
        return None
    try:
        meta = pq.read_metadata(path)
    except (pa.ArrowException, OSError):
        return None  # not parquet: inference raises Spark's own error
    stored = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is not None:
        try:
            return _nullable(T.StructType.fromJson(json.loads(stored)))
        except (ValueError, KeyError, TypeError):
            return None
    conf = spark.conf.get
    nanos_as_long = conf("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    int96 = conf("spark.sql.parquet.int96AsTimestamp", "true") == "true"
    ntz = conf("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    binary_as_string = conf("spark.sql.parquet.binaryAsString", "false") == "true"
    physical = {c.path: c.physical_type for c in map(meta.schema.column, range(meta.num_columns))}
    fields = []
    for f in meta.schema.to_arrow_schema():
        ts_unit = f.type.unit if pa.types.is_timestamp(f.type) else None
        phys = physical.get(f.name)
        if ts_unit and phys == "INT96" and int96:
            fields.append(T.StructField(f.name, T.TimestampType()))
        elif ts_unit == "ns" and phys == "INT64" and nanos_as_long:
            fields.append(T.StructField(f.name, T.LongType()))
        elif (ts_unit in ("ms", "us") and phys == "INT64") or (
            not ts_unit and _maps_exactly(f.type, binary_as_string)
        ):
            fields.extend(from_arrow_schema(pa.schema([f]), prefer_timestamp_ntz=ntz))
        else:
            return None
    return _nullable(T.StructType(fields))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning + predicate pushdown reach the
    parquet scan because this stays fully declarative.

    Timestamp normalization: the fixtures have been generated with two
    parquet physical shapes over time — TIMESTAMP(NANOS) (no native Spark
    type; read as int64 via ``spark.sql.legacy.parquet.nanosAsLong`` and
    truncated to micros) and TIMESTAMP(MICROS) without UTC adjustment
    (which Spark 4 would infer as TIMESTAMP_NTZ). Both are normalized to
    session TIMESTAMP at the *scan* (inferTimestampNTZ=false — a reader
    conf, not a cast, so timestamp predicates still push down to
    parquet). The session is pinned to UTC (`session.py`), so wall-clock
    values agree with DuckDB's naive timestamps in oracle comparisons.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    schema = footer_schema(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    for fld in df.schema.fields:
        if fld.name == "ts" and fld.dataType.typeName() in ("long", "bigint"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif fld.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (idempotent)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
