"""Catalog tests: every fixture table's schema is declared from its
parquet footer, so loading a table starts no Spark job, and the declared
schema is the one Spark's inference would give."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from xeloader_spark.catalog import TABLES, footer_schema, load_table
from xeloader_spark.testing import jobs_in_group

@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_table_declares_the_inferred_schema(spark, sf_dir, scale):
    sf_dir = os.path.join(os.path.dirname(sf_dir), scale)
    for name in TABLES:
        _, n_jobs = jobs_in_group(spark, f"load_{name}", lambda: load_table(spark, sf_dir, name))
        assert n_jobs == 0, name
        path = f"{sf_dir}/{name}.parquet"
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, name


def test_footer_schema_equals_inference_or_defers(spark, tmp_path):
    """Nested, INT96 and Spark-written footers declare what inference
    gives; a directory, a file that is not parquet, an unsigned column and
    a TIMESTAMP(NANOS) column without `nanosAsLong` are left to it."""

    def same(path):
        return footer_schema(spark, str(path)) == spark.read.parquet(str(path)).schema

    nested = pa.schema(
        [
            pa.field("s", pa.struct([pa.field("a", pa.int32(), nullable=False)])),
            pa.field("m", pa.map_(pa.string(), pa.float64())),
            pa.field("l", pa.list_(pa.field("item", pa.int64(), nullable=False))),
            pa.field("r", pa.int16(), nullable=False),
            pa.field("t", pa.timestamp("ms", tz="UTC")),
        ]
    )
    pq.write_table(nested.empty_table(), tmp_path / "nested.parquet")
    assert same(tmp_path / "nested.parquet")
    i96 = pa.table({"t": pa.array([1], pa.timestamp("ns"))})
    pq.write_table(i96, tmp_path / "i96.parquet", use_deprecated_int96_timestamps=True)
    assert same(tmp_path / "i96.parquet")
    spark.sql(
        "SELECT 1 AS i, timestamp_ntz'2020-01-01 00:00:00' AS n, array(1) AS a"
    ).coalesce(1).write.parquet(str(tmp_path / "sp"))
    (written,) = (tmp_path / "sp").glob("*.parquet")
    assert same(written)

    assert footer_schema(spark, str(tmp_path)) is None
    (tmp_path / "junk.parquet").write_text("not parquet")
    assert footer_schema(spark, str(tmp_path / "junk.parquet")) is None
    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), tmp_path / "u.parquet")
    assert footer_schema(spark, str(tmp_path / "u.parquet")) is None

    ns = pa.table({"ts": pa.array([1], pa.timestamp("ns"))})
    pq.write_table(ns, tmp_path / "ns.parquet", version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, "false")
    try:
        spark.conf.set(key, "false")
        assert footer_schema(spark, str(tmp_path / "ns.parquet")) is None
        spark.conf.set(key, "true")
        assert same(tmp_path / "ns.parquet")
        assert footer_schema(spark, str(tmp_path / "ns.parquet")).simpleString() == "struct<ts:bigint>"
    finally:
        spark.conf.set(key, prev)
