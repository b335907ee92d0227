"""Spark-free unit tests for the shared core of the lite data sources
(streaming/_lite.py): the Arrow projection and the partition-tuple
splitter, run on small pyarrow files with no SparkSession.

Only cases the format-level tests do not already reach are here:
a missing column, an ignored extra column, a non-NULL partition
literal, physical-name mapping and NULL int partition keys are all
exercised through the registered formats in test_delta_source.py,
test_iceberg_source.py and test_hudi_source.py."""

import math

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, StringType

from dataset_grouper_spark.streaming._lite import (
    FilePartition,
    split_partitions,
)


def _read(tmp_path, table, fields, literals=None, phys=None):
    path = str(tmp_path / "f.parquet")
    pq.write_table(table, path)
    batches = list(FilePartition(path, fields, literals, phys).read())
    return pa.Table.from_batches(batches)


def test_int_column_is_cast_to_declared_long(tmp_path):
    got = _read(
        tmp_path,
        pa.table({"id": pa.array([1, 2], pa.int32())}),
        [("id", LongType())],
    )
    assert got.schema.field("id").type == pa.int64()
    assert got.column("id").to_pylist() == [1, 2]


def test_null_partition_literal_is_a_null_column(tmp_path):
    got = _read(
        tmp_path,
        pa.table({"id": pa.array([1, 2], pa.int64())}),
        [("id", LongType()), ("bucket", LongType()), ("lang", StringType())],
        literals={"bucket": None, "lang": "en"},
    )
    assert got.column("bucket").type == pa.int64()
    assert got.column("bucket").to_pylist() == [None, None]
    assert got.column("lang").to_pylist() == ["en", "en"]


def test_nan_partition_value_groups_with_null():
    batch = pa.record_batch(
        {"x": pa.array([1.5, math.nan, None, 1.5], pa.float64())}
    )
    got = [(key, idx.to_pylist()) for key, idx in split_partitions(batch, ["x"])]
    assert got == [(("1.5",), [0, 3]), ((None,), [1, 2])]
