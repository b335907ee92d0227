"""Sources — tabular, binary, and lakehouse readers (SURVEY §2.1).

The reference reads TFDS datasets via Beam (tfds_pipelines.py:58-60)
and TFRecord shards via tf.data (data_loaders.py:116-122). Natively we
read columnar tables; TFRecord interop is the pure-Python codec in
``compat/`` (no spark-tensorflow connector needed).

Beyond-reference format support (all jar-free, see the submodules):
``sources.delta`` (Delta Lake read/append/change-feed),
``sources.iceberg`` (Iceberg snapshots with manifest pruning),
``sources.avro`` (object-container codec + distributed read). The
convenience re-exports below make the whole surface one import:

    from dataset_grouper_spark.sources import read_delta, read_iceberg
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# nanoseconds per tick for each parquet timestamp unit
_UNIT_NANOS = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}


def _events_ts_fix(path: str, df: DataFrame, spark=None, stream=False):
    """The engine's time contract for events.ts is INT64 EPOCH NANOS.
    Depending on how the parquet was written (and the Spark version),
    a TIMESTAMP(MICROS/NANOS) column may surface as timestamp_ntz
    instead. Parquet's physical storage for timestamps is int64, so a
    forced-schema read recovers the raw ticks losslessly; the footer's
    logical-type unit gives the nanos multiplier. Returns a frame with
    ``ts`` as int64 nanos regardless of the file's unit."""
    if not dict(df.dtypes).get("ts", "").startswith("timestamp"):
        return df  # already integral (e.g. legacy nanosAsLong read)
    import pyarrow.parquet as pq

    unit = pq.ParquetFile(path).schema_arrow.field("ts").type.unit
    mult = _UNIT_NANOS[unit]
    fields = ", ".join(
        f"`{f.name}` {'bigint' if f.name == 'ts' else f.dataType.simpleString()}"
        for f in df.schema.fields
    )
    reader = (spark.readStream if stream else spark.read).schema(fields)
    if stream:
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        fixed = reader.parquet(os.path.dirname(path))
    else:
        fixed = reader.parquet(path)
    if mult != 1:
        fixed = fixed.withColumn("ts", F.col("ts") * F.lit(mult))
    return fixed


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One synthetic-benchmark table (TESTDATA.md layout).

    The events table's ``ts`` is normalized to int64 epoch nanos
    whatever the file's timestamp unit — see ``_events_ts_fix``.
    """
    # harmless where unsupported; maps TIMESTAMP(NANOS) to long where it is
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = _events_ts_fix(path, df, spark)
    return df


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` twin of ``read_table(..., 'events')`` — same
    int64-nanos ``ts`` contract, so streaming and batch queries share
    time arithmetic."""
    # must precede the schema probe: on a TIMESTAMP(NANOS) generation
    # the bare read would otherwise throw during inference in a fresh
    # session where no read_table call has set it yet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(path)
    if dict(batch.dtypes).get("ts", "").startswith("timestamp"):
        return _events_ts_fix(path, batch, spark, stream=True)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return stream


def read_binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Multimodal ingestion: opaque binary blobs + metadata columns
    (path, modificationTime, length, content) — SURVEY §2.8."""
    return spark.read.format("binaryFile").load(path_glob)


def table_format(path: str) -> str:
    """Sniff what kind of table lives at ``path`` from its on-disk
    markers: 'delta' (``_delta_log/``), 'hudi' (``.hoodie/``),
    'iceberg' (``metadata/*.metadata.json``), 'snapshots' (this
    engine's ``_snapshots/`` manifest store), 'webdataset'
    (``*.tar``/``*.tar.gz`` shards), else 'parquet' (raw
    files / directory). Marker checks are a handful of metadata stat /
    list calls — no data is read — routed through compat.fs so
    dispatch works on any registered filesystem URI
    (``s3://``/``gs://``/``hdfs://``/``file://``), not just a POSIX
    mount (reference analogue: data_loaders.py:116-122 reads any tf.io
    filesystem)."""
    from dataset_grouper_spark.compat import fs as _fs

    if _fs.is_dir(_fs.join(path, "_delta_log")):
        return "delta"
    if _fs.is_dir(_fs.join(path, ".hoodie")):
        return "hudi"
    mdir = _fs.join(path, "metadata")
    if _fs.is_dir(mdir) and any(
        n.endswith(".metadata.json") for n in _fs.listdir(mdir)
    ):
        return "iceberg"
    if _fs.is_dir(_fs.join(path, "_snapshots")):
        return "snapshots"
    try:
        names = _fs.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        names = []
    has_tar = any(
        n.endswith(".tar") or n.endswith(".tar.gz") for n in names
    )
    # a stray tarball (backup, export) inside a parquet dataset dir
    # must not misroute the whole directory into the tar reader —
    # only sniff webdataset when NO parquet markers sit alongside
    has_parquet = any(
        n.endswith(".parquet") or n.startswith("part-") for n in names
    )
    if has_tar and not has_parquet:
        return "webdataset"
    return "parquet"


def open_table(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """ONE entry point over every table layout this engine speaks:
    dispatches on :func:`table_format` to the Delta log walk, the
    Hudi timeline walk, the Iceberg metadata walk, the snapshot store,
    or a plain parquet scan
    — so pipeline code can take a path and not care which system wrote
    it. ``kwargs`` pass through to the underlying reader (``version=``
    / ``timestamp=`` for delta/snapshots, ``snapshot_id=`` /
    ``timestamp_ms=`` / ``ref=`` / ``partition_filter=`` /
    ``skip_filters=`` for iceberg, ``as_of=`` / ``keep_meta=`` for
    hudi)."""
    fmt = table_format(path)
    if fmt == "delta":
        from dataset_grouper_spark.sources.delta import read_delta

        return read_delta(spark, path, **kwargs)
    if fmt == "hudi":
        from dataset_grouper_spark.sources.hudi import read_hudi

        return read_hudi(spark, path, **kwargs)
    if fmt == "iceberg":
        from dataset_grouper_spark.sources.iceberg import read_iceberg

        return read_iceberg(spark, path, **kwargs)
    if fmt == "snapshots":
        from dataset_grouper_spark.sinks.snapshots import read_snapshot

        return read_snapshot(spark, path, **kwargs)
    if fmt == "webdataset":
        from dataset_grouper_spark.sources.webdataset import (
            read_webdataset,
        )

        return read_webdataset(spark, path, **kwargs)
    if kwargs:
        raise TypeError(
            f"open_table: plain parquet takes no reader kwargs, got "
            f"{sorted(kwargs)}"
        )
    return spark.read.parquet(path)


def __getattr__(name):
    # lazy re-exports: the lakehouse submodules import pyspark types at
    # module scope; deferring keeps `import sources` light
    _lazy = {
        "read_delta": ("dataset_grouper_spark.sources.delta", "read_delta"),
        "delta_append": ("dataset_grouper_spark.sources.delta", "delta_append"),
        "read_delta_changes": (
            "dataset_grouper_spark.sources.delta", "read_delta_changes"
        ),
        "delta_versions": (
            "dataset_grouper_spark.sources.delta", "delta_versions"
        ),
        "read_iceberg": (
            "dataset_grouper_spark.sources.iceberg", "read_iceberg"
        ),
        "iceberg_snapshots": (
            "dataset_grouper_spark.sources.iceberg", "iceberg_snapshots"
        ),
        "read_avro": ("dataset_grouper_spark.sources.avro", "read_avro"),
        # r6-late lifecycle surface
        "delta_optimize": (
            "dataset_grouper_spark.sources.delta", "delta_optimize"
        ),
        "delta_vacuum": (
            "dataset_grouper_spark.sources.delta", "delta_vacuum"
        ),
        "delta_restore": (
            "dataset_grouper_spark.sources.delta", "delta_restore"
        ),
        "delta_merge": (
            "dataset_grouper_spark.sources.delta", "delta_merge"
        ),
        "delta_skip_plan": (
            "dataset_grouper_spark.sources.delta", "delta_skip_plan"
        ),
        "iceberg_append": (
            "dataset_grouper_spark.sources.iceberg", "iceberg_append"
        ),
        "iceberg_upsert": (
            "dataset_grouper_spark.sources.iceberg", "iceberg_upsert"
        ),
        "iceberg_delete_values": (
            "dataset_grouper_spark.sources.iceberg", "iceberg_delete_values"
        ),
        "iceberg_expire_snapshots": (
            "dataset_grouper_spark.sources.iceberg", "iceberg_expire_snapshots"
        ),
        "iceberg_remove_orphans": (
            "dataset_grouper_spark.sources.iceberg", "iceberg_remove_orphans"
        ),
    }
    if name in _lazy:
        import importlib

        mod, attr = _lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
