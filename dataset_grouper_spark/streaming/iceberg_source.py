"""``iceberg_lite`` — a PySpark Python Data Source (SPARK-44076 API)
exposing the jar-free Iceberg metadata walk as a REGISTERED Spark
format, batch and STREAMING — the Iceberg twin of ``delta_lite``:

    spark.dataSource.register(IcebergLiteDataSource)
    spark.read.format("iceberg_lite").option("path", t).load()
    spark.readStream.format("iceberg_lite").option("path", t).load()

The streaming half TAILS the snapshot log: offsets ARE data sequence
numbers (the spec's monotone per-commit counter), each micro-batch
reads exactly the files the snapshots in ``(start, end]`` added, and
Spark's own offset checkpointing makes recovery exactly-once
(replaying a batch re-walks the same immutable snapshots —
deterministic by construction; the contract Iceberg's own incremental
append scan implements on the JVM).

Scale shape: ``latestOffset``/``partitions`` are planning-scale
metadata reads; data moves as one InputPartition per added file,
decoded executor-side by pyarrow into Arrow RecordBatches (zero
row-at-a-time Python). Iceberg data files carry EVERY column
(identity partition values included), so unlike ``delta_lite`` there
is no partition-literal restoration and no physical-name mapping —
columns absent from an old file (schema evolution) backfill NULL.

Honest gates, same as the batch changelog (`read_iceberg_changes`):
the stream is APPEND-ONLY — a snapshot in range that commits DELETE
files (position or equality) raises; REPLACE snapshots (compaction,
``summary.operation = "replace"``) are skipped. The batch reader
refuses tables whose current snapshot carries live delete files —
merge-on-read reconciliation needs the anti-joins only the DataFrame
path (`sources.iceberg.read_iceberg`) provides.
"""

from __future__ import annotations

import os

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.streaming._lite import (
    FilePartition,
    LiteBatchReader,
    LiteDataSource,
    LiteStreamReader,
    LiteStreamWriter,
    LiteWriter,
    PushFilters,
    StagedFiles,
    StagedMessage,
    fields_of,
    split_partitions,
)
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_TYPE_OBJS = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "bigint": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "date": DateType(),
    "timestamp": TimestampType(),
    "string": StringType(),
    "binary": BinaryType(),
}


def _struct_from_iceberg(fields: list[dict]) -> StructType:
    """Current-schema StructType WITHOUT a SparkSession (DataSource
    planning hooks cannot assume one): the flat primitive subset the
    pure reader supports, via the same mapping ``_spark_type`` uses."""
    import re

    from dataset_grouper_spark.sources.iceberg import _spark_type

    out = []
    for f in fields:
        ddl = _spark_type(f["type"])  # raises on nested/unknown
        t = _TYPE_OBJS.get(ddl)
        if t is None:
            m = re.fullmatch(r"decimal\((\d+),(\d+)\)", ddl)
            if m:
                t = DecimalType(int(m.group(1)), int(m.group(2)))
            else:
                raise ValueError(
                    f"iceberg_lite: unsupported column type {ddl!r}"
                )
        out.append(StructField(f["name"], t, True))
    return StructType(out)


def _table_state(path: str):
    """(meta, current schema dict, StructType) — shared planning read."""
    from dataset_grouper_spark.sources.iceberg import _load_metadata

    meta = _load_metadata(path)
    schemas = meta.get("schemas") or []
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    if schema is None:
        raise ValueError(f"iceberg_lite: no schema in {path}")
    return meta, schema, _struct_from_iceberg(schema["fields"])


def _default_spec_fields(meta: dict) -> list[dict]:
    spec = next(
        (
            s
            for s in meta.get("partition-specs") or []
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"fields": []},
    )
    return spec.get("fields") or []


class _IcebergLiteBatchReader(LiteBatchReader):
    def plan(self):
        from dataset_grouper_spark.sources.iceberg import _live_files

        meta, schema, struct = _table_state(self.path)
        cur = meta.get("current-snapshot-id")
        if cur is None:
            return []
        snap = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == cur
        )
        by_name = {f["name"]: f for f in schema["fields"]}
        skip, field_types = [], {}
        for col, op, value in self.skip_filters:
            f = by_name.get(col)
            if f is None or not isinstance(f["type"], str):
                continue  # nested/unknown column: no file-level help
            skip.append((f["id"], op, value))
            field_types[f["id"]] = f["type"]
        data, delete_files, _rows, eq = _live_files(
            self.path, snap, None, skip or None, field_types
        )
        # RuntimeError, not NotImplementedError: the DSv2 wrapper
        # treats NotImplementedError from partitions() as "no
        # partitioning support" and silently falls back
        if delete_files or eq:
            raise RuntimeError(
                "iceberg_lite batch read: table carries merge-on-read "
                "delete files — use sources.iceberg.read_iceberg (the "
                "DataFrame path applies the delete anti-joins)"
            )
        fields = fields_of(struct)
        return [FilePartition(p, fields) for p, _s in data]


class _IcebergLitePushdownReader(PushFilters, _IcebergLiteBatchReader):
    """Opt-in pushdown (see :class:`PushFilters` for why it is not the
    default): comparison/IN filters on top-level columns feed the
    manifest bounds skipper (Iceberg Appendix-D lower/upper envelopes
    in ``_live_files``), so ``spark.read.format("iceberg_lite")....
    filter("id < k")`` plans only candidate files."""


class _IcebergLiteStreamReader(LiteStreamReader):
    offset_key, offset_type = "sequence", int

    def initial(self):
        return 0 if self.start is None else self.start - 1

    def latest(self):
        from dataset_grouper_spark.sources.iceberg import _load_metadata

        try:
            meta = _load_metadata(self.path)
        except FileNotFoundError:
            return 0
        return int(meta.get("last-sequence-number") or 0)

    def files_between(self, lo, hi):
        from dataset_grouper_spark.sources.iceberg import (
            _added_data_files,
            _load_metadata,
            _snapshots_by_sequence,
        )

        meta = _load_metadata(self.path)
        want = [
            s
            for s in _snapshots_by_sequence(meta)
            if lo < int(s.get("sequence-number") or 0) <= hi
        ]
        have = [int(s.get("sequence-number") or 0) for s in want]
        if have != list(range(lo + 1, hi + 1)):
            raise ValueError(
                f"iceberg_lite stream: sequence range ({lo}, {hi}] not "
                f"fully retained (have {have}; expired history? restart "
                "from a newer startingSequence)"
            )
        _m, _schema, struct = _table_state(self.path)
        fields = fields_of(struct)
        parts = []
        for s in want:
            if (s.get("summary") or {}).get("operation") == "replace":
                continue  # compaction: no logical change
            for p in _added_data_files(self.path, s, "iceberg_lite stream"):
                parts.append(FilePartition(p, fields))
        return parts


def _ice_write_task_files(table_path, iterator, part_cols, transforms=None):
    """Executor-side staging for the iceberg_lite writers: one parquet
    file per distinct partition tuple per task under ``<table>/data``
    (Iceberg data files KEEP partition columns — only the manifest's
    partition struct makes pruning work). Each staged file carries
    ``(size, nrows, partition struct or None)``. Upstream should
    repartition by the partition columns so a task sees few distinct
    tuples.

    ``transforms`` routes NON-IDENTITY specs through the format API: a
    list of ``(spec_field_name, source_col, transform, src_type)`` —
    each row's partition value comes from the same
    ``_transform_value`` the read-side pruning uses (spec murmur3 for
    bucket[N], truncate[W], date transforms), so files group by
    TRANSFORMED value and the manifest carries the exact struct
    ``iceberg_append(partition_spec=...)`` would commit."""
    import uuid

    import pyarrow as pa

    ddir = os.path.join(table_path, "data")
    _fs.makedirs(ddir)
    staged = StagedFiles(
        lambda _key: os.path.join(ddir, f"w-{uuid.uuid4().hex}.parquet")
    )
    if transforms:
        from dataset_grouper_spark.sources.iceberg import _transform_value
    parts: dict[tuple, dict | None] = {}  # partition key -> struct
    for batch in iterator:
        if not (transforms or part_cols):
            parts[()] = None
            staged.write((), batch)
            continue
        tvals = None
        if transforms:
            tvals = {
                name: [
                    _transform_value(tr, v, st)
                    for v in batch.column(src).to_pylist()
                ]
                for name, src, tr, st in transforms
            }
            keys = pa.record_batch(
                {
                    n: pa.array(
                        [None if v is None else str(v) for v in vals],
                        type=pa.string(),
                    )
                    for n, vals in tvals.items()
                }
            )
        else:
            keys = batch.select(part_cols)
        for key, idx in split_partitions(keys, keys.schema.names):
            if key not in parts:
                i = idx[0].as_py()
                parts[key] = {
                    n: tvals[n][i] if tvals else keys.column(n)[i].as_py()
                    for n in keys.schema.names
                }
            staged.write(key, batch.take(idx))
    return StagedMessage(
        [
            (dst, _fs.file_size(dst), nrows, parts[key])
            for key, dst, nrows in staged.close()
        ]
    )


def _ice_schema_fields(schema: StructType) -> list[dict]:
    from dataset_grouper_spark.sources.iceberg import _iceberg_type

    return [
        {
            "id": i + 1,
            "name": f.name,
            "required": False,
            "type": _iceberg_type(f.dataType.simpleString()),
        }
        for i, f in enumerate(schema.fields)
    ]


def _has_metadata(path: str) -> bool:
    mdir = os.path.join(path, "metadata")
    return _fs.is_dir(mdir) and any(
        n.endswith(".metadata.json") for n in _fs.listdir(mdir)
    )


class _IcebergLiteArrowWriter(LiteWriter):
    """Write half of ``iceberg_lite`` — spec-shaped snapshot commits
    through the Python data source API:

        df.write.format("iceberg_lite").mode("append")
          .option("path", t).save()

    Each task streams its Arrow batches into parquet files under
    ``<table>/data`` (invisible until the snapshot commits), and the
    driver commit writes an Avro manifest with Appendix-D column
    bounds + a manifest list + the next metadata version (exclusive
    claim). ``mode("overwrite")`` commits a snapshot whose manifest
    list carries NOTHING over — the spec's replace-table semantics,
    with full time travel to the pre-overwrite snapshots.

    Partitioned writes: an EXISTING partitioned table's spec is
    honored automatically — identity fields group straight off the
    Arrow columns, and NON-IDENTITY transforms (bucket[N] via the
    spec's murmur3, truncate[W], year/month/day/hour) compute each
    row's partition value task-side with the same ``_transform_value``
    the read-side pruning uses. A NEW table is partitioned with
    ``.option("partitionBy", "a,b")`` (identity). Data files keep the
    partition columns (Iceberg layout); each manifest entry's
    ``partition`` struct carries the file's tuple, which is what
    ``read_iceberg(partition_filter=...)`` prunes on.

    Honest gates: exact schema match on existing tables (evolution
    goes through ``iceberg_append(merge_schema=True)``); identity
    partition sources must be string/int/long."""

    label = "iceberg_lite write"

    def __init__(
        self,
        path: str,
        overwrite: bool,
        schema: StructType,
        part_cols: list[str] | None = None,
        transforms: list[tuple] | None = None,
    ):
        super().__init__(path, overwrite, schema, part_cols)
        # [(spec_field_name, source_col, transform, src_type)] when
        # the table's default spec has any non-identity field
        self.transforms = list(transforms or []) or None
        self._require([t[1] for t in self.transforms or []])

    def write(self, iterator):
        return _ice_write_task_files(
            self.path, iterator, self.part_cols, self.transforms
        )

    def _load_or_create_meta(self):
        import uuid

        from dataset_grouper_spark.sources.iceberg import _load_metadata

        mdir = os.path.join(self.path, "metadata")
        if _has_metadata(self.path):
            meta = _load_metadata(self.path)
            cur = next(
                (
                    s
                    for s in meta.get("schemas") or []
                    if s.get("schema-id") == meta.get("current-schema-id")
                ),
                None,
            )
            want = _ice_schema_fields(self.schema)
            have = [
                {"name": f["name"], "type": f["type"]}
                for f in (cur or {}).get("fields", [])
            ]
            if [{"name": f["name"], "type": f["type"]} for f in want] != have:
                raise ValueError(
                    f"iceberg_lite write: schema mismatch — table has "
                    f"{have}, frame maps to {want}"
                )
            spec_fields = _default_spec_fields(meta)
            by_id = {f["id"]: f["name"] for f in cur["fields"]}
            if any(
                f.get("transform", "identity") != "identity"
                for f in spec_fields
            ):
                # non-identity spec: the writer must have been built
                # against THIS spec (factory resolves it); a spec
                # changed mid-write commits wrong partition structs
                want = [
                    (f["name"], by_id[f["source-id"]],
                     f.get("transform", "identity"))
                    for f in spec_fields
                ]
                have = [(t[0], t[1], t[2]) for t in self.transforms or []]
                if want != have:
                    raise RuntimeError(
                        "iceberg_lite write: the table's partition "
                        f"spec ({want}) does not match what this "
                        f"writer staged under ({have}) — re-run"
                    )
                return meta, cur, spec_fields
            table_parts = [by_id[f["source-id"]] for f in spec_fields]
            if table_parts != self.part_cols:
                raise ValueError(
                    f"iceberg_lite write: partition columns mismatch — "
                    f"table spec has {table_parts}, write declared "
                    f"{self.part_cols}"
                )
            return meta, cur, spec_fields
        _fs.makedirs(mdir)
        fields = _ice_schema_fields(self.schema)
        schema_entry = {
            "type": "struct",
            "schema-id": 0,
            "fields": fields,
        }
        ids = {f["name"]: f["id"] for f in fields}
        spec_fields = [
            {
                "name": c,  # identity: spec field name == column name
                "transform": "identity",
                "source-id": ids[c],
                "field-id": 1000 + i,
            }
            for i, c in enumerate(self.part_cols)
        ]
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": self.path,
            "current-snapshot-id": None,
            "schemas": [schema_entry],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "snapshots": [],
        }
        return meta, schema_entry, spec_fields

    def _commit(self, messages, summary=None) -> int:
        """One snapshot holding every staged file. ``overwrite``: the
        new manifest list carries NOTHING over — replace-table
        semantics, previous snapshots time-travel."""
        import uuid

        from dataset_grouper_spark.sources.avro import write_avro_file
        from dataset_grouper_spark.sources.iceberg import (
            _MANIFEST_SCHEMA,
            _commit_snapshot,
            _footer_bounds,
            _partition_manifest_schema,
        )

        carry = None
        if self.overwrite:
            summary, carry = {"operation": "overwrite"}, set()
        meta, schema_entry, spec_fields = self._load_or_create_meta()
        manifest_schema = _MANIFEST_SCHEMA
        if spec_fields:
            by_id = {
                f["id"]: f["type"] for f in schema_entry["fields"]
            }
            value_types = {}
            for f in spec_fields:
                tr = f.get("transform", "identity")
                src = by_id[f["source-id"]]
                if tr == "identity":
                    if src == "string":
                        value_types[f["name"]] = "string"
                    elif src in ("int", "long"):
                        value_types[f["name"]] = "long"
                    else:
                        raise NotImplementedError(
                            f"iceberg_lite write: identity partition "
                            f"on {src!r} column {f['name']!r} is not "
                            "supported (string/int/long only)"
                        )
                elif tr.startswith("truncate[") and src == "string":
                    value_types[f["name"]] = "string"
                else:
                    # bucket / numeric truncate / date transforms:
                    # int-kind values, long manifest encoding — the
                    # iceberg_append convention
                    value_types[f["name"]] = "long"
            manifest_schema = _partition_manifest_schema(
                spec_fields, value_types
            )
        snap_id = (
            max(
                (s["snapshot-id"] for s in meta["snapshots"]),
                default=0,
            )
            + 1
        )
        entries = []
        for m in messages:
            if m is None:
                continue
            for dst, size, nrows, part in m.files:
                lo_b, hi_b = _footer_bounds(dst, schema_entry["fields"])
                data_file = {
                    "content": 0,
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "record_count": nrows,
                    "file_size_in_bytes": size,
                    "equality_ids": None,
                    "lower_bounds": lo_b,
                    "upper_bounds": hi_b,
                }
                if spec_fields:
                    data_file["partition"] = {
                        k: (
                            int(v)
                            if v is not None
                            and value_types.get(k) == "long"
                            else v
                        )
                        for k, v in (part or {}).items()
                    }
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": None,
                        "sequence_number": None,
                        "data_file": data_file,
                    }
                )
        mdir = os.path.join(self.path, "metadata")
        mpath = os.path.join(mdir, f"w-{snap_id}-{uuid.uuid4().hex}.avro")
        write_avro_file(mpath, manifest_schema, entries)
        return _commit_snapshot(
            self.path,
            meta,
            snap_id,
            mpath,
            content=0,
            summary=summary,
            carry_content=carry,
        )


class _IcebergLiteStreamArrowWriter(LiteStreamWriter, _IcebergLiteArrowWriter):
    """Streaming write half: ``df.writeStream.format("iceberg_lite")``
    — exactly-once via the epoch scheme `iceberg_append_epoch` uses:
    the snapshot summary carries ``{app-id, epoch=batchId}`` atomically
    with the commit and an append-only per-app ledger survives
    snapshot expiry; a replayed batch no-ops and removes its files."""

    label = "iceberg_lite stream write"

    def __init__(
        self,
        path: str,
        schema: StructType,
        app_id: str,
        part_cols: list[str] | None = None,
        transforms: list[tuple] | None = None,
    ):
        super().__init__(path, False, schema, part_cols, transforms)
        self.app_id = app_id

    def last_epoch(self):
        from dataset_grouper_spark.sources.iceberg import iceberg_last_epoch

        if not _has_metadata(self.path):
            return None
        return iceberg_last_epoch(self.path, self.app_id)

    def commit_epoch(self, messages, batch_id):
        from dataset_grouper_spark.sources.iceberg import _epoch_ledger_path

        self._commit_or_cleanup(
            messages, summary={"app-id": self.app_id, "epoch": batch_id}
        )
        ledger = _epoch_ledger_path(self.path, self.app_id)
        # read-modify-write: object stores can't append; one live
        # writer per app_id is the stream checkpoint's contract
        prior = _fs.read_text(ledger) if _fs.exists(ledger) else ""
        _fs.write_text(ledger, prior + f"{batch_id}\n")


class IcebergLiteDataSource(LiteDataSource):
    """``spark.dataSource.register(IcebergLiteDataSource)`` then
    ``.format("iceberg_lite").option("path", table_path)``. Options:
    ``path`` (required), ``startingSequence`` (stream only — first
    data sequence number to consume; default 1, i.e. the whole table
    then the tail)."""

    batch_reader = _IcebergLiteBatchReader
    pushdown_reader = _IcebergLitePushdownReader

    @classmethod
    def name(cls):
        return "iceberg_lite"

    def schema(self):
        _m, _schema, struct = _table_state(self._path())
        return struct

    def _write_conf(self) -> tuple[list[str], list[tuple]]:
        """(identity partition source columns, transform list) for a
        write: an existing table's default spec is authoritative —
        all-identity specs group straight off the frame columns;
        specs with any non-identity field resolve to
        ``(spec_name, source_col, transform, src_type)`` tuples the
        write tasks evaluate via ``_transform_value``. A new table
        takes ``.option("partitionBy", "a,b")`` (identity)."""
        declared = self._partition_by()
        try:
            meta, schema, _struct = _table_state(self._path())
        except (FileNotFoundError, OSError, ValueError):
            return declared, []
        by_id = {
            f["id"]: (f["name"], f["type"]) for f in schema["fields"]
        }
        spec_fields = _default_spec_fields(meta)
        if any(
            f.get("transform", "identity") != "identity"
            for f in spec_fields
        ):
            if declared:
                raise ValueError(
                    f"iceberg_lite write: partitionBy option {declared} "
                    "contradicts the existing table's transform spec "
                    "(an existing table's partitioning is honored "
                    "automatically; drop the option)"
                )
            transforms = []
            for f in spec_fields:
                src_name, src_type = by_id[f["source-id"]]
                transforms.append(
                    (
                        f["name"],
                        src_name,
                        f.get("transform", "identity"),
                        src_type if isinstance(src_type, str) else "",
                    )
                )
            return [], transforms
        table_parts = [by_id[f["source-id"]][0] for f in spec_fields]
        if declared and declared != table_parts:
            raise ValueError(
                f"iceberg_lite write: partitionBy option {declared} "
                f"contradicts the existing table's identity spec "
                f"{table_parts} (an existing table's partitioning is "
                "honored automatically; drop the option)"
            )
        return table_parts, []

    def writer(self, schema, overwrite):
        parts, transforms = self._write_conf()
        return _IcebergLiteArrowWriter(
            self._path(), overwrite, schema, parts, transforms
        )

    def streamWriter(self, schema, overwrite):
        app = self.options.get("epochAppId") or "iceberg_lite_stream"
        parts, transforms = self._write_conf()
        return _IcebergLiteStreamArrowWriter(
            self._path(), schema, app, parts, transforms
        )

    def streamReader(self, schema):
        sv = self.options.get("startingSequence")
        return _IcebergLiteStreamReader(
            self._path(), int(sv) if sv is not None else None
        )
