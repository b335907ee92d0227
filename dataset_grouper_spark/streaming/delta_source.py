"""``delta_lite`` — a PySpark Python Data Source (SPARK-44076 API)
exposing this engine's jar-free Delta log walk as a REGISTERED Spark
format, batch and STREAMING:

    spark.dataSource.register(DeltaLiteDataSource)
    spark.read.format("delta_lite").option("path", t).load()
    spark.readStream.format("delta_lite").option("path", t).load()

The streaming half is the piece the rest of the engine could not
express before: Structured Streaming TAILS the transaction log —
offsets ARE commit versions, each micro-batch reads exactly the files
the commits in ``(start, end]`` added, and Spark's own offset
checkpointing makes recovery exactly-once (replaying a batch re-reads
the same immutable commit range — deterministic by construction, the
same contract delta-spark's streaming source implements on the JVM).

Scale shape: ``latestOffset``/``partitions`` are driver-side log reads
(planning-scale, like every source's discovery step); data moves as
one InputPartition per added file, decoded executor-side by pyarrow
into Arrow RecordBatches (zero row-at-a-time Python). Partition
columns are restored from ``add.partitionValues`` as constant Arrow
columns; column-mapped tables scan physical names and emit logical
ones.

Honest gates: the streaming source is APPEND-ONLY — a commit in range
that REMOVES data with ``dataChange=true`` (update/delete) raises,
exactly like :func:`read_delta_changes` (silently replaying adds would
over-count); OPTIMIZE commits (``dataChange=false``) are skipped. The
batch reader delegates pinned-snapshot semantics to
:func:`read_delta` for DV tables (a deletion vector needs the
anti-join only the DataFrame path provides) — it raises with that
pointer rather than returning resurrected rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructField, StructType

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


def _table_state(path: str):
    """(adds, schema, part_cols, phys, latest_version) from the log —
    driver-side planning read shared by batch and stream."""
    from dataset_grouper_spark.sources.delta import (
        _latest_version,
        _physical_names,
        _replay,
    )

    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"empty Delta log: {path}")
    adds, meta = _replay(None, path, latest)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    return adds, schema, part_cols, _physical_names(meta), latest


def _file_partitions(path, adds, schema, part_cols, phys):
    """One FilePartition per add: partition columns restored from
    ``add.partitionValues`` as literals, physical names mapped to
    logical ones."""
    fields = fields_of(schema)
    table_abs = os.path.abspath(path)
    out = []
    for a in adds:
        pv_raw = a.get("partitionValues") or {}
        pv = {c: pv_raw.get(phys[c], pv_raw.get(c)) for c in part_cols}
        out.append(
            FilePartition(os.path.join(table_abs, a["path"]), fields, pv, phys)
        )
    return out


class _DeltaLiteBatchReader(LiteBatchReader):
    def plan(self):
        from dataset_grouper_spark.sources.delta import _add_may_match

        adds, schema, part_cols, phys, _v = _table_state(self.path)
        live = list(adds.values())
        # NB: RuntimeError, not NotImplementedError — the data source
        # API treats NotImplementedError from partitions() as "no
        # partitioning support" and silently falls back
        if any(a.get("deletionVector") for a in live):
            raise RuntimeError(
                "delta_lite batch read: table carries deletion vectors — "
                "use sources.delta.read_delta (DataFrame path applies "
                "the tombstone anti-join)"
            )
        if self.skip_filters:
            live = [
                a
                for a in live
                if _add_may_match(a, self.skip_filters, part_cols, phys)
            ]
        return _file_partitions(self.path, live, schema, part_cols, phys)


class _DeltaLitePushdownReader(PushFilters, _DeltaLiteBatchReader):
    """Opt-in pushdown (see :class:`PushFilters` for why it is not the
    default): comparison filters on top-level columns feed the
    log-stats skip planner (add.stats envelopes + partitionValues), so
    ``spark.read.format("delta_lite")....filter("id < k")`` plans only
    candidate files."""


class _DeltaLiteStreamReader(LiteStreamReader):
    offset_key, offset_type = "version", int

    def initial(self):
        return -1 if self.start is None else self.start - 1

    def latest(self):
        from dataset_grouper_spark.sources.delta import _latest_version

        v = _latest_version(self.path)
        return -1 if v is None else v

    def files_between(self, lo, hi):
        from dataset_grouper_spark.sources.delta import delta_versions

        versions = [v for v in delta_versions(self.path) if lo < v <= hi]
        expect = list(range(lo + 1, hi + 1))
        if versions != expect:
            raise ValueError(
                f"delta_lite stream: missing commits "
                f"{sorted(set(expect) - set(versions))} (vacuumed past "
                f"retention? restart the stream from a newer "
                f"startingVersion)"
            )
        _adds, schema, part_cols, phys, _v = _table_state(self.path)
        log = os.path.join(self.path, "_delta_log")
        new_adds = []
        for v in versions:
            text = _fs.read_text(os.path.join(log, f"{v:020d}.json"))
            for line in text.splitlines():
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action and action["add"].get(
                    "dataChange", True
                ):
                    new_adds.append(action["add"])
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    raise ValueError(
                        f"delta_lite stream: commit {v} removes data "
                        "(update/delete) — the streaming source is "
                        "append-only"
                    )
        return _file_partitions(self.path, new_adds, schema, part_cols, phys)


def _pv_string(value) -> str | None:
    """Delta ``add.partitionValues`` literal for a python value — the
    inverse of the reader's literal parsing (same supported simple
    types; anything else raises rather than writing a literal the
    reader cannot restore)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, str)):
        return str(value)
    if isinstance(value, float):
        if value != value:  # NaN partition value: treat as null
            return None
        return repr(value)
    raise RuntimeError(
        f"delta_lite write: partition value type "
        f"{type(value).__name__!r} not supported (supported: string, "
        "int family, float/double, boolean)"
    )


def _write_task_files(path, iterator, part_cols, rename=None):
    """Executor-side staging shared by the delta_lite batch and stream
    writers: stream this task's Arrow batches into ONE parquet file
    per distinct partition tuple (unpartitioned: exactly one file),
    placed directly in the table directory. Partition columns live
    OUTSIDE the data files, Delta-style; each staged file carries its
    ``partitionValues``. Upstream should repartition by the partition
    columns so a task sees few distinct tuples — the same discipline
    as any partitioned write at 100 TB.

    ``rename`` (logical -> physical) writes COLUMN-MAPPED tables: data
    files land under the stable ``col-<n>`` physical names from the
    field metadata (a logical-named file in a mapped table reads back
    all-NULL — the failure mapping exists to prevent) and
    partitionValues keys go physical, the ``delta_append``
    convention."""
    import uuid

    rename = rename or {}

    def _renamed(batch):
        if not rename:
            return batch
        return batch.rename_columns(
            [rename.get(n, n) for n in batch.schema.names]
        )

    _fs.makedirs(path)
    staged = StagedFiles(
        lambda _key: os.path.join(path, f"part-{uuid.uuid4().hex}.parquet")
    )
    values: dict[tuple, dict] = {}  # partition key -> partitionValues
    for batch in iterator:
        if not part_cols:
            staged.write((), _renamed(batch))
            continue
        data = _renamed(batch.drop_columns(part_cols))
        for key, idx in split_partitions(batch, part_cols):
            if key not in values:
                first = idx[0].as_py()
                values[key] = {
                    rename.get(c, c): _pv_string(batch.column(c)[first].as_py())
                    for c in part_cols
                }
            staged.write(key, data.take(idx))
    return StagedMessage(
        [(dst, values.get(key, {})) for key, dst, _n in staged.close()]
    )


class _DeltaLiteArrowWriter(LiteWriter):
    """Write half of the ``delta_lite`` format — the Delta commit
    protocol spoken through the Python data source API:

        df.write.format("delta_lite").mode("append").option("path", t).save()

    Each task streams its Arrow batches into parquet files placed
    directly in the table directory (invisible until committed —
    Delta's contract makes staging free), and the driver-side
    ``commit`` claims the next ``<version>.json`` with an exclusive
    create: protocol+metaData on table creation, remove-everything
    first under ``mode("overwrite")``, footer-derived ``add.stats``
    always (so data skipping works on API-written tables). ``abort``
    deletes the uncommitted files — readers never saw them.

    Partitioned writes: an EXISTING partitioned table's partition
    columns are honored automatically (each task splits its batches
    into one file per distinct partition tuple — repartition by the
    partition columns upstream so a task sees few); a NEW table is
    partitioned with ``.option("partitionBy", "a,b")``. Partition
    columns live OUTSIDE the data files, their literals in
    ``add.partitionValues`` — exactly the layout
    ``sources.delta.delta_append(partition_by=...)`` commits.

    COLUMN-MAPPED tables write correctly: the factory resolves the
    logical->physical map driver-side, write tasks stage files under
    the stable ``col-<n>`` PHYSICAL names with physical
    partitionValues keys (the ``delta_append`` convention), stats are
    keyed physical, and commit re-checks the table's mapping so a
    concurrent re-map fails loudly instead of committing wrong-named
    files.

    Honest gate: schema must match an existing table."""

    label = "delta_lite write"
    table_id = "delta-lite-write"
    remap_hint = "during the write — re-run"
    race_hint = "re-run the write"

    def __init__(
        self,
        path: str,
        overwrite: bool,
        schema: StructType,
        part_cols: list[str] | None = None,
        phys: dict[str, str] | None = None,
    ):
        super().__init__(path, overwrite, schema, part_cols)
        # logical -> physical for columns whose names differ (empty on
        # unmapped and new tables)
        self.phys = {k: v for k, v in (phys or {}).items() if k != v}

    def write(self, iterator):
        return _write_task_files(
            self.path, iterator, self.part_cols, rename=self.phys
        )

    def _commit(self, messages, txn=None):
        """One atomic commit of every staged file; ``txn`` (stream
        writes) adds the ``txn {appId, version=batchId}`` action."""
        from dataset_grouper_spark.sources.delta import (
            _file_stats,
            _latest_version,
            _log_path,
            _physical_names,
            _replay,
        )

        stream = txn is not None
        log = _log_path(self.path)
        try:
            latest = _latest_version(self.path)
        except FileNotFoundError:
            latest = None  # no _delta_log yet: this write creates it
        actions: list[dict] = []
        if latest is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(
                {
                    "metaData": {
                        "id": self.table_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": self.schema.json(),
                        "partitionColumns": self.part_cols,
                        "configuration": {},
                    }
                }
            )
            version = 0
            _fs.makedirs(log)
        else:
            adds, meta = _replay(None, self.path, latest)
            if not stream:
                # only batch writes compare the frame's schema and
                # partitioning with the table; stream commits re-check
                # just the column mapping below
                self._check_table(meta)
            phys = _physical_names(meta)
            if {k: v for k, v in phys.items() if k != v} != self.phys:
                # the mapping this writer staged files under no longer
                # matches the table (re-mapped mid-write): committing
                # would register wrong-named files that read all-NULL
                raise RuntimeError(
                    f"{self.label}: the table's column mapping changed "
                    f"{self.remap_hint}"
                )
            version = latest + 1
            if self.overwrite:
                for rel, a in sorted(adds.items()):
                    actions.append(
                        {
                            "remove": {
                                "path": rel,
                                "dataChange": True,
                                "deletionTimestamp": 0,
                                "partitionValues": (
                                    a.get("partitionValues") or {}
                                ),
                            }
                        }
                    )
        if stream:
            actions.append(
                {
                    "txn": {
                        "appId": self.app_id,
                        "version": txn,
                        "lastUpdated": 0,
                    }
                }
            )
        stats_fields = [
            StructField(self.phys.get(f.name, f.name), f.dataType, True)
            for f in self.schema.fields
            if f.name not in self.part_cols
        ]
        staged = sorted(f for m in messages if m is not None for f in m.files)
        for dst, pv in staged:
            actions.append(
                {
                    "add": {
                        "path": os.path.basename(dst),
                        "partitionValues": pv,
                        "size": _fs.file_size(dst),
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": _file_stats(dst, stats_fields),
                    }
                }
            )
        try:
            data = "".join(json.dumps(a) + "\n" for a in actions)
            with _fs.open_create(
                os.path.join(log, f"{version:020d}.json")
            ) as f:
                f.write(data.encode())
        except FileExistsError:
            # a concurrent writer claimed the version; our files are
            # uncommitted and must not linger (the caller cleans up)
            raise RuntimeError(
                f"{self.label}: lost the commit race at version "
                f"{version} — {self.race_hint}"
            )

    def _check_table(self, meta):
        have = StructType.fromJson(json.loads(meta["schemaString"]))
        if [(f.name, f.dataType) for f in have.fields] != [
            (f.name, f.dataType) for f in self.schema.fields
        ]:
            raise ValueError(
                f"delta_lite write: schema mismatch — table has "
                f"{[f.name for f in have.fields]}, frame has "
                f"{[f.name for f in self.schema.fields]}"
            )
        table_parts = list(meta.get("partitionColumns") or [])
        if table_parts != self.part_cols:
            raise ValueError(
                f"delta_lite write: partition columns mismatch — "
                f"table has {table_parts}, write declared "
                f"{self.part_cols} (an existing table's partitioning "
                "is honored automatically; drop the partitionBy "
                "option or make it match)"
            )


class _DeltaLiteStreamArrowWriter(LiteStreamWriter, _DeltaLiteArrowWriter):
    """Streaming write half: ``df.writeStream.format("delta_lite")``.
    Exactly-once by the Delta protocol's own mechanism — each
    micro-batch's files and a ``txn {appId, version=batchId}`` action
    land in ONE atomic commit, and a replayed batch (crash between
    sink commit and stream checkpoint) sees ``batchId <= `` the app's
    last committed txn version and becomes a file-cleanup no-op.
    ``appId`` comes from ``option("txnAppId")`` (default
    ``delta_lite_stream``); one live writer per appId is the stream
    checkpoint's own guarantee. Partitioned sinks work exactly like
    the batch writer: an existing table's partition columns are
    honored automatically, a new table takes
    ``.option("partitionBy", "a,b")``."""

    label = "delta_lite stream write"
    table_id = "delta-lite-stream"
    remap_hint = "during the stream — restart the query"
    race_hint = "the engine will retry the batch"

    def __init__(
        self,
        path: str,
        schema: StructType,
        app_id: str,
        part_cols: list[str] | None = None,
        phys: dict[str, str] | None = None,
    ):
        super().__init__(path, False, schema, part_cols, phys)
        self.app_id = app_id

    def last_epoch(self):
        from dataset_grouper_spark.sources.delta import _latest_version

        try:
            if _latest_version(self.path) is None:
                return None
        except FileNotFoundError:
            return None
        return _stream_last_txn(self.path, self.app_id)

    def commit_epoch(self, messages, batch_id):
        self._commit_or_cleanup(messages, txn=batch_id)


def _stream_last_txn(path: str, app_id: str):
    """Highest committed txn version for ``app_id`` — a log walk
    without a SparkSession (stream writer commit hooks run where none
    is guaranteed)."""
    from dataset_grouper_spark.sources.delta import (
        _latest_checkpoint,
        delta_versions,
        _log_path,
    )

    best = None
    ckpt = _latest_checkpoint(path, 1 << 60)
    if ckpt is not None:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(ckpt[1])
        if "txn" in pf.schema_arrow.names:
            tbl = pq.read_table(ckpt[1], columns=["txn"])
            for rec in tbl.column("txn").to_pylist():
                if rec and rec.get("appId") == app_id:
                    v = int(rec.get("version") or 0)
                    best = v if best is None else max(best, v)
    log = _log_path(path)
    for v in delta_versions(path):
        if ckpt is not None and v <= ckpt[0]:
            continue
        text = _fs.read_text(os.path.join(log, f"{v:020d}.json"))
        for line in text.splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            t = a.get("txn")
            if t and t.get("appId") == app_id:
                tv = int(t.get("version") or 0)
                best = tv if best is None else max(best, tv)
    return best


class DeltaLiteDataSource(LiteDataSource):
    """``spark.dataSource.register(DeltaLiteDataSource)`` then
    ``.format("delta_lite").option("path", table_path)``. Options:
    ``path`` (required), ``startingVersion`` (stream only — first
    commit to consume; default 0, i.e. the whole table then the
    tail)."""

    batch_reader = _DeltaLiteBatchReader
    pushdown_reader = _DeltaLitePushdownReader

    @classmethod
    def name(cls):
        return "delta_lite"

    def schema(self):
        _adds, schema, _pc, _ph, _v = _table_state(self._path())
        return schema

    def _write_conf(self) -> tuple[list[str], dict[str, str]]:
        """(partition columns, logical->physical map) for a write: an
        existing table's partitioning and column mapping are
        authoritative; a new table takes
        ``.option("partitionBy", "a,b")`` and no mapping. A declared
        option that contradicts an existing table fails here; commit
        re-checks both against the then-current log."""
        declared = self._partition_by()
        try:
            _adds, _schema, table_parts, phys, _v = _table_state(
                self._path()
            )
        except (FileNotFoundError, OSError):
            return declared, {}
        if declared and declared != table_parts:
            raise ValueError(
                f"delta_lite write: partitionBy option {declared} "
                f"contradicts the existing table's partition columns "
                f"{table_parts} (an existing table's partitioning is "
                "honored automatically; drop the option)"
            )
        return table_parts, dict(phys)

    def writer(self, schema, overwrite):
        parts, phys = self._write_conf()
        return _DeltaLiteArrowWriter(
            self._path(), overwrite, schema, parts, phys
        )

    def streamWriter(self, schema, overwrite):
        app = self.options.get("txnAppId") or "delta_lite_stream"
        parts, phys = self._write_conf()
        return _DeltaLiteStreamArrowWriter(
            self._path(), schema, app, parts, phys
        )

    def streamReader(self, schema):
        sv = self.options.get("startingVersion")
        return _DeltaLiteStreamReader(
            self._path(), int(sv) if sv is not None else None
        )
