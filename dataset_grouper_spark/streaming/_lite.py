"""Shared core of the ``delta_lite``, ``iceberg_lite`` and ``hudi_lite``
Python data sources (SPARK-44076 API).

The three formats differ only in how they walk their metadata and how
they commit. Each ``streaming/<format>_source.py`` is a thin adapter
that supplies:

* its table state (schema, live files) for batch planning;
* its stream offset (``{"version"}``, ``{"sequence"}``,
  ``{"instant"}``) and ``files_between(lo, hi)``;
* the payload its write tasks stage;
* its commit body and, for streams, ``last_epoch()``.

Everything else lives here once: the data-file InputPartition and its
Arrow projection, the batch/stream reader skeletons, the comparison/IN
filter translator, the partition-tuple splitter and parquet staging,
staged-file cleanup, the stream-writer epoch template and the
DataSource option plumbing.

Data moves as one InputPartition per file, decoded executor-side by
pyarrow into Arrow RecordBatches (zero row-at-a-time Python); the
planning hooks are driver-side metadata reads that need no
SparkSession. pyarrow is imported lazily, inside the functions that run
on executors or at commit time.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from dataset_grouper_spark.compat import fs as _fs

# constant-column literals are raw strings (Delta's add.partitionValues
# form); these parse the simple types the Arrow emit path supports
_LITERAL_CASTS = {
    "string": str,
    "long": int,
    "bigint": int,
    "integer": int,
    "int": int,
    "short": int,
    "double": float,
    "float": float,
    "boolean": lambda s: s == "true",
}


def fields_of(struct) -> list[tuple]:
    """``[(name, pyspark DataType)]`` of a StructType — the picklable
    schema a FilePartition carries (executors need no session to turn
    it into Arrow types, where DDL parsing would)."""
    return [(f.name, f.dataType) for f in struct.fields]


def project(batches, fields, literals=None, phys=None):
    """Arrow projection of decoded batches onto the declared schema:
    present columns are cast to their declared type, columns a file
    predates are NULL-filled, ``literals`` (name -> raw string or None)
    become constant columns, and ``phys`` (logical -> physical) names
    the column each logical one is read from."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    literals, phys = literals or {}, phys or {}
    names = [n for n, _t in fields]
    atypes = [to_arrow_type(t) for _n, t in fields]
    for batch in batches:
        n_rows = batch.num_rows
        have = set(batch.schema.names)
        arrays = []
        for (name, dtype), atype in zip(fields, atypes):
            src = phys.get(name, name)
            if name in literals:
                arrays.append(_literal(literals[name], dtype, atype, n_rows))
            elif src in have:
                arrays.append(batch.column(src).cast(atype))
            else:
                arrays.append(pa.nulls(n_rows, type=atype))
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def _literal(raw, dtype, atype, n_rows):
    import pyarrow as pa

    if raw is None:
        return pa.nulls(n_rows, type=atype)
    cast = _LITERAL_CASTS.get(dtype.simpleString())
    if cast is None:  # only Delta partition values are non-string
        raise RuntimeError(
            f"delta_lite: partition column type "
            f"{dtype.simpleString()!r} not supported"
        )
    return pa.array([cast(raw)] * n_rows).cast(atype)


class FilePartition(InputPartition):
    """One parquet data file, read through :func:`project`."""

    def __init__(self, path, fields, literals=None, phys=None):
        self.path = path
        self.fields = fields  # [(logical name, DataType)], schema order
        self.literals = literals or {}
        self.phys = phys or {}

    def read(self):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        have = set(pf.schema_arrow.names)
        cols = [
            self.phys.get(n, n)
            for n, _t in self.fields
            if n not in self.literals and self.phys.get(n, n) in have
        ]
        return project(
            pf.iter_batches(columns=cols),
            self.fields,
            self.literals,
            self.phys,
        )


# --- readers ------------------------------------------------------------


def _read(partition):
    """``read`` of every lite reader: an empty plan's ``None`` reads
    nothing; every partition type knows how to decode itself."""
    if partition is None:
        return iter(())
    return partition.read()


class LiteBatchReader(DataSourceReader):
    """Batch skeleton: the adapter's ``plan()`` lists partitions from
    ``self.skip_filters`` (filled only by :class:`PushFilters`)."""

    def __init__(self, path: str):
        self.path = path
        self.skip_filters: list[tuple[str, str, object]] = []

    def partitions(self):
        return self.plan() or [None]

    read = staticmethod(_read)


class PushFilters:
    """File-level pushdown, mixed in before a :class:`LiteBatchReader`
    and OPT-IN via ``.option("pushdown", "true")`` — separate classes
    because Spark refuses any reader that defines ``pushFilters``
    unless ``spark.sql.python.filterPushdown.enabled`` is true (our
    ``session.get_spark`` sets it).

    WHY OPT-IN — verified at the bytecode level on Spark 4.1.2: the
    JVM's ``PythonDataSourceV2`` holds ONE mutable ``readInfo`` slot
    per ``load()`` relation. ``PythonScanBuilder.pushFilters`` re-runs
    the Python pushdown runner and ``setReadInfo``-overwrites the slot
    — so every plan WITH a translatable filter is correct, including
    two different filters on the same relation (each re-plans;
    regression-tested). But
    ``UserDefinedPythonDataSource.pushdownFiltersInPython`` gates the
    runner on ``isAnyFilterSupported``: a later plan on the SAME
    relation with NO translatable filters (unfiltered, or only
    disjunctions) skips the runner entirely and
    ``PythonBatch.planInputPartitions -> getOrCreateReadInfo`` reuses
    the poisoned slot — the unfiltered query silently serves the
    previous plan's pruned file set. The staleness lives in the JVM
    slot, NOT in Python reader state (a fresh reader is constructed
    per runner invocation — see pyspark/sql/worker/
    data_source_pushdown_filters.py), so NO Python-side design can
    make default-on safe. Default therefore stays stateless/off; the
    hazard ordering is pinned by a canary test that will flip when a
    Spark release fixes the slot (then flip the default). Rule when
    opting in: ONE ``load()`` per query."""

    def pushFilters(self, filters):
        """Comparison and IN filters on top-level columns become
        ``(column, op, value)`` skip filters for the adapter's stats
        planner. Skipping is never exact, so EVERY filter is returned
        for Spark to re-evaluate row-level — pushdown prunes I/O, it
        does not replace the filter."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "=",
            LessThan: "<",
            LessThanOrEqual: "<=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and len(f.attribute) == 1 and f.value is not None:
                self.skip_filters.append((f.attribute[0], op, f.value))
            elif (
                isinstance(f, In)
                and len(f.attribute) == 1
                and f.value
                and all(v is not None for v in f.value)
            ):
                # IN ⊆ [min(values), max(values)]: a sound envelope
                # conjunction (weaker than per-value, still prunes)
                self.skip_filters.append((f.attribute[0], ">=", min(f.value)))
                self.skip_filters.append((f.attribute[0], "<=", max(f.value)))
            yield f  # Spark always re-evaluates: skipping is file-level


class LiteStreamReader(DataSourceStreamReader):
    """Stream skeleton. The adapter names its offset (``offset_key``,
    ``offset_type``), supplies ``initial()`` / ``latest()`` positions
    and ``files_between(lo, hi)`` for the range ``(lo, hi]``. Offsets
    live in Spark's own checkpoint, so ``commit`` is a no-op and
    replaying a range re-reads the same immutable files."""

    offset_key: str  # "version" | "sequence" | "instant"
    offset_type: type  # int or str, how the position compares

    def __init__(self, path: str, start=None):
        self.path = path
        self.start = start

    def initialOffset(self):
        return {self.offset_key: self.initial()}

    def latestOffset(self):
        return {self.offset_key: self.latest()}

    def partitions(self, start, end):
        lo = self.offset_type(start[self.offset_key])
        hi = self.offset_type(end[self.offset_key])
        if hi <= lo:
            return [None]
        return self.files_between(lo, hi) or [None]

    read = staticmethod(_read)

    def commit(self, end):
        pass  # offsets live in Spark's own checkpoint


# --- writers ------------------------------------------------------------


def split_partitions(batch, cols):
    """Group a batch's rows by the tuple of its ``cols`` values:
    ``[(key, row indices)]`` in first-appearance order. Keys are
    stringified on the Arrow side, where int-ness is exact (a
    NULL-carrying int column groups as ``"2"``, never pandas'
    ``"2.0"``); NULL and NaN both become ``None``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    names = [f"k{i}" for i in range(len(cols))]
    keys = []
    for c in cols:
        col = batch.column(c)
        if pa.types.is_floating(col.type):
            col = pc.if_else(pc.is_nan(col), pa.scalar(None, col.type), col)
        keys.append(col.cast(pa.string()))
    grouped = (
        pa.table(
            keys + [pa.array(np.arange(batch.num_rows))],
            names=names + ["row"],
        )
        .group_by(names, use_threads=False)
        .aggregate([("row", "list")])
    )
    tuples = zip(*(grouped.column(n).to_pylist() for n in names))
    rows = grouped.column("row_list")
    return [(key, rows[i].values) for i, key in enumerate(tuples)]


class StagedFiles:
    """One lazily opened parquet writer per partition key — the
    executor-side staging every lite writer shares. ``new_path(key)``
    names a key's file the first time rows arrive for it."""

    def __init__(self, new_path):
        self.new_path = new_path
        self.open: dict = {}  # key -> [writer, path, rows]

    def write(self, key, rows):
        import pyarrow.parquet as pq

        entry = self.open.get(key)
        if entry is None:
            path = self.new_path(key)
            entry = self.open[key] = [
                pq.ParquetWriter(_fs.open_write(path), rows.schema),
                path,
                0,
            ]
        entry[0].write(rows)
        entry[2] += rows.num_rows

    def close(self) -> list[tuple]:
        """``[(key, path, rows)]`` for every file written."""
        out = []
        for key, (writer, path, n) in self.open.items():
            writer.close()
            out.append((key, path, n))
        return out


class StagedMessage(WriterCommitMessage):
    """One per task: a tuple per staged file, its absolute path first,
    then the adapter's payload."""

    def __init__(self, files: list[tuple] | None = None):
        self.files = files or []


class LiteWriter(DataSourceArrowWriter):
    """Batch-writer skeleton. The adapter sets ``label`` (message
    prefix), implements ``write`` (staging) and ``_commit(messages,
    **kw)`` (its commit body); staged files never outlive a failed
    commit or an aborted job."""

    label: str  # message prefix, e.g. "delta_lite write"

    def __init__(self, path, overwrite, schema, part_cols=None):
        self.path = os.path.abspath(path)
        self.overwrite = overwrite
        self.schema = schema
        self.part_cols = list(part_cols or [])
        self._require(self.part_cols)

    def _require(self, cols):
        missing = [c for c in cols if c not in self.schema.names]
        if missing:
            raise ValueError(
                f"{self.label}: partition columns {missing} not in the "
                f"frame ({self.schema.names})"
            )

    def _cleanup(self, messages):
        for m in messages:
            for staged in m.files if m is not None else ():
                try:
                    _fs.remove(staged[0])
                except OSError:
                    pass

    def _commit_or_cleanup(self, messages, **kw):
        try:
            return self._commit(messages, **kw)
        except Exception:
            self._cleanup(messages)
            raise

    def commit(self, messages):
        self._commit_or_cleanup(messages)

    def abort(self, messages):
        self._cleanup(messages)


class LiteStreamWriter(LiteWriter, DataSourceStreamArrowWriter):
    """Stream-writer template, listed before the format's batch writer
    (``class S(LiteStreamWriter, FormatWriter)``). Exactly-once per
    epoch: a batch at or below the app's ``last_epoch()`` (a replay
    after a crash between sink commit and checkpoint) only removes its
    staged files; otherwise ``commit_epoch`` commits it atomically with
    its epoch marker."""

    def commit(self, messages, batchId):
        last = self.last_epoch()
        if last is not None and batchId <= last:
            self._cleanup(messages)  # replayed epoch: no-op
            return
        self.commit_epoch(messages, int(batchId))

    def abort(self, messages, batchId):
        self._cleanup(messages)


# --- data source --------------------------------------------------------


class LiteDataSource(DataSource):
    """Option plumbing: ``path`` is required, ``partitionBy`` parses to
    a column list, and ``pushdown`` picks ``pushdown_reader`` only when
    set to ``"true"`` (see :class:`PushFilters`)."""

    batch_reader: type  # the adapter's LiteBatchReader subclass
    pushdown_reader: type | None = None

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError(f"{self.name()}: option 'path' is required")
        return p

    def _partition_by(self) -> list[str]:
        opt = self.options.get("partitionBy")
        return [c.strip() for c in opt.split(",") if c.strip()] if opt else []

    def reader(self, schema):
        pushdown = str(self.options.get("pushdown", "false")).lower()
        if self.pushdown_reader is not None and pushdown == "true":
            return self.pushdown_reader(self._path())
        return self.batch_reader(self._path())
