"""``hudi_lite`` — a PySpark Python Data Source (SPARK-44076 API)
exposing the jar-free Hudi CoW timeline walk as a REGISTERED Spark
format, batch and STREAMING — completing the trio next to
``delta_lite`` and ``iceberg_lite``:

    spark.dataSource.register(HudiLiteDataSource)
    spark.read.format("hudi_lite").option("path", t).load()
    spark.readStream.format("hudi_lite").option("path", t).load()

The streaming half TAILS the timeline: offsets ARE completed instant
times (Hudi's monotone commit timestamps), each micro-batch reads
exactly what the commits in ``(start, end]`` wrote (paths straight
from each commit's ``partitionToWriteStats``), and Spark's own offset
checkpointing makes recovery exactly-once.

MERGE_ON_READ (r13, VERDICT r12 task 1): fully supported on both
halves. The BATCH reader serves the merged snapshot — one
InputPartition per FILE SLICE (base file + its ordered log files),
each merged executor-side under the same supersedence law as
``sources.hudi._mor_winners`` (event-time orderingVal when the table
declares ``hoodie.table.precombine.field``, natural-order deletes by
commit order, commit/seq tiebreak) — parity is pinned against
``read_hudi`` on the foreign ordering fixture. The STREAM walks
deltacommit instants: each micro-batch surfaces the LOG rows those
instants appended (decoded through ``sources.hudi_log`` for
HoodieLogFormat framing or the Avro-container dialect) plus any
new-group base files — Hudi MoR CDC falls straight out of the log.

Stream modes (``option("mode", ...)``):

* ``append`` (default) — rows only; a deltacommit carrying LOG files
  (updates/deletes) or a CoW UPSERT raises, preserving append-only
  honesty exactly like ``delta_lite``/``iceberg_lite``.
* ``cdc`` — the schema gains ``_change_type`` ('insert' /
  'update_postimage' / 'delete'), ``_change_key`` and
  ``_commit_instant`` (the ``read_hudi_changes`` contract): upsert
  log rows surface as postimages, delete blocks as identity-only
  delete rows, new-group base files as inserts.

Scale shape: ``latestOffset``/``partitions`` are planning-scale
timeline reads; data moves as one InputPartition per base file or
file slice, decoded executor-side by pyarrow into Arrow RecordBatches
(zero row-at-a-time Python on the parquet path; log blocks are
decoded by the same pure-Python scanners the batch MoR read uses,
sized by Hudi's design to the un-compacted tail). Hudi base files
carry full rows (partition columns AND the ``_hoodie_*`` meta columns
— the meta columns are dropped in the decode), so there is no
partition-literal restoration; columns absent from an old file
backfill NULL. The table schema comes from the newest live slice's
parquet footer (Hudi keeps no schema in the timeline markers this
reader relies on).

Honest gates: ``replacecommit`` instants that add data (overwrites)
raise in both stream modes — their row-level delta is not recorded
anywhere (pure clustering is skipped); compaction commits are
logically no change and are skipped.

Writes: ``df.write.format("hudi_lite")`` bulk-inserts (CoW INSERT
commit; ``mode("overwrite")`` commits a ``replacecommit`` replacing
every live file group — the spec's insert_overwrite_table, with full
time travel to pre-overwrite instants); ``writeStream`` commits each
micro-batch as one INSERT whose commit JSON carries
``extraMetadata {app-id, epoch=batchId}`` — a replayed batch sees an
epoch at or below the app's last committed one and no-ops with file
cleanup.
"""

from __future__ import annotations

import json
import os

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.streaming._lite import (
    FilePartition,
    LiteBatchReader,
    LiteDataSource,
    LiteStreamReader,
    LiteStreamWriter,
    LiteWriter,
    StagedFiles,
    StagedMessage,
    fields_of,
    project,
    split_partitions,
)
from pyspark.sql.datasource import InputPartition
from pyspark.sql.types import StringType, StructField, StructType


_CDC_COLS = ["_change_type", "_change_key", "_commit_instant"]


def _table_schema(path: str) -> StructType:
    """User schema (meta columns dropped) from the newest live
    slice's parquet footer — no SparkSession needed. Serves both
    COPY_ON_WRITE and MERGE_ON_READ (a MoR table's base footer
    carries the full user schema; log rows share it)."""
    from pyspark.sql.pandas.types import from_arrow_type

    import pyarrow.parquet as pq

    from dataset_grouper_spark.sources.hudi import (
        META_COLS,
        hudi_file_slices,
    )

    slices = hudi_file_slices(path)
    if not slices:
        raise ValueError(f"hudi_lite: no completed file slices in {path}")
    newest = max(slices, key=lambda s: s[2])[3]
    arrow = pq.read_schema(newest)
    fields = [
        StructField(n, from_arrow_type(arrow.field(n).type), True)
        for n in arrow.names
        if n not in META_COLS
    ]
    return StructType(fields)


def _read_conf(path: str):
    """(fields, record key, partition columns, precombine column) —
    the planning read shared by the batch and stream readers."""
    from dataset_grouper_spark.sources.hudi import (
        _partition_fields,
        _precombine_col,
        _table_props,
    )

    fields = fields_of(_table_schema(path))
    props = _table_props(path)
    return (
        fields,
        props["hoodie.table.recordkey.fields"],
        _partition_fields(props),
        _precombine_col(props, [n for n, _t in fields]),
    )


def _py_part_path(part_cols, payload):
    """Python twin of ``sources.hudi._part_path_col`` for identities
    derived from log payloads: None when any value is null (Spark's
    ``concat`` law), else 'c1=v1/c2=v2'."""
    from dataset_grouper_spark.sources.hudi import _py_str

    if not part_cols:
        return ""
    vals = [_py_str(payload.get(c)) for c in part_cols]
    if any(v is None for v in vals):
        return None
    return "/".join(f"{c}={v}" for c, v in zip(part_cols, vals))


def _decode_log_group(
    log_groups, visible, record_key, precombine, part_cols
):
    """Decode ONE file group's ordered log files (either dialect) ->
    ``[(op, instant, seq, ord, key, part, payload)]`` under exactly
    the visibility + ordering rules ``sources.hudi._log_rows_df``
    applies Spark-side: HoodieLogFormat files scan as one block
    stream (rollback COMMAND_BLOCKs apply across rollover files, seq
    = global block position), Avro-container files carry their
    instant in the record (seq 0), and blocks/files outside
    ``visible`` are invisible. Delete records surface with null
    payload; their orderingVal joins the event-time merge only when
    numeric (bool excluded), with 0/null meaning NATURAL ORDER
    downstream (``_mor_winners`` law)."""
    from dataset_grouper_spark.sources import hudi_log
    from dataset_grouper_spark.sources.avro import read_avro_file
    from dataset_grouper_spark.sources.hudi import (
        _MOR_INSTANT,
        _MOR_OP,
        _py_str,
    )

    out = []
    for group in log_groups:
        hoodie = [p for p in group if hudi_log.is_hoodie_log(p)]
        if hoodie:
            for op, instant, seq, rec in hudi_log.read_log_stream_records(
                hoodie, visible
            ):
                if op == "d":
                    ov = rec.get("orderingVal")
                    ordv = (
                        float(ov)
                        if isinstance(ov, (int, float))
                        and not isinstance(ov, bool)
                        else None
                    )
                    out.append(
                        (
                            "d",
                            instant,
                            seq,
                            ordv,
                            rec.get("recordKey"),
                            rec.get("partitionPath") or "",
                            None,
                        )
                    )
                else:
                    key = _py_str(rec.get("_hoodie_record_key"))
                    if key is None:
                        key = _py_str(rec.get(record_key))
                    part = rec.get("_hoodie_partition_path")
                    if part is None:
                        part = _py_part_path(part_cols, rec)
                    ov = rec.get(precombine) if precombine else None
                    ordv = (
                        float(ov)
                        if isinstance(ov, (int, float))
                        and not isinstance(ov, bool)
                        else None
                    )
                    out.append(
                        ("u", instant, seq, ordv, key, part, rec)
                    )
        for path in group:
            if path in hoodie:
                continue
            _schema, recs = read_avro_file(path)
            for rec in recs:
                instant = rec[_MOR_INSTANT]
                if visible is not None and instant not in visible:
                    continue
                op = rec[_MOR_OP]
                key = _py_str(rec.get(record_key))
                part = _py_part_path(part_cols, rec)
                ov = rec.get(precombine) if precombine else None
                ordv = (
                    float(ov)
                    if isinstance(ov, (int, float))
                    and not isinstance(ov, bool)
                    else None
                )
                # avro-dialect delete rows keep their stored payload
                # (the record key column — read_hudi_changes parity);
                # hoodie DELETE_BLOCK rows have no user columns
                out.append((op, instant, 0, ordv, key, part, rec))
    return out



def _payloads_to_arrow(payloads, fields, prefix=None):
    """Build one Arrow RecordBatch from decoded log payload dicts
    (typed per the table schema; absent columns null). ``prefix`` is
    an optional ``[(name, list_of_values)]`` of string columns
    prepended before the user columns (the CDC triplet)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    names, arrays = [], []
    for name, vals in prefix or []:
        names.append(name)
        arrays.append(pa.array(vals, type=pa.string()))
    for name, dtype in fields:
        arrays.append(
            pa.array(
                [p.get(name) if p is not None else None for p in payloads],
                type=to_arrow_type(dtype),
            )
        )
        names.append(name)
    return pa.RecordBatch.from_arrays(arrays, names=names)


class _MorSlicePartition(InputPartition):
    """One MoR FILE SLICE (base file + its ordered log file groups) —
    the executor merges it standalone: Hudi guarantees a record
    identity lives in exactly one file group, so the per-slice merge
    is the global merge."""

    def __init__(self, base_path, log_groups, visible, record_key,
                 precombine, part_cols, fields):
        self.base_path = base_path
        self.log_groups = log_groups
        self.visible = visible
        self.record_key = record_key
        self.precombine = precombine
        self.part_cols = part_cols
        self.fields = fields

    def read(self):
        return _read_merged_slice(self)


def _read_merged_slice(part):
    """Executor-side MoR merge of one file slice: winner selection on
    a compact metadata frame (pandas, vectorized), payloads moved by
    Arrow ``take`` (base rows) / typed array construction (log rows)
    — the Python twin of ``sources.hudi._mor_winners``, same
    natural-order-delete and event-time law."""
    import math

    import pandas as pd
    import pyarrow.parquet as pq

    base = pq.read_table(part.base_path)
    nb = base.num_rows
    pc_active = (
        part.precombine is not None
        and part.precombine in base.column_names
    )

    def _ordf(v):
        return (
            float(v)
            if isinstance(v, (int, float)) and not isinstance(v, bool)
            else None
        )

    base_ord = (
        [_ordf(v) for v in base.column(part.precombine).to_pylist()]
        if pc_active
        else [None] * nb
    )
    logs = _decode_log_group(
        part.log_groups, part.visible, part.record_key,
        part.precombine if pc_active else None, part.part_cols,
    )
    meta = pd.DataFrame(
        {
            "src": ["b"] * nb + ["l"] * len(logs),
            "idx": list(range(nb)) + list(range(len(logs))),
            "op": ["u"] * nb + [r[0] for r in logs],
            "instant": base.column("_hoodie_commit_time").to_pylist()
            + [r[1] for r in logs],
            "seq": [0] * nb + [r[2] for r in logs],
            "ord": base_ord + [r[3] for r in logs],
            "key": base.column("_hoodie_record_key").to_pylist()
            + [r[4] for r in logs],
            "part": base.column("_hoodie_partition_path").to_pylist()
            + [r[5] for r in logs],
        }
    )
    if pc_active:
        is_nat = (meta["op"] == "d") & (
            meta["ord"].isna() | (meta["ord"] == 0.0)
        )
        nat = meta[is_nat]
        if len(nat):
            bound = (
                nat.sort_values(["instant", "seq"])
                .drop_duplicates(["key", "part"], keep="last")[
                    ["key", "part", "instant", "seq"]
                ]
                .rename(columns={"instant": "_ni", "seq": "_ns"})
            )
            meta = meta.merge(bound, on=["key", "part"], how="left")
            keep = (
                meta["_ni"].isna()
                | (meta["instant"] > meta["_ni"])
                | (
                    (meta["instant"] == meta["_ni"])
                    & (meta["seq"] >= meta["_ns"])
                )
            )
            meta = meta[keep].drop(columns=["_ni", "_ns"])
            # surviving sentinels compete with NULL event time
            snt = (meta["op"] == "d") & (
                meta["ord"].isna() | (meta["ord"] == 0.0)
            )
            meta.loc[snt, "ord"] = math.nan
    winners = (
        meta.sort_values(
            ["ord", "instant", "seq"] if pc_active else ["instant", "seq"],
            ascending=False,
            na_position="last",
        )
        .drop_duplicates(["key", "part"], keep="first")
    )
    winners = winners[winners["op"] == "u"]
    base_idx = winners.loc[winners["src"] == "b", "idx"].tolist()
    if base_idx:
        yield from project(base.take(sorted(base_idx)).to_batches(), part.fields)
    log_idx = winners.loc[winners["src"] == "l", "idx"].tolist()
    if log_idx:
        yield _payloads_to_arrow(
            [logs[i][6] for i in sorted(log_idx)], part.fields
        )



class _HudiLiteBatchReader(LiteBatchReader):
    def plan(self):
        from dataset_grouper_spark.sources.hudi import (
            _completed,
            _group_log_paths,
            _log_files,
            hudi_file_slices,
        )

        fields, record_key, part_cols, precombine = _read_conf(self.path)
        logs = _log_files(self.path)
        completed = set(_completed(self.path)) if logs else None
        parts: list = []
        for part, fid, instant, path in hudi_file_slices(self.path):
            entries = logs.get((part, fid, instant))
            if not entries:
                # unlogged groups stream straight through — only
                # logged slices pay the merge (MoR read economics)
                parts.append(FilePartition(path, fields))
            else:
                parts.append(
                    _MorSlicePartition(
                        path,
                        _group_log_paths([p for _i, p in entries]),
                        completed,
                        record_key,
                        precombine,
                        part_cols,
                        fields,
                    )
                )
        return parts


class _LogChangePartition(InputPartition):
    """One file group's in-range MoR log files for a CDC micro-batch:
    decoded executor-side into change rows (``read_hudi_changes``
    contract — upserts as postimages, delete blocks as identity-only
    deletes)."""

    def __init__(self, log_groups, visible, record_key, precombine,
                 part_cols, fields):
        self.log_groups = log_groups
        self.visible = visible
        self.record_key = record_key
        self.precombine = precombine
        self.part_cols = part_cols
        self.fields = fields

    def read(self):
        recs = _decode_log_group(
            self.log_groups, self.visible, self.record_key,
            self.precombine, self.part_cols,
        )
        if not recs:
            return
        yield _payloads_to_arrow(
            [r[6] for r in recs],
            self.fields,
            prefix=[
                (
                    "_change_type",
                    [
                        "delete" if r[0] == "d" else "update_postimage"
                        for r in recs
                    ],
                ),
                ("_change_key", [r[4] for r in recs]),
                ("_commit_instant", [r[1] for r in recs]),
            ],
        )


class _HudiLiteStreamReader(LiteStreamReader):
    offset_key, offset_type = "instant", str

    def __init__(self, path: str, starting_instant: str | None,
                 cdc: bool = False):
        super().__init__(path, starting_instant)
        self.cdc = cdc

    def initial(self):
        return self.start or "0"

    def latest(self):
        from dataset_grouper_spark.sources.hudi import _completed

        try:
            commits = _completed(self.path)
        except FileNotFoundError:
            return "0"
        return max(commits) if commits else "0"

    def files_between(self, lo, hi):
        from dataset_grouper_spark.sources.hudi import (
            _completed,
            _group_log_paths,
        )

        commits = _completed(self.path, as_of=hi)
        fields, record_key, part_cols, precombine = _read_conf(self.path)
        # CDC base files surface as 'insert' rows keyed by their own
        # _hoodie_record_key column
        cdc_fields = [(c, StringType()) for c in _CDC_COLS] + fields
        parts: list = []
        for ts in sorted(commits):
            if ts <= lo:
                continue
            meta = commits[ts]
            action = meta["__action"]
            op = meta.get("operationType")
            if action == "replacecommit":
                # only pure clustering (file reorganization, no logical
                # change) may be skipped. An INSERT_OVERWRITE replace-
                # commit — the only replacecommit this repo's writers
                # produce (mode('overwrite')) — both drops file groups
                # AND inserts rows; silently skipping it would lose its
                # data from the stream, so it raises like UPSERT does.
                if op == "INSERT_OVERWRITE_TABLE" or (
                    meta.get("partitionToWriteStats")
                ):
                    raise ValueError(
                        f"hudi_lite stream: instant {ts} is a "
                        f"{op or 'replace'} "
                        "replacecommit — overwrites rewrite history; "
                        "their row-level delta is not recorded (restart "
                        "the stream from the overwrite instant)"
                    )
                continue  # genuine clustering: no logical change
            if op == "COMPACT":
                continue  # logs folded into base: logically no change
            base_paths, log_paths = [], []
            for stats in (
                meta.get("partitionToWriteStats") or {}
            ).values():
                for st in stats:
                    (
                        log_paths if ".log." in st["path"] else base_paths
                    ).append(os.path.join(self.path, st["path"]))
            if action == "commit" and op not in (None, "INSERT"):
                raise ValueError(
                    f"hudi_lite stream: instant {ts} is a CoW {op} — "
                    "slice rewrites record no row-level delta; the "
                    "stream is append-only (use MERGE_ON_READ writes "
                    "for CDC)"
                )
            if log_paths and not self.cdc:
                raise ValueError(
                    f"hudi_lite stream: deltacommit {ts} appended LOG "
                    "rows (updates/deletes) — the default stream is "
                    "append-only; tail MoR change streams with "
                    "option('mode', 'cdc')"
                )
            for p in base_paths:
                parts.append(
                    FilePartition(
                        p,
                        cdc_fields,
                        {"_change_type": "insert", "_commit_instant": ts},
                        {"_change_key": "_hoodie_record_key"},
                    )
                    if self.cdc
                    else FilePartition(p, fields)
                )
            for group in _group_log_paths(log_paths):
                parts.append(
                    _LogChangePartition(
                        [group], {ts}, record_key, precombine,
                        part_cols, fields,
                    )
                )
        return parts


def _hudi_stage_write(path, iterator, record_key, part_cols):
    """Executor-side staging: one base file per distinct partition
    tuple per task, meta columns synthesized in-Arrow, placed directly
    in the table. Files are named with an INVISIBLE placeholder
    instant (a 17-digit token starting '0' — lexically below every
    real instant, so never in the completed set): the driver's commit
    claims the real instant and RENAMES the staged files into it,
    which is what keeps a streaming sink correct across micro-batches
    (executor-side writer copies cannot learn a per-batch instant).
    Consequence, stated honestly: the row-level _hoodie_commit_time
    in files written through this path carries the staging token, not
    the final instant — the timeline/file name is authoritative (and
    is what every read path here resolves slices by). Each staged
    file carries ``(rel, partition path, nrows, size, token)``."""
    import uuid

    import pyarrow as pa

    token = "0" + f"{uuid.uuid4().int % 10**16:016d}"
    names: dict[str, str] = {}  # partition path -> staged file name

    def _name(part_rel):
        if part_rel not in names:
            names[part_rel] = f"{uuid.uuid4().hex[:20]}_0-0-0_{token}.parquet"
            dst_dir = os.path.join(path, part_rel)
            _fs.makedirs(dst_dir)
            pmeta = os.path.join(dst_dir, ".hoodie_partition_metadata")
            if part_rel and not _fs.exists(pmeta):
                _fs.write_text(
                    pmeta,
                    f"#partition metadata\ncommitTime={token}\n"
                    f"partitionDepth={len(part_cols)}\n",
                )
        return names[part_rel]

    staged = StagedFiles(lambda part_rel: os.path.join(path, part_rel, names[part_rel]))
    for batch in iterator:
        # partition-path values are the Arrow string cast — the
        # identity hudi_upsert computes Spark-side ('c=2', never
        # pandas' 'c=2.0'). A NULL value keeps the 'c=nan' directory
        # earlier writes produced, so appends stay in one partition
        groups = (
            split_partitions(batch, part_cols) if part_cols else [((), None)]
        )
        for tup, idx in groups:
            part_rel = "/".join(
                f"{c}={'nan' if v is None else v}"
                for c, v in zip(part_cols, tup)
            )
            rows = batch if idx is None else batch.take(idx)
            n = rows.num_rows
            meta = {
                "_hoodie_commit_time": pa.array([token] * n),
                "_hoodie_commit_seqno": pa.array([f"{token}_0"] * n),
                "_hoodie_record_key": rows.column(record_key).cast(
                    pa.string()
                ),
                "_hoodie_partition_path": pa.array([part_rel] * n),
                "_hoodie_file_name": pa.array([_name(part_rel)] * n),
            }
            staged.write(
                part_rel,
                pa.RecordBatch.from_arrays(
                    list(meta.values()) + rows.columns,
                    names=list(meta) + rows.schema.names,
                ),
            )
    files = [
        (dst, os.path.join(part_rel, names[part_rel]), part_rel, nrows,
         _fs.file_size(dst), token)
        for part_rel, dst, nrows in staged.close()
    ]
    return StagedMessage(files)


def _finalize_files(path, messages, instant):
    """Rename every staged file's placeholder token to the claimed
    ``instant`` (driver-local renames, O(files)) and return the
    partitionToWriteStats for the commit body."""
    from dataset_grouper_spark.sources.hudi import _BASE_RE

    stats: dict[str, list[dict]] = {}
    for m in messages:
        if m is None:
            continue
        for dst, rel, part_rel, nrows, size, token in m.files:
            new_rel = rel.replace(token, instant)
            _fs.move(dst, os.path.join(path, new_rel))
            fid = _BASE_RE.match(os.path.basename(new_rel)).group("fid")
            stats.setdefault(part_rel, []).append(
                {
                    "fileId": fid,
                    "path": new_rel,
                    "numWrites": nrows,
                    "fileSizeInBytes": size,
                }
            )
    return stats


class _HudiLiteArrowWriter(LiteWriter):
    label = "hudi_lite write"

    def __init__(
        self,
        path: str,
        overwrite: bool,
        schema: StructType,
        record_key: str,
        part_cols: list[str],
    ):
        super().__init__(path, overwrite, schema, part_cols)
        self.record_key = record_key
        if record_key not in schema.names:
            raise ValueError(
                f"hudi_lite write: recordKey {record_key!r} not in frame"
            )

    def write(self, iterator):
        return _hudi_stage_write(
            self.path, iterator, self.record_key, self.part_cols
        )

    def _commit(self, messages, extra_meta=None):
        from dataset_grouper_spark.sources.hudi import (
            _hoodie_path,
            _next_instant,
            _partition_fields,
            _table_props,
            _write_properties,
            hudi_file_slices,
        )

        _fs.makedirs(self.path)
        hp = _hoodie_path(self.path)
        existed = _fs.exists(os.path.join(hp, "hoodie.properties"))
        if existed:
            props = _table_props(self.path)
            want = props.get("hoodie.table.recordkey.fields")
            if want and want != self.record_key:
                raise ValueError(
                    f"hudi_lite write: recordKey mismatch — table has "
                    f"{want!r}"
                )
            have_parts = _partition_fields(props)
            if have_parts != self.part_cols:
                raise ValueError(
                    f"hudi_lite write: partition fields mismatch — table "
                    f"has {have_parts}, write declared {self.part_cols}"
                )
        _write_properties(self.path, self.record_key, self.part_cols)
        instant = _next_instant(self.path)
        stats = _finalize_files(self.path, messages, instant)
        body = {"partitionToWriteStats": stats}
        action = "commit"
        if self.overwrite and existed:
            # insert_overwrite_table: one replacecommit replacing
            # every live file group, new files in the same instant
            replaced: dict[str, list[str]] = {}
            for part, fid, _i, _p in hudi_file_slices(self.path):
                replaced.setdefault(part, []).append(fid)
            action = "replacecommit"
            body["partitionToReplaceFileIds"] = replaced
            body["operationType"] = "INSERT_OVERWRITE_TABLE"
        else:
            body["operationType"] = "INSERT"
        if extra_meta:
            body["extraMetadata"] = extra_meta
        try:
            for suffix in ("requested", "inflight"):
                _fs.write_text(
                    os.path.join(hp, f"{instant}.{action}.{suffix}"), "{}"
                )
            with _fs.open_create(
                os.path.join(hp, f"{instant}.{action}")
            ) as f:
                f.write(json.dumps(body).encode())
        except FileExistsError:
            # a racer claimed this instant: our files were already
            # RENAMED into it, and files carrying a completed instant
            # are readable — remove the finalized paths, not the stale
            # staging names
            for flist in stats.values():
                for st in flist:
                    try:
                        _fs.remove(os.path.join(self.path, st["path"]))
                    except OSError:
                        pass
            raise RuntimeError(
                f"hudi_lite write: lost the commit race at instant "
                f"{instant} — re-run the write"
            )


class _HudiLiteStreamArrowWriter(LiteStreamWriter, _HudiLiteArrowWriter):
    """Streaming sink: each micro-batch is one INSERT commit whose
    ``extraMetadata`` carries ``{app-id, epoch=batchId}`` — a replayed
    batch (epoch <= the app's last committed) no-ops with cleanup."""

    def __init__(self, path, schema, record_key, part_cols, app_id):
        super().__init__(path, False, schema, record_key, part_cols)
        self.app_id = app_id

    def last_epoch(self):
        from dataset_grouper_spark.sources.hudi import _completed

        try:
            commits = _completed(self.path)
        except FileNotFoundError:
            return None
        best = None
        for meta in commits.values():
            em = meta.get("extraMetadata") or {}
            if em.get("app-id") == self.app_id:
                e = int(em.get("epoch", -1))
                best = e if best is None else max(best, e)
        return best

    def commit_epoch(self, messages, batch_id):
        # the real instant is claimed (and staged files renamed into
        # it) inside the base commit — fresh per micro-batch
        self._commit_or_cleanup(
            messages, extra_meta={"app-id": self.app_id, "epoch": batch_id}
        )


class HudiLiteDataSource(LiteDataSource):
    """``spark.dataSource.register(HudiLiteDataSource)`` then
    ``.format("hudi_lite").option("path", table_path)``. Options:
    ``path`` (required), ``recordKey`` (write; default the table's, or
    the first column on creation), ``partitionBy`` (write, new tables),
    ``startingInstant`` (stream read), ``mode`` (stream read:
    ``append`` default / ``cdc`` for MoR change streams), ``epochAppId``
    (stream write)."""

    batch_reader = _HudiLiteBatchReader

    @classmethod
    def name(cls):
        return "hudi_lite"

    def _mode(self) -> str:
        m = (self.options.get("mode") or "append").lower()
        if m not in ("append", "cdc"):
            raise ValueError(
                f"hudi_lite: mode {m!r} not supported (append/cdc)"
            )
        return m

    def schema(self):
        struct = _table_schema(self._path())
        if self._mode() == "cdc":
            return StructType(
                [StructField(c, StringType(), True) for c in _CDC_COLS]
                + list(struct.fields)
            )
        return struct

    def reader(self, schema):
        if self._mode() == "cdc":
            raise ValueError(
                "hudi_lite: mode=cdc is a STREAMING read option; for "
                "batch CDC use sources.hudi.read_hudi_changes"
            )
        return super().reader(schema)

    def streamReader(self, schema):
        return _HudiLiteStreamReader(
            self._path(),
            self.options.get("startingInstant"),
            cdc=self._mode() == "cdc",
        )

    def _write_conf(self, schema):
        from dataset_grouper_spark.sources.hudi import (
            _partition_fields,
            _table_props,
        )

        opt_key = self.options.get("recordKey")
        declared = self._partition_by()
        try:
            props = _table_props(self._path())
        except (FileNotFoundError, OSError):
            return opt_key or schema.names[0], declared
        table_key = props.get("hoodie.table.recordkey.fields")
        if table_key and opt_key and opt_key != table_key:
            # same contract as the partitionBy check below: a caller
            # who thinks they changed the key must hear otherwise
            raise ValueError(
                f"hudi_lite write: recordKey option {opt_key!r} "
                f"contradicts the table's record key {table_key!r}"
            )
        key = table_key or opt_key
        table_parts = _partition_fields(props)
        if declared and declared != table_parts:
            raise ValueError(
                f"hudi_lite write: partitionBy option {declared} "
                f"contradicts the table's partition fields {table_parts}"
            )
        return key, table_parts

    def writer(self, schema, overwrite):
        key, parts = self._write_conf(schema)
        return _HudiLiteArrowWriter(self._path(), overwrite, schema, key, parts)

    def streamWriter(self, schema, overwrite):
        key, parts = self._write_conf(schema)
        app = self.options.get("epochAppId") or "hudi_lite_stream"
        return _HudiLiteStreamArrowWriter(
            self._path(), schema, key, parts, app
        )
