"""Lakehouse metadata IO through compat.fs (VERDICT r7 task 2).

At 100 TB these tables live on object stores; the Delta/Iceberg/Hudi/
snapshot metadata walks must resolve any pyarrow.fs URI, not just a
POSIX mount (reference analogue: data_loaders.py:116-122 reads any
tf.io filesystem). Two proofs here:

* full write/mutate/read roundtrips with every path spelled
  ``file:///...`` — the URI flows through planning, staging moves,
  exclusive-create commits and executor-side scans;
* the commit/walk primitives against ``pyarrow.fs._MockFileSystem``,
  a genuinely non-POSIX backend (no local fast path possible).
"""

import json

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark.compat import fs
from dataset_grouper_spark.sinks import snapshots as snap
from dataset_grouper_spark.sources import delta, hudi, iceberg


def _uri(tmp_path, name):
    return "file://" + str(tmp_path / name)


def test_delta_roundtrip_over_file_uri(spark, tmp_path):
    t = _uri(tmp_path, "dtbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).coalesce(1)
    v0 = delta.delta_append(spark, df, t)
    assert v0 == 0
    got = sorted(tuple(r) for r in delta.read_delta(spark, t).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # DV delete through the URI (executor-side DV write + read)
    v1 = delta.delta_delete_where(spark, t, F.col("id") == 2)
    assert v1 == 1
    got = sorted(tuple(r) for r in delta.read_delta(spark, t).collect())
    assert got == [(1, "a"), (3, "c")]
    # time travel still sees the deleted row
    got0 = sorted(
        tuple(r) for r in delta.read_delta(spark, t, version=0).collect()
    )
    assert got0 == [(1, "a"), (2, "b"), (3, "c")]
    # checkpoint + truncate + vacuum walk the URI end-to-end
    delta.delta_checkpoint(spark, t)
    delta.delta_truncate_log(t)
    doomed = delta.delta_vacuum(spark, t, dry_run=True)
    assert doomed == []  # the DV re-add keeps the original file live


def test_iceberg_roundtrip_over_file_uri(spark, tmp_path):
    t = _uri(tmp_path, "itbl")
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, v string"
    ).coalesce(1)
    s1 = iceberg.iceberg_append(spark, df, t)
    more = spark.createDataFrame([(3, "z")], "id long, v string").coalesce(1)
    s2 = iceberg.iceberg_append(spark, more, t)
    assert s2 > s1
    got = sorted(
        tuple(r) for r in iceberg.read_iceberg(spark, t).collect()
    )
    assert got == [(1, "x"), (2, "y"), (3, "z")]
    # snapshot read back in time
    got1 = sorted(
        tuple(r)
        for r in iceberg.read_iceberg(spark, t, snapshot_id=s1).collect()
    )
    assert got1 == [(1, "x"), (2, "y")]
    # retention: expire + orphan scan over the URI
    expired = iceberg.iceberg_expire_snapshots(t, keep_last=1)
    assert expired == [s1]
    # the expired snapshot's manifest LIST is now orphaned; its data
    # files and manifest carry forward through s2's manifest list
    orphans = iceberg.iceberg_remove_orphans(t, dry_run=False)
    assert orphans == [f"metadata/snap-{s1}-" + orphans[0].split("-", 2)[2]]
    got = sorted(
        tuple(r) for r in iceberg.read_iceberg(spark, t).collect()
    )
    assert got == [(1, "x"), (2, "y"), (3, "z")]


def test_hudi_roundtrip_over_file_uri(spark, tmp_path):
    t = _uri(tmp_path, "htbl")
    mk = lambda rows: spark.createDataFrame(
        rows, "id long, v string"
    ).coalesce(1)
    hudi.hudi_insert(spark, mk([(1, "a"), (2, "b")]), t, record_key="id")
    hudi.hudi_upsert(spark, mk([(2, "B"), (3, "c")]), t)
    got = sorted(tuple(r) for r in hudi.read_hudi(spark, t).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_hudi_upsert_on_empty_timeline_inserts(spark, tmp_path):
    """ADVICE r7: upsert against a table whose timeline has no
    completed commits must not crash on a zero-path read — the whole
    batch inserts."""
    t = str(tmp_path / "hempty")
    df = spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1)
    hudi.hudi_insert(spark, df, t, record_key="id")
    # simulate a lost first commit: drop the completed marker
    hp = str(tmp_path / "hempty" / ".hoodie")
    for name in fs.listdir(hp):
        if name.endswith(".commit"):
            fs.remove(hp + "/" + name)
    assert hudi.hudi_file_slices(t) == []
    up = spark.createDataFrame([(9, "z")], "id long, v string").coalesce(1)
    hudi.hudi_upsert(spark, up, t)
    assert sorted(tuple(r) for r in hudi.read_hudi(spark, t).collect()) == [
        (9, "z")
    ]


def test_snapshot_store_over_file_uri(spark, tmp_path):
    t = _uri(tmp_path, "stbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    v1 = snap.snapshot_write(df, t)
    v2 = snap.snapshot_append(
        spark.createDataFrame([(3, "c")], "id long, v string"), t
    )
    assert (v1, v2) == (1, 2)
    got = sorted(
        tuple(r) for r in snap.read_snapshot(spark, t, v2).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # upsert + pinned read of the old version
    snap.snapshot_upsert(
        spark.createDataFrame([(2, "B")], "id long, v string"), t, "id"
    )
    got_old = sorted(
        tuple(r) for r in snap.read_snapshot(spark, t, v2).collect()
    )
    assert got_old == [(1, "a"), (2, "b"), (3, "c")]
    got_new = sorted(tuple(r) for r in snap.read_snapshot(spark, t).collect())
    assert got_new == [(1, "a"), (2, "B"), (3, "c")]
    res = snap.vacuum_snapshots(t, keep_last=1, min_age_seconds=0)
    assert res["removed_versions"] == [1, 2]


@pytest.fixture()
def mock_fs():
    fs.register_filesystem("mock", pafs._MockFileSystem())
    yield
    fs.unregister_filesystem("mock")


def test_delta_metadata_walk_on_mock_filesystem(mock_fs):
    """The sessionless planning path (what the delta_lite data source's
    Python workers run) against a backend with NO local fast path:
    exclusive-create commit claim, log listing, replay, CDC range walk,
    footer stats."""
    t = "mock://tbl"
    log = t + "/_delta_log"
    fs.makedirs(log)
    # one real parquet data file, placed via the abstraction
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table({"id": [1, 2], "v": ["a", "b"]}), sink)
    fs.write_bytes(t + "/part-0.parquet", sink.getvalue().to_pybytes())
    schema_str = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    delta._write_commit(
        log,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "t",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_str,
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": 0,
                }
            },
            {
                "add": {
                    "path": "part-0.parquet",
                    "partitionValues": {},
                    "size": fs.file_size(t + "/part-0.parquet"),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    assert delta.delta_versions(t) == [0]
    # the commit slot is claimed: a second writer must lose loudly
    with pytest.raises(FileExistsError):
        delta._write_commit(log, 0, [])
    adds, meta = delta._replay(None, t, 0)
    assert list(adds) == ["part-0.parquet"]
    assert json.loads(meta["schemaString"])["fields"][0]["name"] == "id"
    # footer stats come back through open_random on the mock backend
    stats = json.loads(
        delta._file_stats(
            t + "/part-0.parquet",
            __import__("pyspark.sql.types", fromlist=["StructType"])
            .StructType.fromJson(json.loads(schema_str))
            .fields,
        )
    )
    assert stats["numRecords"] == 2
    assert stats["minValues"]["id"] == 1


def test_hudi_timeline_walk_on_mock_filesystem(mock_fs):
    t = "mock://htbl"
    hp = t + "/.hoodie"
    fs.makedirs(hp)
    fs.write_text(
        hp + "/hoodie.properties",
        "hoodie.table.name=htbl\nhoodie.table.type=COPY_ON_WRITE\n"
        "hoodie.table.recordkey.fields=id\n",
    )
    fs.write_text(hp + "/20240101000000000.commit.requested", "{}")
    fs.write_text(hp + "/20240101000000000.commit.inflight", "{}")
    fs.write_text(
        hp + "/20240101000000000.commit",
        json.dumps({"partitionToWriteStats": {}, "operationType": "INSERT"}),
    )
    tl = hudi.hudi_timeline(t)
    assert ("20240101000000000", "commit", "completed") in tl
    assert hudi._table_props(t)["hoodie.table.recordkey.fields"] == "id"
    assert hudi._next_instant(t) == "20240101000000001"


def test_iceberg_metadata_walk_on_mock_filesystem(mock_fs):
    t = "mock://itbl"
    mdir = t + "/metadata"
    fs.makedirs(mdir)
    meta = {
        "format-version": 2,
        "table-uuid": "u",
        "location": t,
        "current-snapshot-id": None,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": []}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": [],
    }
    fs.write_text(mdir + "/v1.metadata.json", json.dumps(meta))
    fs.write_text(mdir + "/version-hint.text", "1")
    loaded = iceberg._load_metadata(t)
    assert loaded["table-uuid"] == "u"
    assert iceberg._metadata_files(t) == [mdir + "/v1.metadata.json"]


def test_matview_state_uri_contract(spark, tmp_path):
    """file:// matview state resolves locally; rename-incapable
    backends raise up front instead of losing swap atomicity."""
    from dataset_grouper_spark.operators import matview

    t = "file://" + str(tmp_path / "mv")
    df = spark.createDataFrame([(1, "a"), (2, "a")], "id long, g string")
    matview.create_materialized_sums(df, ["g"], {"n": F.lit(1)}, t)
    assert matview.refresh_materialized_sums(
        spark, df, ["g"], {"n": F.lit(1)}, t
    )
    got = spark.read.parquet(str(tmp_path / "mv")).collect()
    assert got[0]["n"] == 4
    with pytest.raises(NotImplementedError, match="atomic directory"):
        matview.create_materialized_sums(
            df, ["g"], {"n": F.lit(1)}, "s3://bucket/mv"
        )


def test_serving_layout_uri_contract(spark, tmp_path):
    from dataset_grouper_spark import sinks

    t = "file://" + str(tmp_path / "serve")
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id long, g string, v string"
    )
    sinks.write_partitioned(df, F.col("g"), t)
    assert spark.read.parquet(str(tmp_path / "serve") + "/data").count() == 2
    with pytest.raises(NotImplementedError, match="atomic directory"):
        sinks.write_partitioned(df, F.col("g"), "s3://bucket/serve")


def test_open_table_dispatch_over_file_uri(spark, tmp_path):
    """VERDICT r8 task 2: the unified open_table/table_format entry
    point must dispatch on a filesystem URI, not only a POSIX mount —
    the last lakehouse door that only opened locally. Real tables,
    every path spelled file://."""
    from dataset_grouper_spark import sources

    mk = lambda rows: spark.createDataFrame(
        rows, "id long, v string"
    ).coalesce(1)
    d = _uri(tmp_path, "disp_d")
    delta.delta_append(spark, mk([(1, "a")]), d)
    h = _uri(tmp_path, "disp_h")
    hudi.hudi_insert(spark, mk([(2, "b")]), h, record_key="id")
    i = _uri(tmp_path, "disp_i")
    iceberg.iceberg_append(spark, mk([(3, "c")]), i)
    s = _uri(tmp_path, "disp_s")
    snap.snapshot_write(mk([(4, "d")]), s)
    p = _uri(tmp_path, "disp_p")
    mk([(5, "e")]).write.parquet(p)
    expect = {
        d: ("delta", (1, "a")),
        h: ("hudi", (2, "b")),
        i: ("iceberg", (3, "c")),
        s: ("snapshots", (4, "d")),
        p: ("parquet", (5, "e")),
    }
    for path, (fmt, row) in expect.items():
        assert sources.table_format(path) == fmt, path
        got = [
            (r["id"], r["v"])
            for r in sources.open_table(spark, path).collect()
        ]
        assert got == [row], path


def test_table_format_sniff_on_mock_filesystem(mock_fs):
    """Format sniffing is marker-only metadata: it must work against a
    backend with no local fast path at all, without reading data."""
    from dataset_grouper_spark import sources

    fs.makedirs("mock://fd/_delta_log")
    fs.makedirs("mock://fh/.hoodie")
    fs.makedirs("mock://fi/metadata")
    fs.write_text("mock://fi/metadata/v1.metadata.json", "{}")
    fs.makedirs("mock://fs/_snapshots")
    fs.makedirs("mock://fp")
    fs.write_bytes("mock://fp/part-0.parquet", b"PAR1")
    # a metadata/ dir WITHOUT *.metadata.json is not Iceberg
    fs.makedirs("mock://fx/metadata")
    assert sources.table_format("mock://fd") == "delta"
    assert sources.table_format("mock://fh") == "hudi"
    assert sources.table_format("mock://fi") == "iceberg"
    assert sources.table_format("mock://fs") == "snapshots"
    assert sources.table_format("mock://fp") == "parquet"
    assert sources.table_format("mock://fx") == "parquet"
    # tar shards alone -> webdataset; but a STRAY tarball (backup,
    # export) inside a parquet dataset dir must NOT misroute the
    # directory into the tar reader (ADVICE r10)
    fs.makedirs("mock://fw")
    fs.write_bytes("mock://fw/shard-00000.tar", b"x")
    assert sources.table_format("mock://fw") == "webdataset"
    fs.makedirs("mock://fpt")
    fs.write_bytes("mock://fpt/part-0.parquet", b"PAR1")
    fs.write_bytes("mock://fpt/backup.tar.gz", b"x")
    assert sources.table_format("mock://fpt") == "parquet"
    fs.makedirs("mock://fqt")
    fs.write_bytes("mock://fqt/data.parquet", b"PAR1")
    fs.write_bytes("mock://fqt/export.tar", b"x")
    assert sources.table_format("mock://fqt") == "parquet"


@pytest.mark.parametrize(
    "path, want",
    [
        ("file:/a", "/a"),
        ("file:///a", "/a"),
        ("/a", "/a"),
        ("s3://b/k/x.parquet", "/b/k/x.parquet"),
        ("hdfs://nn:8020/t/f", "/nn:8020/t/f"),
    ],
)
def test_norm_path_twins_agree(spark, path, want):
    """The Python normalizer and its Column twin map every spelling of
    a file's location to the same join key."""
    got = (
        spark.createDataFrame([(path,)], "p string")
        .select(fs.norm_path_col(F.col("p")).alias("n"))
        .first()["n"]
    )
    assert fs.norm_path(path) == got == want
