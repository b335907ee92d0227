"""hudi_lite Python data source: batch + streaming timeline tailing,
insert/overwrite writes, exactly-once streaming sink."""

import os

import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark.sources.hudi import (
    hudi_insert,
    hudi_upsert,
    read_hudi,
)
from dataset_grouper_spark.streaming.hudi_source import HudiLiteDataSource


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(HudiLiteDataSource)
    return spark


def _tbl(spark, tmp_path, name="tbl"):
    t = str(tmp_path / name)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    for i in range(2):  # instant 1 = even ids, instant 2 = odd ids
        hudi_insert(
            spark, df.filter(F.col("id") % 2 == i).coalesce(2), t, "id"
        )
    return t


class TestBatch:
    def test_matches_read_hudi(self, registered, tmp_path):
        spark = registered
        t = _tbl(spark, tmp_path)
        got = spark.read.format("hudi_lite").option("path", t).load()
        assert got.columns == ["id", "v"]
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in read_hudi(spark, t).collect()
        }

    def test_upserted_table_serves_latest_slices(self, registered, tmp_path):
        spark = registered
        t = _tbl(spark, tmp_path)
        hudi_upsert(
            spark,
            spark.createDataFrame([(0, -1)], "id long, v long"),
            t,
        )
        got = spark.read.format("hudi_lite").option("path", t).load()
        assert got.count() == 100
        assert got.filter("id = 0").collect()[0]["v"] == -1


class TestStream:
    def _run_available(self, spark, t, ckpt, out, starting=None):
        reader = spark.readStream.format("hudi_lite").option("path", t)
        if starting is not None:
            reader = reader.option("startingInstant", starting)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_tail_and_resume(self, registered, tmp_path):
        spark = registered
        t = _tbl(spark, tmp_path)
        ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
        self._run_available(spark, t, ckpt, out)
        ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert ids == list(range(100))
        hudi_insert(
            spark,
            spark.range(100, 120).withColumn("v", F.col("id") * 2),
            t,
            "id",
        )
        self._run_available(spark, t, ckpt, out)
        ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert ids == list(range(120))
        # no new instants: exactly-once replays nothing
        self._run_available(spark, t, ckpt, out)
        assert spark.read.parquet(out).count() == 120

    def test_starting_instant_skips_history(self, registered, tmp_path):
        spark = registered
        t = _tbl(spark, tmp_path)
        first = sorted(
            ts
            for ts, a, s in __import__(
                "dataset_grouper_spark.sources.hudi", fromlist=["x"]
            ).hudi_timeline(t)
            if s == "completed"
        )[0]
        ckpt, out = str(tmp_path / "c2"), str(tmp_path / "o2")
        self._run_available(spark, t, ckpt, out, starting=first)
        ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert ids == list(range(1, 100, 2))  # only the second insert

    def test_upsert_commit_raises(self, registered, tmp_path):
        spark = registered
        t = _tbl(spark, tmp_path)
        ckpt, out = str(tmp_path / "c3"), str(tmp_path / "o3")
        self._run_available(spark, t, ckpt, out)
        hudi_upsert(
            spark, spark.createDataFrame([(0, -1)], "id long, v long"), t
        )
        with pytest.raises(Exception, match="append-only"):
            self._run_available(spark, t, ckpt, out)


class TestWrite:
    def test_write_creates_and_appends(self, registered, tmp_path):
        spark = registered
        t = str(tmp_path / "wtbl")
        df = spark.range(50).withColumn("v", F.col("id") * 2)
        (
            df.write.format("hudi_lite")
            .mode("append")
            .option("path", t)
            .option("recordKey", "id")
            .save()
        )
        assert read_hudi(spark, t).count() == 50
        spark.range(50, 60).withColumn("v", F.col("id") * 2).write.format(
            "hudi_lite"
        ).mode("append").option("path", t).save()
        got = read_hudi(spark, t)
        assert sorted(r["id"] for r in got.collect()) == list(range(60))

    def test_write_overwrite_is_replacecommit(self, registered, tmp_path):
        from dataset_grouper_spark.sources.hudi import hudi_timeline

        spark = registered
        t = str(tmp_path / "wtbl2")
        spark.range(30).withColumn("v", F.lit("a")).write.format(
            "hudi_lite"
        ).mode("append").option("path", t).option("recordKey", "id").save()
        pre = max(
            ts for ts, _a, s in hudi_timeline(t) if s == "completed"
        )
        spark.range(5).withColumn("v", F.lit("b")).write.format(
            "hudi_lite"
        ).mode("overwrite").option("path", t).save()
        got = read_hudi(spark, t)
        assert got.count() == 5
        assert {r["v"] for r in got.collect()} == {"b"}
        # time travel to the pre-overwrite instant still sees 30 rows
        assert read_hudi(spark, t, as_of=pre).count() == 30
        actions = {a for _ts, a, s in hudi_timeline(t) if s == "completed"}
        assert "replacecommit" in actions

    def test_write_partitioned(self, registered, tmp_path):
        spark = registered
        t = str(tmp_path / "wtbl3")
        df = spark.range(40).withColumn(
            "lang", F.when(F.col("id") % 2 == 0, "en").otherwise("de")
        )
        (
            df.repartition(2, "lang")
            .write.format("hudi_lite")
            .mode("append")
            .option("path", t)
            .option("recordKey", "id")
            .option("partitionBy", "lang")
            .save()
        )
        got = read_hudi(spark, t)
        assert got.count() == 40
        assert got.filter("lang = 'en'").count() == 20
        assert os.path.isdir(os.path.join(t, "lang=en"))

    def test_stream_write_exactly_once(self, registered, tmp_path):
        spark = registered
        src = str(tmp_path / "src")
        t = str(tmp_path / "stbl")
        spark.range(40).withColumn("v", F.col("id") * 2).write.parquet(src)
        batch = spark.read.parquet(src)

        def drain(ckpt, app):
            q = (
                spark.readStream.schema(batch.schema).parquet(src)
                .writeStream.format("hudi_lite")
                .option("path", t)
                .option("recordKey", "id")
                .option("checkpointLocation", str(tmp_path / ckpt))
                .option("epochAppId", app)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain("c1", "app1")
        assert read_hudi(spark, t).count() == 40
        # fresh checkpoint, same appId: every epoch replays and no-ops
        drain("c2", "app1")
        assert read_hudi(spark, t).count() == 40
        # a different appId is a genuinely new writer
        drain("c3", "app2")
        assert read_hudi(spark, t).count() == 80
        # no orphan staging files (placeholder-instant leftovers)
        import glob as _glob

        leftovers = [
            p
            for p in _glob.glob(os.path.join(t, "*.parquet"))
            if os.path.basename(p).split("_")[2].startswith("0")
        ]
        assert leftovers == []


class TestWriteGuards:
    def test_record_key_contradiction_raises(self, registered, tmp_path):
        """ADVICE r7: a recordKey option that contradicts the existing
        table's key must raise, matching the partitionBy behavior."""
        spark = registered
        t = str(tmp_path / "wtbl_key")
        spark.range(5).withColumn("v", F.lit("a")).write.format(
            "hudi_lite"
        ).mode("append").option("path", t).option("recordKey", "id").save()
        with pytest.raises(Exception, match="record key"):
            spark.range(5, 8).withColumn("v", F.lit("b")).write.format(
                "hudi_lite"
            ).mode("append").option("path", t).option(
                "recordKey", "v"
            ).save()

    def test_stream_raises_on_insert_overwrite_replacecommit(
        self, registered, tmp_path
    ):
        """ADVICE r7: a replacecommit that carries write stats (an
        INSERT_OVERWRITE) rewrites history AND inserts rows — the
        append-only stream must raise, not silently drop its data."""
        spark = registered
        t = str(tmp_path / "stbl_ovr")
        ck = str(tmp_path / "ck_ovr")
        out = str(tmp_path / "out_ovr")
        spark.range(10).withColumn("v", F.lit("a")).write.format(
            "hudi_lite"
        ).mode("append").option("path", t).option("recordKey", "id").save()
        spark.range(3).withColumn("v", F.lit("b")).write.format(
            "hudi_lite"
        ).mode("overwrite").option("path", t).save()
        stream = (
            spark.readStream.format("hudi_lite").option("path", t).load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception, match="replacecommit|append-only"):
            q.awaitTermination()


FIX = os.path.join(os.path.dirname(__file__), "fixtures", "foreign")


class TestMorBatch:
    """MoR through the registered format (VERDICT r12 task 1): the
    batch half merges each file slice executor-side under the same
    law as sources.hudi._mor_winners."""

    def test_merged_read_matches_read_hudi(self, registered, tmp_path):
        from dataset_grouper_spark.sources.hudi import (
            hudi_mor_delete,
            hudi_mor_upsert,
        )

        spark = registered
        t = str(tmp_path / "mor")
        df = spark.range(50).withColumn("v", F.col("id") * 2)
        hudi_insert(
            spark, df.coalesce(2), t, "id", table_type="MERGE_ON_READ"
        )
        hudi_mor_upsert(
            spark,
            spark.createDataFrame(
                [(7, -7), (99, -99)], "id long, v long"
            ),
            t,
        )
        hudi_mor_delete(
            spark, spark.createDataFrame([(13,)], "id long"), t
        )
        got = spark.read.format("hudi_lite").option("path", t).load()
        assert {tuple(r) for r in got.collect()} == {
            tuple(r) for r in read_hudi(spark, t).collect()
        }
        assert got.filter("id = 7").collect()[0]["v"] == -7
        assert got.filter("id = 13").count() == 0

    def test_event_time_law_on_foreign_fixture(self, registered):
        """The full _mor_winners law through the format reader: the
        hudi_mor_ordering fixture exercises out-of-order losers,
        too-small/large-enough event-time deletes, and the
        natural-order (orderingVal 0) sentinel + rebirth."""
        spark = registered
        t = os.path.join(FIX, "hudi_mor_ordering")
        got = spark.read.format("hudi_lite").option("path", t).load()
        assert sorted((r.id, r.evt_ts, r.txt) for r in got.collect()) == [
            (1, 300, "NEWEST"),
            (2, 250, "bravo"),
            (4, 10, "reborn"),
        ]

    def test_cross_file_rollback_on_foreign_fixture(self, registered):
        """Rollback COMMAND_BLOCK in a rollover file applies across
        the whole file-group stream (mirrors
        test_hudi_mor_rollover_rollback through the format API)."""
        spark = registered
        t = os.path.join(FIX, "hudi_mor_rollover")
        got = spark.read.format("hudi_lite").option("path", t).load()
        rows = sorted((r.id, r.txt, r.lang) for r in got.collect())
        assert rows == [
            (1, "alpha", "en"),
            (2, "BRAVO!", "en"),
            (9, "juliett", "en"),
        ]
        assert not any("SHOULD_NOT_SURVIVE" in r[1] for r in rows)


class TestMorStream:
    def _drain(self, spark, t, ckpt, out, mode=None):
        reader = spark.readStream.format("hudi_lite").option("path", t)
        if mode:
            reader = reader.option("mode", mode)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "hudi_lite drain did not finish"

    def test_cdc_tail_matches_batch_changes(self, registered, tmp_path):
        """Tail a MoR table across an upsert + a delete block + a
        compaction: the stream equals read_hudi_changes from instant
        0, and compaction contributes nothing."""
        from dataset_grouper_spark.sources.hudi import (
            hudi_compact,
            hudi_mor_delete,
            hudi_mor_upsert,
            read_hudi_changes,
        )

        spark = registered
        t = str(tmp_path / "morcdc")
        hudi_insert(
            spark,
            spark.range(20).withColumn("v", F.col("id") * 2).coalesce(1),
            t,
            "id",
            table_type="MERGE_ON_READ",
        )
        hudi_mor_upsert(
            spark,
            spark.createDataFrame([(3, -3), (77, -77)], "id long, v long"),
            t,
        )
        hudi_mor_delete(
            spark, spark.createDataFrame([(5,)], "id long"), t
        )
        assert hudi_compact(spark, t) is not None
        ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
        self._drain(spark, t, ckpt, out, mode="cdc")
        got = sorted(
            tuple(r) for r in spark.read.parquet(out).collect()
        )
        want = sorted(
            tuple(r)
            for r in read_hudi_changes(
                spark, t, starting_instant="0"
            ).collect()
        )
        assert got == want
        types = {r[0] for r in got}
        assert types == {"insert", "update_postimage", "delete"}
        # resume from checkpoint: nothing new (compaction already
        # skipped; no further commits)
        self._drain(spark, t, ckpt, out, mode="cdc")
        assert spark.read.parquet(out).count() == len(got)

    def test_cdc_resume_across_new_commits(self, registered, tmp_path):
        from dataset_grouper_spark.sources.hudi import hudi_mor_upsert

        spark = registered
        t = str(tmp_path / "morres")
        hudi_insert(
            spark,
            spark.range(5).withColumn("v", F.lit("a")).coalesce(1),
            t,
            "id",
            table_type="MERGE_ON_READ",
        )
        ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
        self._drain(spark, t, ckpt, out, mode="cdc")
        assert spark.read.parquet(out).count() == 5
        hudi_mor_upsert(
            spark,
            spark.createDataFrame([(0, "Z")], "id long, v string"),
            t,
        )
        self._drain(spark, t, ckpt, out, mode="cdc")
        rows = [
            tuple(r)
            for r in spark.read.parquet(out)
            .filter("_change_type = 'update_postimage'")
            .collect()
        ]
        assert len(rows) == 1 and rows[0][1] == "0" and rows[0][4] == "Z"
        assert spark.read.parquet(out).count() == 6

    def test_append_mode_raises_on_log_commit(self, registered, tmp_path):
        from dataset_grouper_spark.sources.hudi import hudi_mor_upsert

        spark = registered
        t = str(tmp_path / "morapp")
        hudi_insert(
            spark,
            spark.range(5).withColumn("v", F.lit("a")).coalesce(1),
            t,
            "id",
            table_type="MERGE_ON_READ",
        )
        hudi_mor_upsert(
            spark,
            spark.createDataFrame([(0, "Z")], "id long, v string"),
            t,
        )
        ckpt = str(tmp_path / "ck")
        with pytest.raises(Exception, match="append-only|cdc"):
            self._drain(spark, t, ckpt, str(tmp_path / "morapp1"))

    def test_cdc_batch_read_rejected(self, registered, tmp_path):
        spark = registered
        t = str(tmp_path / "morrej")
        hudi_insert(
            spark,
            spark.range(3).withColumn("v", F.lit("a")).coalesce(1),
            t,
            "id",
            table_type="MERGE_ON_READ",
        )
        with pytest.raises(Exception, match="STREAMING|read_hudi_changes"):
            spark.read.format("hudi_lite").option("path", t).option(
                "mode", "cdc"
            ).load().collect()

    def test_cdc_foreign_hoodie_log_dialect(self, registered, tmp_path):
        """The CDC stream decodes REAL HoodieLogFormat block framing
        too (the foreign ordering fixture's logs): T1's base files
        surface as inserts, each data block row as a postimage, and
        every DELETE_BLOCK row — event-timed or natural-order — as an
        identity-carrying delete. The stream is a change LOG, so all
        three deletes surface regardless of which ones the merged
        snapshot applies."""
        import shutil as _sh

        spark = registered
        t = str(tmp_path / "ord")
        _sh.copytree(os.path.join(FIX, "hudi_mor_ordering"), t)
        ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
        self._drain(spark, t, ckpt, out, mode="cdc")
        rows = spark.read.parquet(out)
        assert rows.count() == 10  # 4 inserts + 3 postimages + 3 dels
        assert sorted(
            r._change_key
            for r in rows.filter("_change_type = 'delete'").collect()
        ) == ["2", "3", "4"]
        post = {
            (r._change_key, r.txt)
            for r in rows.filter(
                "_change_type = 'update_postimage'"
            ).collect()
        }
        assert post == {
            ("1", "NEWEST"), ("1", "late-old"), ("4", "reborn")
        }
        assert rows.filter("_change_type = 'insert'").count() == 4
