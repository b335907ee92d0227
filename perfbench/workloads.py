"""The closed-loop workloads and their output checks.

Each workload has ``prepare_steps`` (program-side set-up, counted in
``setup_s``) and ``steps``, the independent parts of one closed-loop
iteration: ``iteration`` runs them one after the other, and the next
iteration starts only after it returns. Every library call runs inside
``Run.op``, which times it, wraps it in a layer span and counts it as
an attempted operation; a call that raises, or whose output does not
match the generator's ground truth, counts as failed.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F

from dataset_grouper_spark import keys
from dataset_grouper_spark.loader import PartitionedDataset

import gen


class OpFailed(Exception):
    """A library call raised; the iteration cannot continue."""


class Run:
    """Counters of one measured pass."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rows = 0
        self.iterations = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        # per op name, its total time in each finished iteration
        self.op_iter_s: dict[str, list[float]] = defaultdict(list)
        self._iter_s: dict[str, float] = defaultdict(float)
        self.write_amp: list[float] = []
        self._op_ok = True

    @contextmanager
    def op(self, name: str, sample: str | None = None):
        """One library call: span, timing, attempt count."""
        self.attempted += 1
        self._op_ok = True
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        except Exception as exc:
            self._fail(f"{name}: {type(exc).__name__}: {exc}"[:500])
            raise OpFailed(name) from exc
        finally:
            dt = time.perf_counter() - t0
            self._iter_s[name] += dt
            if sample:
                self.samples[sample].append(dt)

    def end_iteration(self, rows: int) -> None:
        """Close one iteration that processed ``rows`` input rows."""
        self.iterations += 1
        self.rows += rows
        for name, dt in self._iter_s.items():
            self.op_iter_s[name].append(dt)
        self._iter_s.clear()

    def cycle_s(self) -> float:
        """Op time of a typical iteration: the sum over ops of each
        op's median time per iteration, so that a burst of load on the
        host that slows one or two iterations does not move it."""
        return sum(statistics.median(v) for v in self.op_iter_s.values())

    def rows_per_s(self) -> float:
        if not self.iterations:
            return 0.0
        return self.rows / self.iterations / self.cycle_s()

    def check(self, ok: bool, what: str) -> None:
        """Output check of the most recent operation."""
        if not ok:
            self._fail(what)

    def _fail(self, what: str) -> None:
        if self._op_ok:
            self.failed += 1
            self._op_ok = False
        self.failures.append(what)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def table_checksum(df) -> list[int]:
    """Spark twin of ``gen.lakehouse_checksum``."""
    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.col("id") * 1_000_003 + F.col("val")),
        F.sum(F.col("day") * F.col("id")),
        F.sum(F.length("text")),
    ).first()
    return [int(x or 0) for x in r]


class Workload:
    #: end-to-end sample series this workload reports besides the
    #: common metrics: name -> (sample key, scale, unit)
    extra: dict = {}

    def __init__(self, spark, manifest: dict, work: str, nproc: int):
        self.spark = spark
        self.m = manifest
        self.t = manifest["truth"]
        self.files = manifest["files"]
        self.work = work
        os.makedirs(work, exist_ok=True)
        self.nproc = nproc
        self.n_iter = 0

    def prepare_steps(self) -> list:
        """Program-side set-up, as independent callables."""
        return []

    def prepare(self) -> None:
        for step in self.prepare_steps():
            step()

    #: input rows one iteration processes
    rows_per_iteration = 0

    def steps(self) -> list:
        """The next iteration's parts, as callables taking a ``Run``.
        They share no state, so set-up may also run them at once."""
        raise NotImplementedError

    def iteration(self, run: Run) -> None:
        for step in self.steps():
            step(run)
        run.end_iteration(self.rows_per_iteration)

    def exhausted(self) -> bool:
        return False

    def scratch(self, name: str) -> str:
        return os.path.join(self.work, f"it{self.n_iter}_{name}")


class Partition(Workload):
    """The paper's pipeline with the LLM-data operators beside it.
    Curation: near-duplicate clusters over a document shard with
    planted duplicates, and IVF kNN over embeddings with planted
    neighbours. Then, on a corpus with Zipf-skewed domain keys, the
    write path (byte-capped bucketed write, group counts, TFRecords) and
    the read path (seeded-shuffle cohorts from several resume points,
    and one bulk epoch)."""

    extra = {
        "first_cohort_s": ("first_cohort", 1.0, "s"),
        "cohort_p50_ms": ("cohort_wait", 1e3, "ms"),
        "dup_recall": ("dup_recall", 1.0, "fraction"),
        "knn_recall": ("knn_recall", 1.0, "fraction"),
    }
    # quality floors: a change that trades recall for speed fails
    DUP_RECALL_MIN = 0.8
    KNN_RECALL_MIN = 0.8

    def __init__(self, *a):
        super().__init__(*a)
        read = self.spark.read.parquet
        self.docs = read(self.files["docs"])
        self.dedup_docs = read(self.files["dedup"])
        self.corpus = read(self.files["corpus"])
        self.queries = read(self.files["queries"])
        self.key = keys.url_domain("url")
        self.docs_bytes = os.path.getsize(self.files["docs"])
        c = self.t["curate"]
        self.rows_per_iteration = self.t["rows"] + c["docs"] + c["vectors"]
        # group_stream pulls ``cohorts`` cohorts of two groups from each
        # of ``resumes`` evenly spaced skip points
        self.cohorts, resumes = self.m["sizes"]["cohorts"], self.m["sizes"]["resumes"]
        n, span = len(self.t["order"]), 2 * self.cohorts
        self.resumes = [min(i * n // resumes, max(n - span, 0)) for i in range(resumes)]

    def steps(self) -> list:
        return [self._dedup, self._knn,
                lambda run: self._read_back(run, self._write(run))]

    def _dedup(self, run: Run) -> None:
        from dataset_grouper_spark.operators.dedup import cluster_near_dups

        t = self.t["curate"]
        with run.op("operators.dedup.cluster_near_dups"):
            cl = cluster_near_dups(self.dedup_docs, "text", "doc_id").toPandas()
        n = t["docs"]
        run.check(
            len(cl) == n and cl.doc_id.nunique() == n and cl.cluster_id.notna().all(),
            "curate: not every doc has exactly one cluster id",
        )
        cid = dict(zip(cl.doc_id, cl.cluster_id))
        pairs = hit = 0
        for members in t["dup_clusters"]:
            for i, a in enumerate(members):
                for b in members[i + 1:]:
                    pairs += 1
                    hit += cid.get(a) == cid.get(b)
        recall = hit / pairs if pairs else 1.0
        run.samples["dup_recall"].append(recall)
        run.check(recall >= self.DUP_RECALL_MIN, f"curate: dup_recall {recall:.3f}")

    def _knn(self, run: Run) -> None:
        from dataset_grouper_spark.operators.similarity import ivf_topk

        t = self.t["curate"]
        with run.op("operators.similarity.ivf_topk"):
            nn = ivf_topk(
                self.corpus, self.queries, "vec", "vec_id", "qid", k=10
            ).select("query_id", "neighbor_id").toPandas()
        got = nn.groupby("query_id").neighbor_id.apply(set).to_dict()
        run.check(
            len(got) == t["queries"] and all(len(v) == 10 for v in got.values()),
            "curate: not every query has exactly 10 neighbours",
        )
        found = sum(len(got.get(int(q), set()) & set(want)) for q, want in t["knn"].items())
        recall = found / (10 * t["queries"])
        run.samples["knn_recall"].append(recall)
        run.check(recall >= self.KNN_RECALL_MIN, f"curate: knn_recall {recall:.3f}")

    def _write(self, run: Run) -> PartitionedDataset:
        from dataset_grouper_spark.compat.tfrecord import read_grouped_tfrecords
        from dataset_grouper_spark.pipelines import tfds_group_counts, tfds_to_tfrecords
        from dataset_grouper_spark.sinks import write_partitioned

        truth, limit = self.t["groups"], self.t["limit"]
        kept = {g: v[1] for g, v in truth.items() if v[1] > 0}

        ds_path = self.scratch("dataset")
        with run.op("sinks.write_partitioned"):
            write_partitioned(
                self.docs, self.key, ds_path, order_col="doc_id", limit=limit,
                layout="bucketed", num_buckets=4 * self.nproc,
            )
        ds = PartitionedDataset(self.spark, ds_path)
        idx = ds.group_index().toPandas()
        run.check(
            dict(zip(idx.group_id, idx.num_examples)) == kept,
            "partition: group index differs from the capped counts",
        )

        csv_path = self.scratch("counts")
        with run.op("pipelines.tfds_group_counts"):
            tfds_group_counts(self.docs, csv_path, self.key)
        counts = pd.concat(
            pd.read_csv(f, keep_default_na=False)
            for f in sorted(glob.glob(f"{csv_path}/part-*"))
        )
        run.check(
            int(counts.num_examples.sum()) == self.t["rows"],
            "partition: group counts do not sum to the input rows",
        )
        got = {
            g: [int(n), int(w)]
            for g, n, w in zip(counts.group_id, counts.num_examples, counts.num_words)
        }
        run.check(
            got == {g: [v[0], v[2]] for g, v in truth.items()},
            "partition: per-group counts or words differ",
        )

        prefix = os.path.join(self.scratch("tfrecords"), "docs.tfrecord")
        with run.op("pipelines.tfds_to_tfrecords"):
            paths = tfds_to_tfrecords(
                self.docs, prefix, self.key, order_col="doc_id", limit=limit
            )
        with run.op("compat.tfrecord.read_grouped_tfrecords"):
            sizes = [len(blobs) for blobs in read_grouped_tfrecords(paths)]
        run.check(
            sorted(sizes) == sorted(kept.values()),
            "partition: TFRecord payload counts differ from the capped counts",
        )
        out = dir_bytes(ds_path) + dir_bytes(csv_path) + dir_bytes(os.path.dirname(prefix))
        run.write_amp.append(out / self.docs_bytes)
        return ds

    def _expected(self, gids) -> list[tuple]:
        """(gid, rows kept, sum of kept doc_ids) per group, as the
        consumer should receive them."""
        g = self.t["groups"]
        return [(x, g[x][1], g[x][3]) for x in gids]

    def _read_back(self, run: Run, ds: PartitionedDataset) -> None:
        seed, order = self.m["seed"], self.t["order"]
        with run.op("loader.list_groups"):
            ids = ds.list_groups(shuffle=True, seed=seed)
        run.check(ids == order, "partition: shuffled order differs from md5(seed:gid)")

        # One span per stream, from creating the iterator to its end:
        # the prefetch threads submit jobs between the consumer's
        # next() calls, and those jobs belong to the stream.
        for skip in self.resumes:
            got = []
            with run.op("loader.group_stream"):
                t0 = time.perf_counter()
                it = ds.group_stream(
                    shuffle=True, seed=seed, skip=skip, take=2 * self.cohorts,
                    batch_groups=2, prefetch=2,
                )
                t_wait = t0
                for cohort in it:
                    now = time.perf_counter()
                    if t_wait == t0:
                        run.samples["first_cohort"].append(now - t0)
                    run.samples["cohort_wait"].append(now - t_wait)
                    got += [(g, len(pdf), int(pdf.doc_id.sum())) for g, pdf in cohort]
                    t_wait = time.perf_counter()
            run.check(
                got == self._expected(order[skip:skip + 2 * self.cohorts]),
                f"partition: cohorts from skip={skip} differ from the capped truth",
            )

        got = []
        with run.op("loader.iter_groups_bulk"):
            for gid, pdf in ds.iter_groups_bulk(
                columns=["doc_id"], spill_dir=self.scratch("bulk")
            ):
                got.append((gid, len(pdf), int(pdf.doc_id.sum())))
        run.check(
            sorted(got) == sorted(self._expected(order)),
            "partition: bulk epoch differs from the capped truth",
        )


class LakehouseCDC(Workload):
    """CDC rounds applied to four tables of one base: a Delta merge, an
    Iceberg upsert, a Hudi upsert and an upsert into the serving
    layout, each read back and checked. The raw batch is also appended
    to a Delta log, which a new availableNow delta_lite stream drains
    from the appended version; a new stream per round makes every round
    alike, and stream start-up is part of the cost measured."""

    extra = {
        "commit_p50_ms": ("commit", 1e3, "ms"),
        "drain_p50_s": ("drain", 1.0, "s"),
    }
    TABLES = ("delta", "iceberg", "hudi", "serving")

    def __init__(self, *a):
        from dataset_grouper_spark.streaming.delta_source import DeltaLiteDataSource

        super().__init__(*a)
        self.spark.dataSource.register(DeltaLiteDataSource)
        self.round = 0
        self.rows_per_iteration = self.t["batch"]
        self.in_bytes = os.path.getsize(self.files["base"])
        self.paths = {k: os.path.join(self.work, k) for k in self.TABLES + ("log",)}

    def prepare_steps(self) -> list:
        from dataset_grouper_spark.sinks import write_partitioned
        from dataset_grouper_spark.sources.delta import delta_append
        from dataset_grouper_spark.sources.hudi import hudi_insert
        from dataset_grouper_spark.sources.iceberg import iceberg_append

        s, p = self.spark, self.paths
        base = s.read.parquet(self.files["base"])
        return [
            lambda: delta_append(s, base, p["delta"], partition_by=["day"]),
            lambda: iceberg_append(s, base, p["iceberg"]),
            lambda: hudi_insert(s, base, p["hudi"], record_key="id", partition_by=["day"]),
            lambda: write_partitioned(base, keys.by_feature("day"), p["serving"]),
        ]

    def exhausted(self) -> bool:
        return self.round >= len(self.t["rounds"])

    def _drain(self, run: Run, version: int) -> str:
        """Drain the log from ``version`` into a parquet sink; returns
        the sink path."""
        sink = self.scratch("sink")
        with run.op("streaming.delta_lite", "drain"):
            t0 = time.time()
            q = (
                self.spark.readStream.format("delta_lite")
                .option("path", self.paths["log"])
                .option("startingVersion", str(version))
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", self.scratch("ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("delta_lite drain did not finish in 120 s")
            if q.exception() is not None:
                raise RuntimeError(f"delta_lite drain failed: {q.exception()}")
            progress = q.recentProgress
        rows_in = sum(pr["numInputRows"] for pr in progress)
        run.check(rows_in == self.t["batch"], f"lakehouse: drain read {rows_in} rows")
        if progress:
            run.samples["first_trigger"].append(
                min(_epoch(pr["timestamp"]) for pr in progress) - t0
            )
            run.samples["trigger"].extend(
                pr["durationMs"].get("triggerExecution", 0) / 1e3 for pr in progress
            )
        return sink

    def steps(self) -> list:
        r, s = self.round, self.spark
        self.round += 1
        batch_path = self.files[f"cdc_{r:03d}"]
        self.in_bytes += os.path.getsize(batch_path)
        batch = s.read.parquet(batch_path)
        return [
            lambda run, t=t: self._upsert(run, t, r, batch) for t in self.TABLES
        ] + [lambda run: self._log(run, batch)]

    def iteration(self, run: Run) -> None:
        super().iteration(run)
        out = sum(dir_bytes(self.paths[k]) for k in self.TABLES)
        run.write_amp.append(out / (len(self.TABLES) * self.in_bytes))

    def _upsert(self, run: Run, table: str, r: int, batch) -> None:
        """Apply CDC round ``r`` to ``table``, read it back and check it."""
        from dataset_grouper_spark.sinks import upsert_partitioned
        from dataset_grouper_spark.sources.delta import delta_merge, read_delta
        from dataset_grouper_spark.sources.hudi import hudi_upsert, read_hudi
        from dataset_grouper_spark.sources.iceberg import iceberg_upsert, read_iceberg

        s, path = self.spark, self.paths[table]
        write_name, write, read_name, read = {
            "delta": ("sources.delta.delta_merge",
                      lambda: delta_merge(s, batch, path, on=["id"]),
                      "sources.delta.read_delta", lambda: read_delta(s, path)),
            "iceberg": ("sources.iceberg.iceberg_upsert",
                        lambda: iceberg_upsert(s, batch, path, on=["id"]),
                        "sources.iceberg.read_iceberg", lambda: read_iceberg(s, path)),
            "hudi": ("sources.hudi.hudi_upsert", lambda: hudi_upsert(s, batch, path),
                     "sources.hudi.read_hudi", lambda: read_hudi(s, path)),
            "serving": ("sinks.upsert_partitioned",
                        lambda: upsert_partitioned(s, batch, keys.by_feature("day"), path, "id"),
                        "loader.dataframe", lambda: PartitionedDataset(s, path).dataframe()),
        }[table]
        with run.op(write_name, "commit"):
            write()
        with run.op(read_name):
            got = table_checksum(read())
        want = self.t["rounds"][r]
        run.check(got == want, f"lakehouse: {read_name} snapshot {got} != {want}")

    def _log(self, run: Run, batch) -> None:
        """Append the raw batch to the log and drain it with a stream."""
        from dataset_grouper_spark.sources.delta import delta_append

        with run.op("sources.delta.delta_append", "commit"):
            version = delta_append(self.spark, batch, self.paths["log"])
        n_sink = self.spark.read.parquet(self._drain(run, version)).count()
        run.check(n_sink == self.t["batch"], f"lakehouse: stream sink has {n_sink} rows")


def _epoch(ts: str) -> float:
    """A StreamingQueryProgress timestamp (ISO-8601, UTC) as epoch s."""
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "partition": Partition,
    "lakehouse_cdc": LakehouseCDC,
}
assert set(WORKLOADS) == set(gen.WORKLOADS)


def cleanup(work: str) -> None:
    """Remove finished iterations' outputs (``Workload.scratch`` dirs)."""
    for entry in os.listdir(work):
        if entry.startswith("it"):
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
