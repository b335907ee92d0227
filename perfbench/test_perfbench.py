"""Tests of the benchmark itself: span arithmetic, the percentile
helper, the generator's ground truth, and a tiny end-to-end run of
each workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def test_union_length_merges_overlaps_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (10.0, 12.0)]
    assert spans.union_length(iv, 0.0, 20.0) == pytest.approx(3.0 + 1.0 + 2.0)
    # clipped to the window: [1, 3] from the first pair, [5, 5.5]
    assert spans.union_length(iv, 1.0, 5.5) == pytest.approx(2.0 + 0.5)
    assert spans.union_length(iv, 3.5, 4.5) == 0.0
    assert spans.union_length([], 0.0, 1.0) == 0.0


def test_attribute_splits_wall_into_driver_and_jvm_busy():
    span_list = [("a", 0.0, 10.0), ("b", 10.0, 14.0)]
    # (submit, end, tasks): two overlapping jobs in a, one job that
    # starts in a and ends in b, one job wholly in b
    jobs = [(1.0, 3.0, 4), (2.0, 4.0, 2), (9.0, 11.0, 1), (12.0, 13.0, 8)]
    # (submit, shuffle bytes, spill bytes, cpu ns)
    stages = [(1.0, 2e6, 0, 1e9), (12.0, 1e6, 5e5, 3e9)]
    a, b = spans.attribute(span_list, jobs, stages)
    assert a["jvm_busy_s"] == pytest.approx(3.0 + 1.0)
    assert a["driver_s"] == pytest.approx(6.0)
    assert a["own_busy_s"] == pytest.approx(3.0 + 2.0)
    assert (a["jobs"], a["tasks"]) == (3, 7)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert b["jvm_busy_s"] == pytest.approx(1.0 + 1.0)
    assert b["driver_s"] == pytest.approx(2.0)
    assert b["own_busy_s"] == pytest.approx(1.0)
    assert (b["jobs"], b["tasks"]) == (1, 8)
    assert (b["spill_mb"], b["task_cpu_s"]) == (pytest.approx(0.5), pytest.approx(3.0))
    calls = spans.per_call([a, b, {**b, "name": "a"}])
    assert calls["a"]["calls"] == 2
    assert calls["a"]["jobs"] == pytest.approx(2.0)


def test_attribute_counts_a_job_submitted_in_the_spans_first_millisecond():
    # the status store truncates 0.1004 to 0.100
    (row,) = spans.attribute([("a", 0.1004, 1.0)], [(0.100, 0.5, 1)], [])
    assert row["jobs"] == 1


def test_reconcile_holds_when_each_job_stays_in_its_span():
    span_list = [("a", 0.0, 10.0), ("b", 10.0, 14.0)]
    # the last job runs between the spans, e.g. an output check
    jobs = [(1.0, 3.0, 4), (2.0, 4.0, 2), (11.0, 13.0, 8), (14.5, 15.0, 1)]
    rows = spans.attribute(span_list, jobs, [])
    assert spans.reconcile(rows) == pytest.approx(0.0)


def test_reconcile_fails_when_a_job_outlives_its_span():
    # submitted in a, still running for 2 s of b's 4 s: a's counters
    # hold 2 s that are not in its wall time, and b's wall time holds
    # 2 s of a job that b does not count
    rows = spans.attribute([("a", 0.0, 10.0), ("b", 10.0, 14.0)], [(9.0, 12.0, 1)], [])
    assert spans.reconcile(rows) == pytest.approx(4.0 / 14.0)


def test_reconcile_fails_when_a_job_escapes_every_span():
    # submitted between the spans (say by a helper thread), running
    # into b: no span counts it, yet it takes 3 s of b's wall time
    rows = spans.attribute([("a", 0.0, 5.0), ("b", 6.0, 10.0)], [(5.5, 9.0, 1)], [])
    assert rows[1]["jobs"] == 0
    assert spans.reconcile(rows) == pytest.approx(3.0 / 9.0)


def test_tracer_records_spans_and_its_own_cost():
    tr = spans.Tracer(True)
    with tr.span("x"):
        time.sleep(0.01)
    ((name, t0, t1),) = tr.spans
    assert name == "x" and t1 - t0 >= 0.01
    assert 0 < tr.self_s < 0.001
    off = spans.Tracer(False)
    with off.span("y"):
        pass
    assert off.spans == [] and off.self_s == 0


def test_cycle_time_takes_each_ops_median_over_iterations():
    from workloads import Run

    r = Run(spans.Tracer(False))
    # the third iteration ran under a burst of load
    for write, read in ((2.0, 1.0), (2.2, 1.1), (9.0, 5.0)):
        for name, dt in (("write", write), ("read", read)):
            r.op_iter_s[name].append(dt)
        r.iterations += 1
        r.rows += 100
    assert r.cycle_s() == pytest.approx(2.2 + 1.1)
    assert r.rows_per_s() == pytest.approx(100 / 3.3)


def test_summary_reports_the_highest_percentile_with_ten_samples_beyond():
    assert spans.summary([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = spans.summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == pytest.approx(49.5)
    assert set(s) == {"n", "p50", "p90"}
    assert s["p90"] == pytest.approx(89.1)
    assert "p99" in spans.summary([0.0] * 1000)
    assert spans.percentile([1.0, 3.0], 50) == 2.0


def test_partition_truth_matches_a_row_by_row_cap(tmp_path):
    m = gen.generate("partition", 5, str(tmp_path), "tiny")
    import pyarrow.parquet as pq

    df = pq.read_table(m["files"]["docs"]).to_pandas().sort_values("doc_id")
    limit = m["truth"]["limit"]
    kept: dict[str, list[int]] = {}
    total: dict[str, int] = {}
    for doc_id, url, text in zip(df.doc_id, df.url, df.text):
        g = url.split("/")[2]
        size = 8 + len(url.encode()) + len(text.encode())
        ids = kept.setdefault(g, [])
        if size >= limit:  # never admissible, so it adds nothing
            continue
        # the running sum covers every admissible row, kept or not: the
        # cap keeps a prefix, never a later row that would still fit
        total[g] = total.get(g, 0) + size
        if total[g] < limit:
            ids.append(int(doc_id))
    for g, (n, n_kept, words, id_sum) in m["truth"]["groups"].items():
        assert n_kept == len(kept[g]) and id_sum == sum(kept[g])
        rows = df[df.url.str.split("/").str[2] == g]
        assert n == len(rows)
        assert words == sum(len(t.split(" ")) + 1 for t in rows.text)
    assert m["truth"]["order"] == sorted(
        m["truth"]["groups"], key=lambda g: gen.shuffle_rank(5, g)
    )


def test_lakehouse_truth_grows_by_half_a_batch_per_round(tmp_path):
    m = gen.generate("lakehouse_cdc", 2, str(tmp_path), "tiny")
    t = m["truth"]
    for r, want in enumerate(t["rounds"], start=1):
        assert want[0] == t["base"] + r * t["batch"] // 2


def test_same_seed_same_inputs(tmp_path):
    a = gen.generate("partition", 9, str(tmp_path / "a"), "tiny")
    b = gen.generate("partition", 9, str(tmp_path / "b"), "tiny")
    assert a["truth"] == b["truth"]
    c = gen.generate("partition", 10, str(tmp_path / "c"), "tiny")
    assert c["truth"] != a["truth"]


def test_benchmark_json_names_the_metrics_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    want = {
        f"{call}.{c}": spans.COUNTER_UNITS[c]
        for call in run.TRACED_CALLS for c in spans.COUNTERS
    }
    want.update({"streaming.delta_lite.first_trigger_s": "s",
                 "streaming.delta_lite.trigger_s": "s"})
    assert layer == want
    assert {w["name"] for w in bench["workloads"]} == set(gen.WORKLOADS)


def test_without_the_library_the_run_fails_and_prints_no_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "partition",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload,trace", [
    ("partition", 1), ("lakehouse_cdc", 1), ("lakehouse_cdc", 0),
])
def test_tiny_run_of_each_workload(workload, trace):
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    out, _ = p.communicate(timeout=600)
    assert p.returncode == 0, out[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    if trace:
        assert len(res["metrics"]) == 7 * len(run.TRACED_CALLS) + 2
        assert "trace_reconcile_gap" in out and "tracing_overhead" in out
        # every traced call ran and was spanned
        calls = [m[:-len(".wall_s")] for m in res["metrics"] if m.endswith(".wall_s")]
        done = [c for c in calls if res["metrics"][f"{c}.wall_s"]["value"] > 0]
        assert len(done) == {"partition": 9, "lakehouse_cdc": 9}[workload]
    else:
        assert set(res["metrics"]) == set(run.END_TO_END)
        assert all(m["value"] > 0 for m in res["metrics"].values())
    # the run removed everything it wrote
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work", f"{workload}-{p.pid}"))
