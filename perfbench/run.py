"""Seeded closed-loop benchmark of dataset_grouper_spark.

    python3 perfbench/run.py --workload partition --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. One driver process, one consumer,
``local[nproc]``. The run generates its inputs from ``--seed`` (numpy,
excluded from set-up time), starts the session, warms up on tiny inputs
and prepares (``setup_s`` counts all three, the preparation at the
median of several repeats), then runs the workload's iterations back to
back until ``--seconds`` have passed, checking every output against the
generated ground truth.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
pass with every library call in a span, and reports the per-layer span
counters plus the tracing overhead: the time the tracer spent recording
spans, as a share of the traced calls' time.

Human-readable metric lines go to stdout first; the last line is one
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. The exit code is non-zero when any operation raised or
failed its output check. Everything the run writes lives under
``.perfbench_work/`` in the source tree and is removed before exit.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# far above any run's job count; status_snapshot fails loudly at it
STORE_CAP = 200_000
# how many times set-up repeats the program-side preparation
SETUPS = 2
CONF_PREFIXES = ("spark.master", "spark.sql.", "spark.ui.retained", "spark.local.dir",
                 "spark.driver.memory", "spark.io.compression")

# The end-to-end metrics of BENCHMARK.json, with their units.
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s"}
# The traced calls of BENCHMARK.json's per-layer metrics. A workload
# that does not make a call reports 0 for its counters; calls outside
# this list still appear in the artifact.
TRACED_CALLS = (
    "operators.dedup.cluster_near_dups",
    "operators.similarity.ivf_topk",
    "pipelines.tfds_group_counts",
    "pipelines.tfds_to_tfrecords",
    "compat.tfrecord.read_grouped_tfrecords",
    "sinks.write_partitioned",
    "loader.list_groups",
    "loader.group_stream",
    "loader.iter_groups_bulk",
    "sources.delta.delta_merge",
    "sources.delta.read_delta",
    "sources.iceberg.iceberg_upsert",
    "sources.iceberg.read_iceberg",
    "sources.hudi.hudi_upsert",
    "sources.hudi.read_hudi",
    "sinks.upsert_partitioned",
    "sources.delta.delta_append",
    "streaming.delta_lite",
)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the 8th field of /proc/stat's ``cpu`` line, in clock ticks)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _session(work: str, nproc: int):
    from dataset_grouper_spark.session import get_spark

    conf = {
        "spark.ui.retainedJobs": str(STORE_CAP),
        "spark.ui.retainedStages": str(STORE_CAP),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.checkpoint.dir": os.path.join(work, "checkpoints"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pass(wl, run, seconds: float, release) -> int:
    """Iterations back to back until ``seconds`` of wall time; returns
    how many intermediates ``release_intermediates`` freed."""
    from workloads import OpFailed, cleanup

    released = 0
    t0 = time.perf_counter()
    while not wl.exhausted():
        wl.n_iter += 1
        try:
            wl.iteration(run)
        except OpFailed:
            break
        finally:
            released += release()
            cleanup(wl.work)
        if time.perf_counter() - t0 >= seconds:
            break
    return released


def _warm_up(wl, setup) -> None:
    """The preparation's steps at once, each in its own thread, then
    one iteration's steps the same way. What the warm-up pays for
    (class loading, code generation, Python worker start) is per
    process, so the steps need not queue behind each other; their
    outputs are checked like any other."""
    from concurrent.futures import ThreadPoolExecutor

    from workloads import OpFailed, Run

    def go(step, run):
        try:
            step(run)
        except OpFailed:
            pass
        run.end_iteration(0)

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda step: step(), wl.prepare_steps()))
        steps = wl.steps()
        runs = [Run(setup.tracer) for _ in steps]
        list(pool.map(go, steps, runs))
    for run in runs:
        setup.attempted += run.attempted
        setup.failed += run.failed
        setup.failures += run.failures
        for name, dts in run.op_iter_s.items():
            setup.op_iter_s[name] += dts


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataset_grouper_spark")):
        print(f"perfbench: no dataset_grouper_spark package under {ROOT}", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local", "checkpoints"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every temp file the library, Spark's Python workers and the JVMs
    # (launcher and driver) make lands here; no JVM perf-data files
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        return _main(a, work, nproc)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _shutdown() -> None:
    """Stop the SparkContext, then the JVM it ran in, and wait for it
    (Spark's Python workers are the JVM's children and end with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _main(a, work: str, nproc: int) -> int:
    import gen
    import spans
    from workloads import WORKLOADS, Run

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    cls = WORKLOADS[a.workload]
    t_gen = time.perf_counter()
    manifest = gen.generate(a.workload, a.seed, os.path.join(work, "inputs"), a.scale)
    warm_manifest = gen.generate(a.workload, a.seed, os.path.join(work, "warm_inputs"), "tiny")
    gen_s = time.perf_counter() - t_gen

    from dataset_grouper_spark.cache import release_intermediates

    # Set-up: the session; a warm-up, which is one checked preparation
    # and iteration of the same workload on the tiny inputs, its steps
    # run at once (JIT, codegen and Python workers are cold before it;
    # cold and warm passes differ by up to 40%); then the program-side
    # preparation, repeated into fresh directories SETUPS times and
    # counted at its median. The session and the warm-up happen once
    # per process: a second SparkContext would start with cold Python
    # workers.
    spark = _session(work, nproc)
    spark.range(1000).count()
    session_s = time.perf_counter() - T_PROC - gen_s
    setup = Run(spans.Tracer(False))
    t0 = time.perf_counter()
    warm = cls(spark, warm_manifest, os.path.join(work, "warm"), nproc)
    _warm_up(warm, setup)
    release_intermediates()
    shutil.rmtree(warm.work)
    warmup_s = time.perf_counter() - t0
    preps, wl = [], None
    for i in range(SETUPS):
        if wl is not None:
            shutil.rmtree(wl.work)
        t0 = time.perf_counter()
        wl = cls(spark, manifest, os.path.join(work, f"run{i}"), nproc)
        wl.prepare()
        preps.append(time.perf_counter() - t0)
    setup_s = session_s + warmup_s + statistics.median(preps)

    conf = dict(spark.sparkContext.getConf().getAll())
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    run = Run(spans.Tracer(bool(a.trace)))
    steal0 = _steal_s()
    released = _pass(wl, run, a.seconds, release_intermediates)
    steal_s = _steal_s() - steal0
    peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)

    lines, e2e = [], {}

    def emit(name, value, unit, n):
        lines.append(f"{a.workload} {name} = {value:.6g} {unit} (n={n})")
        e2e[name] = value

    emit("setup_s", setup_s, "s", len(preps))
    emit("rows_per_s", run.rows_per_s(), "rows/s", run.iterations)
    emit("peak_rss_mb", peak_rss, "MB", 1)
    emit("error_rate", run.failed / max(run.attempted, 1), "fraction", run.attempted)
    if run.write_amp:
        emit("write_amp", statistics.median(run.write_amp), "ratio", len(run.write_amp))
    for name, (key, scale, unit) in cls.extra.items():
        if not run.samples.get(key):
            continue
        s = spans.summary(run.samples[key])
        emit(name, s.pop("p50") * scale, unit, s["n"])
        for q, v in s.items():
            if q != "n" and "p50" in name:
                emit(name.replace("p50", q), v * scale, unit, s["n"])

    artifact = {
        "workload": a.workload, "seed": a.seed, "scale": a.scale,
        "sizes": manifest["sizes"], "input_bytes": manifest["input_bytes"],
        "gen_s": gen_s, "session_s": session_s, "prep_s": preps, "warmup_s": warmup_s,
        "warmup_op_s": {k: round(v[0], 4) for k, v in setup.op_iter_s.items()},
        "iterations": wl.n_iter, "released_intermediates": released,
        "steal_s": steal_s,
        "op_iter_s": {k: [round(x, 4) for x in v] for k, v in run.op_iter_s.items()},
        "samples": {k: [round(x, 4) for x in v] for k, v in run.samples.items()},
        "conf": {k: conf[k] for k in sorted(conf) if k.startswith(CONF_PREFIXES)},
    }
    metrics = {}
    if a.trace:
        jobs, stages = spans.status_snapshot(spark, STORE_CAP)
        rows = spans.attribute(run.tracer.spans, jobs, stages)
        gap = spans.reconcile(rows)
        if gap > 0.01:
            run.failed += 1
            run.failures.append(f"driver + JVM-busy differs from wall by {gap:.2%}")
        calls = spans.per_call(rows)
        for call in TRACED_CALLS:
            c = calls.get(call, {})
            for counter in spans.COUNTERS:
                metrics[f"{call}.{counter}"] = {
                    "value": c.get(counter, 0.0), "unit": spans.COUNTER_UNITS[counter]
                }
        for key in ("first_trigger", "trigger"):
            xs = run.samples.get(key, [])
            metrics[f"streaming.delta_lite.{key}_s"] = {
                "value": statistics.median(xs) if xs else 0.0, "unit": "s"
            }
        traced_s = sum(r["wall_s"] for r in rows)
        overhead = run.tracer.self_s / traced_s if traced_s else 0.0
        artifact["trace"] = {"spans": len(rows), "reconcile_gap": gap,
                             "overhead": overhead, "calls": calls}
        lines.append(f"{a.workload} tracing_overhead = {overhead:.2e} fraction (n={len(rows)})")
        lines.append(f"{a.workload} trace_reconcile_gap = {gap:.2e} fraction (n={len(rows)})")
    else:
        for name, unit in END_TO_END.items():
            metrics[name] = {"value": e2e[name], "unit": unit}

    passes = [setup, run]
    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    for line in lines:
        print(line)
    print("artifact " + json.dumps(artifact, default=float))
    for p in passes:
        for f in p.failures:
            print(f"FAILED {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
