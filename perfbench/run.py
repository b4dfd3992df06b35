"""Run one benchmark workload against the library and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``;
with ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones. Lines before
it say what was measured: input checksum, per-process CPU split, host
steal, the tail percentile and sample counts.

Every run works in a fresh directory under ``perfbench/.runs`` (Spark
scratch, event log and generated inputs included) and removes it at
exit. Exits non-zero without a result when the library is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import procfs  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from stats import tail  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PID = os.getpid()
# added to the mean relative frequency error: exact answers read this
# instead of 0, and a new error shows as a relative rise above it
ERR_FLOOR = 0.01

END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "topk_recall": "share",
    "freq_rel_err": "share",
    "sketch_bytes_per_row": "B",
}

PER_LAYER_UNITS = {
    "rollup.write_ms": "ms",
    "rollup.read_ms": "ms",
    "rollup.files": "count",
    "rollup.bytes": "B",
    "maintenance.compact_ms": "ms",
    "maintenance.bytes_rewritten": "B",
    "maintenance.files_after": "count",
    "aggregates.build_ms": "ms",
    "sketch.build_ms": "ms",
    "sql_api.rewrite_ms": "ms",
    "sql_api.build_ms": "ms",
    "sketch_state.build_ms": "ms",
    "sketch_state.partial_rows": "count",
    "sketch_state.partial_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.max_task_ms": "ms",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "proc.jit_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "host.steal_s": "s",
    "trace.overhead_ms": "ms",
}


def log(msg: str) -> None:
    print(msg, flush=True)


def start_session(run_dir: str, trace: bool):
    """bench.py's session conf at ``local[nproc]``, with every scratch
    path inside the run directory."""
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_* files
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("topn-perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}")
    )
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + events)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    children = [p["pid"] for p in procfs.members(PID) if p["role"] != "driver"]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    left = procfs.wait_gone(children, 30)
    if left:
        print(f"processes still running after stop: {left}", file=sys.stderr)


def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(w, tracer, events_dir: str, timed: dict) -> dict:
    """Per-layer metrics of a traced run; NOTES.md defines each."""
    traced_ops, lat, cpu = timed["traced_ops"], timed["lat"], timed["cpu"]
    self_s: dict[str, list[float]] = {}
    for span, s in zip(tracer.spans, tracing.self_times(tracer.spans)):
        self_s.setdefault(span.name, []).append(s)
    out: dict[str, float] = {}
    for name in ("rollup.write", "rollup.read", "maintenance.compact", "aggregates.build",
                 "sketch.build", "sql_api.rewrite", "sql_api.build", "sketch_state.build"):
        out[f"{name}_ms"] = median_or_zero(self_s.get(name, [])) * 1e3
    for key in ("rollup.files", "rollup.bytes", "maintenance.bytes_rewritten", "maintenance.files_after"):
        out[key] = median_or_zero(w.layer.get(key, []))

    groups = tracing.attribute(tracing.read_events(events_dir))
    per_op = [groups[f"op{i}"] for i in sorted(traced_ops) if f"op{i}" in groups]
    names = {s.name for s in tracer.spans}
    by_span: dict[str, float] = {}
    for g in per_op:
        for span, run_s in g["run_s_by_span"].items():
            span = span if span in names else "other"  # e.g. Spark's own file-listing jobs
            by_span[span] = by_span.get(span, 0.0) + run_s
    log("spark task seconds by span: " + ", ".join(f"{k} {v:.2f}" for k, v in sorted(by_span.items())))
    n = max(1, len(per_op))
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_bytes", "input_bytes"):
        out[f"spark.{key}"] = sum(g[key] for g in per_op) / n
    out["spark.max_task_ms"] = median_or_zero([g["max_task_ms"] for g in per_op])
    partial = [g["partial_rows"] for g in per_op if g["partial_rows"]]
    out["sketch_state.partial_rows"] = median_or_zero(partial)
    out["sketch_state.partial_ratio"] = (
        out["sketch_state.partial_rows"] / w.batch_rows if partial else 0.0
    )
    ops = len(lat)
    out["proc.driver_cpu_s"] = cpu["driver"] / ops
    out["proc.jvm_cpu_s"] = cpu["jvm"] / ops
    out["proc.pyworker_cpu_s"] = cpu["pyworker"] / ops
    out["proc.jit_cpu_s"] = cpu["jit"] / ops
    out["proc.peak_rss_mb"] = cpu["peak_rss_mb"]
    out["host.steal_s"] = cpu["steal"]
    traced = [t for i, t in lat.items() if i in traced_ops]
    untraced = [t for i, t in lat.items() if i not in traced_ops]
    out["trace.overhead_ms"] = (statistics.fmean(traced) - statistics.fmean(untraced)) * 1e3
    return out


def run(args) -> int:
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("postgresql_topn_spark") is None:
        print(f"postgresql_topn_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    spark = None
    try:
        spark = start_session(run_dir, trace)
        session_s = time.perf_counter() - T0
        tracer = tracing.Tracer(spark.sparkContext if trace else None)
        w = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir, tracer)
        with tracing.wrap_inner_calls(tracer) if trace else contextlib.nullcontext():
            setup = set_up(w, tracer, session_s)
            timed = run_cycles(w, tracer, cycles_for(w, args.seconds, trace), trace)
            tracer.begin_op(-2, False)  # the checks are not traced
            for op_i, problem in w.check().items():
                timed["failed"].setdefault(op_i, problem)
        timed["cpu"]["peak_rss_mb"] = procfs.peak_rss_kb(PID) / 1024
        stop_session(spark)
        spark = None
        report(w, args.seed, setup, timed)
        if trace:
            metrics = layer_metrics(w, tracer, os.path.join(run_dir, "events"), timed)
            os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
            tracer.dump(os.path.join(HERE, "results", f"spans-{w.name}-{args.seed}.json"))
            units = PER_LAYER_UNITS
        else:
            metrics = end_to_end(w, setup, timed)
            units = END_TO_END_UNITS
        for name, unit in units.items():
            log(f"  {name} = {metrics[name]:.6g} {unit}")
        result = {
            "correct": not timed["failed"],
            "attempted": len(timed["lat"]),
            "failed": len(timed["failed"]),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def set_up(w, tracer, session_s: float) -> dict:
    """Generate the inputs, build the starting state, warm up.

    ``setup_s`` is process-tree CPU seconds from process start until
    timing begins. CPU rather than wall time because on a shared host
    set-up wall time moves with other tenants' load far more than CPU
    time does (NOTES.md); the wall times are reported too."""
    tracer.begin_op(-1, False)
    t = time.perf_counter()
    w.prepare(os.path.join(w.run_dir, "inputs"))
    prep_s = time.perf_counter() - t
    t = time.perf_counter()
    w.build()
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    w.warm()
    warm_s = time.perf_counter() - t
    return {
        "session_s": session_s, "prep_s": prep_s, "build_s": build_s, "warm_s": warm_s,
        "wall_s": session_s + prep_s + build_s + warm_s,
        "setup_s": tree_cpu_s(procfs.snapshot(PID)),
    }


def cycles_for(w, seconds: float, trace: bool) -> int:
    """Whole cycles in the timed phase: as many as fill ``seconds`` on
    an idle host, at least two, so every run does the same work however
    much CPU the host steals. A traced run alternates traced and
    untraced cycles (traced, untraced, traced, ...) and runs at least
    three."""
    n = max(2, round(seconds / w.nominal_cycle_s))
    return max(3, n) if trace else n


def run_cycles(w, tracer, cycles: int, trace: bool) -> dict:
    lat: dict[int, float] = {}
    failed: dict[int, str] = {}
    traced_ops: set[int] = set()
    cpu0, steal0 = procfs.snapshot(PID), procfs.read_steal()
    start = time.perf_counter()
    i = 0
    for c in range(cycles):
        traced = trace and c % 2 == 0
        for _ in range(w.cycle):
            tracer.begin_op(i, traced)
            if traced:
                traced_ops.add(i)
            t = time.perf_counter()
            try:
                w.op(i)
            except Exception as e:  # a failed op is counted, the run goes on
                failed[i] = f"{type(e).__name__}: {e}"
            lat[i] = time.perf_counter() - t
            i += 1
    elapsed = time.perf_counter() - start
    cpu1, steal1 = procfs.snapshot(PID), procfs.read_steal()
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    cpu["steal"] = steal1 - steal0
    return {"lat": lat, "failed": failed, "traced_ops": traced_ops, "cycles": cycles,
            "elapsed": elapsed, "cpu": cpu}


def tree_cpu_s(cpu: dict) -> float:
    return sum(cpu[k] for k in ("driver", "jvm", "pyworker", "other"))


def end_to_end(w, setup: dict, timed: dict) -> dict:
    return {
        "setup_s": setup["setup_s"],
        # without the JIT compiler threads: their background work in the
        # timed phase grows with its wall length, not with the ops
        "cpu_ms_per_op": (tree_cpu_s(timed["cpu"]) - timed["cpu"]["jit"]) * 1e3 / len(timed["lat"]),
        "topk_recall": statistics.fmean(w.recall) if w.recall else 0.0,
        "freq_rel_err": ERR_FLOOR + statistics.fmean(w.rel_err) if w.rel_err else 0.0,
        "sketch_bytes_per_row": w.state_bytes / max(1, w.state_rows),
    }


def report(w, seed: int, setup: dict, timed: dict) -> None:
    """What a reader needs to explain this run's figures."""
    lat, cpu = timed["lat"], timed["cpu"]
    log(f"workload {w.name} seed {seed}: input checksum {w.checksum}")
    log(f"setup wall: session {setup['session_s']:.2f} s, inputs {setup['prep_s']:.2f} s, "
        f"build {setup['build_s']:.2f} s, warm-up {setup['warm_s']:.2f} s, total {setup['wall_s']:.2f} s; "
        f"cpu {setup['setup_s']:.2f} s")
    log(f"timed: {len(lat)} ops in {timed['cycles']} cycles of {w.cycle}, {timed['elapsed']:.2f} s, "
        "one closed-loop client")
    by_kind: dict[str, list[float]] = {}
    for i, t in lat.items():
        by_kind.setdefault(w.kind(i), []).append(t * 1e3)
    for kind, ms in sorted(by_kind.items()):
        value, pct = tail(ms)
        log(f"wall latency {kind}: p50 {statistics.median(ms):.0f} ms, tail p{pct:.0f} {value:.0f} ms, "
            f"{len(ms)} samples: {[round(x) for x in ms]}")
    rows = sum(w.rows_of(i) for i in lat)
    if rows:
        log(f"events absorbed per wall second: {rows / timed['elapsed']:.0f}")
    log("cpu s in timed phase: " + ", ".join(f"{k} {cpu[k]:.2f}" for k in ("driver", "jvm", "jit", "pyworker", "other"))
        + f"; host steal {cpu['steal']:.2f} s; peak tree rss {cpu['peak_rss_mb']:.0f} MB")
    if w.rel_err:
        log(f"mean relative frequency error, without the floor: {statistics.fmean(w.rel_err):.6f}")
    for op_i, problem in sorted(timed["failed"].items()):
        log(f"FAILED op {op_i}: {problem}")


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
