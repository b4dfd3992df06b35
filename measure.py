#!/usr/bin/env python
"""One measurement harness for the suite's gates, on bench.py's session
conf and warm-up ($SPARK_GRAFT_CPUS, default 32; $SPARK_GRAFT_SF_DIR,
default /root/testdata/sf0.1).

    python measure.py layers [GATE...|--all] [--runs N] [--cprofile] [--jobs] [--out PATH]
    python measure.py ab --conf KEY=A,B [--trials N] [--cold] GATE...
    python measure.py plans --out DIR [GATE...|--all]

layers: best of N runs, split into build (the gate function, eager jobs
included) and exec (bench.py's ``.count()``), with the Spark work of
that run from its event log. Jobs carry the gate as job group and
``build``/``exec`` as description; a job outside the group counts as
untagged, one Spark re-described (file listing) as other. Tasks of
stages that run a Python exec node are counted apart.
ab: every arm over the gates per trial, arm order reversed every other
trial; ``--cold`` runs each arm of each trial in a fresh process.
plans: each gate's masked physical plan before execution, one file per
gate, so a plan check between two trees is ``diff -r``.
The UI stays off: Spark's own event-log writer is attached to the
running session for the measured window only.
"""

from __future__ import annotations

import argparse
import contextlib
import cProfile
import json
import os
import pathlib
import pstats
import re
import statistics
import subprocess
import sys
import tempfile
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from perfbench import tracing  # noqa: E402

PHASES = ("build", "exec")
# RDD scope names of Spark's Python exec nodes; seen on Spark 4.1:
# MapInPandas, MapInArrow, FlatMapGroupsInPandas, ArrowEvalPython,
# BatchEvalPython and ArrowAggregatePython (a pandas UDAF)
PYTHON_NODE = re.compile(r"InPandas|InArrow|Python")


def session(cpus: int):
    """bench.py's session."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("topn-measure")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up: JVM classloading and codegen, one scan of
    each fact table, and the Arrow lanes' Python workers."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from postgresql_topn_spark.suite import QUERIES

    QUERIES["topn_monthly_event_types"](spark, sf_dir).count()
    for t in ("documents", "embeddings", "lineitem"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()

    @pandas_udf("long")
    def _incr(s: pd.Series) -> pd.Series:
        return s + 1

    warm = spark.range(256).mapInPandas(lambda it: it, "id long")
    warm.groupBy("id").applyInPandas(lambda p: p, "id long").select(
        _incr(F.col("id"))
    ).count()


@contextlib.contextmanager
def event_log(spark):
    """Spark's event-log writer attached for the block; the yielded
    list holds the block's events once the block exits."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    events: list[dict] = []
    with tempfile.TemporaryDirectory(prefix="measure-events-") as d:
        conf = jsc.conf().clone().set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
            "measure", jvm.scala.Option.apply(None),
            jvm.java.net.URI(pathlib.Path(d).as_uri()), conf, jsc.hadoopConfiguration(),
        )
        writer.start()
        jsc.listenerBus().waitUntilEmpty()  # no earlier job's events
        jsc.addSparkListener(writer)
        try:
            yield events
        finally:
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(writer)
            writer.stop()
            events.extend(tracing.read_events(d))


def _tag(sc, group, desc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", desc)


def run_gate(spark, sf_dir: str, gate: str, profile=None) -> tuple[float, float]:
    """One tagged build and exec of ``gate``: (build_s, exec_s)."""
    from postgresql_topn_spark.suite import QUERIES

    sc = spark.sparkContext
    try:
        _tag(sc, gate, "build")
        t0 = time.perf_counter()
        with profile or contextlib.nullcontext():
            df = QUERIES[gate](spark, sf_dir)
        t1 = time.perf_counter()
        _tag(sc, gate, "exec")
        df.count()
        return t1 - t0, time.perf_counter() - t1
    finally:
        _tag(sc, None, None)


def job_counts(events: list[dict], gate: str) -> dict[str, int]:
    out = dict.fromkeys((*PHASES, "other", "untagged"), 0)
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") != gate:
                out["untagged"] += 1
            else:
                desc = props.get("spark.job.description")
                out[desc if desc in PHASES else "other"] += 1
    return out


def python_tasks(events: list[dict], gate: str) -> int:
    """Tasks run by the gate's stages whose RDD scopes name a Python
    exec node: each pays the fixed Python-worker cost (README
    "Deployment")."""
    gate_stages: set[int] = set()
    python_stages: set[int] = set()
    n = 0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == gate:
                gate_stages.update(e.get("Stage IDs", ()))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            scopes = (json.loads(r["Scope"])["name"] for r in info.get("RDD Info", ()) if r.get("Scope"))
            if any(PYTHON_NODE.search(name) for name in scopes):
                python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            n += e["Stage ID"] in python_stages and e["Stage ID"] in gate_stages
    return n


def layers(spark, sf_dir: str, gate: str, runs: int = 3, cprofile: bool = False) -> dict:
    """The best of ``runs`` runs of ``gate`` and its Spark work; the
    best run's events and build profile ride along under ``_events``
    and ``_profile``."""
    best, per_run = None, []
    for _ in range(runs):
        profile = cProfile.Profile() if cprofile else None
        with event_log(spark) as events:
            build_s, exec_s = run_gate(spark, sf_dir, gate, profile)
        jobs = job_counts(events, gate)
        per_run.append([round(build_s, 3), round(exec_s, 3), sum(jobs.values())])
        if best is None or build_s + exec_s < best[0] + best[1]:
            best = (build_s, exec_s, events, jobs, profile)
    build_s, exec_s, events, jobs, profile = best
    work = tracing.attribute(events).get(gate, {})
    return {
        "gate": gate,
        "build_s": round(build_s, 3),
        "exec_s": round(exec_s, 3),
        "runs": per_run,
        "jobs": jobs,
        **{k: work.get(k, 0) for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "max_task_ms")},
        "python_tasks": python_tasks(events, gate),
        "task_s_by_phase": work.get("run_s_by_span", {}),
        "_events": events,
        "_profile": profile,
    }


def job_lines(events: list[dict]) -> list[str]:
    """One line per job and per stage that ran tasks."""
    starts, ends, names = {}, {}, {}
    stage_tasks, stage_run_ms, stage_cpu_ms = {}, {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            starts[e["Job ID"]] = e
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            names[e["Stage Info"]["Stage ID"]] = e["Stage Info"]["Stage Name"]
        elif kind == "SparkListenerTaskEnd":
            sid, m = e["Stage ID"], e.get("Task Metrics") or {}
            stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
            stage_run_ms[sid] = stage_run_ms.get(sid, 0) + m.get("Executor Run Time", 0)
            stage_cpu_ms[sid] = stage_cpu_ms.get(sid, 0) + m.get("Executor CPU Time", 0) / 1e6
    lines = []
    for jid, e in sorted(starts.items()):
        props = e.get("Properties") or {}
        ms = ends.get(jid, e["Submission Time"]) - e["Submission Time"]
        tasks = sum(s["Number of Tasks"] for s in e.get("Stage Infos", ()))
        lines.append(
            f"  job {jid:4d} {ms:7.0f}ms tasks {tasks:4d} stages {len(e['Stage IDs']):2d} | "
            f"{props.get('spark.jobGroup.id')}:{(props.get('spark.job.description') or '')[:90]}"
        )
        for sid in sorted(e["Stage IDs"]):
            if stage_tasks.get(sid):
                lines.append(
                    f"     stage {sid} tasks {stage_tasks[sid]} runTime {stage_run_ms[sid]}ms "
                    f"cpu {stage_cpu_ms[sid]:.0f}ms | {names.get(sid, '')[:90]}"
                )
    return lines


def ab(spark, sf_dir: str, gates: list[str], key: str, values: list[str], trials: int = 4):
    """Alternated A/B of conf ``key`` over ``values``: ({gate: {value:
    [[seconds, jobs], ...]}}, the arm order of each trial). Each arm
    runs every gate once untimed first; ``key`` is restored after."""
    sc = spark.sparkContext
    res = {g: {v: [] for v in values} for g in gates}
    orders = []
    prior = spark.conf.get(key, None)
    try:
        for v in values:
            spark.conf.set(key, v)
            for g in gates:
                run_gate(spark, sf_dir, g)
        for t in range(trials):
            order = tuple(values if t % 2 == 0 else reversed(values))
            orders.append(order)
            for v in order:
                spark.conf.set(key, v)
                for g in gates:
                    with event_log(spark) as events:
                        build_s, exec_s = run_gate(spark, sf_dir, g)
                    res[g][v].append([round(build_s + exec_s, 3), sum(job_counts(events, g).values())])
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    return res, orders


def ab_cold(gates: list[str], key: str, values: list[str], trials: int):
    """``ab`` with every arm of every trial in a fresh process."""
    res = {g: {v: [] for v in values} for g in gates}
    for t in range(trials):
        for v in values if t % 2 == 0 else reversed(values):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "ab", "--conf", f"{key}={v}",
                 "--trials", "1", *gates],
                check=True, capture_output=True, text=True,
            ).stdout
            child = json.loads(out.strip().splitlines()[-1])
            for g in gates:
                res[g][v] += child[g][v]
    return res


# Names that a second build or a fresh JVM renumbers or renames.
MASKS = (
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),  # createDataFrame-from-rows scans
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),  # PySpark lambda variables
    (re.compile(r"\b_[0-9a-f]{32}\b"), "_VIEW"),  # spark.sql(text, src=df) temp views
    (re.compile(r"(topn_rollups\.r)[0-9a-f]+"), r"\1H"),  # path hash
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^\s,\])]*"), "TMP"),
)


def masked_plan(df) -> str:
    from postgresql_topn_spark.plans.audit import plan_str

    text = plan_str(df)
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def write_plans(spark, sf_dir: str, gates: list[str], out_dir: str) -> None:
    from postgresql_topn_spark.suite import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    for g in gates:
        with open(os.path.join(out_dir, f"{g}.txt"), "w") as fh:
            fh.write(masked_plan(QUERIES[g](spark, sf_dir)))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    lp = sub.add_parser("layers")
    lp.add_argument("--runs", type=int, default=3)
    lp.add_argument("--cprofile", action="store_true")
    lp.add_argument("--jobs", action="store_true")
    lp.add_argument("--out")
    ap_ = sub.add_parser("ab")
    ap_.add_argument("--conf", required=True, help="KEY=A,B")
    ap_.add_argument("--trials", type=int, default=4)
    ap_.add_argument("--cold", action="store_true")
    pp = sub.add_parser("plans")
    pp.add_argument("--out", required=True)
    for p in (lp, ap_, pp):
        p.add_argument("gates", nargs="*")
        if p is not ap_:
            p.add_argument("--all", action="store_true")
    args = ap.parse_args(argv)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from postgresql_topn_spark.suite import QUERIES

    gates = sorted(QUERIES) if getattr(args, "all", False) else args.gates
    unknown = [g for g in gates if g not in QUERIES]
    if unknown or not gates:
        sys.exit(f"unknown gates: {unknown}" if unknown else "no gates named")

    if args.mode == "ab":
        key, _, vals = args.conf.partition("=")
        values = vals.split(",")
        if args.cold:
            res = ab_cold(gates, key, values, args.trials)
        else:
            spark = session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
            warm_up(spark, sf_dir)
            res, _ = ab(spark, sf_dir, gates, key, values, args.trials)
            spark.stop()
        for g in gates:
            arms = []
            for v, runs in res[g].items():
                secs = sorted(s for s, _ in runs)
                arms.append(f"{key}={v} best {secs[0]:.2f} med {statistics.median(secs):.2f} "
                            f"all {[s for s, _ in runs]} jobs {[j for _, j in runs]}")
            print(f"{g}: " + " | ".join(arms), flush=True)
        print(json.dumps(res), flush=True)
        return

    spark = session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    if args.mode == "plans":
        write_plans(spark, sf_dir, gates, args.out)
        spark.stop()
        return
    warm_up(spark, sf_dir)
    rows = []
    for g in gates:
        row = layers(spark, sf_dir, g, args.runs, args.cprofile)
        events, profile = row.pop("_events"), row.pop("_profile")
        rows.append(row)
        j = row["jobs"]
        detail = "  ".join(f"[build {b:.2f}s + exec {e:.2f}s, {n} jobs]" for b, e, n in row["runs"])
        print(f"{g}: best {row['build_s'] + row['exec_s']:.2f}s  {detail}", flush=True)
        print(f"  jobs build {j['build']} exec {j['exec']} other {j['other']} untagged {j['untagged']}; "
              f"stages {row['stages']}, tasks {row['tasks']} ({row['python_tasks']} Python), task cpu {row['task_cpu_s']:.2f}s, "
              f"longest task {row['max_task_ms']}ms", flush=True)
        if args.jobs:
            print("\n".join(job_lines(events)), flush=True)
        if profile is not None:
            pstats.Stats(profile, stream=sys.stdout).sort_stats("cumulative").print_stats(35)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "runs": args.runs, "gates": rows}, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
