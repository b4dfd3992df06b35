"""The benchmark's workloads. Each is a closed loop with one client:
the next op starts when the previous one has returned.

A workload generates its inputs in :meth:`prepare`, builds its
starting state in :meth:`build`, warms the JVM in :meth:`warm`, runs
timed :meth:`op` calls in whole cycles, and after the timed phase
:meth:`check` compares what the ops returned with an independent
computation over the same raw rows. Sizes are class attributes;
``perfbench/NOTES.md`` records why each workload exists.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gen import Checksum, ZipfItems, item_names, write_events

TOP = 10  # the dashboard answer: top-10 items


def exact_ranking(cats: np.ndarray, ids: np.ndarray) -> pd.DataFrame:
    """Exact counts per (category, item), ranked (frequency DESC, item
    ASC) within each category — column ``rank`` from 1."""
    df = pd.DataFrame({"category": cats, "item": item_names(ids)})
    counts = df.groupby(["category", "item"], sort=False).size().rename("frequency").reset_index()
    counts = counts.sort_values(["category", "frequency", "item"], ascending=[True, False, True])
    counts["rank"] = counts.groupby("category").cumcount() + 1
    return counts


def top_of(counts: dict[str, int], n: int) -> list[tuple[str, int]]:
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:n]


def accuracy(reported: list[tuple[str, int]], exact: dict[str, int]) -> tuple[float, float]:
    """(recall of the exact top-10, mean relative frequency error of
    the reported top-10 against exact counts)."""
    truth = {it for it, _ in top_of(exact, TOP)}
    got = [(it, f) for it, f in reported[:TOP]]
    recall = len(truth & {it for it, _ in got}) / max(1, len(truth))
    errs = [abs(f - exact.get(it, 0)) / max(1, exact.get(it, 0)) for it, f in got]
    return recall, (sum(errs) / len(errs) if errs else 0.0)


def dir_files(path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file under ``path``."""
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out.append((p, os.path.getsize(p)))
    return out


class Workload:
    name = ""
    cycle = 1  # ops per cycle; the timed phase runs whole cycles
    nominal_cycle_s = 1.0  # a cycle's wall time on an idle 4-vCPU host
    batch_rows = 0  # input events per op, for workloads that absorb events

    def __init__(self, spark, seed: int, run_dir: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.checksum = ""
        self.layer: dict[str, list[float]] = {}  # per-layer counts by op
        self.recall: list[float] = []
        self.rel_err: list[float] = []
        self.state_bytes = 0
        self.state_rows = 0

    def note(self, key: str, value: float) -> None:
        """Record a per-layer count (traced runs only)."""
        if self.tracer.active:
            self.layer.setdefault(key, []).append(value)

    def accuracy_of(self, reported, exact) -> None:
        r, e = accuracy(reported, exact)
        self.recall.append(r)
        self.rel_err.append(e)

    def kind(self, i: int) -> str:
        """What op ``i`` does, for the per-kind latency report."""
        return self.name

    def rows_of(self, i: int) -> int:
        """Input events op ``i`` absorbs."""
        return self.batch_rows

    def prepare(self, inputs_dir: str) -> None:
        """Generate the inputs into ``inputs_dir``."""
        raise NotImplementedError

    def build(self) -> None:
        """Build the state the ops start from, once."""

    def warm(self) -> None:
        """Make one cycle's calls, unrecorded, so that the JIT compiler
        is mostly done before timing starts."""
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> dict[int, str]:
        """Problems found, by op index."""
        raise NotImplementedError


class Ingest(Workload):
    """Daily rollup maintenance: each op appends one day's batch to a
    day-partitioned rollup with ``write_topn_rollup(mode="append")``;
    the last op of every cycle then compacts that cycle's table."""

    name = "ingest"
    cycle = 4
    batch_rows = 100_000
    categories = 10
    counters = 1000
    pool = 4  # distinct batch files; op i appends batch i % pool as day i

    def prepare(self, inputs_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        zipf = ZipfItems(rng, 1.1, self.categories)
        ck = Checksum()
        os.makedirs(inputs_dir)
        self.batches, self.paths = [], []
        for k in range(self.pool):
            cats, ids = zipf.draw(self.batch_rows)
            ck.add(cats, ids)
            path = os.path.join(inputs_dir, f"batch{k}.parquet")
            write_events(path, {"category": cats, "item": ids})
            self.batches.append((cats, ids))
            self.paths.append(path)
        self.checksum = ck.hexdigest()
        self.table_root = os.path.join(self.run_dir, "rollups")
        self.days: dict[int, str] = {}  # day -> table it was appended to
        self._ranked: dict[int, pd.DataFrame] = {}

    def exact(self, k: int) -> pd.DataFrame:
        """Exact ranking of batch ``k`` (see :func:`exact_ranking`)."""
        if k not in self._ranked:
            self._ranked[k] = exact_ranking(*self.batches[k])
        return self._ranked[k]

    def _append(self, table: str, day: int) -> None:
        from postgresql_topn_spark.sources.rollup import write_topn_rollup

        events = self.spark.read.schema("category int, item string").parquet(self.paths[day % self.pool])
        with self.tracer.span("rollup.write"):
            write_topn_rollup(
                events, table, F.lit(day), "item", bucket_name="day",
                extra_group_cols=["category"], counters=self.counters, mode="append",
            )

    def _compact(self, table: str) -> None:
        from postgresql_topn_spark.sources.maintenance import compact_topn_rollup

        with self.tracer.span("maintenance.compact"):
            compact_topn_rollup(
                self.spark, table, bucket_name="day",
                extra_group_names=("category",), counters=self.counters,
            )

    def warm(self) -> None:
        table = os.path.join(self.run_dir, "warm-rollup")
        for day in range(self.cycle):
            self._append(table, day)
        self._compact(table)

    def op(self, i: int) -> None:
        table = os.path.join(self.table_root, f"cycle{i // self.cycle}")
        self._append(table, i)
        self.days[i] = table
        if i % self.cycle == self.cycle - 1:
            self._compact(table)
            if self.tracer.active:
                files = dir_files(table)
                self.note("maintenance.files_after", len(files))
                self.note("maintenance.bytes_rewritten", sum(b for _, b in files))

    def check(self) -> dict[int, str]:
        from postgresql_topn_spark.sources.rollup import read_topn_rollup

        problems: dict[int, str] = {}
        checked = sorted(self.days)[: self.cycle]  # the first cycle's days
        for i in checked:
            ranked = self.exact(i % self.pool)
            kept = ranked[ranked["rank"] <= self.counters]
            rows = (
                read_topn_rollup(self.spark, self.days[i], bucket_name="day")
                .where(F.col("day") == i).select("category", "topn").collect()
            )
            stored = {r["category"]: dict(r["topn"]) for r in rows}
            for cat, grp in kept.groupby("category"):
                want = dict(zip(grp["item"], grp["frequency"].astype(int)))
                got = stored.get(cat)
                if got != want:
                    problems[i] = f"day {i} category {cat}: sketch differs from the exact top-{self.counters}"
        files = dir_files(self.table_root)
        self.state_bytes = sum(b for _, b in files)
        self.state_rows = len(self.days) * self.batch_rows
        return problems


class Dashboard(Workload):
    """Interactive reads of a pre-built 90-day rollup at the ingest
    side's scale: each op is one interval query, merged per category or
    as a grand total, top-10 extracted and collected. Every cycle runs
    the four shapes of :attr:`shapes` once."""

    name = "dashboard"
    days = 90
    # (interval days, by category, through SQL): the data read varies
    # 90x, half the queries group by category, one in four is SQL text
    shapes = ((1, True, False), (7, False, False), (30, True, True), (90, False, False))
    cycle = len(shapes)

    def __init__(self, spark, seed: int, run_dir: str, tracer, source: Ingest) -> None:
        super().__init__(spark, seed, run_dir, tracer)
        self.source = source  # its batches are the days: day d holds batch d % pool
        self.counters = source.counters

    def prepare(self, inputs_dir: str) -> None:
        self.plan_rng = np.random.default_rng([self.seed, 1])
        self.queries: list[tuple[int, int, bool, bool]] = []
        self.answers: dict[int, list[tuple]] = {}

    def build(self) -> None:
        """One ``write_topn_rollup`` of the source's batches as days
        0..pool-1; every later day is a copy of its batch's partition."""
        from postgresql_topn_spark.sources.rollup import write_topn_rollup

        self.rollup = os.path.join(self.run_dir, "rollup")
        src = self.source
        events = None
        for k, path in enumerate(src.paths):
            day = self.spark.read.schema("category int, item string").parquet(path).withColumn("day", F.lit(k))
            events = day if events is None else events.unionByName(day)
        with self.tracer.span("rollup.write"):
            write_topn_rollup(
                events, self.rollup, "day", "item", bucket_name="day",
                extra_group_cols=["category"], counters=self.counters,
            )
        for d in range(src.pool, self.days):
            shutil.copytree(
                os.path.join(self.rollup, f"day={d % src.pool}"), os.path.join(self.rollup, f"day={d}")
            )
        self.day_files: dict[int, list[int]] = {}
        for path, size in dir_files(self.rollup):
            d = int(path.split("day=")[1].split(os.sep)[0])
            self.day_files.setdefault(d, []).append(size)

    def _query(self, i: int) -> tuple[int, int, bool, bool]:
        """(first day, last day, by category, through SQL) of op i. Every
        cycle runs the same four query shapes, in a seeded order at
        seeded start days, so each seed costs about the same."""
        while len(self.queries) <= i:
            for j in self.plan_rng.permutation(len(self.shapes)):
                n, by_cat, sql = self.shapes[j]
                start = int(self.plan_rng.integers(0, self.days - n + 1))
                self.queries.append((start, start + n - 1, by_cat, sql))
        return self.queries[i]

    def _run(self, lo: int, hi: int, by_cat: bool, sql: bool) -> list[tuple]:
        from postgresql_topn_spark.functions.sketch import explode_topn
        from postgresql_topn_spark.functions.sql_api import topn_sql
        from postgresql_topn_spark.sources.rollup import query_topn_rollup, read_topn_rollup

        with self.tracer.span("rollup.read"):
            rollup = read_topn_rollup(self.spark, self.rollup, bucket_name="day")
        keep = ["category"] if by_cat else []
        if sql:
            rollup.createOrReplaceTempView("dash_rollup")
            group = " GROUP BY category" if by_cat else ""
            with self.tracer.span("sql_api.build"):
                merged = topn_sql(
                    self.spark,
                    f"SELECT {'category, ' if by_cat else ''}topn_union_agg(topn) AS topn "
                    f"FROM dash_rollup WHERE day BETWEEN {lo} AND {hi}{group}",
                    counters=self.counters,
                )
        else:
            with self.tracer.span("aggregates.build"):
                merged = query_topn_rollup(
                    rollup.where(F.col("day").between(lo, hi)), keep, counters=self.counters
                )
        with self.tracer.span("sketch.build"):
            top = explode_topn(merged, "topn", TOP, keep=keep, counters=self.counters)
        with self.tracer.span("exec"):
            rows = top.collect()
        self.note("rollup.files", sum(len(self.day_files.get(d, ())) for d in range(lo, hi + 1)))
        self.note("rollup.bytes", sum(sum(self.day_files.get(d, ())) for d in range(lo, hi + 1)))
        return [(r["category"] if by_cat else -1, r["item"], r["frequency"]) for r in rows]

    def warm(self) -> None:
        for n, by_cat, sql in self.shapes:
            self._run(0, n - 1, by_cat, sql)

    def op(self, i: int) -> None:
        answer = self._run(*self._query(i))
        if i < 2 * self.cycle:  # the first two cycles are checked
            self.answers[i] = answer

    def check(self) -> dict[int, str]:
        src = self.source
        problems: dict[int, str] = {}
        for i, answer in sorted(self.answers.items()):
            lo, hi, by_cat, _ = self._query(i)
            # the interval's exact counts: each batch's, times the days it fills
            times = np.bincount(np.arange(lo, hi + 1) % src.pool, minlength=src.pool)
            raw = pd.concat([
                src.exact(k).assign(frequency=src.exact(k)["frequency"] * int(m))
                for k, m in enumerate(times) if m
            ])
            keys = ["category", "item"] if by_cat else ["item"]
            exact = raw.groupby(keys)["frequency"].sum()
            # the independent merge: sum of the per-(day, category) top-`counters`
            merged = raw[raw["rank"] <= self.counters].groupby(keys)["frequency"].sum()
            groups = sorted(int(c) for c in raw["category"].unique()) if by_cat else [-1]
            want_rows = []
            for g in groups:
                part = merged.loc[g] if by_cat else merged
                want_rows.extend((g, it, f) for it, f in top_of(part.astype(int).to_dict(), TOP))
                got = [(it, f) for gg, it, f in answer if gg == g]
                self.accuracy_of(got, (exact.loc[g] if by_cat else exact).astype(int).to_dict())
            if sorted(want_rows) != sorted(answer):
                problems[i] = (
                    f"query days {lo}-{hi} by_category={by_cat}: answer differs from an independent merge"
                )
        return problems


class Bounded(Workload):
    """Tier-2 bounded-memory sketches: each op runs
    ``topn_add_agg_sketch`` over one high-cardinality batch with
    counters far below the distinct item count; the last op of every
    cycle also merges the cycle's sketches with
    ``topn_union_agg_sketch``."""

    name = "bounded"
    cycle = 4
    nominal_cycle_s = 6.0
    batch_rows = 40_000
    categories = 4
    counters = 100
    pool = 8  # distinct batch files; op i sketches batch i % pool

    def prepare(self, inputs_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        zipf = ZipfItems(rng, 0.9, self.categories)
        ck = Checksum()
        os.makedirs(inputs_dir)
        self.batches, self.paths = [], []
        for k in range(self.pool):
            cats, ids = zipf.draw(self.batch_rows)
            ck.add(cats, ids)
            path = os.path.join(inputs_dir, f"batch{k}.parquet")
            write_events(path, {"category": cats, "item": ids})
            self.batches.append((cats, ids))
            self.paths.append(path)
        self.checksum = ck.hexdigest()
        self.sketches: dict[int, dict[int, dict[str, int]]] = {}
        self.unions: dict[int, dict[int, dict[str, int]]] = {}

    def _sketch(self, k: int) -> dict[int, dict[str, int]]:
        from postgresql_topn_spark.operators.sketch_state import topn_add_agg_sketch

        events = self.spark.read.schema("category int, item string").parquet(self.paths[k])
        with self.tracer.span("sketch_state.build"):
            out = topn_add_agg_sketch(events, ["category"], "item", counters=self.counters)
        with self.tracer.span("exec"):
            rows = out.collect()
        return {r["category"]: dict(r["topn"]) for r in rows}

    def _union(self, parts: list[dict[int, dict[str, int]]]) -> dict[int, dict[str, int]]:
        from postgresql_topn_spark.operators.sketch_state import topn_union_agg_sketch

        rows = [(cat, sk) for part in parts for cat, sk in part.items()]
        df = self.spark.createDataFrame(rows, "category int, topn map<string,bigint>")
        with self.tracer.span("sketch_state.build"):
            out = topn_union_agg_sketch(df, ["category"], "topn", counters=self.counters)
        with self.tracer.span("exec"):
            rows = out.collect()
        return {r["category"]: dict(r["topn"]) for r in rows}

    def warm(self) -> None:
        self._union([self._sketch(k) for k in range(self.cycle)])

    def op(self, i: int) -> None:
        self.sketches[i] = self._sketch(i % self.pool)
        if i % self.cycle == self.cycle - 1:
            first = i - self.cycle + 1
            self.unions[i] = self._union([self.sketches[j] for j in range(first, i + 1)])

    def _exact(self, ops: list[int]) -> dict[int, dict[str, int]]:
        cats = np.concatenate([self.batches[j % self.pool][0] for j in ops])
        ids = np.concatenate([self.batches[j % self.pool][1] for j in ops])
        counts = exact_ranking(cats, ids)
        return {
            int(c): dict(zip(g["item"], g["frequency"].astype(int)))
            for c, g in counts.groupby("category")
        }

    def _check_sketch(self, got, exact) -> str | None:
        for cat, counts in exact.items():
            sk = got.get(cat, {})
            if len(sk) != min(self.counters, len(counts)):
                return f"category {cat}: {len(sk)} entries, want {min(self.counters, len(counts))}"
            over = [it for it, f in sk.items() if f > counts.get(it, 0)]
            if over:
                return f"category {cat}: frequency of {over[0]} exceeds its exact count"
        return None

    def check(self) -> dict[int, str]:
        problems: dict[int, str] = {}
        exact_by_batch: dict[int, dict] = {}
        for i, got in sorted(self.sketches.items()):
            k = i % self.pool
            if k not in exact_by_batch:
                exact_by_batch[k] = self._exact([k])
            exact = exact_by_batch[k]
            bad = self._check_sketch(got, exact)
            if bad:
                problems[i] = f"batch sketch: {bad}"
                continue
            for cat, counts in exact.items():
                self.accuracy_of(top_of(got[cat], TOP), counts)
            self.state_bytes += sum(len(json.dumps(sk)) for sk in got.values())
            self.state_rows += self.batch_rows
        for i, got in sorted(self.unions.items()):
            ops = list(range(i - self.cycle + 1, i + 1))
            bad = self._check_sketch(got, self._exact(ops))
            if bad:
                problems[i] = f"union sketch: {bad}"
        return problems


class Rollup(Workload):
    """The rollup's two sides in one closed loop: :class:`Ingest` ops
    (daily appends, compaction every fourth) alternate with
    :class:`Dashboard` ops (interval reads of a 90-day rollup pre-built
    from the ingest batches). Each side keeps its own tables, so neither reads what the
    other writes; they share one JVM, whose start-up and warm-up would
    otherwise be paid twice per run."""

    name = "rollup"
    nominal_cycle_s = 11.0

    def __init__(self, spark, seed: int, run_dir: str, tracer) -> None:
        super().__init__(spark, seed, run_dir, tracer)
        self.ingest = Ingest(spark, seed, run_dir, tracer)
        self.dash = Dashboard(spark, seed, run_dir, tracer, self.ingest)
        self.sides = (self.ingest, self.dash)
        self.cycle = self.ingest.cycle + self.dash.cycle

    def prepare(self, inputs_dir: str) -> None:
        for side in self.sides:
            side.prepare(inputs_dir)
        self.checksum = self.ingest.checksum  # the dashboard reads the same batches

    def build(self) -> None:
        self.dash.build()

    def warm(self) -> None:
        self.ingest.warm()
        self.dash.warm()

    def kind(self, i: int) -> str:
        return self.sides[i % 2].name

    def rows_of(self, i: int) -> int:
        return self.sides[i % 2].batch_rows

    def op(self, i: int) -> None:
        self.sides[i % 2].op(i // 2)

    def check(self) -> dict[int, str]:
        problems = {2 * j + k: p for k, side in enumerate(self.sides) for j, p in side.check().items()}
        for side in self.sides:
            for key, values in side.layer.items():
                self.layer.setdefault(key, []).extend(values)
        # accuracy of what users read: the dashboard answers; the
        # ingest check above already requires its stored sketches exact
        self.recall, self.rel_err = self.dash.recall, self.dash.rel_err
        # at-rest cost of the maintained (appended, then compacted) rollup
        self.state_bytes, self.state_rows = self.ingest.state_bytes, self.ingest.state_rows
        return problems


WORKLOADS = {w.name: w for w in (Rollup, Bounded)}
