"""Tier-2 bounded-memory sketch invariants (SURVEY.md §5: prune-policy
behavior is tested via invariants, not golden values)."""

import pytest
from pyspark.sql import functions as F

import postgresql_topn_spark as T
from postgresql_topn_spark.operators.sketch_state import (
    TopnState,
    topn_add_agg_sketch,
    topn_union_agg_sketch,
    truncate_key_bytes,
)


class TestStateUnit:
    def test_exact_until_limit(self):
        st = TopnState(counters=4)
        for it in ["a", "b", "a", "c", "a", "b"]:
            st.add(it)
        assert st.finalize() == {"a": 3, "b": 2, "c": 1}

    def test_agg_path_prunes_at_3x(self):
        st = TopnState(counters=2)
        for i in range(7):  # 7th distinct insert exceeds 3*2
            st.add(f"i{i}")
        assert len(st.counts) == 3  # pruned to 7 // 2

    def test_scalar_path_prunes_at_counters(self):
        st = TopnState(counters=3)
        for i in range(5):
            st.add(f"i{i}", aggregate_path=False)
        assert len(st.counts) == 3

    def test_evicted_item_restarts(self):
        st = TopnState(counters=1)
        st.add("hot", 100)
        for i in range(6):
            st.add(f"cold{i}")  # force prune
        st.add("late", 1)
        assert st.counts["hot"] == 100  # heavy hitter survives pruning

    def test_saturation_at_egress_not_per_add(self):
        """Review pin: state totals are EXACT Python ints (a per-add
        clamp would make mixed-sign weighted totals depend on partition
        arrival order); int64 saturation happens once, at egress, via
        clamp64 — in both directions."""
        from postgresql_topn_spark.operators.sketch_state import clamp64

        i64 = 9223372036854775807
        st = TopnState(counters=2)
        st.add("a", i64)
        st.add("a", 5)
        assert st.counts["a"] == i64 + 5  # exact in state
        assert clamp64(st.counts["a"]) == i64  # saturated at egress
        st.add("a", -10)
        assert clamp64(st.counts["a"]) == i64 - 5  # recoverable pre-clamp
        # lower clamp exists too (the old min()-only clamp overflowed
        # Arrow int64 with two most-negative weighted adds)
        assert clamp64(-(1 << 64)) == -i64 - 1

    def test_truncate_key_bytes(self):
        assert truncate_key_bytes("x" * 300) == "x" * 255
        t = truncate_key_bytes("я" * 200)
        assert len(t.encode()) <= 255 and set(t) == {"я"}


class TestDistributedSketch:
    def test_matches_tier1_when_no_eviction(self, spark):
        df = spark.createDataFrame(
            [(g % 3, f"item{(g * 7) % 11}") for g in range(300)], "g int, item string"
        )
        exact = {
            r["g"]: r["topn"]
            for r in T.topn_add_agg(df, ["g"], "item", counters=1000).collect()
        }
        sk = {
            r["g"]: r["topn"]
            for r in topn_add_agg_sketch(df, ["g"], "item", counters=1000).collect()
        }
        assert sk == exact

    def test_invariants_under_eviction(self, spark):
        # skewed: one heavy hitter + long tail of uniques per group
        rows = [(1, "hot")] * 500 + [(1, f"tail{i}") for i in range(200)]
        df = spark.createDataFrame(rows, "g int, item string")
        out = topn_add_agg_sketch(df, ["g"], "item", counters=8).collect()[0]["topn"]
        truth = {"hot": 500, **{f"tail{i}": 1 for i in range(200)}}
        assert len(out) <= 8  # materialized bound (topn.c:652)
        assert all(v <= truth[k] for k, v in out.items())  # lower bounds
        assert out["hot"] == 500  # heavy hitter exact

    def test_all_null_group(self, spark):
        df = spark.createDataFrame([(1, None), (2, "a")], "g int, item string")
        out = {r["g"]: r["topn"] for r in topn_add_agg_sketch(df, ["g"], "item", counters=4).collect()}
        assert out == {1: {}, 2: {"a": 1}}

    def test_union_agg_sketch(self, spark):
        df = spark.createDataFrame(
            [(1, {"a": 2, "b": 1}), (1, {"a": 3, "c": 4}), (1, None), (2, None)],
            "g int, m map<string,bigint>",
        )
        out = {r["g"]: r["topn"] for r in topn_union_agg_sketch(df, ["g"], "m", counters=10).collect()}
        assert out == {1: {"a": 5, "b": 1, "c": 4}, 2: {}}


@pytest.mark.parametrize("counters", [1, 4, 16])
def test_property_subset_of_truth(spark, counters):
    import random

    rng = random.Random(42)
    rows = [(1, f"i{rng.randint(0, 40)}") for _ in range(600)]
    df = spark.createDataFrame(rows, "g int, item string")
    out = topn_add_agg_sketch(df, ["g"], "item", counters=counters).collect()[0]["topn"]
    truth: dict[str, int] = {}
    for _, it in rows:
        truth[it] = truth.get(it, 0) + 1
    assert len(out) <= counters
    assert all(k in truth and v <= truth[k] for k, v in out.items())


# ---------------------------------------------------------------------------
# Property-based invariants on the raw state machine (no Spark: fast,
# wide input coverage via hypothesis)
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    items=st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=2), max_size=300),
    counters=st.integers(min_value=1, max_value=8),
)
def test_state_invariants_hypothesis(items, counters):
    truth: dict[str, int] = {}
    st_ = TopnState(counters)
    for it in items:
        st_.add(it, 1, aggregate_path=True)
        truth[it] = truth.get(it, 0) + 1
        # transient bound: never beyond 3 x counters (topn.c:440-446)
        assert len(st_.counts) <= counters * 3
        # reported counts are lower bounds of the truth
        assert all(k in truth and v <= truth[k] for k, v in st_.counts.items())
    final = st_.finalize()
    assert len(final) <= counters
    # exactness when the stream never outgrew the transient bound
    if len(truth) <= counters * 3 and len(truth) <= counters:
        assert final == truth


@settings(max_examples=100, deadline=None)
@given(
    left=st.dictionaries(st.text(alphabet="xyz", min_size=1, max_size=2),
                         st.integers(min_value=1, max_value=100), max_size=9),
    right=st.dictionaries(st.text(alphabet="xyz", min_size=1, max_size=2),
                          st.integers(min_value=1, max_value=100), max_size=9),
)
def test_merge_commutes_when_no_eviction(left, right):
    """MergeTopn order-independence in the no-eviction regime (our
    pinned determinism guarantee)."""
    def merged(a, b):
        s = TopnState(100)
        for src in (a, b):
            for k, v in sorted(src.items(), key=lambda kv: (-kv[1], kv[0])):
                s.add(k, v, aggregate_path=True)
        return s.finalize()

    assert merged(left, right) == merged(right, left)


class TestWeightedSketch:
    """topn_weighted_agg_sketch: Tier-2 bounded-memory weighted
    aggregation + the shared three-surface weight rule."""

    def test_weight_to_long_rule(self):
        from postgresql_topn_spark.operators.sketch_state import (
            weight_to_long,
        )

        assert weight_to_long(None) == 0
        assert weight_to_long(float("nan")) == 0
        assert weight_to_long(2.5) == 3 and weight_to_long(-2.5) == -3
        assert weight_to_long(0.49999999999999994) == 0  # edge double
        assert weight_to_long(1e30) == (1 << 63) - 1  # saturate, no raise
        assert weight_to_long(float("-inf")) == -(1 << 63)
        assert weight_to_long(7) == 7

    def test_matches_tier1_when_no_eviction(self, spark):
        from pyspark.sql import functions as F

        from postgresql_topn_spark.functions.aggregates import (
            topn_weighted_agg,
        )
        from postgresql_topn_spark.operators.sketch_state import (
            topn_weighted_agg_sketch,
        )

        rows = [
            ("g1", "a", 10.0), ("g1", "a", 2.5), ("g1", "b", None),
            ("g1", None, 99.0), ("g1", "c", -5.0), ("g1", "c", 2.0),
            ("g2", "x", 0.5), ("g2", "y", 1e30),
        ]
        df = spark.createDataFrame(rows, "g string, item string, w double")
        t1 = {
            r["g"]: dict(r["topn"])
            for r in topn_weighted_agg(
                df, ["g"], "item", "w", counters=100
            ).collect()
        }
        t2 = {
            r["g"]: dict(r["topn"])
            for r in topn_weighted_agg_sketch(
                df, ["g"], "item", "w", counters=100
            ).collect()
        }
        assert t1 == t2
        # a: 10 + 3 (2.5 HALF_UP rounds per row); b: NULL weight -> 0
        # total -> dropped; c: -5 + 2 <= 0 -> dropped; y saturates
        assert t2["g1"] == {"a": 13}
        assert t2["g2"] == {"x": 1, "y": (1 << 63) - 1}

    def test_bounded_state_and_global_group(self, spark):
        from pyspark.sql import functions as F

        from postgresql_topn_spark.operators.sketch_state import (
            topn_weighted_agg_sketch,
        )

        df = spark.range(5_000).select(
            F.col("id").cast("string").alias("item"),
            (F.col("id") % 7 + 1).cast("double").alias("w"),
        )
        out = topn_weighted_agg_sketch(
            df, [], "item", "w", counters=10
        ).collect()
        assert len(out) == 1
        sk = dict(out[0]["topn"])
        assert 0 < len(sk) <= 10  # final prune to counters
        assert all(v > 0 for v in sk.values())

    def test_all_null_items_emit_empty_group(self, spark):
        from postgresql_topn_spark.operators.sketch_state import (
            topn_weighted_agg_sketch,
        )

        df = spark.createDataFrame(
            [("g", None, 1.0)], "g string, item string, w double"
        )
        out = topn_weighted_agg_sketch(df, ["g"], "item", "w", counters=5)
        assert [dict(r["topn"]) for r in out.collect()] == [{}]


def test_weight_to_long_foreign_nan_flavors():
    """Review pin: missing weights can arrive as np.float32 NaN (not a
    Python-float subclass) or pd.NA depending on the Arrow dtype — the
    isinstance-guarded NaN check missed them and Decimal(repr(nan))
    raised, killing the SQL UDAF task on FLOAT weight columns."""
    import numpy as np
    import pandas as pd

    from postgresql_topn_spark.operators.sketch_state import weight_to_long

    assert weight_to_long(np.float32("nan")) == 0
    assert weight_to_long(np.float64("nan")) == 0
    assert weight_to_long(pd.NA) == 0
    assert weight_to_long(np.float32(2.5)) == 3


def test_weighted_sketch_most_negative_overflow_no_crash(spark):
    """Review pin: two most-negative weights on one (group, item) sum
    to -2^64 in the partial state; the old min()-only per-add clamp let
    that through the bigint Arrow schema (OverflowError). Now the state
    is exact and egress clamps both directions; the total is <= 0, so
    the weighted drop rule removes the item and the group emits {}."""
    from postgresql_topn_spark.operators.sketch_state import (
        topn_weighted_agg_sketch,
    )

    df = spark.createDataFrame(
        [("g", "x", -9.3e18), ("g", "x", -9.3e18)],
        "g string, item string, w double",
    ).coalesce(1)
    out = topn_weighted_agg_sketch(df, ["g"], "item", "w", counters=5)
    assert [dict(r["topn"]) for r in out.collect()] == [{}]


def test_weighted_sketch_transient_overflow_matches_tier1(spark):
    """Review pin: partial totals cross the shuffle as decimal(38,0),
    so a partition whose local total exceeds int64 does NOT clamp early
    — the merged result equals Tier-1's exact-sum-then-clamp-once even
    when the partials transiently overflow in mixed-sign input."""
    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg
    from postgresql_topn_spark.operators.sketch_state import (
        topn_weighted_agg_sketch,
    )

    big = 9.2e18  # rounds to an integer-valued double just under int64
    part_a = spark.createDataFrame(
        [("g", "x", big), ("g", "x", big)], "g string, item string, w double"
    ).coalesce(1)
    part_b = spark.createDataFrame(
        [("g", "x", -9e18)], "g string, item string, w double"
    ).coalesce(1)
    df = part_a.union(part_b)  # two partitions by construction
    t1 = {
        r["g"]: dict(r["topn"])
        for r in topn_weighted_agg(df, ["g"], "item", "w", counters=5).collect()
    }
    t2 = {
        r["g"]: dict(r["topn"])
        for r in topn_weighted_agg_sketch(
            df, ["g"], "item", "w", counters=5
        ).collect()
    }
    # exact total 2*9.2e18 - 9e18 = 9.4e18 > INT64_MAX -> one clamp
    assert t1 == t2 == {"g": {"x": (1 << 63) - 1}}
    # and the old bug's signature value (INT64_MAX - 9e18) is absent
    assert t2["g"]["x"] != (1 << 63) - 1 - 9_000_000_000_000_000_000


def test_weights_to_long_vec_bit_identical_to_scalar():
    """The vectorized fast path must agree with the Decimal scalar rule
    on every value class: uniform ranges, exact .5 boundaries, the edge
    double, big-magnitude/odd-integer doubles (where naive +0.5 breaks
    half-even), saturation and non-finites."""
    import random

    import numpy as np

    from postgresql_topn_spark.operators.sketch_state import (
        weight_to_long,
        weights_to_long_vec,
    )

    rnd = random.Random(3)
    vals = [rnd.uniform(-1e6, 1e6) for _ in range(5000)]
    vals += [rnd.uniform(-1e12, 1e12) for _ in range(2000)]
    vals += [x + 0.5 for x in range(-50, 50)]
    vals += [0.49999999999999994, 1e30, -1e30,
             float("inf"), float("-inf"), float("nan")]
    vals += [rnd.randint(-(2**60), 2**60) * 1.0 for _ in range(1000)]
    got = weights_to_long_vec(np.array(vals))
    exp = [weight_to_long(None if v != v else v) for v in vals]
    assert list(got) == exp


class TestPartialPreCombine:
    """The Tier-2 partial sums each Arrow batch per (group, item) and
    adds the sums in (total DESC, item ASC) order. Pinned, without
    Spark, against the reference's transition run one row at a time
    (``TopnState.add`` per row) over the same rows, each batch permuted
    into runs of one (group, item), heaviest run first."""

    LONG_A, LONG_B = "x" * 255 + "a", "x" * 255 + "b"  # one 255-byte key

    @staticmethod
    def _batch(groups: dict, seed: int):
        """One shuffled batch from ``{group: [(item, [weight, ...])]}``."""
        import numpy as np
        import pandas as pd

        rows = [(g, it, w) for g, runs in groups.items() for it, ws in runs for w in ws]
        order = np.random.default_rng(seed).permutation(len(rows))
        return pd.DataFrame([rows[i] for i in order], columns=["__g0", "__item", "__w"])

    @staticmethod
    def _partial(batches, counters, weighted):
        import pandas as pd

        from postgresql_topn_spark.operators.sketch_state import _partial_fn

        out = {}
        for pdf in _partial_fn(["__g0"], counters, weighted=weighted)(iter(batches)):
            for g, it, fr in pdf.itertuples(index=False):
                entries = out.setdefault(None if pd.isna(g) else g, {})
                if it is not None:
                    entries[it] = int(fr)
        return out

    @staticmethod
    def _replay(batches, counters, weighted, *, runs=True):
        """``TopnState.add`` per row; ``runs`` permutes each batch into
        (batch total DESC, item ASC) runs, else rows keep file order."""
        from postgresql_topn_spark.operators.sketch_state import weight_to_long

        states = {}
        for pdf in batches:
            rows = []
            for g, it, w in zip(pdf["__g0"], pdf["__item"], pdf["__w"]):
                key = None if g != g else g
                states.setdefault(key, TopnState(counters))
                wv = weight_to_long(w) if weighted else 1
                if it is not None and wv:
                    rows.append((key, truncate_key_bytes(it), wv))
            if runs:
                totals = {}
                for key, it, wv in rows:
                    totals[key, it] = totals.get((key, it), 0) + wv
                # groups hold separate states, so only the order within
                # a group matters
                rows.sort(key=lambda r: (-totals[r[0], r[1]], r[1]))
            for key, it, wv in rows:
                states[key].add(it, wv)
        return {key: st.counts for key, st in states.items()}

    def test_equals_row_replay_in_runs(self):
        nan = float("nan")
        batches = [
            self._batch({
                1.0: [("h", [1, 2, 1, 1]), (self.LONG_A, [1]), (self.LONG_B, [1, 1]),
                      ("m", [1, 1]), (None, [5, 5]), ("z", [0.0]), ("neg", [-4.0])]
                     + [(f"s{i}", [1]) for i in range(6)],
                nan: [("p", [1, 1]), ("q", [2.5])],
                3.0: [(None, [1, 1])],  # a group with only NULL items
            }, 1),
            self._batch({
                1.0: [("h", [1, 1, 1]), ("m", [1, 1]), ("zz", [2, -2]), ("w", [nan])]
                     + [(f"t{i}", [1]) for i in range(5)],
                nan: [("p", [1]), (None, [1])],
            }, 2),
            self._batch({
                1.0: [("h", [1, 1]), ("m", [1, 0.4])] + [(f"u{i}", [1]) for i in range(5)],
            }, 3),
        ]
        for weighted in (False, True):
            got = self._partial(batches, 2, weighted)
            assert got == self._replay(batches, 2, weighted), weighted
            # NaN group keys fold into one NULL group; NULL-only groups stay
            assert set(got) == {1.0, None, 3.0} and got[3.0] == {}
            # the two long items truncate first, then combine
            assert got[1.0]["x" * 255] == 3
            # eviction fired, and the run order is what the pin holds:
            # in file order the same rows give another state
            assert "s0" not in got[1.0]
            assert got != self._replay(batches, 2, weighted, runs=False), weighted

    def test_prune_on_a_run_ranks_its_sum(self):
        """Where a prune fires on the first row of a run, the row replay
        ranks the new item at that row's count and may evict it; the
        pre-combine ranks it at the run's sum. That is the reference's
        MergeTopn of the batch's exact sums (topn.c:955-990), the same
        merge the phase-2 reducer runs."""
        batches = [
            self._batch({"g": [("a", [1] * 5), ("b", [1]), ("c", [1])]}, 1),
            self._batch({"g": [("x", [1, 1])]}, 2),
        ]
        assert self._partial(batches, 1, False) == {"g": {"a": 5, "x": 2}}
        assert self._replay(batches, 1, False) == {"g": {"a": 5, "b": 1, "x": 1}}


class TestPartialFanOut:
    """A Tier-2 sketch spreads a few-file scan to at most one partial
    task per ``spark.sql.files.openCostInBytes`` of input; the other
    ``spread_small_scan`` callers keep ``defaultParallelism``."""

    OPEN_COST = "spark.sql.files.openCostInBytes"

    @pytest.fixture
    def one_file(self, spark, tmp_path):
        import os

        path = str(tmp_path / "one")
        spark.range(5000).selectExpr("id % 7 AS g", "CAST(id % 997 AS STRING) AS item").coalesce(
            1
        ).write.parquet(path)
        size = sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
        )
        return spark.read.parquet(path), size

    @staticmethod
    def _plan(df):
        import re

        from postgresql_topn_spark.plans.audit import plan_str

        text = plan_str(df, "simple")
        return (
            text.count("MapInPandas"),
            text.count("FlatMapGroupsInPandas"),
            [int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", text)],
        )

    def test_scan_under_the_floor_runs_one_partial(self, one_file):
        df, size = one_file
        assert size < 4 << 20
        sk = topn_add_agg_sketch(df, ["g"], "item", counters=10)
        assert self._plan(sk) == (1, 1, [])

    def test_scan_above_the_floor_spreads_by_bytes(self, spark, one_file):
        import math

        from postgresql_topn_spark.operators.sketch_state import (
            topn_weighted_agg_sketch,
        )

        df, size = one_file
        dp = spark.sparkContext.defaultParallelism
        prior = spark.conf.get(self.OPEN_COST)
        spark.conf.set(self.OPEN_COST, str(size // 2 + 1))  # the file is ~2 floors
        try:
            want = min(dp, math.ceil(size / (size // 2 + 1)))
            for sk in (
                topn_add_agg_sketch(df, ["g"], "item", counters=10),
                topn_weighted_agg_sketch(df, ["g"], "item", "g", counters=10),
            ):
                assert self._plan(sk) == (1, 1, [want] if want > 1 else [])
        finally:
            spark.conf.set(self.OPEN_COST, prior)

    def test_no_floor_keeps_default_parallelism(self, spark, one_file):
        from postgresql_topn_spark.functions.cms import cms_add_agg
        from postgresql_topn_spark.operators.dedup import spread_small_scan

        df, _ = one_file
        dp = spark.sparkContext.defaultParallelism
        want = [dp] if dp > 1 else []
        assert self._plan(spread_small_scan(df, df))[2] == want
        assert self._plan(cms_add_agg(df, ["g"], "item"))[2] == want


class TestArrowNullCoercion:
    """Regressions for the Arrow->pandas nullable-int64-becomes-float64
    coercion (found by the randomized four-surface test): exactness
    must survive a NULL marker sharing a pandas column with values
    above 2^53."""

    def test_union_exact_with_null_sketch_and_huge_freq(self, spark):
        from postgresql_topn_spark.operators.sketch_state import (
            topn_union_agg_sketch,
        )

        big = (1 << 63) - 1
        rows = [
            ("g", None),            # NULL sketch -> explode_outer marker
            ("g", {"k": big - 2}),  # 2^63-adjacent: float64 would round
            ("g", {"k": -3}),
        ]
        df = spark.createDataFrame(
            rows, "g string, sk map<string,bigint>"
        ).coalesce(1)
        out = {
            r["g"]: dict(r["topn"])
            for r in topn_union_agg_sketch(df, ["g"], "sk", counters=10).collect()
        }
        assert out == {"g": {"k": big - 5}}

    def test_counting_group_key_above_2_53_with_null_keys(self, spark):
        from postgresql_topn_spark.operators.sketch_state import (
            topn_add_agg_sketch,
        )

        k = (1 << 53) + 1  # not representable in float64
        rows = [(k, "a"), (None, "b"), (k, "a"), (None, None)]
        df = spark.createDataFrame(rows, "g bigint, item string").coalesce(1)
        out = {
            r["g"]: dict(r["topn"])
            for r in topn_add_agg_sketch(df, ["g"], "item", counters=10).collect()
        }
        assert out == {k: {"a": 2}, None: {"b": 1}}
        got_types = dict(
            topn_add_agg_sketch(df, ["g"], "item", counters=10).dtypes
        )
        assert got_types["g"] == "bigint"  # restore-cast keeps the type


def test_eviction_gate_lanes(spark, sf_dir):
    """The driver gate `topn_tier2_eviction` (VERDICT r10 item 1):
    its three lanes hold by construction, and the regime is
    NON-VACUOUS — at least one reported entry undercounts its exact
    frequency (i.e. eviction actually fired), which the oracle's
    literal-0 'violations' lane alone cannot show."""
    from pyspark.sql import functions as F

    from postgresql_topn_spark.suite import QUERIES, load_table

    rows = QUERIES["topn_tier2_eviction"](spark, sf_dir).collect()
    lanes = {}
    for r in rows:
        lanes.setdefault(r["lane"], []).append(r)
    li = load_table(spark, sf_dir, "lineitem")
    nd = {
        r["grp"]: r["n"]
        for r in li.groupBy(F.col("l_returnflag").alias("grp")).agg(
            F.count_distinct("l_partkey").alias("n")
        ).collect()
    }
    for r in lanes["n_entries"]:
        assert r["frequency"] == min(8, nd[r["grp"]])
    assert all(r["frequency"] == 0 for r in lanes["violations"])
    # exact_subset: small-counters path over <= 2 distinct items ==
    # plain COUNT (no eviction regime)
    exact = {
        (r["grp"], r["item"]): r["c"]
        for r in li.groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_linestatus").alias("item"),
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert {
        (r["grp"], r["item"]): r["frequency"] for r in lanes["exact_subset"]
    } == exact
    # non-vacuity: the high-cardinality sketch genuinely undercounts.
    # The partial pre-combines each Arrow batch, and a small lineitem
    # fits in one batch, where the counters=8 top-8 comes out exact
    # although eviction fires: 1000-row batches make it undercount.
    from postgresql_topn_spark.functions.sketch import explode_topn
    from postgresql_topn_spark.operators.sketch_state import (
        topn_add_agg_sketch,
    )

    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(batch_key, None)
    spark.conf.set(batch_key, "1000")
    try:
        sk = topn_add_agg_sketch(
            li, [F.col("l_returnflag").alias("grp")], "l_partkey", counters=8
        )
        ent = explode_topn(sk, "topn", 8, keep=["grp"], counters=8)
        pk = li.groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_partkey").cast("string").alias("item"),
        ).agg(F.count(F.lit(1)).alias("c"))
        under = (
            ent.join(pk, ["grp", "item"])
            .where(F.col("frequency") < F.col("c"))
            .count()
        )
    finally:
        if prior is None:
            spark.conf.unset(batch_key)
        else:
            spark.conf.set(batch_key, prior)
    assert under > 0, "eviction never fired — the gate is vacuous"

    # ---- union-path lanes (VERDICT r11 item 1) ----
    for r in lanes["u_entries"]:
        assert r["frequency"] == min(8, nd[r["grp"]])
    assert all(r["frequency"] == 0 for r in lanes["u_violations"])
    # u_exact: union of exact sub-sketches over 7 distinct items on
    # the same counters=8 budget never prunes == plain COUNT
    exact_ln = {
        (r["grp"], r["item"]): r["c"]
        for r in li.groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_linenumber").cast("string").alias("item"),
        ).agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert {
        (r["grp"], r["item"]): r["frequency"] for r in lanes["u_exact"]
    } == exact_ln
    # non-vacuity: MergeTopn's prune genuinely fired — rebuild the
    # gate's exact per-(grp, linenumber) inputs, union-merge under
    # counters=8, and find a reported total strictly under its exact
    # input sum
    from postgresql_topn_spark.operators.sketch_state import (
        topn_union_agg_sketch,
    )

    inputs = (
        li.groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_linenumber").alias("sub"),
            F.col("l_partkey").cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("grp", "sub")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("item", "c"))
            ).alias("sk")
        )
    )
    usk = topn_union_agg_sketch(inputs, ["grp"], "sk", counters=8)
    u_under = (
        explode_topn(usk, "topn", 8, keep=["grp"], counters=8)
        .join(pk, ["grp", "item"])
        .where(F.col("frequency") < F.col("c"))
        .count()
    )
    assert u_under > 0, "merge prune never fired — the u-lanes are vacuous"


def test_union_invariants_under_eviction(spark):
    """Union-path analogue of test_invariants_under_eviction (the gate
    topn_tier2_eviction covers the ADD path; MergeTopn's prune —
    topn.c:955-990 — must carry the same contract): with many more
    distinct items than counters, the merged sketch holds <= counters
    entries, every reported total is a LOWER bound on the exact sum of
    that item's input-map values, the heavy hitter is exact, and a
    no-eviction group on the same small budget is exact everywhere."""
    from postgresql_topn_spark.operators.sketch_state import (
        topn_union_agg_sketch,
    )

    rows = (
        [(1, {"hot": 7, f"t{i}": 1}) for i in range(150)]
        + [(1, {"hot": 50})]
        + [(2, {"a": 3, "b": 1})] * 4  # <= 3c distinct: never prunes
    )
    df = spark.createDataFrame(rows, "g int, sk map<string,bigint>")
    out = {
        r["g"]: dict(r["topn"])
        for r in topn_union_agg_sketch(df, ["g"], "sk", counters=8).collect()
    }
    truth = {"hot": 7 * 150 + 50, **{f"t{i}": 1 for i in range(150)}}
    assert len(out[1]) <= 8
    assert all(v <= truth[k] for k, v in out[1].items())
    assert out[1]["hot"] == truth["hot"]
    assert out[2] == {"a": 12, "b": 4}


def test_saturate_then_rank_parity_at_int64_edge(spark):
    """Every lane saturates a total into int64 BEFORE it ranks, as the
    reference saturates on each add (topn.c:997-1009) before
    PruneHashTable ranks (topn.c:869-908). With counters=1 the exact
    totals INT64_MAX+5 ('a') and INT64_MAX+10 ('b') both saturate to
    INT64_MAX and tie, so 'a' (item ASC) is kept — on the Tier-1
    aggregates, the registered UDAFs and the Tier-2 sketches alike.
    No eviction fires: 2 items against a transient limit of 3."""
    from postgresql_topn_spark.functions.aggregates import (
        topn_union_agg,
        topn_weighted_agg,
    )
    from postgresql_topn_spark.functions.sql_api import register_sql_functions
    from postgresql_topn_spark.operators.sketch_state import (
        topn_weighted_agg_sketch,
    )

    i64 = (1 << 63) - 1
    want = [{"a": i64}]
    rows = spark.createDataFrame(
        [("g", "a", i64), ("g", "a", 5), ("g", "b", i64), ("g", "b", 10)],
        "g string, item string, w bigint",
    )
    sketches = spark.createDataFrame(
        [("g", {"a": i64}), ("g", {"a": 5}), ("g", {"b": i64}), ("g", {"b": 10})],
        "g string, sk map<string,bigint>",
    )

    def maps(df):
        return [dict(r["topn"]) for r in df.collect()]

    session = spark.newSession()  # keep the 1-counter registration local
    register_sql_functions(session, counters=1)
    session.createDataFrame(rows.collect(), rows.schema).createOrReplaceTempView("w_rows")
    session.createDataFrame(sketches.collect(), sketches.schema).createOrReplaceTempView(
        "u_rows"
    )
    got = {
        "weighted": maps(topn_weighted_agg(rows, ["g"], "item", "w", counters=1)),
        "weighted udaf": maps(
            session.sql("SELECT topn_weighted_agg(item, w) AS topn FROM w_rows GROUP BY g")
        ),
        "weighted sketch": maps(
            topn_weighted_agg_sketch(rows, ["g"], "item", "w", counters=1)
        ),
        "union": maps(topn_union_agg(sketches, ["g"], "sk", counters=1)),
        "union udaf": maps(
            session.sql("SELECT topn_union_agg(sk) AS topn FROM u_rows GROUP BY g")
        ),
        "union sketch": maps(topn_union_agg_sketch(sketches, ["g"], "sk", counters=1)),
    }
    assert got == dict.fromkeys(got, want)


def test_python_rank_and_clamp_written_once():
    """The Python lanes saturate, rank and cut through one function:
    the int64 clamp lives in sketch_state.clamp64 and the (frequency
    DESC, item ASC) rank key in the rank-and-cut that pack_counts and
    the eviction prune share. No module under functions/, operators/ or
    streaming/ may carry a copy of either."""
    import ast
    import pathlib

    import postgresql_topn_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    home = {"-kv[1]": "_rank_cut", "max(min(": "clamp64"}
    seen = 0
    for path in sorted(
        p for d in ("functions", "operators", "streaming") for p in (root / d).glob("*.py")
    ):
        src = path.read_text()
        if path.name == "sketch_state.py":
            lines = src.splitlines(keepends=True)
            fns = {
                n.name: n for n in ast.parse(src).body if isinstance(n, ast.FunctionDef)
            }
            for pat, name in home.items():
                fn = fns[name]
                body = "".join("".join(lines[fn.lineno - 1 : fn.end_lineno]).split())
                assert pat in body, f"{name} lost its {pat}"
            for fn in sorted((fns[n] for n in home.values()), key=lambda f: -f.lineno):
                lines[fn.lineno - 1 : fn.end_lineno] = []
            src = "".join(lines)
        flat = "".join(src.split())
        for pat in home:
            assert pat not in flat, f"{path.name} carries its own {pat}"
        seen += 1
    assert seen > 20
