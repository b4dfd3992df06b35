"""Aggregate-surface semantics — ports of add_agg / union_agg /
customer_reviews_query pg_regress suites (SURVEY.md §5)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import postgresql_topn_spark as T
from postgresql_topn_spark.functions.aggregates import (
    topn_union_agg_global,
    topn_union_over_window,
)

SKETCH = "map<string,bigint>"


def fixture_numbers(spark):
    """The reference's `numbers` fixture: NULL x5, 0 x2, 1 x1, 2 x6,
    3 x4, 4 x3, 5 x7 (sql/add_agg.sql:8-18, FIXTURES.md §1)."""
    rows = [None] * 5 + [0] * 2 + [1] + [2] * 6 + [3] * 4 + [4] * 3 + [5] * 7
    return spark.createDataFrame([(v,) for v in rows], "int_column int")


class TestAddAgg:
    def test_numbers_fixture_counts(self, spark):
        df = fixture_numbers(spark).withColumn("g", F.lit(1))
        sk = T.topn_add_agg(df, ["g"], "int_column", counters=100).collect()[0]["topn"]
        assert sk == {"0": 2, "1": 1, "2": 6, "3": 4, "4": 3, "5": 7}

    def test_extraction_top4(self, spark):
        df = fixture_numbers(spark).withColumn("g", F.lit(1))
        skdf = T.topn_add_agg(df, ["g"], "int_column", counters=100)
        out = T.explode_topn(skdf, "topn", 4, counters=100).collect()
        assert [(r["item"], r["frequency"]) for r in out] == [
            ("5", 7),
            ("2", 6),
            ("3", 4),
            ("4", 3),
        ]

    def test_all_null_group_yields_empty_sketch(self, spark):
        df = spark.createDataFrame([(1, None), (1, None), (2, "a")], "g int, item string")
        out = {r["g"]: r["topn"] for r in T.topn_add_agg(df, ["g"], "item", counters=10).collect()}
        assert out == {1: {}, 2: {"a": 1}}

    def test_group_count_preserved(self, spark):
        df = spark.createDataFrame(
            [(g, f"i{i}") for g in range(5) for i in range(3)], "g int, item string"
        )
        assert T.topn_add_agg(df, ["g"], "item", counters=10).count() == 5

    def test_bounded_output_when_counters_small(self, spark):
        df = spark.createDataFrame(
            [(1, f"i{i:03d}") for i in range(50)] + [(1, "hot")] * 20, "g int, item string"
        )
        sk = T.topn_add_agg(df, ["g"], "item", counters=5).collect()[0]["topn"]
        assert len(sk) == 5
        assert sk["hot"] == 20  # heavy hitter survives with exact count


class TestUnionAgg:
    def test_merges_sketch_column(self, spark):
        df = spark.createDataFrame(
            [(1, {"a": 2, "b": 1}), (1, {"a": 3, "c": 4}), (2, {"z": 1})],
            f"g int, m {SKETCH}",
        )
        out = {r["g"]: r["topn"] for r in T.topn_union_agg(df, ["g"], "m", counters=10).collect()}
        assert out == {1: {"a": 5, "b": 1, "c": 4}, 2: {"z": 1}}

    def test_null_sketches_skipped_group_preserved(self, spark):
        # union_agg over NULL sketches -> {} (sql/union_agg.sql:10-24)
        df = spark.createDataFrame([(1, None), (1, None), (2, {"a": 1})], f"g int, m {SKETCH}")
        out = {r["g"]: r["topn"] for r in T.topn_union_agg(df, ["g"], "m", counters=10).collect()}
        assert out == {1: {}, 2: {"a": 1}}

    def test_self_union_doubles(self, spark):
        # doubling counts on self-union (sql/union_agg.sql)
        df = spark.createDataFrame([(1, {"a": 2, "b": 7})] * 2, f"g int, m {SKETCH}")
        out = T.topn_union_agg(df, ["g"], "m", counters=10).collect()[0]["topn"]
        assert out == {"a": 4, "b": 14}

    def test_cap_respected(self, spark):
        df = spark.createDataFrame(
            [(1, {f"i{i:02d}": i + 1 for i in range(20)})], f"g int, m {SKETCH}"
        )
        out = T.topn_union_agg(df, ["g"], "m", counters=3).collect()[0]["topn"]
        assert out == {"i19": 20, "i18": 19, "i17": 18}

    def test_global_union(self, spark):
        df = spark.createDataFrame([({"a": 1},), ({"a": 2, "b": 3},)], f"m {SKETCH}")
        out = topn_union_agg_global(df, "m", counters=10).collect()[0]["topn"]
        assert out == {"a": 3, "b": 3}

    def test_sum_saturates_at_int64_max(self, spark):
        # aggregate-path saturation (reference: IncreaseItemFrequency,
        # topn.c:997-1009): merging sketches must clamp, not error/wrap
        big = (1 << 63) - 1
        df = spark.createDataFrame(
            [(1, {"a": big, "b": 1}), (1, {"a": big, "b": 2})], f"g int, m {SKETCH}"
        )
        out = T.topn_union_agg(df, ["g"], "m", counters=10).collect()[0]["topn"]
        assert out == {"a": big, "b": 3}


class TestWindowFrame:
    def test_rows_6_preceding_matches_bruteforce(self, spark):
        # sql/customer_reviews_query.sql:59-68 semantics
        data = [(d, {f"k{(d + j) % 4}": d + j + 1 for j in range(3)}) for d in range(12)]
        df = spark.createDataFrame(data, f"day int, m {SKETCH}")
        w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
        got = {
            r["day"]: r["u"]
            for r in df.select("day", topn_union_over_window("m", w, counters=100).alias("u")).collect()
        }
        for d in range(12):
            expected = {}
            for dd in range(max(0, d - 6), d + 1):
                for k, v in dict(data[dd][1]).items():
                    expected[k] = expected.get(k, 0) + v
            assert got[d] == expected, f"day {d}"

    def test_window_prune(self, spark):
        df = spark.createDataFrame(
            [(i, {f"k{i}": 100 - i}) for i in range(8)], f"day int, m {SKETCH}"
        )
        w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
        out = df.select("day", topn_union_over_window("m", w, counters=2).alias("u")).collect()
        last = [r for r in out if r["day"] == 7][0]["u"]
        # frame covers k1..k7, keep top-2 by frequency: k1(99), k2(98)
        assert last == {"k1": 99, "k2": 98}


class TestCastIntake:
    def test_int_and_float_items(self, spark):
        df = spark.createDataFrame([(1, 10, 1.5), (1, 10, 1.5)], "g int, i int, f double")
        ski = T.topn_add_agg(df, ["g"], "i", counters=10).collect()[0]["topn"]
        skf = T.topn_add_agg(df, ["g"], "f", counters=10).collect()[0]["topn"]
        assert ski == {"10": 2}
        assert skf == {"1.5": 2}


def test_salted_rank_equals_unsalted(spark, sf_dir):
    """The two-level salted rank is lossless: identical sketches to the
    plain plan, including prune behavior at a small counter budget."""
    from postgresql_topn_spark.functions.aggregates import topn_add_agg
    from postgresql_topn_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    li = load_table(spark, sf_dir, "lineitem")
    for counters in (3, 1_000_000):
        plain = topn_add_agg(li, ["l_returnflag"], "l_partkey", counters=counters)
        salted = topn_add_agg(
            li, ["l_returnflag"], "l_partkey", counters=counters, salt_buckets=8
        )
        p = {r["l_returnflag"]: dict(r["topn"]) for r in plain.collect()}
        s = {r["l_returnflag"]: dict(r["topn"]) for r in salted.collect()}
        assert p == s, f"salted != plain at counters={counters}"


class TestWeightedAgg:
    def test_weighted_frequencies_and_ranking(self, spark):
        from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

        df = spark.createDataFrame(
            [("g", "a", 5), ("g", "a", 7), ("g", "b", 100), ("g", "c", None)],
            "grp string, item string, w bigint",
        )
        out = topn_weighted_agg(df, ["grp"], "item", "w", counters=10).collect()
        sk = dict(out[0]["topn"])
        # b outweighs a despite fewer rows; NULL weight contributes 0,
        # so c's total is 0 and it is dropped from the sketch
        assert sk == {"b": 100, "a": 12}

    def test_null_item_skipped_empty_group(self, spark):
        from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

        df = spark.createDataFrame(
            [("g", None, 5)], "grp string, item string, w bigint"
        )
        out = topn_weighted_agg(df, ["grp"], "item", "w", counters=10).collect()
        assert dict(out[0]["topn"]) == {}

    def test_saturating_sum(self, spark):
        from postgresql_topn_spark.conf import INT64_MAX
        from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

        df = spark.createDataFrame(
            [("g", "a", INT64_MAX), ("g", "a", INT64_MAX)],
            "grp string, item string, w bigint",
        )
        out = topn_weighted_agg(df, ["grp"], "item", "w", counters=10).collect()
        assert dict(out[0]["topn"]) == {"a": INT64_MAX}

    def test_merges_with_counted_sketch(self, spark):
        """A weighted sketch is the same type as a counted one: union_agg
        over their union must sum item totals across both."""
        from postgresql_topn_spark.functions.aggregates import (
            topn_add_agg,
            topn_union_agg_global,
            topn_weighted_agg,
        )

        rows = spark.createDataFrame(
            [("a", 10), ("b", 1)], "item string, w bigint"
        )
        weighted = topn_weighted_agg(rows, [], "item", "w", counters=10)
        counted = topn_add_agg(rows, [], "item", counters=10)
        both = weighted.unionByName(counted)
        merged = topn_union_agg_global(both, "topn", counters=10).collect()
        assert dict(merged[0]["topn"]) == {"a": 11, "b": 2}

    def test_nan_weight_contributes_zero(self, spark):
        """ADVICE r3: NaN fell through round/try_cast to the saturation
        branch where NaN > 0 is TRUE (Spark NaN-is-largest), setting the
        item's frequency to INT64_MAX. NaN must behave like NULL."""
        from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

        df = spark.createDataFrame(
            [("g", "a", float("nan")), ("g", "a", 5.0)],
            "grp string, item string, w double",
        )
        out = topn_weighted_agg(df, ["grp"], "item", "w", counters=10).collect()
        assert dict(out[0]["topn"]) == {"a": 5}

    def test_integral_weight_exact_beyond_2p53(self, spark):
        """ADVICE r3: bigint weights must not round-trip through double
        (2^53+1 would collapse to 2^53). Integral columns sum in longs."""
        from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

        big = (1 << 53) + 1
        df = spark.createDataFrame(
            [("g", "a", big), ("g", "a", 0)],
            "grp string, item string, w bigint",
        )
        out = topn_weighted_agg(df, ["grp"], "item", "w", counters=10).collect()
        assert dict(out[0]["topn"]) == {"a": big}


# Caller names that would break if spliced into SQL text: a space or a
# backtick in the output name, a reserved word and a dotted name as group
# columns, Column-expression keys, and an input name reused by another
# argument. Every Column aggregate must handle each one and keep the
# caller-facing names on its result.
_HOSTILE_ROWS = [
    ("s1", "d1", "x", "a", 2),
    ("s1", "d1", "x", "b", 5),
    ("s1", "d2", "y", "a", 1),
    ("s2", "d2", "y", "a", 4),
    ("s2", "d2", "x", None, 7),
    ("s2", "d1", "x", "c", 3),
]
_HOSTILE_OUT = "my `top n"
_HOSTILE_CASES = {
    "add out_col": (
        ["g", _HOSTILE_OUT],
        [("x", {"a": 1, "b": 1, "c": 1}), ("y", {"a": 2})],
    ),
    "add select": (
        ["select", "topn"],
        [("s1", {"a": 2, "b": 1}), ("s2", {"a": 1, "c": 1})],
    ),
    "add dotted": (
        ["a.b", "topn"],
        [("d1", {"a": 1, "b": 1, "c": 1}), ("d2", {"a": 2})],
    ),
    "add colexpr": (
        ["upper(g)", "s", "topn"],
        [("X", "s1", {"a": 1, "b": 1}), ("X", "s2", {"c": 1}),
         ("Y", "s1", {"a": 1}), ("Y", "s2", {"a": 1})],
    ),
    "add item=group": (
        ["it", "topn"],
        [("a", {"a": 3}), ("b", {"b": 1}), ("c", {"c": 1}), (None, {})],
    ),
    "weighted out_col": (
        ["g", _HOSTILE_OUT],
        [("x", {"a": 2, "b": 5, "c": 3}), ("y", {"a": 5})],
    ),
    "weighted select": (
        ["select", "topn"],
        [("s1", {"a": 3, "b": 5}), ("s2", {"a": 4, "c": 3})],
    ),
    "weighted dotted": (
        ["a.b", "topn"],
        [("d1", {"a": 2, "b": 5, "c": 3}), ("d2", {"a": 5})],
    ),
    "weighted colexpr": (
        ["upper(g)", "s", "topn"],
        [("X", "s1", {"a": 2, "b": 5}), ("X", "s2", {"c": 3}),
         ("Y", "s1", {"a": 1}), ("Y", "s2", {"a": 4})],
    ),
    "weighted item=group": (
        ["it", "topn"],
        [("a", {"a": 7}), ("b", {"b": 5}), ("c", {"c": 3}), (None, {})],
    ),
    "union out_col": (
        ["g", _HOSTILE_OUT],
        [("x", {"a": 1, "b": 1, "c": 1}), ("y", {"a": 2})],
    ),
    "union select": (
        ["select", "topn"],
        [("x", {"a": 1, "b": 1, "c": 1}), ("y", {"a": 2})],
    ),
    "union dotted": (
        ["a.b", "topn"],
        [("s1", {"a": 2, "b": 1}), ("s2", {"a": 1, "c": 1})],
    ),
    "union colexpr": (
        ["upper(g)", "s", "topn"],
        [("X", "s1", {"a": 1, "b": 1}), ("X", "s2", {"c": 1}),
         ("Y", "s1", {"a": 1}), ("Y", "s2", {"a": 1})],
    ),
    "union out=sketch": (
        ["g", "sk"],
        [("x", {"a": 1, "b": 1, "c": 1}), ("y", {"a": 2})],
    ),
    "global out_col": ([_HOSTILE_OUT], [({"a": 3, "b": 1, "c": 1},)]),
    "global select": (["topn"], [({"a": 3, "b": 1, "c": 1},)]),
    "global dotted": (["topn"], [({"a": 3, "b": 1, "c": 1},)]),
    "global colexpr": (["topn"], [({"a": 3, "b": 1, "c": 1},)]),
    "global out=sketch": (["sk"], [({"a": 3, "b": 1, "c": 1},)]),
    "gs out_col": (
        ["gid", "g", _HOSTILE_OUT],
        [(0, "x", {"a": 1, "b": 1, "c": 1}), (0, "y", {"a": 2}),
         (1, None, {"a": 3, "b": 1, "c": 1})],
    ),
    "gs select": (
        ["gid", "select", "g", "topn"],
        [(0, "s1", "x", {"a": 1, "b": 1}), (0, "s1", "y", {"a": 1}),
         (0, "s2", "x", {"c": 1}), (0, "s2", "y", {"a": 1}),
         (1, "s1", None, {"a": 2, "b": 1}), (1, "s2", None, {"a": 1, "c": 1})],
    ),
    "gs dotted": (
        ["gid", "a.b", "topn"],
        [(0, "d1", {"a": 1, "b": 1, "c": 1}), (0, "d2", {"a": 2}),
         (1, None, {"a": 3, "b": 1, "c": 1})],
    ),
    "gs colexpr item": (
        ["gid", "g", "topn"],
        [(0, "x", {"A": 1, "B": 1, "C": 1}), (0, "y", {"A": 2})],
    ),
    "gs item=group": (
        ["gid", "it", "topn"],
        [(0, "a", {"a": 3}), (0, "b", {"b": 1}), (0, "c", {"c": 1}),
         (0, None, {}), (1, None, {"a": 3, "b": 1, "c": 1})],
    ),
}


def _hostile_run(spark, case):
    from postgresql_topn_spark.functions.aggregates import (
        topn_add_agg,
        topn_add_agg_grouping_sets,
        topn_union_agg,
        topn_weighted_agg,
    )

    df = spark.createDataFrame(
        _HOSTILE_ROWS, "`select` string, `a.b` string, g string, it string, w bigint"
    )
    fn, _, shape = case.partition(" ")
    groups = {
        "out_col": ["g"],
        "select": ["select"],
        "dotted": ["`a.b`"],
        "colexpr": [F.upper("g"), F.col("select").alias("s")],
        "item=group": ["it"],
    }
    kw = {"counters": 10}
    if shape == "out_col":
        kw["out_col"] = _HOSTILE_OUT
    if fn in ("add", "weighted"):
        args = (df, groups[shape], "it") + ((("w",)) if fn == "weighted" else ())
        agg = topn_add_agg if fn == "add" else topn_weighted_agg
        return agg(*args, **kw)
    # union inputs: per-(select, g) sketches, with copies under hostile names
    sk = (
        topn_add_agg(df, ["select", "g"], "it", counters=10, out_col="sk")
        .withColumnRenamed("select", "sel")
        .withColumn("a.b", F.col("sel"))
        .withColumn("select", F.col("g"))
    )
    if fn == "union":
        if shape == "colexpr":
            return topn_union_agg(
                sk, [F.upper("g"), F.col("sel").alias("s")], F.col("sk"), **kw
            )
        if shape == "out=sketch":
            return topn_union_agg(sk, ["g"], "sk", counters=10, out_col="sk")
        return topn_union_agg(sk, groups[shape], "sk", **kw)
    if fn == "global":
        named = sk.select(F.col("sk").alias("select"), F.col("sk").alias("a.b"))
        sketch = {"out_col": "sk", "select": "select", "dotted": "`a.b`",
                  "colexpr": F.col("sk"), "out=sketch": "sk"}[shape]
        if shape == "out=sketch":
            kw["out_col"] = "sk"
        return topn_union_agg_global(
            named if shape in ("select", "dotted") else sk, sketch, **kw
        )
    sets = {
        "out_col": [["g"], []],
        "select": [["select", "g"], ["select"]],
        "dotted": [["`a.b`"], []],
        "colexpr item": [["g"]],
        "item=group": [["it"], []],
    }[shape]
    item = F.upper("it") if shape == "colexpr item" else "it"
    return topn_add_agg_grouping_sets(df, sets, item, **kw)


@pytest.mark.parametrize("case", sorted(_HOSTILE_CASES))
def test_hostile_caller_names(spark, case):
    cols, rows = _HOSTILE_CASES[case]
    out = _hostile_run(spark, case)
    assert out.columns == cols
    got = [tuple(dict(v) if isinstance(v, dict) else v for v in r) for r in out.collect()]
    assert sorted(got, key=repr) == sorted(rows, key=repr)


def test_quoted_string_group_names_unquote_like_spark(spark):
    """A fully backtick-quoted string group column is named as Spark
    names it: the quotes go, a doubled backtick becomes one. Anything
    else keeps the string as given."""
    from postgresql_topn_spark.functions.aggregates import _unquoted, topn_add_agg

    df = spark.createDataFrame([("x", "y", "a")], "`a.b` string, `c``d` string, it string")
    keys = ["`a.b`", "`c``d`"]
    assert topn_add_agg(df, keys, "it").columns == [*df.select(*keys).columns, "topn"]
    assert df.select(*keys).columns == ["a.b", "c`d"]
    for as_given in ("s.b", "`a`.`b`", "```", "`", "plain"):
        assert _unquoted(as_given) == as_given
