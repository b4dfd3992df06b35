"""spark.sql() surface: registered topn SQL functions and UDAFs, and the
CSV ingestion path (sql/copy_data.sql parity)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.sql_api import register_sql_functions
from postgresql_topn_spark.sources.tables import read_customer_reviews_csv


@pytest.fixture(scope="module")
def sql_session(spark):
    register_sql_functions(spark, counters=1000)
    sk = spark.createDataFrame(
        [(1, {"a": 5, "b": 3, "c": 3}), (2, {"x": 1}), (3, None)],
        "id int, sketch map<string,bigint>",
    )
    sk.createOrReplaceTempView("sketches")
    return spark


def test_topn_udtf_lateral(sql_session):
    rows = sql_session.sql(
        "SELECT id, t.item, t.frequency FROM sketches, "
        "LATERAL topn(sketch, 2) t ORDER BY id, frequency DESC, item"
    ).collect()
    # NULL sketch (id=3) emits no rows; ties break item ASC
    assert [(r.id, r.item, r.frequency) for r in rows] == [
        (1, "a", 5),
        (1, "b", 3),
        (2, "x", 1),
    ]


def test_topn_udtf_n_gt_counters_errors(sql_session):
    with pytest.raises(Exception, match="number of counters"):
        sql_session.sql("SELECT * FROM topn(map('a', 1L), 1001)").collect()
    with pytest.raises(Exception, match="number of counters"):
        sql_session.sql("SELECT topn_entries(map('a', 1L), 3000000000)").collect()


def test_topn_add_union_sql(sql_session):
    r = sql_session.sql(
        "SELECT topn_add(NULL, NULL) AS e, topn_add(NULL, 'x') AS one, "
        "topn_add(map('a', 1L), NULL) AS keep, "
        "topn_union(map('a', 1L), NULL) AS strict_null, "
        "topn_union(map('a', 1L, 'b', 2L), map('a', 9L)) AS merged"
    ).collect()[0]
    assert r.e == {} and r.one == {"x": 1} and r.keep == {"a": 1}
    assert r.strict_null is None
    assert r.merged == {"a": 10, "b": 2}


def test_topn_add_agg_sql_group_by(sql_session):
    df = sql_session.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", None), ("g2", None)],
        "g string, item string",
    )
    df.createOrReplaceTempView("agg_in")
    rows = {
        r.g: r.sk
        for r in sql_session.sql(
            "SELECT g, topn_add_agg(item) AS sk FROM agg_in GROUP BY g"
        ).collect()
    }
    assert rows["g1"] == {"a": 2, "b": 1}
    # all-NULL group still yields {} (topn.c:655-661)
    assert rows["g2"] == {}


def test_topn_union_agg_sql_group_by(sql_session):
    df = sql_session.createDataFrame(
        [("g1", {"a": 5, "b": 1}), ("g1", {"a": 2, "c": 7}), ("g1", None)],
        "g string, sk map<string,bigint>",
    )
    df.createOrReplaceTempView("union_in")
    rows = sql_session.sql(
        "SELECT g, topn_union_agg(sk) AS sk FROM union_in GROUP BY g"
    ).collect()
    assert rows[0].sk == {"a": 7, "b": 1, "c": 7}


def test_topn_weighted_agg_sql(sql_session):
    df = sql_session.createDataFrame(
        [("g1", "a", 10), ("g1", "a", 5), ("g1", "b", None), ("g1", None, 99)],
        "g string, item string, w bigint",
    )
    df.createOrReplaceTempView("weighted_in")
    rows = sql_session.sql(
        "SELECT g, topn_weighted_agg(item, w) AS sk FROM weighted_in GROUP BY g"
    ).collect()
    # NULL weight -> 0 total -> dropped; NULL item skipped
    assert rows[0].sk == {"a": 15}


def test_sql_scalars_equal_column_forms(spark):
    """SQL ``topn_add`` / ``topn_union`` / ``topn_entries`` / LATERAL
    ``topn`` equal their Column forms (functions/sketch.py) over seeded
    rows: boolean, double and date items (stringified by Spark's cast on
    both surfaces), NULL sketches and items, 256-byte items whose
    255-byte cut falls mid-character, INT64_MAX frequencies, sketches
    over the budget, and n in {-1, 0, NULL, counters}."""
    import datetime
    import random

    from postgresql_topn_spark.functions import sketch as S

    c, i64 = 4, (1 << 63) - 1
    rng = random.Random(8)
    cut = "я" * 127  # what "я" * 128 (256 bytes) truncates to
    keys = ["true", "false", "1.0E20", "-0.5", "2024-01-02", "x", cut]

    def sk():
        if rng.random() < 0.15:
            return None
        picked = rng.sample(keys, rng.randrange(0, 6))
        return {k: rng.choice([1, 2, 3, i64 - 1, i64]) for k in picked}

    rows = [
        (
            i,
            sk(),
            sk(),
            rng.choice([True, False, None]),
            rng.choice([1e20, -0.5, 2.0, None]),
            rng.choice([datetime.date(2024, 1, 2), datetime.date(1999, 12, 31), None]),
            rng.choice(["x", "y", "я" * 128, "я" * 127 + "z", None]),
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows,
        "id int, a map<string,bigint>, b map<string,bigint>, flag boolean, "
        "dbl double, day date, s string",
    )
    df.createOrReplaceTempView("parity_in")

    def sql(text, order="1"):
        return [tuple(r) for r in spark.sql(f"{text} ORDER BY {order}").collect()]

    def col(*cols):
        return [tuple(r) for r in df.select("id", *cols).orderBy("id").collect()]

    register_sql_functions(spark, counters=c)
    try:
        for item in ("flag", "dbl", "day", "s"):
            assert sql(f"SELECT id, topn_add(a, {item}) FROM parity_in") == col(
                S.topn_add("a", item, counters=c)
            ), item
        assert sql("SELECT id, topn_union(a, b) FROM parity_in") == col(
            S.topn_union("a", "b", counters=c)
        )
        for n in (-1, 0, c):
            assert sql(f"SELECT id, topn_entries(a, {n}) FROM parity_in") == col(
                S.topn_entries("a", n, counters=c)
            ), n
            lateral = sql(
                "SELECT id, t.item, t.frequency FROM parity_in, "
                f"LATERAL topn(parity_in.a, {n}) t",
                order="1, 3 DESC, 2",
            )
            exploded = S.explode_topn(df, "a", n, keep=["id"], counters=c)
            assert lateral == [
                tuple(r) for r in exploded.orderBy("id", F.desc("frequency"), "item").collect()
            ], n
        # a NULL n has no Column form: NULL entries, no rows
        assert {r[1] for r in sql("SELECT id, topn_entries(a, NULL) FROM parity_in")} == {None}
        assert sql("SELECT id FROM parity_in, LATERAL topn(parity_in.a, NULL) t") == []
    finally:
        register_sql_functions(spark, counters=1000)


def test_registration_skips_an_unchanged_budget(spark, monkeypatch):
    """topn_sql registers on every statement that names a topn function:
    an unchanged budget issues no CREATE, a changed one re-creates every
    SQL function with the new budget spliced in."""
    session = spark.newSession()
    statements = []
    orig_sql = session.sql
    monkeypatch.setattr(
        session, "sql", lambda q, *a, **k: statements.append(q) or orig_sql(q, *a, **k)
    )
    register_sql_functions(session, counters=2)
    created = len(statements)
    assert created == 4
    register_sql_functions(session, counters=2)
    assert len(statements) == created
    union = "SELECT topn_union(map('a', 5L, 'b', 3L, 'c', 1L), map()) AS sk"
    assert orig_sql(union).collect()[0].sk == {"a": 5, "b": 3}
    register_sql_functions(session, counters=3)
    assert len(statements) == 2 * created
    assert orig_sql(union).collect()[0].sk == {"a": 5, "b": 3, "c": 1}


def test_sql_bodies_reuse_the_sql_twins():
    """No row-at-a-time Python is registered, and the SQL bodies take
    their ranking and byte-cap text from the Column forms' SQL twins
    rather than a copy of their own."""
    import inspect

    from postgresql_topn_spark.functions import sql_api
    from postgresql_topn_spark.functions.aggregates import _normalize_sql
    from postgresql_topn_spark.functions.sketch import ENTRY_CMP_SQL

    src = inspect.getsource(sql_api)
    assert "@udf" not in src and "@udtf" not in src
    assert "frequency >" not in src and "octet_length" not in src
    defs = sql_api._function_defs(7)
    for name in ("topn", "topn_entries", "topn_add", "topn_union"):
        assert ENTRY_CMP_SQL in defs[name], name
    assert _normalize_sql("item") in defs["topn_add"]


def test_topn_agg_sql_prunes_to_counters(spark):
    register_sql_functions(spark, counters=2)
    try:
        df = spark.createDataFrame(
            [("x",)] * 5 + [("y",)] * 3 + [("z",)] * 1 + [("w",)] * 1,
            "item string",
        )
        df.createOrReplaceTempView("prune_in")
        r = spark.sql("SELECT topn_add_agg(item) AS sk FROM prune_in").collect()[0]
        assert r.sk == {"x": 5, "y": 3}
    finally:
        register_sql_functions(spark, counters=1000)


def test_per_call_guc_via_setter(spark):
    """set_number_of_counters between two spark.sql calls is observed by
    the registered functions — the reference's per-call GUC read
    (topn.c:229-233) via the assign-hook re-registration."""
    from postgresql_topn_spark.conf import set_number_of_counters

    register_sql_functions(spark)  # follow-the-conf mode
    try:
        set_number_of_counters(spark, 2)
        r = spark.sql(
            "SELECT topn_union(map('a', 5L, 'b', 3L, 'c', 1L), map()) AS sk"
        ).collect()[0]
        assert r.sk == {"a": 5, "b": 3}
        set_number_of_counters(spark, 3)
        r = spark.sql(
            "SELECT topn_union(map('a', 5L, 'b', 3L, 'c', 1L), map()) AS sk"
        ).collect()[0]
        assert r.sk == {"a": 5, "b": 3, "c": 1}
        # n > counters error also tracks the live conf
        set_number_of_counters(spark, 2)
        with pytest.raises(Exception, match="number of counters"):
            spark.sql("SELECT * FROM topn(map('a', 1L), 3)").collect()
    finally:
        set_number_of_counters(spark, 1000)
        register_sql_functions(spark, counters=1000)


def test_sql_udaf_equals_column_api(spark):
    """The two aggregate surfaces must agree exactly — same counts,
    same prune, same tie order — on randomized grouped data with NULLs
    and a tight counter budget."""
    import random

    from postgresql_topn_spark.functions.aggregates import (
        topn_add_agg,
        topn_union_agg,
    )

    rng = random.Random(42)
    rows = [
        (rng.randrange(5), rng.choice("abcdefgh")) for _ in range(500)
    ] + [(g, None) for g in range(5)]
    df = spark.createDataFrame(rows, "g int, item string")
    df.createOrReplaceTempView("equiv_in")
    register_sql_functions(spark, counters=3)
    try:
        sql_add = {
            r.g: r.sk
            for r in spark.sql(
                "SELECT g, topn_add_agg(item) AS sk FROM equiv_in GROUP BY g"
            ).collect()
        }
        col_add = {
            r.g: r.topn
            for r in topn_add_agg(df, ["g"], "item", counters=3).collect()
        }
        assert sql_add == col_add
        # union the per-group sketches both ways
        sk_df = topn_add_agg(df, ["g"], "item", counters=3)
        sk_df.createOrReplaceTempView("equiv_sk")
        sql_union = spark.sql(
            "SELECT topn_union_agg(topn) AS sk FROM equiv_sk"
        ).collect()[0].sk
        col_union = (
            topn_union_agg(
                sk_df.select(F.lit(1).alias("one"), "topn"),
                ["one"],
                "topn",
                counters=3,
            )
            .collect()[0]
            .topn
        )
        assert sql_union == col_union
    finally:
        register_sql_functions(spark, counters=1000)


def test_sketch_column_plus(spark):
    """The + operator parity (update/topn--2.0.0.sql:48-53)."""
    from postgresql_topn_spark.functions.sketch import SketchColumn, topn_plus

    df = spark.createDataFrame(
        [({"a": 1, "b": 2}, {"a": 9}, {"c": 4})],
        "x map<string,bigint>, y map<string,bigint>, z map<string,bigint>",
    )
    r = df.select(
        (SketchColumn("x") + F.col("y")).alias("s1"),
        topn_plus("x", "y").alias("s2"),
        # unions chain: (x + y) + z stays a SketchColumn until aliased
        (SketchColumn("x") + "y" + F.col("z")).alias("s3"),
    ).collect()[0]
    assert r.s1 == {"a": 10, "b": 2}
    assert r.s2 == {"a": 10, "b": 2}
    assert r.s3 == {"a": 10, "b": 2, "c": 4}


def test_csv_reviews_roundtrip(spark, tmp_path):
    p = str(tmp_path / "reviews.csv")
    with open(p, "w") as f:
        f.write(
            'AE22,1998-01-02,5,10,9,1713353,"Book A",22,Book,Cat,Sub,"{B1,B2}"\n'
            "AE23,1998-03-04,3,1,0,1713354,Book B,11,Book,Cat2,,{}\n"
        )
    df = read_customer_reviews_csv(spark, p)
    rows = {r.customer_id: r for r in df.collect()}
    assert rows["AE22"].similar_product_ids == ["B1", "B2"]
    assert rows["AE23"].similar_product_ids == []
    assert rows["AE22"].review_rating == 5
    assert str(rows["AE23"].review_date) == "1998-03-04"
    # flagship composition over the CSV: per-category top product sketch
    from postgresql_topn_spark.functions.aggregates import topn_add_agg

    sk = topn_add_agg(df, ["product_group"], "product_id", counters=100)
    assert sk.count() == 1


def test_per_call_guc_via_raw_conf(spark):
    """A RAW spark.conf.set of the GUC key between two spark.sql calls
    is honored without calling set_number_of_counters — the conf-watch
    installed by follow-the-conf registration re-registers lazily at
    sql() time, matching the reference's read-at-call GUC
    (topn.c:229-233)."""
    from postgresql_topn_spark.conf import CONF_KEY

    register_sql_functions(spark)  # follow-the-conf mode
    try:
        spark.conf.set(CONF_KEY, "2")
        r = spark.sql(
            "SELECT topn_union(map('a', 5L, 'b', 3L, 'c', 1L), map()) AS sk"
        ).collect()[0]
        assert r.sk == {"a": 5, "b": 3}
        spark.conf.set(CONF_KEY, "3")
        r = spark.sql(
            "SELECT topn_union(map('a', 5L, 'b', 3L, 'c', 1L), map()) AS sk"
        ).collect()[0]
        assert r.sk == {"a": 5, "b": 3, "c": 1}
    finally:
        spark.conf.set(CONF_KEY, "1000")
        register_sql_functions(spark, counters=1000)


class TestTwoPhaseSql:
    """The pure-built-in SQL twins of the aggregates: identical results
    to the Column API, zero Python stages, map-side partial combine."""

    def _data(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            (rng.randrange(4), rng.choice("abcdefgh") if rng.random() > 0.1 else None)
            for _ in range(2000)
        ] + [(9, None)]  # an all-NULL group must yield {}
        df = spark.createDataFrame(rows, "g int, item string")
        df.createOrReplaceTempView("tp_in")
        return df

    def test_add_agg_sql_equals_column_api(self, spark):
        from postgresql_topn_spark.functions.aggregates import topn_add_agg
        from postgresql_topn_spark.functions.sql_api import topn_add_agg_sql

        df = self._data(spark)
        col = {r.g: r.topn for r in topn_add_agg(df, ["g"], "item", counters=3).collect()}
        sq = {
            r.g: r.topn
            for r in spark.sql(topn_add_agg_sql("tp_in", ["g"], "item", counters=3)).collect()
        }
        assert col == sq
        assert sq[9] == {}
        # the lossless salted form is identical too
        salted = {
            r.g: r.topn
            for r in spark.sql(
                topn_add_agg_sql("tp_in", ["g"], "item", counters=3, salt_buckets=8)
            ).collect()
        }
        assert col == salted

    def test_union_agg_sql_equals_column_api(self, spark):
        from postgresql_topn_spark.functions.aggregates import topn_union_agg
        from postgresql_topn_spark.functions.sql_api import (
            topn_add_agg_sql,
            topn_union_agg_sql,
        )

        self._data(spark)
        spark.sql(
            "SELECT g % 2 AS h, topn FROM ("
            + topn_add_agg_sql("tp_in", ["g"], "item", counters=3)
            + ")"
        ).createOrReplaceTempView("tp_sks")
        sq = {
            r.h: r.topn
            for r in spark.sql(topn_union_agg_sql("tp_sks", ["h"], "topn", counters=4)).collect()
        }
        col = {
            r.h: r.topn
            for r in topn_union_agg(spark.table("tp_sks"), ["h"], "topn", counters=4).collect()
        }
        assert sq == col

    def test_union_agg_sql_null_sketch_keeps_group(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_union_agg_sql

        spark.createDataFrame(
            [("g1", None), ("g2", {"a": 2})],
            "g string, topn map<string,bigint>",
        ).createOrReplaceTempView("tp_null_sks")
        got = {
            r.g: r.topn
            for r in spark.sql(topn_union_agg_sql("tp_null_sks", ["g"], "topn")).collect()
        }
        assert got == {"g1": {}, "g2": {"a": 2}}

    def test_union_agg_sql_saturates(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_union_agg_sql

        big = 9223372036854775807
        spark.createDataFrame(
            [(1, {"a": big}), (1, {"a": big})],
            "g int, topn map<string,bigint>",
        ).createOrReplaceTempView("tp_sat_sks")
        got = spark.sql(topn_union_agg_sql("tp_sat_sks", ["g"], "topn")).collect()[0].topn
        assert got == {"a": big}  # saturating, not ANSI overflow error

    def test_plan_no_python_with_partial_combine(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_add_agg_sql
        from postgresql_topn_spark.plans.audit import (
            has_partial_aggregate,
            python_stages,
        )

        self._data(spark)
        dfp = spark.sql(topn_add_agg_sql("tp_in", ["g"], "item", counters=3))
        assert python_stages(dfp) == 0
        assert has_partial_aggregate(dfp)

    def test_salted_udaf_rewrite_is_lossless(self, spark):
        """The documented one-line rewrite of the UDAF form (see
        sql_api.py module notes): per-salt-bucket topn_add_agg merged by
        topn_union_agg equals the unsalted aggregate exactly."""
        self._data(spark)
        register_sql_functions(spark, counters=3)
        try:
            plain = {
                r.g: r.sk
                for r in spark.sql(
                    "SELECT g, topn_add_agg(item) AS sk FROM tp_in GROUP BY g"
                ).collect()
            }
            salted = {
                r.g: r.sk
                for r in spark.sql(
                    """
                    SELECT g, topn_union_agg(sk) AS sk FROM (
                      SELECT g, topn_add_agg(item) AS sk
                      FROM tp_in GROUP BY g, pmod(xxhash64(coalesce(item, '')), 8)
                    ) GROUP BY g
                    """
                ).collect()
            }
            assert plain == salted
        finally:
            register_sql_functions(spark, counters=1000)


class TestTopnSqlRewriter:
    """topn_sql(): the flagship UDAF SQL rewritten onto the two-phase
    built-in plan (VERDICT r3 item 2). Results must equal the UDAF lane
    exactly; unsupported shapes must fall back with a warning."""

    def _mk(self, spark):
        df = spark.createDataFrame(
            [
                ("2024-01-03", "a"),
                ("2024-01-04", "a"),
                ("2024-01-05", "b"),
                ("2024-02-01", "b"),
                ("2024-02-02", None),
                ("2024-02-02", "c"),
            ],
            "d string, item string",
        )
        df.createOrReplaceTempView("rw_in")

    def test_flagship_rewrite_equals_udaf(self, spark):
        from postgresql_topn_spark.functions.sql_api import (
            register_sql_functions,
            topn_sql,
        )

        self._mk(spark)
        sql = """
            SELECT month(to_date(d)) AS mon, topn_add_agg(item) AS sk
            FROM rw_in WHERE d >= '2024-01-01' GROUP BY month(to_date(d))
        """
        register_sql_functions(spark, counters=100)
        udaf = {r["mon"]: dict(r["sk"]) for r in spark.sql(sql).collect()}
        rewritten = {
            r["mon"]: dict(r["sk"])
            for r in topn_sql(spark, sql, counters=100).collect()
        }
        assert rewritten == udaf == {1: {"a": 2, "b": 1}, 2: {"b": 1, "c": 1}}

    def test_rewrite_runs_two_phase_plan(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_sql
        from postgresql_topn_spark.plans.audit import (
            has_partial_aggregate,
            hash_shuffles,
            python_stages,
        )

        self._mk(spark)
        df = topn_sql(
            spark,
            "SELECT d, topn_add_agg(item) AS sk FROM rw_in GROUP BY d",
            counters=100,
        )
        assert python_stages(df) == 0
        assert has_partial_aggregate(df)
        assert hash_shuffles(df) == 2

    def test_cte_and_global_union_rewrite(self, spark):
        from postgresql_topn_spark.functions.sql_api import (
            rewrite_topn_sql,
            topn_sql,
        )
        from postgresql_topn_spark.plans.audit import python_stages

        self._mk(spark)
        sql = """
            WITH daily AS (
              SELECT d, topn_add_agg(item) AS sk FROM rw_in GROUP BY d
            )
            SELECT topn_union_agg(sk) AS sk FROM daily
        """
        assert rewrite_topn_sql(sql, counters=100) is not None
        df = topn_sql(spark, sql, counters=100)
        assert python_stages(df) == 0
        assert dict(df.collect()[0]["sk"]) == {"a": 2, "b": 2, "c": 1}

    def test_unsupported_shape_falls_back_with_warning(self, spark):
        import warnings

        from postgresql_topn_spark.functions.sql_api import topn_sql

        self._mk(spark)
        # HAVING on a FUNCTION of the key is outside the rewriter's
        # provable model (only bare key aliases rewrite) -> UDAF lane
        # + warning
        sql = """
            SELECT d, topn_add_agg(item) AS sk FROM rw_in
            GROUP BY d HAVING upper(d) >= '2024-01-01'
        """
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = {r["d"]: dict(r["sk"]) for r in topn_sql(spark, sql).collect()}
        assert any("two-phase" in str(x.message) for x in w)
        assert out == {
            "2024-01-03": {"a": 1},
            "2024-01-04": {"a": 1},
            "2024-01-05": {"b": 1},
            "2024-02-01": {"b": 1},
            "2024-02-02": {"c": 1},
        }

    def test_agg_not_last_preserves_column_order(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_sql

        self._mk(spark)
        df = topn_sql(
            spark,
            "SELECT topn_add_agg(item) AS sk, d FROM rw_in GROUP BY d",
            counters=100,
        )
        assert df.columns == ["sk", "d"]

    def test_nested_or_aliasless_shapes_fall_back(self, spark):
        from postgresql_topn_spark.functions.sql_api import rewrite_topn_sql

        # nested call, missing alias, DISTINCT, ORDER BY the sketch /
        # an expression, non-literal LIMIT: all unsupported
        for sql in [
            "SELECT g, topn_entries(topn_add_agg(i), 5) AS e FROM t GROUP BY g",
            "SELECT g, topn_add_agg(i) FROM t GROUP BY g",
            "SELECT DISTINCT g, topn_add_agg(i) AS sk FROM t GROUP BY g",
            "SELECT g, topn_add_agg(i) AS sk FROM t GROUP BY g ORDER BY sk",
            "SELECT g, topn_add_agg(i) AS sk FROM t GROUP BY g ORDER BY upper(g)",
            "SELECT g, topn_add_agg(i) AS sk FROM t GROUP BY g LIMIT 1+1",
        ]:
            assert rewrite_topn_sql(sql) is None, sql

    def test_order_by_and_limit_reattach(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_sql
        from postgresql_topn_spark.plans.audit import python_stages

        self._mk(spark)
        df = topn_sql(
            spark,
            "SELECT d, topn_add_agg(item) AS sk FROM rw_in "
            "GROUP BY d ORDER BY d DESC LIMIT 2",
            counters=100,
        )
        assert python_stages(df) == 0
        rows = df.collect()
        assert [r["d"] for r in rows] == ["2024-02-02", "2024-02-01"]
        assert dict(rows[1]["sk"]) == {"b": 1}
        # ordinal sort target also rewrites
        df2 = topn_sql(
            spark,
            "SELECT d, topn_add_agg(item) AS sk FROM rw_in "
            "GROUP BY d ORDER BY 1 LIMIT 1",
            counters=100,
        )
        assert python_stages(df2) == 0
        assert df2.collect()[0]["d"] == "2024-01-03"

    def test_group_by_ordinals_and_aliases(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_sql

        self._mk(spark)
        for gb in ["1", "mon", "month(to_date(d))"]:
            df = topn_sql(
                spark,
                f"SELECT month(to_date(d)) AS mon, topn_add_agg(item) AS sk "
                f"FROM rw_in GROUP BY {gb}",
                counters=100,
            )
            got = {r["mon"]: dict(r["sk"]) for r in df.collect()}
            assert got == {1: {"a": 2, "b": 1}, 2: {"b": 1, "c": 1}}, gb


class TestWeightedSqlRewrite:
    """topn_weighted_agg through topn_sql(): rewritten onto the
    two-phase plan with Column-API semantics (round-half-up, NaN/NULL
    -> 0, exact clamped sum, non-positive totals dropped)."""

    def _mk(self, spark):
        spark.createDataFrame(
            [
                ("g", "a", 2.6),
                ("g", "a", 2.6),
                ("g", "b", 100.0),
                ("g", "c", None),
                ("g", "d", float("nan")),
                ("g", None, 7.0),
            ],
            "grp string, item string, w double",
        ).createOrReplaceTempView("wrw_in")

    def test_rewrite_equals_udaf_and_column_api(self, spark):
        from postgresql_topn_spark.functions.sql_api import (
            register_sql_functions,
            topn_sql,
        )
        from postgresql_topn_spark.plans.audit import (
            has_partial_aggregate,
            python_stages,
        )

        self._mk(spark)
        sql = """
            SELECT grp, topn_weighted_agg(item, w) AS sk
            FROM wrw_in GROUP BY grp
        """
        register_sql_functions(spark, counters=100)
        udaf = dict(spark.sql(sql).collect()[0]["sk"])
        df = topn_sql(spark, sql, counters=100)
        assert python_stages(df) == 0
        assert has_partial_aggregate(df)
        got = dict(df.collect()[0]["sk"])
        # 2.6 rounds half-up to 3 per row (not int-truncated to 2);
        # NULL and NaN weights contribute 0 -> c and d drop (<= 0);
        # the NULL item is skipped but the group survives
        assert got == udaf == {"b": 100, "a": 6}

    def test_null_item_marker_does_not_steal_rank_slot(self, spark):
        from postgresql_topn_spark.functions.sql_api import topn_sql

        spark.createDataFrame(
            [("g", None, 1e9), ("g", "a", 5.0), ("g", "b", 3.0)],
            "grp string, item string, w double",
        ).createOrReplaceTempView("wrw_null")
        df = topn_sql(
            spark,
            "SELECT grp, topn_weighted_agg(item, w) AS sk "
            "FROM wrw_null GROUP BY grp",
            counters=2,
        )
        # with counters=2 both real items must survive: the NULL-item
        # marker row's weight sum must not rank above them
        assert dict(df.collect()[0]["sk"]) == {"a": 5, "b": 3}


def test_insert_into_select_rewrites(spark, tmp_path):
    """The reference's own rollup-maintenance statement (README.md:84-88)
    — INSERT INTO rollup SELECT keys, topn_add_agg(item) ... GROUP BY —
    runs through topn_sql with the two-phase plan and lands rows in the
    target table."""
    from postgresql_topn_spark.functions.sql_api import (
        rewrite_topn_sql,
        topn_sql,
    )

    spark.createDataFrame(
        [("2024-01-01", "a"), ("2024-01-01", "a"), ("2024-01-02", "b")],
        "review_date string, product_id string",
    ).createOrReplaceTempView("ins_reviews")
    spark.sql("DROP TABLE IF EXISTS popular_products_t")
    spark.sql(
        "CREATE TABLE popular_products_t "
        f"(review_date string, agg_data map<string,bigint>) USING parquet "
        f"LOCATION '{tmp_path}/popular_products_t'"
    )
    sql = """
        INSERT INTO popular_products_t
        SELECT review_date, topn_add_agg(product_id) AS agg_data
        FROM ins_reviews GROUP BY review_date
    """
    assert rewrite_topn_sql(sql, counters=100) is not None
    topn_sql(spark, sql, counters=100)
    got = {
        r["review_date"]: dict(r["agg_data"])
        for r in spark.sql("SELECT * FROM popular_products_t").collect()
    }
    spark.sql("DROP TABLE popular_products_t")
    assert got == {"2024-01-01": {"a": 2}, "2024-01-02": {"b": 1}}


def test_rewriter_literal_case_and_duplicate_clauses():
    """Self-review pins: (a) string-literal case must NOT fold during
    GROUP BY matching — f('A') grouping is not the f('a') select key;
    (b) a duplicated clause keyword (invalid SQL) must fall back, not
    silently drop the earlier clause; (c) comments inside CTE bodies
    must not desync the paren scanner."""
    from postgresql_topn_spark.functions.sql_api import rewrite_topn_sql

    # (a) literal-case mismatch -> no rewrite
    assert (
        rewrite_topn_sql(
            "SELECT replace(g, 'a', '') AS k, topn_add_agg(i) AS sk "
            "FROM t GROUP BY replace(g, 'A', '')"
        )
        is None
    )
    # same-case literals still rewrite
    assert (
        rewrite_topn_sql(
            "SELECT replace(g, 'a', '') AS k, topn_add_agg(i) AS sk "
            "FROM t GROUP BY replace(g, 'a', '')"
        )
        is not None
    )
    # (b) duplicate WHERE -> fall back to the engine's parse error
    assert (
        rewrite_topn_sql(
            "SELECT g, topn_add_agg(i) AS sk FROM t WHERE x WHERE y GROUP BY g"
        )
        is None
    )
    # a backslash-escaped quote inside the aggregate's argument must
    # not end the literal for the scan that finds the call's close paren
    assert (
        rewrite_topn_sql(
            "SELECT g, topn_add_agg(concat(item, '\\'')) AS t FROM src GROUP BY g"
        )
        is not None
    )
    # (c) a comment containing a stray ')' inside a CTE body must not
    # desync the paren scanner, and a leading comment must not block
    # the body rewrite (the comment itself is dropped from the rewrite)
    sql = """
        WITH m AS (
          -- boiler) plate comment
          SELECT g, topn_add_agg(i) AS sk FROM t GROUP BY g
        )
        SELECT * FROM m
    """
    out = rewrite_topn_sql(sql)
    assert out is not None and "row_number() OVER" in out
    assert out.rstrip().endswith("SELECT * FROM m")


def test_review_r4_rewriter_pins(spark):
    """Round-4 code-review pins (sql_api findings)."""
    from postgresql_topn_spark.functions.sql_api import (
        _norm_expr,
        _split_ctes,
        rewrite_topn_sql,
        topn_sql,
    )

    # literal internal whitespace must NOT collapse (a false match here
    # would rewrite to the select key's literal, changing semantics);
    # non-quoted whitespace still normalizes
    assert _norm_expr("f('a  b')") != _norm_expr("f('a b')")
    assert _norm_expr("f(x ,   Y)") == _norm_expr("f(x , y)")
    assert _norm_expr("f('a b')") == _norm_expr("f('a b')")
    # backslash-escaped quote inside a CTE body must not desync depth
    parsed = _split_ctes(
        "WITH m AS (SELECT * FROM t WHERE x = 'a\\')b') SELECT * FROM m"
    )
    assert parsed is not None and parsed[0][0][0] == "m"
    assert "'a\\')b'" in parsed[0][0][1]
    # a trailing line comment in WHERE must not swallow the generated
    # one-line SQL
    spark.createDataFrame(
        [("g", "a"), ("g", "b"), ("h", "a")], "g string, i string"
    ).createOrReplaceTempView("cmt_in")
    df = topn_sql(
        spark,
        "SELECT g, topn_add_agg(i) AS sk FROM cmt_in "
        "WHERE g = 'g' -- keep only g\nGROUP BY g",
        counters=10,
    )
    assert {r["g"]: dict(r["sk"]) for r in df.collect()} == {
        "g": {"a": 1, "b": 1}
    }
    # the suite's weighted statement (GROUP BY repeats the CAST select
    # key) must actually rewrite — it silently fell back before
    stmt = """
        WITH yearly AS (
          SELECT CAST(year(l_shipdate) AS INT) AS yr,
                 topn_weighted_agg(l_partkey, CAST(round(l_extendedprice
                   * (1 - l_discount) * 100, 0) AS BIGINT)) AS sk
          FROM __topn_sql_lineitem
          GROUP BY CAST(year(l_shipdate) AS INT)
        )
        SELECT yr, t.item, t.frequency
        FROM yearly, LATERAL topn(yearly.sk, 5) t
    """
    assert rewrite_topn_sql(stmt, counters=100) is not None


def test_partial_rewrite_still_warns(spark):
    """ADVICE r4: when one CTE rewrites but another aggregate stays on
    the UDAF lane, the scale-caveat warning must still fire (the check
    scans the FINAL text, not the all-or-nothing rewrite result)."""
    import warnings

    from postgresql_topn_spark.functions.sql_api import (
        rewrite_topn_sql,
        topn_sql,
    )

    spark.createDataFrame(
        [("2024-01-01", "a"), ("2024-01-01", "b"), ("2024-01-02", "a")],
        "d string, item string",
    ).createOrReplaceTempView("pw_in")
    # CTE `good` is the flagship shape (rewrites); CTE `bad` has HAVING
    # on a function of the group key (declines) -> partial rewrite
    sql = """
        WITH good AS (
          SELECT d, topn_add_agg(item) AS sk FROM pw_in GROUP BY d
        ),
        bad AS (
          SELECT d, topn_add_agg(item) AS sk FROM pw_in
          GROUP BY d HAVING upper(d) >= '2024-01-01'
        )
        SELECT g.d, g.sk AS gsk, b.sk AS bsk
        FROM good g JOIN bad b ON g.d = b.d
    """
    partial = rewrite_topn_sql(sql, counters=10, spark=spark)
    assert partial is not None  # one CTE did rewrite
    assert "topn_add_agg" in partial  # ... and one survived
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = topn_sql(spark, sql, counters=10)
        rows = {r["d"]: (dict(r["gsk"]), dict(r["bsk"])) for r in out.collect()}
    assert any("Python reducer" in str(x.message) for x in w)
    exp = {
        "2024-01-01": ({"a": 1, "b": 1}, {"a": 1, "b": 1}),
        "2024-01-02": ({"a": 1}, {"a": 1}),
    }
    assert rows == exp


def test_weighted_udaf_rounding_matches_column_lane(spark):
    """ADVICE r4: per-row HALF-UP rounding of fractional weights must
    agree bit-for-bit with Spark's BigDecimal F.round — including the
    edge double 0.49999999999999994, where naive wf + 0.5 == 1.0 in
    binary float but the decimal value rounds to 0."""
    from postgresql_topn_spark.functions.aggregates import (
        topn_weighted_agg,
    )
    from postgresql_topn_spark.functions.sql_api import (
        register_sql_functions,
    )

    edge = 0.49999999999999994
    rows = [
        ("a", edge),   # rounds to 0 -> total 0 -> dropped
        ("b", 2.5),    # 3
        ("c", 0.5),    # 1
        ("d", -2.5),   # -3 -> dropped (<= 0)
        ("e", 1.25),   # 1
        ("e", 1.25),   # 1 (per-row rounding: 1+1, not round(2.5))
    ]
    df = spark.createDataFrame(rows, "item string, w double")
    col_lane = dict(
        topn_weighted_agg(df, [], "item", "w", counters=100)
        .collect()[0]["topn"]
    )
    register_sql_functions(spark, counters=100)
    try:
        df.createOrReplaceTempView("wr_in")
        udaf_lane = dict(
            spark.sql(
                "SELECT topn_weighted_agg(item, w) AS sk FROM wr_in"
            ).collect()[0]["sk"]
        )
    finally:
        register_sql_functions(spark, counters=1000)
    assert col_lane == {"b": 3, "c": 1, "e": 2}
    assert udaf_lane == col_lane


def test_having_on_key_aliases_rewrites(spark):
    """Round-5 rewriter extension: HAVING whose every identifier is a
    select-list key alias rewrites to a WHERE over the two-phase
    output — zero Python stages, same rows as the UDAF lane."""
    from postgresql_topn_spark.functions.sql_api import (
        rewrite_topn_sql,
        topn_sql,
    )
    from postgresql_topn_spark.plans.audit import python_stages

    spark.createDataFrame(
        [("2024-01-01", "a"), ("2024-01-01", "b"), ("2024-02-02", "a"),
         ("2024-03-03", "c")],
        "d string, item string",
    ).createOrReplaceTempView("hk_in")
    sql = """
        SELECT d, topn_add_agg(item) AS sk FROM hk_in
        GROUP BY d HAVING d >= '2024-02-01' AND d NOT LIKE '%zzz%'
    """
    assert rewrite_topn_sql(sql, counters=10) is not None
    df = topn_sql(spark, sql, counters=10)
    assert python_stages(df) == 0
    got = {r["d"]: dict(r["sk"]) for r in df.collect()}
    assert got == {"2024-02-02": {"a": 1}, "2024-03-03": {"c": 1}}
    # ... and composes with ORDER BY / LIMIT re-attachment
    df2 = topn_sql(
        spark,
        sql + " ORDER BY d DESC LIMIT 1",
        counters=10,
    )
    assert python_stages(df2) == 0
    assert [r["d"] for r in df2.collect()] == ["2024-03-03"]


def test_having_unprovable_shapes_decline(spark):
    """Aggregates, function calls, un-aliased source expressions and
    HAVING-without-GROUP-BY all stay on the (correct) fallback lane."""
    from postgresql_topn_spark.functions.sql_api import rewrite_topn_sql

    for sql in [
        "SELECT d, topn_add_agg(i) AS sk FROM t GROUP BY d HAVING count(*) > 1",
        "SELECT d, topn_add_agg(i) AS sk FROM t GROUP BY d HAVING upper(d) = 'X'",
        "SELECT year(ts) AS yr, topn_add_agg(i) AS sk FROM t "
        "GROUP BY year(ts) HAVING year(ts) >= 2000",
        "SELECT d, topn_add_agg(i) AS sk FROM t GROUP BY d HAVING other_col > 1",
        "SELECT topn_add_agg(i) AS sk FROM t HAVING sk IS NOT NULL",
    ]:
        assert rewrite_topn_sql(sql, counters=10) is None, sql


def test_weighted_four_surface_randomized(sql_session):
    """Randomized FOUR-surface agreement for the weighted aggregate:
    Column lane (aggregates.topn_weighted_agg), Tier-2 sketch
    (sketch_state.topn_weighted_agg_sketch, no-eviction regime),
    registered GROUPED_AGG UDAF, and the generated two-phase SQL
    (topn_weighted_agg_sql) must produce IDENTICAL maps on a weight
    mix drawn to hit every rounding/saturation/drop rule: integers,
    exact .5 halves (HALF-UP away from zero), the 0.49999999999999994
    edge double, NULL, NaN, +/-1e30 saturation, negatives that drive
    totals nonpositive, and NULL items on otherwise-empty groups."""
    import math
    import random

    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg
    from postgresql_topn_spark.functions.sql_api import topn_weighted_agg_sql
    from postgresql_topn_spark.operators.sketch_state import (
        topn_weighted_agg_sketch,
    )

    rng = random.Random(2468)
    pool = (
        [float(rng.randrange(-20, 50)) for _ in range(8)]
        + [x + 0.5 for x in range(-3, 4)]
        + [0.49999999999999994, -0.49999999999999994]
        + [None, float("nan"), 1e30, -1e30, 0.0]
        + [rng.uniform(-5, 5) for _ in range(6)]
    )
    rows = [
        (f"g{rng.randrange(8)}",
         rng.choice([None, "a", "b", "c", "d", "e"]),
         rng.choice(pool))
        for _ in range(400)
    ]
    df = sql_session.createDataFrame(rows, "g string, item string, w double")
    df.createOrReplaceTempView("__four_surface_in")

    def canon(out_rows):
        return {r["g"]: dict(r["topn"]) for r in out_rows}

    col_lane = canon(
        topn_weighted_agg(df, ["g"], "item", "w", counters=100).collect()
    )
    tier2 = canon(
        topn_weighted_agg_sketch(df, ["g"], "item", "w", counters=100).collect()
    )
    udaf = {
        r["g"]: dict(r["topn"])
        for r in sql_session.sql(
            "SELECT g, topn_weighted_agg(item, w) AS topn"
            " FROM __four_surface_in GROUP BY g"
        ).collect()
    }
    twophase = canon(
        sql_session.sql(
            topn_weighted_agg_sql(
                "__four_surface_in", ["g"], "item", "w", counters=100
            )
        ).collect()
    )
    assert col_lane == tier2 == udaf == twophase
    # the mix really exercised the rules: some group lost an item to
    # the nonpositive-total drop, and some total saturated
    all_vals = [v for m in col_lane.values() for v in m.values()]
    assert any(v == (1 << 63) - 1 for v in all_vals)
    assert len(col_lane) == 8


def test_add_and_union_four_surface_randomized(sql_session):
    """Randomized multi-surface agreement for the counting and union
    aggregates. Counting: Column lane, Tier-2 sketch, registered UDAF,
    two-phase SQL — on items mixing multibyte unicode, >255-byte
    strings (byte-cap rule), and NULLs. Union: the same four surfaces
    over random sketches with negative and near-INT64_MAX frequencies
    (signed saturation), NULL sketches, and empty maps."""
    import random

    from postgresql_topn_spark.functions.aggregates import (
        topn_add_agg,
        topn_union_agg,
    )
    from postgresql_topn_spark.functions.sql_api import (
        topn_add_agg_sql,
        topn_union_agg_sql,
    )
    from postgresql_topn_spark.operators.sketch_state import (
        topn_add_agg_sketch,
        topn_union_agg_sketch,
    )

    rng = random.Random(97531)
    items = ["é" * 200, "日本語テスト" * 50, "plain", "x", "☃", None] + [
        f"it{i}" for i in range(6)
    ]
    rows = [
        (f"g{rng.randrange(6)}", rng.choice(items)) for _ in range(400)
    ]
    df = sql_session.createDataFrame(rows, "g string, item string")
    df.createOrReplaceTempView("__ms_add_in")

    def canon(out_rows):
        return {r["g"]: dict(r["topn"]) for r in out_rows}

    a1 = canon(topn_add_agg(df, ["g"], "item", counters=50).collect())
    a2 = canon(topn_add_agg_sketch(df, ["g"], "item", counters=50).collect())
    a3 = {
        r["g"]: dict(r["topn"])
        for r in sql_session.sql(
            "SELECT g, topn_add_agg(item) AS topn FROM __ms_add_in GROUP BY g"
        ).collect()
    }
    a4 = canon(
        sql_session.sql(
            topn_add_agg_sql("__ms_add_in", ["g"], "item", counters=50)
        ).collect()
    )
    assert a1 == a2 == a3 == a4
    assert any("é" in k for m in a1.values() for k in m)  # truncation hit

    big = (1 << 63) - 1
    def sk():
        if rng.random() < 0.15:
            return None
        if rng.random() < 0.15:
            return {}
        return {
            f"k{rng.randrange(8)}": rng.choice(
                [1, 5, -3, big - 2, big, -(big - 1), rng.randrange(-100, 100)]
            )
            for _ in range(rng.randrange(1, 5))
        }

    urows = [(f"g{rng.randrange(5)}", sk()) for _ in range(200)]
    udf_df = sql_session.createDataFrame(
        urows, "g string, sk map<string,bigint>"
    )
    udf_df.createOrReplaceTempView("__ms_union_in")
    u1 = {
        r["g"]: dict(r["topn"])
        for r in topn_union_agg(udf_df, ["g"], "sk", counters=50).collect()
    }
    u2 = {
        r["g"]: dict(r["topn"])
        for r in topn_union_agg_sketch(
            udf_df, ["g"], "sk", counters=50
        ).collect()
    }
    u3 = {
        r["g"]: dict(r["topn"])
        for r in sql_session.sql(
            "SELECT g, topn_union_agg(sk) AS topn FROM __ms_union_in GROUP BY g"
        ).collect()
    }
    u4 = {
        r["g"]: dict(r["topn"])
        for r in sql_session.sql(
            topn_union_agg_sql("__ms_union_in", ["g"], "sk", counters=50)
        ).collect()
    }
    assert u1 == u2 == u3 == u4
    vals = [v for m in u1.values() for v in m.values()]
    assert any(v == big for v in vals)      # positive saturation hit
    assert any(v < 0 for v in vals)         # negative totals survive union


def test_topn_sql_salt_reaches_union(spark):
    """topn_sql(salt_buckets=) salts the union statements too, the
    grand-total union above all (its single final rank is the hot spot
    the salt exists for): two Window nodes instead of one, same values."""
    import re

    from postgresql_topn_spark.functions.sql_api import topn_sql
    from postgresql_topn_spark.plans.audit import plan_str

    spark.createDataFrame(
        [(i % 3, {f"k{j}": (i * 7 + j) % 11 + 1 for j in range(i % 9 + 1)})
         for i in range(60)] + [(3, None)],
        "g int, sk map<string,bigint>",
    ).createOrReplaceTempView("tp_salt_sks")
    for sql in (
        "SELECT topn_union_agg(sk) AS topn FROM tp_salt_sks",
        "SELECT g, topn_union_agg(sk) AS topn FROM tp_salt_sks GROUP BY g",
    ):
        plain = topn_sql(spark, sql, counters=3)
        salted = topn_sql(spark, sql, counters=3, salt_buckets=8)
        windows = lambda df: len(re.findall(r"\(\d+\) Window", plan_str(df)))  # noqa: E731
        assert (windows(plain), windows(salted)) == (1, 2)
        rows = lambda df: sorted(  # noqa: E731
            (tuple(dict(v) if isinstance(v, dict) else v for v in r) for r in df.collect()),
            key=repr,
        )
        assert rows(salted) == rows(plain)


def test_sql_integral_weight_exact_beyond_2p53(spark):
    """An integral weight sums in int64 on the SQL-text surface as on the
    Column API: 2^53+1 must not collapse to 2^53 through double."""
    from postgresql_topn_spark.functions.sql_api import (
        topn_sql,
        topn_weighted_agg_sql,
    )

    big = (1 << 53) + 1
    spark.createDataFrame(
        [("g", "a", big), ("g", "a", 0), ("g", "b", None)],
        "grp string, item string, w bigint",
    ).createOrReplaceTempView("tp_big_w")
    built = spark.sql(
        topn_weighted_agg_sql("tp_big_w", ["grp"], "item", "w", counters=10)
    ).collect()
    rewritten = topn_sql(
        spark,
        "SELECT grp, topn_weighted_agg(item, w) AS topn FROM tp_big_w GROUP BY grp",
        counters=10,
    ).collect()
    assert dict(built[0]["topn"]) == {"a": big}
    assert dict(rewritten[0]["topn"]) == {"a": big}


def test_rank_and_pack_written_once():
    """The SQL-text rank (plain or salted) and the sketch pack exist in
    one function, the rank+pack tail every Tier-1 aggregate runs; no
    module under functions/ may carry a second copy."""
    import ast
    import pathlib

    import postgresql_topn_spark.functions.aggregates as agg

    rank, pack = "row_number() over", "map_from_entries(coalesce(array_sort(collect_list("
    seen = 0
    for path in sorted(pathlib.Path(agg.__file__).parent.glob("*.py")):
        src = path.read_text()
        if path.name == "aggregates.py":
            fn = next(
                n for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef) and n.name == "_rank_pack_sql"
            )
            lines = src.splitlines(keepends=True)
            body = " ".join("".join(lines[fn.lineno - 1 : fn.end_lineno]).split()).lower()
            assert rank in body and pack in body
            src = "".join(lines[: fn.lineno - 1] + lines[fn.end_lineno :])
        flat = " ".join(src.split()).lower()
        assert rank not in flat, f"{path.name} carries its own SQL rank"
        assert pack not in flat, f"{path.name} carries its own sketch pack"
        seen += 1
    assert seen > 5


def test_norm_expr_backslash_escape_keeps_literal_case():
    """The GROUP BY matcher skips quoted spans with the same escape rule
    as the clause scanner (outside backticks a backslash escapes the
    next character), so case folding never reaches inside 'a\\'B'. The
    statement below groups by a different literal than it selects, which
    Spark rejects (MISSING_AGGREGATION); the rewriter must decline it
    rather than group on the select key."""
    from postgresql_topn_spark.functions.sql_api import rewrite_topn_sql

    sql = (
        "SELECT concat(g, 'a\\'B') AS k, topn_add_agg(x) AS t FROM src "
        "GROUP BY concat(g, 'a\\'b')"
    )
    assert rewrite_topn_sql(sql, counters=10) is None
    # the same statement with matching literals still rewrites
    assert rewrite_topn_sql(sql.replace("'a\\'b'", "'a\\'B'"), counters=10)


def test_udaf_boolean_items_key_like_the_rewrite(spark):
    """A boolean item keys as Spark's cast does ('true'/'false') on the
    UDAF lane too, so spark.sql and topn_sql give the same sketch, in
    both the count and the weighted form."""
    from postgresql_topn_spark.functions.sql_api import topn_sql

    register_sql_functions(spark, counters=1000)
    for call, want in (
        ("topn_add_agg(x)", {"true": 2, "false": 1}),
        ("topn_weighted_agg(x, 3)", {"true": 6, "false": 3}),
    ):
        sql = f"SELECT {call} AS sk FROM VALUES (true), (false), (true), (NULL) AS t(x)"
        assert dict(spark.sql(sql).first().sk) == want
        assert dict(topn_sql(spark, sql).first().sk) == want
