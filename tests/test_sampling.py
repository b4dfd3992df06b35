"""Deterministic sampling invariants."""

import pytest

from pyspark.sql import functions as F

from postgresql_topn_spark.operators.sampling import (
    deterministic_sample,
    hash_uniform,
    stratified_sample,
)


class TestDeterministicSample:
    def test_reproducible_and_partition_invariant(self, spark):
        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        a = {r["k"] for r in deterministic_sample(df, "k", 0.3, seed=1).collect()}
        b = {
            r["k"]
            for r in deterministic_sample(
                df.repartition(7), "k", 0.3, seed=1
            ).collect()
        }
        assert a == b
        assert 0.25 < len(a) / 2000 < 0.35

    def test_seeds_independent(self, spark):
        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        a = {r["k"] for r in deterministic_sample(df, "k", 0.3, seed=1).collect()}
        c = {r["k"] for r in deterministic_sample(df, "k", 0.3, seed=2).collect()}
        assert a != c

    def test_nested_fractions_monotone(self, spark):
        """A 0.2 sample must be a subset of the 0.5 sample at the same
        seed (threshold sampling is nested by construction)."""
        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        small = {r["k"] for r in deterministic_sample(df, "k", 0.2, seed=3).collect()}
        big = {r["k"] for r in deterministic_sample(df, "k", 0.5, seed=3).collect()}
        assert small <= big

    def test_uniform_bounds(self, spark):
        df = spark.range(0, 500).select(hash_uniform("id").alias("u"))
        mn, mx = df.agg(F.min("u"), F.max("u")).first()
        assert 0.0 <= mn and mx < 1.0


class TestStratifiedSample:
    def test_rates_respected_and_default_drops(self, spark):
        df = spark.range(0, 3000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, "a")
            .when(F.col("id") % 3 == 1, "b")
            .otherwise("c")
            .alias("s"),
        )
        out = stratified_sample(
            df, "s", {"a": 1.0, "b": 0.25}, "k", seed=5
        ).groupBy("s").count()
        counts = {r["s"]: r["count"] for r in out.collect()}
        assert counts["a"] == 1000
        assert 150 < counts["b"] < 350
        assert "c" not in counts


class TestSessionize:
    def test_known_sessions(self, spark):
        """Gaps > 30 min split sessions; ties share a session."""
        from postgresql_topn_spark.operators.sessions import (
            session_stats,
            sessionize,
        )

        rows = [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),  # same session (10 min)
            (1, "2024-01-01 11:00:00"),  # new session (50 min gap)
            (2, "2024-01-01 09:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id bigint, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        got = {
            (r.user_id, str(r.ts)): r.session_idx
            for r in sessionize(df).collect()
        }
        assert got[(1, "2024-01-01 10:00:00")] == 1
        assert got[(1, "2024-01-01 10:10:00")] == 1
        assert got[(1, "2024-01-01 11:00:00")] == 2
        assert got[(2, "2024-01-01 09:00:00")] == 1
        stats = {
            (r.user_id, r.session_idx): (r.n_events, r.duration_us)
            for r in session_stats(df).collect()
        }
        assert stats[(1, 1)] == (2, 600_000_000)
        assert stats[(1, 2)] == (1, 0)
        assert stats[(2, 1)] == (1, 0)

    def test_single_exchange_plan(self, spark):
        """The lag window, the running counter and the summary
        aggregate must share ONE user-key exchange."""
        from postgresql_topn_spark.operators.sessions import session_stats
        from postgresql_topn_spark.plans.audit import (
            hash_shuffles,
            python_stages,
        )
        from postgresql_topn_spark.sources.tables import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        out = session_stats(ev)
        assert hash_shuffles(out) == 1
        assert python_stages(out) == 0


class TestTrainSplit:
    """train_split: deterministic md5-keyed train/val/test assignment."""

    def test_exhaustive_and_stable_under_refresh(self, spark):
        from postgresql_topn_spark.operators.sampling import train_split

        df = spark.range(2000).select(F.col("id").alias("k"))
        out = train_split(
            df, "k", {"train": 0.75, "val": 0.125, "test": 0.125}
        )
        got = {r["k"]: r["split"] for r in out.collect()}
        assert set(got.values()) == {"train", "val", "test"}
        assert len(got) == 2000  # every row assigned exactly once
        # proportions near weights (md5-uniform: +-5% at n=2000)
        frac = {s: sum(v == s for v in got.values()) / 2000 for s in set(got.values())}
        assert abs(frac["train"] - 0.75) < 0.05
        assert abs(frac["val"] - 0.125) < 0.04
        assert abs(frac["test"] - 0.125) < 0.04
        # refresh stability: dropping half the corpus reassigns nobody
        half = train_split(
            df.where(F.col("k") % 2 == 0),
            "k",
            {"train": 0.75, "val": 0.125, "test": 0.125},
        )
        for r in half.collect():
            assert got[r["k"]] == r["split"]

    def test_seed_changes_assignment_weights_normalize(self, spark):
        from postgresql_topn_spark.operators.sampling import train_split

        df = spark.range(500).select(F.col("id").alias("k"))
        a = {r["k"]: r["split"] for r in train_split(df, "k", seed=0).collect()}
        b = {r["k"]: r["split"] for r in train_split(df, "k", seed=1).collect()}
        assert a != b  # different seed, different deal
        # weights normalize: {3, 1} == {0.75, 0.25}
        n1 = train_split(df, "k", {"a": 3.0, "b": 1.0})
        n2 = train_split(df, "k", {"a": 0.75, "b": 0.25})
        assert n1.collect() == n2.collect()

    def test_single_bucket_and_validation(self, spark):
        from postgresql_topn_spark.operators.sampling import train_split

        df = spark.range(10).select(F.col("id").alias("k"))
        only = train_split(df, "k", {"all": 1.0})
        assert {r["split"] for r in only.collect()} == {"all"}
        import pytest as _pytest

        for bad in ({}, {"a": -1.0}, {"a": 0.0}):
            with _pytest.raises(ValueError):
                train_split(df, "k", bad)

    def test_no_shuffle_plan(self, spark):
        from postgresql_topn_spark.operators.sampling import train_split
        from postgresql_topn_spark.plans.audit import hash_shuffles

        df = spark.range(100).select(F.col("id").alias("k"))
        assert hash_shuffles(train_split(df, "k")) == 0


class TestRetentionCohorts:
    def test_hand_computed_matrix(self, spark):
        from postgresql_topn_spark.operators.sessions import (
            retention_cohorts,
        )

        rows = [
            # u1: first day 1, active days 1, 2, 4
            (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
            (1, "2024-01-02 23:00:00"), (1, "2024-01-04 01:00:00"),
            # u2: first day 1, active days 1, 4
            (2, "2024-01-01 00:00:01"), (2, "2024-01-04 12:00:00"),
            # u3: first day 2 only
            (3, "2024-01-02 05:00:00"),
            # NULL user ignored
            (None, "2024-01-01 00:00:00"),
        ]
        ev = spark.createDataFrame(
            rows, "user_id int, ts_s string"
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
        got = {
            (str(r["cohort"]), r["period_offset"]): r["n_users"]
            for r in retention_cohorts(ev, "user_id", "ts", period="day").collect()
        }
        assert got == {
            ("2024-01-01", 0): 2,  # u1, u2
            ("2024-01-01", 1): 1,  # u1
            ("2024-01-01", 3): 2,  # u1, u2
            ("2024-01-02", 0): 1,  # u3
        }

    def test_week_and_month_offsets(self, spark):
        from postgresql_topn_spark.operators.sessions import (
            retention_cohorts,
        )

        rows = [
            (1, "2024-01-01 00:00:00"),  # week of Jan 1 (Monday)
            (1, "2024-01-10 00:00:00"),  # next week -> offset 1
            (1, "2024-03-05 00:00:00"),  # month offset 2
        ]
        ev = spark.createDataFrame(
            rows, "user_id int, ts_s string"
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
        wk = {
            r["period_offset"]: r["n_users"]
            for r in retention_cohorts(ev, period="week").collect()
        }
        assert wk == {0: 1, 1: 1, 9: 1}
        mo = {
            r["period_offset"]: r["n_users"]
            for r in retention_cohorts(ev, period="month").collect()
        }
        assert mo == {0: 1, 2: 1}
        import pytest as _pytest

        with _pytest.raises(ValueError, match="period"):
            retention_cohorts(ev, period="year")

    def test_max_offset_caps(self, spark):
        from postgresql_topn_spark.operators.sessions import (
            retention_cohorts,
        )

        rows = [(1, "2024-01-01 00:00:00"), (1, "2024-02-15 00:00:00")]
        ev = spark.createDataFrame(
            rows, "user_id int, ts_s string"
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
        got = retention_cohorts(ev, period="day", max_offset=30).collect()
        assert {r["period_offset"] for r in got} == {0}


def test_train_split_null_keys_get_null_split(spark):
    """Review pin: NULL keys used to fall through the when-chain's
    otherwise() into the LAST bucket, silently contaminating the
    smallest (eval) split with the whole NULL-key population. They now
    get a NULL split for the caller to filter or repair."""
    from postgresql_topn_spark.operators.sampling import train_split

    df = spark.createDataFrame(
        [("a",), ("b",), (None,), (None,)], "k string"
    )
    got = {r["k"]: r["split"] for r in train_split(df, "k").collect()}
    assert got[None] is None
    assert got["a"] in ("train", "val", "test")
    assert got["b"] in ("train", "val", "test")


def test_train_split_randomized_vs_python_md5(spark):
    """Randomized independent-implementation differential: NON-binary
    random weights (the gate deliberately uses exact binary ones), a
    random seed, and mixed int/string keys, with every assignment
    replayed by a pure-Python hashlib.md5 replica of hash_uniform
    (bigint-cast-then-divide, matching Spark's two-step float path) and
    the same insertion-order cumulative boundaries."""
    import hashlib
    import random

    from postgresql_topn_spark.operators.sampling import train_split

    rng = random.Random(777)
    seed = rng.randrange(100)
    weights = {nm: rng.uniform(0.05, 2.0) for nm in ("w", "x", "y", "z")}
    keys = [str(rng.randrange(10_000)) for _ in range(300)] + [
        f"k-{rng.randrange(500)}" for _ in range(200)
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["split"]
        for r in train_split(df, "k", weights, seed=seed).collect()
    }

    total = float(sum(weights.values()))
    names = list(weights)
    bounds = []
    acc = 0.0
    for nm in names[:-1]:
        acc += weights[nm] / total
        bounds.append((nm, acc))
    for k in set(keys):
        h = hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:15]
        u = float(int(h, 16)) / float(1 << 60)
        want = names[-1]
        for nm, b in bounds:
            if u < b:
                want = nm
                break
        assert got[k] == want, (k, u)
    assert len(set(got.values())) == 4  # all buckets hit


class TestTokenBudgetMix:
    def _docs(self, spark):
        # src0: 600 rows x 100 tokens = 60k; src1: 200 x 50 = 10k;
        # src2: 10 x 40 = 400 (smaller than any plausible allocation)
        rows = (
            [(i, "src0", 100) for i in range(600)]
            + [(1000 + i, "src1", 50) for i in range(200)]
            + [(2000 + i, "src2", 40) for i in range(10)]
        )
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_tok long"
        )

    def test_expected_mass_and_cap(self, spark):
        from postgresql_topn_spark.operators.sampling import token_budget_mix

        df = self._docs(spark)
        out = token_budget_mix(
            df,
            "source",
            "doc_id",
            "n_tok",
            budget=20_000,
            weights={"src0": 0.5, "src1": 0.3, "src2": 0.2},
            seed=3,
            rate_col="rate",
        )
        rows = out.collect()
        mass = {}
        for r in rows:
            mass[r["source"]] = mass.get(r["source"], 0) + r["n_tok"]
        # expected 10k src0 tokens (rate 1/6), 6k src1 (rate 0.6);
        # Bernoulli noise band ~3 sigma
        assert 7_500 < mass["src0"] < 12_500
        assert 4_500 < mass["src1"] < 7_500
        # src2's allocation (4000 tokens) exceeds its size: cap binds,
        # every row kept at rate exactly 1.0
        src2 = [r for r in rows if r["source"] == "src2"]
        assert len(src2) == 10
        assert all(r["rate"] == 1.0 for r in src2)

    def test_rates_are_exact_and_sample_is_hash_defined(self, spark):
        from postgresql_topn_spark.operators.sampling import (
            hash_uniform,
            token_budget_mix,
        )

        df = self._docs(spark)
        budget, weights, seed = 20_000, {"src0": 0.5, "src1": 0.3}, 5
        out = token_budget_mix(
            df, "source", "doc_id", "n_tok",
            budget=budget, weights=weights, seed=seed,
        )
        got = {r["doc_id"] for r in out.collect()}
        rate = {"src0": round(min(1.0, budget * 0.5 / 60_000), 9),
                "src1": round(min(1.0, budget * 0.3 / 10_000), 9)}
        u = {
            r["doc_id"]: r["u"]
            for r in df.select(
                "doc_id", hash_uniform("doc_id", seed).alias("u")
            ).collect()
        }
        want = {
            r["doc_id"]
            for r in df.collect()
            if r["source"] in rate and u[r["doc_id"]] < rate[r["source"]]
        }
        assert got == want
        # partition invariance: same keep set on any layout
        got13 = {
            r["doc_id"]
            for r in token_budget_mix(
                df.repartition(13), "source", "doc_id", "n_tok",
                budget=budget, weights=weights, seed=seed,
            ).collect()
        }
        assert got13 == got

    def test_allowlist_and_zero_mass_strata(self, spark):
        from postgresql_topn_spark.operators.sampling import token_budget_mix

        rows = [(1, "a", 10), (2, "b", 10), (3, "c", 0), (4, "d", 0),
                (5, None, 10)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, n_tok long"
        )
        out = token_budget_mix(
            df, "source", "doc_id", "n_tok",
            budget=1_000_000,
            weights={"a": 1.0, "c": 1.0},  # b, d, NULL not in recipe
        )
        got = {r["doc_id"] for r in out.collect()}
        # a: rate caps at 1 -> kept; c: zero-mass + positive weight ->
        # kept free; b/d: not in recipe -> dropped; NULL stratum dropped
        assert got == {1, 3}

    def test_validation(self, spark):
        import pytest

        from postgresql_topn_spark.operators.sampling import token_budget_mix

        df = spark.createDataFrame([(1, "a", 1)], "doc_id long, source string, n_tok long")
        with pytest.raises(ValueError, match="budget"):
            token_budget_mix(df, "source", "doc_id", "n_tok",
                             budget=-1, weights={"a": 1.0})
        with pytest.raises(ValueError, match="weights"):
            token_budget_mix(df, "source", "doc_id", "n_tok",
                             budget=1, weights={"a": -0.5})


def test_token_budget_rate_col_collision_rejected(spark):
    import pytest

    from postgresql_topn_spark.operators.sampling import token_budget_mix

    df = spark.createDataFrame(
        [(1, "a", 1, 0.5)], "doc_id long, source string, n_tok long, rate double"
    )
    with pytest.raises(ValueError, match="rate_col"):
        token_budget_mix(df, "source", "doc_id", "n_tok",
                         budget=1, weights={"a": 1.0}, rate_col="rate")


class TestTokenBudgetEpochs:
    def _docs(self, spark):
        # tiny: 20 rows x 100 tokens = 2000; big: 500 x 100 = 50000
        rows = [(i, "tiny", 100) for i in range(20)] + [
            (100 + i, "big", 100) for i in range(500)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_tok long"
        )

    def test_upsampling_hits_budget_in_expectation(self, spark):
        from postgresql_topn_spark.operators.sampling import (
            token_budget_epochs,
        )

        df = self._docs(spark)
        # tiny allocated 5000 tokens = rate 2.5 -> 2 full epochs + 0.5;
        # big allocated 5000 = rate 0.1
        out = token_budget_epochs(
            df, "source", "doc_id", "n_tok",
            budget=10_000, weights={"tiny": 0.5, "big": 0.5}, seed=4,
        ).collect()
        tiny = [r for r in out if r["source"] == "tiny"]
        big = [r for r in out if r["source"] == "big"]
        # every tiny row has epochs 0 and 1; epoch 2 is the half draw
        per = {}
        for r in tiny:
            per.setdefault(r["doc_id"], set()).add(r["epoch"])
        assert all({0, 1} <= e for e in per.values())
        n_frac = sum(1 for e in per.values() if 2 in e)
        assert 4 <= n_frac <= 16  # Binomial(20, .5), wide band
        assert len(per) == 20
        # big: Bernoulli(0.1) of 500, all epoch 0
        assert {r["epoch"] for r in big} == {0}
        assert 25 <= len(big) <= 80

    def test_exact_integer_rate_has_no_fractional_epoch(self, spark):
        from postgresql_topn_spark.operators.sampling import (
            token_budget_epochs,
        )

        df = self._docs(spark).where(F.col("source") == "tiny")
        out = token_budget_epochs(
            df, "source", "doc_id", "n_tok",
            budget=4_000, weights={"tiny": 1.0},
        ).collect()
        # rate exactly 2.0: every row exactly epochs {0, 1}
        per = {}
        for r in out:
            per.setdefault(r["doc_id"], set()).add(r["epoch"])
        assert all(e == {0, 1} for e in per.values())
        assert len(per) == 20

    def test_partition_invariance_and_python_differential(self, spark):
        import hashlib

        from postgresql_topn_spark.operators.sampling import (
            token_budget_epochs,
        )

        df = self._docs(spark)
        budget, seed = 10_000, 9
        out = {
            (r["doc_id"], r["epoch"])
            for r in token_budget_epochs(
                df, "source", "doc_id", "n_tok",
                budget=budget, weights={"tiny": 0.5, "big": 0.5}, seed=seed,
            ).collect()
        }
        out13 = {
            (r["doc_id"], r["epoch"])
            for r in token_budget_epochs(
                df.repartition(13), "source", "doc_id", "n_tok",
                budget=budget, weights={"tiny": 0.5, "big": 0.5}, seed=seed,
            ).collect()
        }
        assert out == out13

        def u(e, k):
            h = hashlib.md5(f"{seed}e{e}:{k}".encode()).hexdigest()[:15]
            return int(h, 16) / float(1 << 60)

        want = set()
        for r in df.collect():
            rate = round(
                budget * 0.5 / (2000 if r["source"] == "tiny" else 50000), 9
            )
            full = int(rate)
            for e in range(full):
                want.add((r["doc_id"], e))
            if u(full, r["doc_id"]) < rate - full:
                want.add((r["doc_id"], full))
        assert out == want

    def test_epoch_col_collision_rejected(self, spark):
        import pytest

        from postgresql_topn_spark.operators.sampling import (
            token_budget_epochs,
        )

        df = spark.createDataFrame(
            [(1, "a", 1, 0)], "doc_id long, source string, n_tok long, epoch int"
        )
        with pytest.raises(ValueError, match="epoch_col"):
            token_budget_epochs(df, "source", "doc_id", "n_tok",
                                budget=1, weights={"a": 1.0})


def test_token_budget_lazy_budget_equals_eager(spark):
    """r14: a one-column aggregate frame as `budget` must produce the
    SAME rows and rates as the eager float form (the lazy scalar rides
    the mix's own job instead of a construction-time collect)."""
    import pyspark.sql.functions as F

    from postgresql_topn_spark.operators.sampling import token_budget_mix

    df = spark.createDataFrame(
        [(i, ["en", "de", "es", None][i % 4], 7 + 13 * (i % 9))
         for i in range(300)],
        "doc_id long, lang string, n_tok long",
    )
    kw = dict(
        weights={"en": 0.5, "de": 0.3, "es": 0.2},
        seed=11,
        rate_col="rate",
    )
    total = df.agg(F.sum("n_tok")).collect()[0][0]
    eager = token_budget_mix(
        df, "lang", "doc_id", "n_tok", budget=0.6 * float(total), **kw
    )
    lazy = token_budget_mix(
        df, "lang", "doc_id", "n_tok",
        budget=df.agg((F.lit(0.6) * F.sum("n_tok").cast("double")).alias("b")),
        **kw,
    )
    assert sorted(map(tuple, eager.collect())) == sorted(
        map(tuple, lazy.collect())
    )

    # a multi-column frame is rejected loudly
    import pytest

    with pytest.raises(ValueError, match="exactly one column"):
        token_budget_mix(
            df, "lang", "doc_id", "n_tok",
            budget=df.agg(F.sum("n_tok"), F.count("*")), **kw,
        )


@pytest.mark.parametrize(
    "budget_sql",
    [
        "SELECT CAST(100 AS DOUBLE) AS b WHERE false",  # no row
        "SELECT CAST(100 AS DOUBLE) AS b FROM range(2)",  # two rows
        "SELECT CAST(-1 AS DOUBLE) AS b",  # negative
        "SELECT CAST(NULL AS DOUBLE) AS b",  # NULL
    ],
    ids=["zero_rows", "two_rows", "negative", "null"],
)
def test_token_budget_lazy_budget_contract_enforced(spark, budget_sql):
    """The eager path raises on a bad budget; the lazy frame's contract
    (exactly one row, non-negative, not NULL) is asserted inside the
    plan, so a bad frame fails the job instead of silently emptying
    (no row) or duplicating (two rows) the sample."""
    from postgresql_topn_spark.operators.sampling import token_budget_mix

    df = spark.createDataFrame(
        [(i, ["en", "de"][i % 2], 10) for i in range(40)],
        "doc_id long, lang string, n_tok long",
    )
    out = token_budget_mix(
        df, "lang", "doc_id", "n_tok",
        budget=spark.sql(budget_sql), weights={"en": 0.5, "de": 0.5},
    )
    with pytest.raises(Exception, match="lazy budget frame must produce"):
        out.collect()
