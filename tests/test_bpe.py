"""Distributed BPE training: hand-computed merge sequence, partition
invariance, encode consistency with training, edge discipline."""

import pytest
from pyspark.sql import functions as F

from postgresql_topn_spark.operators.bpe import EOW, bpe_encode, train_bpe


@pytest.fixture(scope="module")
def corpus(spark):
    # classic BPE toy corpus: low/lower/newest/widest with frequencies
    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    return spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def test_hand_computed_merge_sequence(corpus):
    """First merges on the Sennrich toy corpus: 'es' (9 = 6+3), then
    'est' (9), then 'est</w>' (9), then 'lo' (7 = 5+2)."""
    merges = train_bpe(corpus, "text", n_merges=4)
    assert merges[:4] == [("e", "s"), ("es", "t"), ("est", EOW), ("l", "o")]


def test_partition_invariance(corpus):
    a = train_bpe(corpus, "text", n_merges=6)
    b = train_bpe(corpus.repartition(7), "text", n_merges=6)
    assert a == b


def test_encode_applies_learned_merges(spark, corpus):
    merges = train_bpe(corpus, "text", n_merges=4)
    out = bpe_encode(
        spark.createDataFrame(
            [(1, "lowest low"), (2, None)], "doc_id long, text string"
        ),
        merges,
    ).collect()
    got = {r["doc_id"]: r["bpe_tokens"] for r in out}
    # 'lowest' -> lo + w + est ; 'low' -> lo + w  (est</w> does not fire
    # mid-word; the est merge does)
    assert got[1] == ["lo", "w", "est", "lo", "w"]
    assert got[2] is None


def test_early_stop_when_pairs_exhaust(spark):
    tiny = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    merges = train_bpe(tiny, "text", n_merges=50, min_pair_count=1)
    # 'ab' has pairs (a,b), (b,</w>): after enough merges one symbol
    # remains per word and training stops well before 50
    assert 0 < len(merges) <= 3


def test_rejects_bad_params(corpus):
    with pytest.raises(ValueError):
        train_bpe(corpus, "text", n_merges=0)


def test_batched_selection_equals_sequential(spark):
    """batch_m > 1 must learn the IDENTICAL merge list (the prefix rule
    is provably order-equivalent, operators/bpe.py _select_batch)."""
    from postgresql_topn_spark.operators.bpe import train_bpe
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    seq = train_bpe(docs, "text", n_merges=12, batch_m=1)
    for m in (4, 12):
        assert train_bpe(docs, "text", n_merges=12, batch_m=m) == seq, m


def test_select_batch_rules():
    """Unit pins for the three safety rules: overlap stops the prefix,
    the cutoff truncates non-dominant picks, a non-fresh concat stops,
    and the argmax always survives."""
    from postgresql_topn_spark.operators.bpe import _select_batch

    # disjoint prefix, no truncation (candidate list complete)
    rows = [("a", "b", 10), ("c", "d", 8), ("e", "f", 6)]
    assert _select_batch(rows, 3, truncated=False, prior_concats=set()) == [
        ("a", "b"),
        ("c", "d"),
        ("e", "f"),
    ]
    # overlap at position 2 sets the cutoff at its count: c-d (8 > 7)
    # survives, e-f (6 <= 7) is cut
    rows = [("a", "b", 10), ("c", "d", 8), ("b", "x", 7), ("e", "f", 6)]
    assert _select_batch(rows, 4, truncated=False, prior_concats=set()) == [
        ("a", "b"),
        ("c", "d"),
    ]
    # truncated fetch: the (m+1)-th row is the cutoff even without overlap
    rows = [("a", "b", 10), ("c", "d", 8), ("e", "f", 8)]
    assert _select_batch(rows, 2, truncated=True, prior_concats=set()) == [
        ("a", "b")
    ]
    # tie with the cutoff: only the argmax survives
    rows = [("a", "b", 8), ("c", "d", 8), ("b", "x", 8)]
    assert _select_batch(rows, 3, truncated=False, prior_concats=set()) == [
        ("a", "b")
    ]
    # freshness: concat equal to a prior merge result stops the prefix
    rows = [("a", "b", 10), ("c", "d", 8)]
    assert _select_batch(
        rows, 2, truncated=False, prior_concats={"cd"}
    ) == [("a", "b")]
    # concat equal to an earlier batch member's concat also stops
    rows = [("x", "yz", 10), ("xy", "z", 8)]
    assert _select_batch(rows, 2, truncated=False, prior_concats=set()) == [
        ("x", "yz")
    ]


def test_select_batch_self_pair_terminates_prefix():
    """Rule (4): an accepted self-pair (a, a) ends the batch — pairs it
    creates ((aa,aa), (aa,a)) inherit (a,a)'s OWN count, which no cutoff
    below the prefix bounds (ADVICE r4, high)."""
    from postgresql_topn_spark.operators.bpe import _select_batch

    # self-pair at p_1: nothing after it, even a disjoint dominant pair
    rows = [("a", "a", 300), ("c", "d", 100), ("d", "e", 50)]
    assert _select_batch(rows, 3, truncated=False, prior_concats=set()) == [
        ("a", "a")
    ]
    # self-pair deeper in the prefix: kept, but terminates the batch
    rows = [("c", "d", 100), ("a", "a", 50), ("e", "f", 40)]
    assert _select_batch(rows, 3, truncated=False, prior_concats=set()) == [
        ("c", "d"),
        ("a", "a"),
    ]
    # ... and the self-pair itself still owes the cutoff vs the first
    # non-accepted candidate: equal count -> only the argmax survives
    rows = [("c", "d", 100), ("a", "a", 50), ("e", "c", 50)]
    assert _select_batch(rows, 3, truncated=False, prior_concats=set()) == [
        ("c", "d")
    ]


def test_batched_equals_sequential_on_repeated_char_runs(spark):
    """The ADVICE r4 counterexample corpus: 'aaaaaa'x60 + 'cde'/'cdf'x50.
    Sequential learns [(a,a),(aa,aa),(c,d),(aa,</w>)]; an unterminated
    batch of 2 would emit [(a,a),(c,d),...]. Pin hand-computed order and
    batch_m equivalence."""
    rows = [("aaaaaa",)] * 60 + [("cde",)] * 50 + [("cdf",)] * 50
    docs = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    seq = train_bpe(docs, "text", n_merges=4, batch_m=1)
    assert seq == [("a", "a"), ("aa", "aa"), ("c", "d"), ("aa", EOW)]
    for m in (2, 4):
        assert train_bpe(docs, "text", n_merges=4, batch_m=m) == seq, m


def test_select_batch_stale_argmax_takes_only_p1():
    """If the argmax's own concat re-creates an alive symbol, existing
    pairs can inflate — nothing after p_1 is provable."""
    from postgresql_topn_spark.operators.bpe import _select_batch

    rows = [("a", "b", 10), ("c", "d", 8)]
    assert _select_batch(
        rows, 2, truncated=False, prior_concats={"ab"}
    ) == [("a", "b")]


def test_encode_matches_sequential_merge_application(spark):
    """bpe_encode's greedy lowest-rank-first loop must equal applying
    the merges IN LEARN ORDER, each replace-all left-to-right (the
    canonical BPE equivalence the bpe_encode_tokens oracle relies on)
    — including overlap-tricky repeated-char runs."""
    rows = [("aaaaa bab abab",)] * 4 + [("low lower aaab",)] * 3
    docs = spark.createDataFrame(
        [(i, t[0]) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    merges = train_bpe(docs, "text", n_merges=6, min_pair_count=1)

    def apply_in_order(word):
        syms = list(word) + [EOW]
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return [
            t for t in (s.removesuffix(EOW) for s in syms) if t
        ]

    enc = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges).collect()
    }
    for i, (t,) in enumerate(rows):
        exp = [tok for w in t.split() for tok in apply_in_order(w)]
        assert enc[i] == exp, (i, t, merges)


def test_train_bpe_reliable_checkpoint_same_merges(spark, tmp_path):
    """checkpoint_dir is a materialization knob, never a semantic one:
    reliable per-round cuts must learn the identical merge list (cuts
    forced every round via persist_every=1)."""
    from postgresql_topn_spark.operators.bpe import train_bpe

    df = spark.createDataFrame(
        [(i, "low lower lowest newer newest wide widest " * 3)
         for i in range(8)],
        "doc_id bigint, text string",
    )
    kw = dict(n_merges=6, persist_every=1)
    local = train_bpe(df, "text", **kw)
    ckdir = tmp_path / "bpe_ck"
    reliable = train_bpe(df, "text", checkpoint_dir=str(ckdir), **kw)
    assert local == reliable and len(local) == 6
    # O(1) footprint: each round's cut supersedes the previous, and the
    # last one is released at return (only the merge LIST leaves) —
    # with persist_every=1 a leak would show ~6 dirs here (review pin:
    # the first supersedes= wiring passed a re-selected frame whose cut
    # path had not propagated, silently releasing nothing)
    import os

    leftover = [d for d in os.listdir(ckdir) if d.startswith("cut-")]
    assert leftover == [], f"leaked word-table cuts: {leftover}"


def test_merge_sql_escapes_quote_and_backslash_symbols(spark):
    """r14: the merge fold is composed as one SQL string
    (_merge_pair_sql); symbols containing the SQL-literal
    metacharacters (single quote, backslash) must survive escaping —
    merges and the rewritten word tables both pinned against the
    hand-computed fixpoint."""
    from postgresql_topn_spark.operators.bpe import train_bpe

    # words: a'b x3 and \c x2 (backslash-c)
    df = spark.createDataFrame(
        [(1, "a'b a'b \\c"), (2, "a'b \\c")],
        "doc_id bigint, text string",
    )
    merges = train_bpe(df, "text", n_merges=4, min_pair_count=1)
    # round-by-round argmax with (count desc, a asc, b asc):
    # pairs of a'b: (a,')x3 (',b)x3 (b,</w>)x3 ; of \c: (\,c)x2 (c,</w>)x2
    # -> ("'", "b") then ("'b","</w>")? counts after m1: (a,'b)=3,
    #    ('b,</w>)=3 -> "'b" < "a" lexicographically -> ("'b","</w>")
    # -> then (a,"'b</w>")=3 -> ("a","'b</w>") ; then count-2 pairs:
    #    (\,c) vs (c,</w>) -> "\" < "c" -> ("\","c")
    assert merges == [
        ("'", "b"),
        ("'b", "</w>"),
        ("a", "'b</w>"),
        ("\\", "c"),
    ]


def test_merges_equal_under_both_string_literal_modes(spark):
    """spark.sql.parser.escapedStringLiterals reads `'it''s'` and
    `'it\\'s'` differently; the merge SQL splices quote and backslash
    in as chr(39)/chr(92), so symbols holding either learn the same
    merges in both parser modes."""
    from postgresql_topn_spark.operators.bpe import train_bpe

    df = spark.createDataFrame(
        [(1, "it's it's a\\b a\\b a\\b '\\' '\\'"), (2, "it's \\\\ \\\\")],
        "doc_id bigint, text string",
    )
    key = "spark.sql.parser.escapedStringLiterals"
    merges = {}
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            merges[mode] = train_bpe(df, "text", n_merges=8, min_pair_count=1)
    finally:
        spark.conf.unset(key)
    assert merges["false"] == merges["true"]
    symbols = {s for pair in merges["false"] for s in pair}
    assert any("'" in s for s in symbols) and any("\\" in s for s in symbols)
