"""Regression pins for the round-3 code-review findings: each test
reproduces the pre-fix failure shape."""

import pytest
from pyspark.sql import functions as F


def test_exact_dedup_quality_with_string_ids(spark):
    """String id columns must work in the quality path exactly as in
    the default path (pre-fix: ANSI cast crash / numeric reordering)."""
    from postgresql_topn_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [("doc10", "A", 1.0), ("doc2", "A", 1.0), ("doc3", "A", 9.0)],
        "doc_id string, k string, q double",
    )
    got = exact_dedup(df, "k", "doc_id", quality="q").collect()[0]
    assert got["keeper_id"] == "doc3"
    # tie on quality -> lexicographic min id, same as the default path
    df2 = spark.createDataFrame(
        [("doc10", "B", 1.0), ("doc2", "B", 1.0)],
        "doc_id string, k string, q double",
    )
    assert (
        exact_dedup(df2, "k", "doc_id", quality="q").collect()[0]["keeper_id"]
        == "doc10"  # string ordering: "doc10" < "doc2"
    )


def test_union_rollups_tolerate_all_null_groups(spark):
    """A group whose sketch column is entirely NULL (outer joins onto
    rollup tables) must merge to NULL, not crash the job."""
    from postgresql_topn_spark.functions.bloom import bloom_union_rollup
    from postgresql_topn_spark.functions.cms import cms_union_rollup
    from postgresql_topn_spark.functions.quantiles import kll_union_rollup

    df = spark.createDataFrame(
        [(1, None), (1, None)],
        "g int, sk array<bigint>",
    )
    for roll in (cms_union_rollup, bloom_union_rollup):
        out = roll(df, ["g"], "sk").collect()
        assert out[0]["sk"] is None
    dfb = spark.createDataFrame([(1, None)], "g int, sk binary")
    assert kll_union_rollup(dfb, ["g"], "sk").collect()[0]["sk"] is None


def test_temperature_mix_null_strata_do_not_deflate_rates(spark):
    """NULL-strata rows are excluded outright: they cannot join a rate
    row, so they must not inflate the normalizer either (pre-fix: a
    50% NULL population halved every real stratum's sample)."""
    from postgresql_topn_spark.operators.sampling import temperature_mix

    rows = [(i, "a") for i in range(100)] + [(i + 100, None) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(
        df, "source", "doc_id", temperature=1.0, target_rows=100, seed=3
    )
    n = out.count()
    assert out.where(F.col("source").isNull()).count() == 0
    assert n >= 85  # ~100 expected from stratum 'a'; pre-fix ~50


def test_auto_lsh_params_extreme_threshold_no_crash():
    from postgresql_topn_spark.operators.similarity import auto_lsh_params

    tables, planes = auto_lsh_params(10**9, -0.9)
    assert tables >= 1 and planes >= 1


def test_chunk_documents_tab_newline_whitespace(spark):
    """Leading tabs/newlines must not create a phantom empty token
    (offsets shifted, inflated n_tok), and tab/newline-only docs must
    yield zero chunks like space-only ones."""
    from postgresql_topn_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, "\thello world"), (2, "\n\t"), (3, "a\n\nb")],
        "doc_id long, text string",
    )
    out = chunk_documents(df, "doc_id", "text", chunk_len=10, overlap=0)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["n_tok"] == 2 and rows[1]["chunk"] == "hello world"
    assert 2 not in rows
    assert rows[3]["chunk"] == "a b"


def test_resize_pixels_bad_decoder_row_yields_null(spark):
    """A decoder returning inconsistent dims must produce a NULL row,
    not kill the scan."""
    from postgresql_topn_spark.operators.multimodal import (
        decode_image_pixels,
        resize_pixels,
    )

    def bad_decoder(buf):
        return (4, 4, 3, [1, 2, 3])  # claims 4x4x3 but gives 3 values

    blobs = spark.createDataFrame(
        [(0, bytearray(b"\x89PNGxxxx")), (1, bytearray(b"P5 2 1 255\n\x00\x07"))],
        "doc_id long, blob binary",
    )
    decoded = decode_image_pixels(blobs, decoder=bad_decoder)
    out = {r["doc_id"]: r["pixels"] for r in resize_pixels(decoded, 1, 1).collect()}
    assert out[0] is None
    assert out[1] == [7]  # the valid NetPBM row still resizes


def test_compact_parquet_partitioned_no_file_explosion(spark, tmp_path):
    from postgresql_topn_spark.sources.maintenance import compact_parquet
    import glob
    import os

    path = str(tmp_path / "pt")
    spark.range(10_000).select(
        (F.col("id") % 5).alias("p"), F.col("id")
    ).repartition(16).write.partitionBy("p").parquet(path)
    before = len(glob.glob(os.path.join(path, "p=*", "*.parquet")))
    assert before >= 40
    compact_parquet(spark, path, target_file_mb=64, partition_by=("p",))
    after = len(glob.glob(os.path.join(path, "p=*", "*.parquet")))
    assert after <= 5  # ~one file per partition value
    assert spark.read.parquet(path).count() == 10_000


def test_weighted_agg_ansi_safe_and_rounds_fractional(spark):
    """Out-of-range weights saturate (no ANSI crash); fractional
    weights round half-up per row instead of truncating to zero."""
    from postgresql_topn_spark.conf import INT64_MAX
    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

    df = spark.createDataFrame(
        [(1, "big", 1e19), (1, "frac", 0.6), (1, "frac", 0.6), (1, "neg", -2.0)],
        "g int, item string, w double",
    )
    sk = topn_weighted_agg(df, ["g"], "item", "w", counters=100).collect()[0][
        "topn"
    ]
    got = dict(sk)
    assert got["big"] == INT64_MAX
    assert got["frac"] == 2  # round(0.6)=1 per row, exact int sum
    assert "neg" not in got  # non-positive totals dropped (documented)


def test_union_agg_null_map_value_is_zero_not_saturation(spark):
    from postgresql_topn_spark.functions.aggregates import topn_union_agg

    df = spark.createDataFrame([(1,)], "g int").select(
        "g",
        F.create_map(
            F.lit("a"), F.lit(None).cast("bigint"), F.lit("b"), F.lit(2).cast("bigint")
        ).alias("sk"),
    )
    got = dict(
        topn_union_agg(df, ["g"], "sk", counters=100).collect()[0]["topn"]
    )
    assert got == {"a": 0, "b": 2}  # NULL value = 0, like scalar merge


def test_union_agg_keeps_zero_entries_like_scalar_union(spark):
    from postgresql_topn_spark.functions.aggregates import topn_union_agg
    from postgresql_topn_spark.functions.sketch import sketch_from_json

    df = spark.createDataFrame(
        [(1, '{"a": 0, "b": 2}')], "g int, j string"
    ).select("g", sketch_from_json("j").alias("sk"))
    got = dict(
        topn_union_agg(df, ["g"], "sk", counters=100).collect()[0]["topn"]
    )
    assert got == {"a": 0, "b": 2}
    # but the counter budget still prunes: zero entries rank below
    # positives and beyond-budget entries die
    df2 = spark.createDataFrame(
        [(1, '{"a": 0, "b": 2, "c": 1}')], "g int, j string"
    ).select("g", sketch_from_json("j").alias("sk"))
    got2 = dict(
        topn_union_agg(df2, ["g"], "sk", counters=2).collect()[0]["topn"]
    )
    assert got2 == {"b": 2, "c": 1}


def test_sketch_from_json_strict_rejects_overlong_key_any_value(spark):
    from postgresql_topn_spark.functions.sketch import sketch_from_json

    long_key = "k" * 300
    df = spark.createDataFrame(
        [(f'{{"{long_key}": "abc"}}',)], "j string"
    )
    with pytest.raises(Exception, match="allowed topn key size"):
        df.select(sketch_from_json("j").alias("sk")).collect()
    # non-strict: skipped silently, numeric filter still applies
    out = df.select(
        sketch_from_json("j", strict_keys=False).alias("sk")
    ).collect()[0]["sk"]
    assert dict(out) == {}


def test_sketch_entries_string_path_handles_odd_names(spark):
    from postgresql_topn_spark.functions.sketch import topn_entries

    df = spark.createDataFrame([({"a": 3},)], "`we``ird` map<string,bigint>")
    got = df.select(
        topn_entries("we`ird", 5, counters=100).alias("e")
    ).collect()[0]["e"]
    assert [(r["item"], r["frequency"]) for r in got] == [("a", 3)]


def test_tier2_null_numeric_group_keys_share_one_state(spark):
    """NULL bigint group keys reach pandas as NaN; they must aggregate
    into ONE group (NaN != NaN previously fragmented them per-row)."""
    from postgresql_topn_spark.operators.sketch_state import topn_add_agg_sketch

    df = spark.createDataFrame(
        [(None, "a")] * 50 + [(7, "b")] * 3,
        "g bigint, item string",
    )
    rows = topn_add_agg_sketch(df, ["g"], "item", counters=10).collect()
    got = {r["g"]: dict(r["topn"]) for r in rows}
    assert len(rows) == 2
    assert got[None] == {"a": 50}
    assert got[7] == {"b": 3}


def test_tier2_global_aggregate(spark):
    from postgresql_topn_spark.operators.sketch_state import (
        topn_add_agg_sketch,
        topn_union_agg_sketch,
    )

    df = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 2, "item string"
    )
    sk = topn_add_agg_sketch(df, [], "item", counters=10)
    assert dict(sk.collect()[0]["topn"]) == {"a": 4, "b": 2}
    merged = topn_union_agg_sketch(sk, [], "topn", counters=10)
    assert dict(merged.collect()[0]["topn"]) == {"a": 4, "b": 2}


def test_sql_udf_nonstring_item_and_negative_n(spark):
    from postgresql_topn_spark.functions.sql_api import register_sql_functions

    register_sql_functions(spark, counters=100)
    row = spark.sql(
        "SELECT topn_add(CAST(NULL AS MAP<STRING,BIGINT>), 42L) AS sk"
    ).collect()[0]["sk"]
    assert dict(row) == {"42": 1}
    neg = spark.sql(
        "SELECT topn_entries(map('a', 3L, 'b', 2L), -1) AS e"
    ).collect()[0]["e"]
    assert neg == []


def test_truncation_exact_and_identical_across_surfaces(spark):
    """Column-API truncation now keeps the LONGEST fitting prefix,
    byte-identical to Tier-2's Python truncate_key_bytes."""
    from postgresql_topn_spark.functions.sketch import normalize_item
    from postgresql_topn_spark.operators.sketch_state import truncate_key_bytes

    cases = ["é" * 300, "a" + "✓" * 200, "𐍈" * 100, "x" * 300]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [
        r["t"] for r in df.select(normalize_item("s").alias("t")).collect()
    ]
    for c, g in zip(cases, got):
        want = truncate_key_bytes(c)
        assert g == want, (c[:8], len(g), len(want))
        assert len(g.encode()) <= 255
        # longest fitting prefix: adding one more char must overflow
        nxt = c[: len(g) + 1]
        assert len(nxt.encode()) > 255 or nxt == c


def test_sql_union_keeps_zero_entries(spark):
    from postgresql_topn_spark.functions.sql_api import topn_union_agg_sql

    spark.createDataFrame(
        [(1, {"a": 0, "b": 2})], "g int, sk map<string,bigint>"
    ).createOrReplaceTempView("zsk")
    sql = topn_union_agg_sql("zsk", ["g"], "sk", counters=100, spark=spark)
    got = dict(spark.sql(sql).collect()[0]["topn"])
    assert got == {"a": 0, "b": 2}


def test_tokens_empty_and_tab_prefixed(spark):
    """tokens() yields [] for blank text and no phantom '' for
    tab/newline-prefixed text; counts follow."""
    from postgresql_topn_spark.operators.text import tokens, ws_token_count

    df = spark.createDataFrame(
        [(1, ""), (2, "  "), (3, "\tx y"), (4, "a b")], "i int, t string"
    )
    got = {
        r["i"]: (r["tk"], r["n"])
        for r in df.select(
            "i", tokens("t").alias("tk"), ws_token_count("t").alias("n")
        ).collect()
    }
    assert got[1] == ([], 0)
    assert got[2] == ([], 0)
    assert got[3] == (["x", "y"], 2)
    assert got[4] == (["a", "b"], 2)


def test_quality_score_empty_text_null_not_crash(spark):
    from postgresql_topn_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [(1, ""), (2, "the cat and dog"), (3, " \t ")], "i int, t string"
    )
    got = {r["i"]: r["q"] for r in df.select("i", quality_score("t").alias("q")).collect()}
    assert got[1] is None
    assert got[3] is None  # whitespace-only: no tokens to score
    assert got[2] is not None


def test_scrub_pii_metachar_replacement(spark):
    from postgresql_topn_spark.operators.text import scrub_pii

    df = spark.createDataFrame([("mail a@b.co now",)], "t string")
    got = df.select(scrub_pii("t", "<$X\\>").alias("s")).collect()[0]["s"]
    assert got == "mail <$X\\> now"


def test_pushed_filters_survives_in_lists(spark, sf_dir):
    from postgresql_topn_spark.plans.audit import pushed_filters
    from postgresql_topn_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    q = li.where(
        F.col("l_returnflag").isin("A", "N") & F.col("l_shipdate").isNotNull()
    ).select("l_partkey")
    pf = pushed_filters(q)
    assert "l_returnflag" in pf and "l_shipdate" in pf


def test_python_stages_counts_stateful_lane(spark):
    """applyInPandasWithState plans as FlatMapGroupsInPandasWithState —
    the audit must count it as a Python stage (and not double-count)."""
    from postgresql_topn_spark.plans.audit import plan_str

    # plan_str on a streaming DF needs execution; assert on the node
    # list logic directly instead
    from postgresql_topn_spark.plans import audit

    fake_plan = "FlatMapGroupsInPandasWithState ... MapInPandas ..."
    n = sum(
        fake_plan.count(x)
        for x in (
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "FlatMapCoGroupsInPandas",
            "MapInArrow",
            "BatchEvalPython",
        )
    )
    assert n == 2  # one stateful grouped-map + one mapInPandas


# ---------------------------------------------------------------------------
# Round-5 adversarial review findings (applied)
# ---------------------------------------------------------------------------


def test_weighted_udaf_huge_finite_weight_saturates_not_crashes(spark):
    """Review r5 #1: Decimal(repr(1e30)).quantize(1) overflows the
    default 28-digit context and killed the task; finite magnitudes
    beyond int64 must saturate like the Column lane's double->long
    cast."""
    from pyspark.sql import functions as F

    from postgresql_topn_spark.functions.aggregates import (
        topn_weighted_agg,
    )
    from postgresql_topn_spark.functions.sql_api import (
        register_sql_functions,
    )

    df = spark.createDataFrame(
        [("big", 1e30), ("neg", -1e30), ("ok", 2.0)],
        "item string, w double",
    )
    col_lane = dict(
        topn_weighted_agg(df, [], "item", "w", counters=100)
        .collect()[0]["topn"]
    )
    register_sql_functions(spark, counters=100)
    try:
        df.createOrReplaceTempView("huge_w_in")
        udaf = dict(
            spark.sql(
                "SELECT topn_weighted_agg(item, w) AS sk FROM huge_w_in"
            ).collect()[0]["sk"]
        )
    finally:
        register_sql_functions(spark, counters=1000)
    assert udaf == col_lane
    assert udaf["big"] == (1 << 63) - 1  # saturated, not crashed
    assert "neg" not in udaf  # negative total dropped


def test_asof_join_map_payload_works_with_engine_order_ties(spark):
    """Review r5 #3: a map-typed payload column must not break the
    window sort — tie determinism degrades, the join still runs."""
    from postgresql_topn_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [("k", 1, {"a": "1"}), ("k", 5, {"b": "2"})],
        "k string, ts long, attrs map<string,string>",
    )
    left = spark.createDataFrame([("k", 3), ("k", 9)], "k string, ts long")
    got = {r["ts"]: r["attrs"] for r in asof_join(left, right, "k").collect()}
    assert got == {3: {"a": "1"}, 9: {"b": "2"}}


def test_levenshtein_default_block_ignores_leading_whitespace(spark):
    """Review r5 #5: leading whitespace must not dump documents into a
    degenerate '' block — the default key is the first REAL token."""
    from postgresql_topn_spark.operators.dedup import levenshtein_pairs

    rows = [(1, "colour of x"), (2, "  colour of y")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = levenshtein_pairs(df, "doc_id", "text", max_dist=3).collect()
    # same first word -> same block; distance = 2 leading spaces + x/y
    assert [(r["doc_a"], r["doc_b"], r["dist"]) for r in got] == [(1, 2, 3)]


def test_bpe_encode_gate_lanes_agree_on_null_and_empty_docs(spark):
    """Review r5 #2: the encode-gate oracle silently dropped NULL /
    empty / whitespace-only documents that the Spark lane emitted; both
    lanes must now produce (doc_id, 0, '') rows for them."""
    import duckdb
    from pyspark.sql import functions as F

    from postgresql_topn_spark.operators.bpe import bpe_encode, train_bpe
    from postgresql_topn_spark.suite import _bpe_encode_oracle_sql

    rows = [
        (0, "aa bb aa bb"),
        (1, ""),
        (2, None),
        (3, "   "),
        (4, "aa aa bb cc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, "text", n_merges=2)
    enc = bpe_encode(docs, merges)
    got = {
        r["doc_id"]: (r["n_bpe"], r["bpe_text"])
        for r in enc.select(
            "doc_id",
            F.coalesce(F.size("bpe_tokens"), F.lit(0)).alias("n_bpe"),
            F.concat_ws(" ", F.coalesce("bpe_tokens", F.array())).alias(
                "bpe_text"
            ),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(0, 'aa bb aa bb'), (1, ''), (2, CAST(NULL AS VARCHAR)), "
        "(3, '   '), (4, 'aa aa bb cc')) t(doc_id, text)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(_bpe_encode_oracle_sql(2)).fetchall()
    }
    assert got == want
    assert got[1] == (0, "") and got[2] == (0, "") and got[3] == (0, "")


# ---------------------------------------------------------------------------
# Round-5 adversarial review, second pass (applied)
# ---------------------------------------------------------------------------


def test_having_alias_shadowing_source_column_declines(spark):
    """Review r5b #1 (confirmed wrong-results): Spark resolves HAVING
    identifiers against SOURCE columns before select aliases, so an
    alias shadowing a different source column must DECLINE the rewrite
    — and the UDAF fallback must then match plain Spark."""
    from postgresql_topn_spark.functions.sql_api import (
        rewrite_topn_sql,
        topn_sql,
    )

    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a"), (8, 3, "b")],
        "d int, d2 int, i string",
    ).createOrReplaceTempView("shadow_in")
    sql = (
        "SELECT d2 AS d, d AS e, topn_add_agg(i) AS sk FROM shadow_in "
        "GROUP BY 1, 2 HAVING d > 5"
    )
    assert rewrite_topn_sql(sql, counters=10, spark=spark) is None
    got = {
        (r["d"], r["e"]): dict(r["sk"]) for r in topn_sql(spark, sql).collect()
    }
    want = {
        (r["d"], r["e"]): dict(r["sk"])
        for r in spark.sql(sql).collect()
    }
    assert got == want  # HAVING d -> source d: only group (3, 8)
    assert got == {(3, 8): {"b": 1}}
    # ... while an UNSHADOWED alias over a resolvable view still
    # rewrites (yr is not a column of shadow_in)
    ok = (
        "SELECT d + 0 AS yr, topn_add_agg(i) AS sk FROM shadow_in "
        "GROUP BY d + 0 HAVING yr > 5"
    )
    assert rewrite_topn_sql(ok, counters=10, spark=spark) is not None
    # without a spark session (no schema proof) the alias declines
    assert rewrite_topn_sql(ok, counters=10) is None


def test_asof_null_times_never_match(spark):
    """Review r5b #2: NULL left times must yield NULL payload (not the
    earliest/latest right row), and NULL right times must be ignored —
    in every direction, matching DuckDB/pandas NULL-inequality
    semantics."""
    from postgresql_topn_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [("k", 10, 1.0), ("k", None, 99.0), ("k", 30, 3.0)],
        "k string, ts long, px double",
    )
    left = spark.createDataFrame(
        [("k", 20, 1), ("k", None, 2)], "k string, ts long, lid int"
    )
    for d, want20 in (("backward", 1.0), ("forward", 3.0), ("nearest", 1.0)):
        got = {
            r["lid"]: r["px"]
            for r in asof_join(
                left, right, "k", payload=["px"], direction=d
            ).collect()
        }
        assert got == {1: want20, 2: None}, d


def test_asof_nearest_exact_on_large_longs(spark):
    """Review r5b #3: nearest's distance math must stay exact for long
    axes beyond double precision (ns-epoch scale). At t = 2^60 a double
    cast rounds both distances to 0 and the <= tie-break would pick the
    FARTHER backward row."""
    from postgresql_topn_spark.operators.joins import asof_join

    t = 1 << 60
    right = spark.createDataFrame(
        [("k", t - 3, "back"), ("k", t + 2, "fwd")],
        "k string, ts long, tag string",
    )
    left = spark.createDataFrame([("k", t)], "k string, ts long")
    row = asof_join(left, right, "k", direction="nearest").collect()[0]
    assert row["tag"] == "fwd"  # dist 2 < 3: exact long arithmetic


def test_interval_join_reserved_names_raise(spark):
    """Review r5b #4: a pre-existing __pb/__sb/__eb column must raise
    instead of being silently clobbered in the output."""
    from postgresql_topn_spark.operators.joins import interval_join

    pts = spark.createDataFrame([(1, 1.0, 9)], "pid bigint, ts double, __pb int")
    ivs = spark.createDataFrame(
        [("a", 0.0, 2.0)], "tag string, start double, end double"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserved"):
        interval_join(pts, ivs, point_time="ts", bucket_width=1.0)


# ---------------------------------------------------------------------------
# Round-5 continuation review pins: text/search/bpe/jsonl/maintenance
# ---------------------------------------------------------------------------


def test_repetition_signals_empty_doc_no_crash(spark):
    """Empty/whitespace-only docs have 0 tokens: the fractions come
    back NULL (try_divide), never a DIVIDE_BY_ZERO scan kill."""
    from postgresql_topn_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, "   "), (4, None)],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r["r"]
        for r in df.select(
            "doc_id", repetition_signals("text").alias("r")
        ).collect()
    }
    assert rows[1]["n_tokens"] == 3
    assert abs(rows[1]["dup_token_frac"] - (1 - 2 / 3)) < 1e-9
    assert rows[2]["n_tokens"] == 0 and rows[2]["dup_token_frac"] is None
    assert rows[3]["top_token_frac"] is None


def test_quality_score_null_text_is_null(spark):
    """NULL text used to score 0.8 (the when-guard evaluated to NULL
    and F.least's NULL-skipping gave full credit) — a missing text
    field must not sail through quality pre-filters."""
    from postgresql_topn_spark.operators.text import quality_score

    df = spark.createDataFrame(
        [(1, None), (2, "the cat sat on the mat for a while")],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", quality_score("text").alias("q")).collect()
    }
    assert rows[1] is None and rows[2] is not None


def test_bm25_duplicate_query_terms_deduped(spark):
    """A repeated query term used to double its df (understating idf)
    and emit duplicate rank rows."""
    from postgresql_topn_spark.operators.search import bm25_topk

    df = spark.createDataFrame(
        [(1, "cat sat"), (2, "cat cat nap"), (3, "dog park")],
        "doc_id bigint, text string",
    )
    once = sorted(
        map(tuple, bm25_topk(df, "doc_id", "text", ["cat"], k=5).collect())
    )
    twice = sorted(
        map(
            tuple,
            bm25_topk(df, "doc_id", "text", ["cat", "cat"], k=5).collect(),
        )
    )
    assert once == twice and len(once) == 2


def test_bpe_encode_java_whitespace_parity(spark):
    """bpe_encode must tokenize with the TRAINER's Java \\s+ (ASCII)
    class: a word containing U+00A0 is one word on both sides."""
    from postgresql_topn_spark.operators.bpe import bpe_encode, train_bpe

    word = "ab ab"
    df = spark.createDataFrame([(word + " ",)] * 8, "text string")
    merges = train_bpe(df, "text", n_merges=3, min_pair_count=2)
    enc = bpe_encode(
        df.select(F.monotonically_increasing_id().alias("id"), "text"),
        merges,
        text_col="text",
        id_col="id",
    )
    toks = enc.collect()[0]["bpe_tokens"]
    # the NBSP stays inside the single trained word: re-joining the
    # emitted tokens reproduces it (a Unicode split would lose it)
    assert "".join(toks) == word


def test_jsonl_reexport_fewer_shards_under_dynamic_mode(spark, tmp_path):
    """Re-exporting with fewer shards under session-level dynamic
    partition overwrite used to leave the old export's extra shard
    dirs in place — with the manifest ATTESTING the stale corpus."""
    from postgresql_topn_spark.sources.jsonl import (
        read_jsonl_corpus,
        write_jsonl_corpus,
    )

    df = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    base = str(tmp_path / "corpus")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_jsonl_corpus(df, base, n_shards=8)
        m2 = write_jsonl_corpus(df, base, n_shards=2)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert m2["n_shards"] == 2 and m2["total_rows"] == 40
    back = read_jsonl_corpus(
        spark, base, schema="doc_id bigint, text string", verify_manifest=True
    )
    assert back.count() == 40  # no stale shard rows


def test_staged_rewrite_failure_cleanup_and_stale_backup(spark, tmp_path):
    """A failed write cleans its staging dir; a stale backup from a
    crashed swap makes the next rewrite refuse loudly."""
    import os

    import pytest

    from postgresql_topn_spark.sources.maintenance import _staged_rewrite

    live = tmp_path / "table"
    live.mkdir()
    (live / "part-0").write_text("v1")

    def bad_write(staging):
        os.makedirs(staging, exist_ok=True)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        _staged_rewrite(bad_write, str(live), spark)
    assert (live / "part-0").read_text() == "v1"
    assert not [p for p in tmp_path.iterdir() if "__staging" in p.name]
    # stale backup refusal
    backup = tmp_path / "table__old"
    backup.mkdir()

    def good_write(staging):
        os.makedirs(staging, exist_ok=True)

    with pytest.raises(RuntimeError, match="stale backup"):
        _staged_rewrite(good_write, str(live), spark)
    assert (live / "part-0").read_text() == "v1"
    assert not [p for p in tmp_path.iterdir() if "__staging" in p.name]
