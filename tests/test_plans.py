"""Physical-plan audits: pin the plan shape each operator was designed
for, so a regression that would only hurt at cluster scale (an extra
shuffle, a lost pushdown, a Python stage in a hot path) fails fast at
test scale. See postgresql_topn_spark/plans/audit.py."""

import pyspark.sql.functions as F
import pytest

from postgresql_topn_spark.functions.aggregates import topn_add_agg
from postgresql_topn_spark.plans.audit import (
    broadcast_exchanges,
    has_partial_aggregate,
    hash_shuffles,
    plan_str,
    pushed_filters,
    python_stages,
    read_schema,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from postgresql_topn_spark.sources.tables import load_table

    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    from postgresql_topn_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings")


def test_add_agg_two_shuffles_with_partial_combine(spark):
    """topn_add_agg = exactly 2 key shuffles: one for the (group, item)
    count, one for the per-group rank; the final pack groupBy must reuse
    the window's hash partitioning (a 3rd exchange = regression). The
    count must partial-aggregate map-side (heavy-hitter inputs collapse
    before the wire — the reference's parallel-agg combine)."""
    from postgresql_topn_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    sk = topn_add_agg(li, ["l_returnflag"], "l_linestatus", counters=100)
    assert hash_shuffles(sk) == 2
    assert has_partial_aggregate(sk)
    assert python_stages(sk) == 0


def _exchange_key_types(df):
    """Key data types of every hash exchange in the physical plan (the
    adaptive plan's initial form, exchanges inserted)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.initialPlan()
    out, stack = [], [root]
    while stack:
        node = stack.pop()
        part = node.outputPartitioning() if node.nodeName() == "Exchange" else None
        if part is not None and part.getClass().getSimpleName() == "HashPartitioning":
            keys = part.expressions()
            out.append([keys.apply(i).dataType().simpleString() for i in range(keys.size())])
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_add_agg_integral_item_shuffles_raw_key(spark):
    """An integral item groups on its raw value: the (group, item) count
    exchange hashes the int column, and the string cast runs once per
    distinct group after the count, not per row before the shuffle."""
    from postgresql_topn_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    sk = topn_add_agg(li, ["l_returnflag"], "l_linenumber", counters=100)
    count_keys = [k for k in _exchange_key_types(sk) if len(k) == 2]
    assert count_keys == [["string", li.schema["l_linenumber"].dataType.simpleString()]]
    assert count_keys[0][1] in ("int", "bigint")
    assert "octet_length" not in plan_str(sk)
    assert hash_shuffles(sk) == 2


def test_cosine_topk_corpus_never_shuffles(emb):
    """Brute-force ANN: corpus streams through one Python stage; the
    only key shuffle is the final per-query rank over ~k rows/query."""
    from postgresql_topn_spark.operators.similarity import cosine_topk

    out = cosine_topk(emb, emb.where(F.col("vec_id") % 100 == 0), k=5)
    assert hash_shuffles(out) == 1
    assert python_stages(out) == 1


def test_exact_pairs_zero_shuffles(emb):
    """Exact all-pairs cosine: one streaming Python stage, NO shuffle at
    all — sub-threshold pairs die inside numpy, survivors go straight to
    the result."""
    from postgresql_topn_spark.operators.similarity import cosine_pairs_exact

    out = cosine_pairs_exact(emb, threshold=0.4)
    assert hash_shuffles(out) == 0
    assert python_stages(out) == 1


def test_ivf_topk_corpus_never_shuffles(emb):
    from postgresql_topn_spark.operators.similarity import ivf_topk

    out = ivf_topk(emb, emb.where(F.col("vec_id") % 100 == 0), k=5, n_lists=4, n_probe=2)
    assert hash_shuffles(out) == 1
    assert python_stages(out) == 1


def test_ivfpq_topk_corpus_never_shuffles(emb):
    """IVF-PQ: same shape contract as IVF — one streaming Python stage
    (assign -> encode -> ADC -> partial top-k), the only key shuffle is
    the final per-query rank over <= k rows/query/batch."""
    from postgresql_topn_spark.operators.similarity import ivfpq_topk

    out = ivfpq_topk(
        emb,
        emb.where(F.col("vec_id") % 100 == 0),
        k=5,
        n_lists=8,
        n_probe=2,
        centroid_mode="seeded",
    )
    assert hash_shuffles(out) == 1
    assert python_stages(out) == 1


def test_simhash_is_map_side(docs):
    """SimHash table: one scan, one Python stage, zero key shuffles
    (the only exchange allowed is the round-robin spread of single-file
    local scans, which disappears on a real cluster)."""
    from postgresql_topn_spark.operators.dedup import simhash_table

    sh = simhash_table(docs, "doc_id", "text")
    assert hash_shuffles(sh) == 0
    assert python_stages(sh) == 1


def test_filter_and_pruning_reach_parquet_scan(spark):
    """Predicate pushdown + column pruning must reach the scan: a
    2-column projection that reads all 16 lineitem columns is wrong at
    any scale."""
    from postgresql_topn_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    q = li.where(F.col("l_shipdate") >= "1995-01-01").select("l_partkey", "l_shipdate")
    assert "l_shipdate" in pushed_filters(q)
    rs = read_schema(q)
    assert "l_partkey" in rs and "l_extendedprice" not in rs


def test_small_dim_join_broadcasts(spark):
    """A fact-dim equi-join under the broadcast threshold must plan as a
    broadcast join, not a shuffle of the fact side."""
    from postgresql_topn_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    part = load_table(spark, SF, "part")
    j = li.join(part, li["l_partkey"] == part["p_partkey"]).select("l_partkey", "p_name")
    assert broadcast_exchanges(j) >= 1


def test_no_suite_query_uses_row_at_a_time_python(spark):
    """Sweep EVERY declared suite query: none may plan a BatchEvalPython
    or BatchEvalPythonUDTF node (row-at-a-time Python UDF or UDTF — the
    10-100x-slower lane; the SQL-parity queries' lateral ``topn()`` is a
    SQL table function). Python is allowed only as Arrow-batched stages
    (MapInPandas / ArrowEvalPython / grouped-map), and only a bounded
    number of them (the dedup/ANN operators budget 1-2 per query)."""
    from postgresql_topn_spark.plans.audit import plan_str
    from postgresql_topn_spark.suite import QUERIES

    for name, fn in QUERIES.items():
        p = plan_str(fn(spark, SF), "simple")
        assert "BatchEvalPython" not in p, f"{name} plans a row-at-a-time UDF"
        n_arrow = sum(
            p.count(n)
            for n in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
        )
        # topn_tier2_modes is the round-11 two-LANE merge: each Tier-2
        # lane is by design one mapInPandas partial + one applyInPandas
        # merge (the reference's worker-partial/leader-combine shape),
        # so the merged gate budgets 2 x 2.
        cap = 4 if name == "topn_tier2_modes" else 3
        assert n_arrow <= cap, f"{name} plans {n_arrow} Python stages"


def test_minhash_merge_partial_combines(spark):
    """minhash_union_agg's (group, pos) min must partial-aggregate
    map-side (per-group state O(num_hashes) at any group size) and run
    zero Python stages."""
    from postgresql_topn_spark.operators.dedup import (
        minhash_signatures_md5,
        minhash_union_agg,
    )
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    sigs = minhash_signatures_md5(docs, "doc_id", "text").join(
        docs.select(F.col("doc_id").alias("__id"), "source"), "__id"
    )
    merged = minhash_union_agg(sigs, ["source"], "__sig")
    assert has_partial_aggregate(merged)
    assert python_stages(merged) == 0


def test_decontaminate_partial_combines(spark):
    """decontaminate's pair count must partial-aggregate before the
    exchange, and the whole bipartite index join stays JVM-side."""
    from postgresql_topn_spark.operators.dedup import decontaminate
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = decontaminate(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
        k=5,
    )
    assert has_partial_aggregate(out)
    assert python_stages(out) == 0


def test_union_agg_partial_combines(spark):
    """topn_union_agg's explode->sum must also partial-aggregate before
    its exchange (merging many sketches map-side)."""
    from postgresql_topn_spark.functions.aggregates import topn_union_agg
    from postgresql_topn_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    daily = topn_add_agg(
        ev, [F.to_date("ts").alias("day")], "event_type", counters=100
    )
    merged = topn_union_agg(
        daily.select(F.lit(1).alias("g"), "topn"), ["g"], "topn", counters=100
    )
    assert has_partial_aggregate(merged)
    assert python_stages(merged) == 0


def test_sql_twophase_no_python_with_partial_combine(spark):
    """The pure-SQL two-phase aggregate surface (the 'generated_sql'
    lane of the merged topn_sql_agg gate): build + union + extraction
    entirely JVM-side — zero Python stages — with map-side partial
    combine on the (group, item) count, matching the Column API plan
    (the reference's parallel aggregate, topn.c:509-625)."""
    from postgresql_topn_spark.functions.sql_api import (
        topn_add_agg_sql,
        topn_union_agg_sql,
    )
    from postgresql_topn_spark.sources.tables import load_table

    load_table(spark, SF, "events").createOrReplaceTempView(
        "__tp_plan_events"
    )
    monthly = topn_add_agg_sql(
        "__tp_plan_events",
        [("yr", "cast(year(ts) as int)"), ("mon", "month(ts)")],
        "event_type",
        counters=100,
        salt_buckets=4,
    )
    yearly = topn_union_agg_sql("monthly", ["yr"], "topn", counters=100)
    df = spark.sql(
        f"""
        WITH monthly AS ({monthly}),
             yearly AS ({yearly})
        SELECT yr, item, frequency FROM (
          SELECT yr, t.item, t.frequency,
                 row_number() OVER (PARTITION BY yr
                                    ORDER BY t.frequency DESC, t.item ASC) AS rn
          FROM yearly LATERAL VIEW explode(topn) t AS item, frequency
        ) WHERE rn <= 3
        """
    )
    assert python_stages(df) == 0
    assert has_partial_aggregate(df)


def test_sql_gates_extract_in_the_jvm(spark):
    """The SQL-front-door gates' lateral ``topn()`` plans as a Generate
    over the sketch rows. The only Python left is the GROUPED_AGG UDAFs
    SQL cannot define: topn_sql_window's aggregate and OVER frame, and
    the deliberate fallback lane of topn_sql_having."""
    import re

    from postgresql_topn_spark.suite import QUERIES

    found = {}
    for name in ("topn_sql_window", "topn_sql_agg", "topn_sql_weighted", "topn_sql_having"):
        p = plan_str(QUERIES[name](spark, SF), "simple")
        assert "Generate inline" in p, name
        found[name] = set(re.findall(r"\w*(?:Python|Pandas)\w*", p))
    assert found == {
        "topn_sql_window": {"ArrowAggregatePython", "ArrowWindowPython"},
        "topn_sql_agg": set(),
        "topn_sql_weighted": set(),
        "topn_sql_having": {"ArrowAggregatePython"},
    }


def test_bm25_zero_python_three_shuffles(spark):
    """bm25_topk: literal query terms score as array expressions in the
    scan stage — no token explode, no Python, only three key exchanges
    (corpus stats singleton, per-term df agg, final per-term rank) and
    both stat joins broadcast. Spark additionally inserts a Partial
    WindowGroupLimit before the rank exchange, so each map task forwards
    at most k rows per term — the reducer never sees a hot term's full
    posting list."""
    from postgresql_topn_spark.operators.search import bm25_topk
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = bm25_topk(docs, "doc_id", "text", ["spark", "vector"], k=5)
    assert python_stages(out) == 0
    assert hash_shuffles(out) == 3
    assert broadcast_exchanges(out) >= 2
    p = plan_str(out, "simple")
    assert "WindowGroupLimit" in p and "Partial" in p


def test_tfidf_zero_python_partial_group_limit(spark):
    """tfidf_top_terms: all-JVM (no Python stage) and the per-doc top-k
    must carry the Partial WindowGroupLimit (map-side k-row cap per doc
    ahead of the rank exchange)."""
    from postgresql_topn_spark.operators.search import tfidf_top_terms
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", top=3)
    assert python_stages(out) == 0
    p = plan_str(out, "simple")
    assert "WindowGroupLimit" in p


def test_tfidf_cosine_norm_rides_posting_subtree(spark):
    """tfidf_cosine_pairs (r13): the per-doc norm is a Window over the
    weighted-term frame and travels THROUGH the posting self-join —
    there is no separate norm aggregate joined back on doc_a/doc_b (the
    old form's two extra joins, whose norm branch re-planned the whole
    tf subtree: static plan 32 parquet scans -> 16). Every equi-join in
    the plan keys on __term; the only other joins are the broadcast
    n_docs crossJoins."""
    from postgresql_topn_spark.operators.dedup import tfidf_cosine_pairs
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = tfidf_cosine_pairs(docs, "doc_id", "text", shingle_k=3, min_sim=0.5)
    p = plan_str(out, "simple")
    assert "Window" in p
    join_lines = [
        line
        for line in p.splitlines()
        if "Join" in line and "BroadcastNestedLoopJoin" not in line
    ]
    assert join_lines, "expected the posting self-join"
    assert all("__term" in line for line in join_lines), join_lines


def test_hll_rollup_partial_combines(spark):
    """hll_add_agg: one key exchange with a map-side partial
    hll_sketch_agg (raw rows collapse to fixed-size sketch state before
    the wire); the rollup merge likewise partial-combines binary
    sketches. Zero Python stages — DataSketches runs in the JVM."""
    from postgresql_topn_spark.functions.distinct import (
        hll_add_agg,
        hll_union_rollup,
    )
    from postgresql_topn_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    fine = hll_add_agg(ev, ["event_type"], "user_id")
    assert hash_shuffles(fine) == 1
    assert has_partial_aggregate(fine)
    assert python_stages(fine) == 0
    merged = hll_union_rollup(fine, [], "hll")
    assert has_partial_aggregate(merged)
    assert python_stages(merged) == 0


def test_kmv_build_bounded_rank_no_python(spark):
    """kmv_add_agg: distinct-combine + the two-level salted bottom-k =
    exactly 3 key exchanges, partial aggregation on the distinct, zero
    Python. The rollup merge adds exactly one more exchange (sketch
    rows only) and itself partial-combines."""
    from postgresql_topn_spark.functions.kmv import kmv_add_agg, kmv_union_rollup
    from postgresql_topn_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    sk = kmv_add_agg(ev, ["event_type"], F.col("user_id").cast("string"), k=32)
    assert hash_shuffles(sk) == 3
    assert has_partial_aggregate(sk)
    assert python_stages(sk) == 0
    rolled = kmv_union_rollup(sk, [], "kmv", k=32)
    assert hash_shuffles(rolled) == 4
    assert python_stages(rolled) == 0


def test_cms_and_bloom_builds_two_shuffles_no_python(spark):
    """cms_add_agg / bloom_add_agg: one (group, slot|word) exchange with
    map-side partial combine (key space bounded by the sketch shape, so
    hot groups collapse before the wire) + one per-group pack exchange.
    Zero Python anywhere; rollup merges add exactly one sketch-row
    exchange each."""
    from postgresql_topn_spark.functions.bloom import bloom_add_agg, bloom_union_rollup
    from postgresql_topn_spark.functions.cms import cms_add_agg, cms_union_rollup
    from postgresql_topn_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    docs = load_table(spark, SF, "documents")
    c = cms_add_agg(ev, ["event_type"], "event_type")
    assert hash_shuffles(c) == 2
    assert has_partial_aggregate(c)
    assert python_stages(c) == 0
    assert hash_shuffles(cms_union_rollup(c, [], "cms")) == 3
    b = bloom_add_agg(docs, ["source"], F.md5("text"))
    assert hash_shuffles(b) == 2
    assert has_partial_aggregate(b)
    assert python_stages(b) == 0
    assert hash_shuffles(bloom_union_rollup(b, [], "bloom")) == 3


def test_unigram_lm_all_jvm_partial_combines(spark):
    """unigram_logprob_scores: model build + scoring joins + per-doc agg
    all JVM-side with map-side partial combine on the token counts; the
    corpus total rides a 1-row broadcast, never a global window."""
    from postgresql_topn_spark.operators.lm import unigram_logprob_scores
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = unigram_logprob_scores(docs, "doc_id", "text")
    assert python_stages(out) == 0
    assert has_partial_aggregate(out)
    assert broadcast_exchanges(out) >= 1


def test_weighted_sample_two_level_rank_no_python(spark):
    """weighted_sample_k: scan-stage scoring + the lossless two-level
    salted rank = exactly 2 key exchanges, zero Python, and the level-1
    window must partition by the salt (no task sorts a whole group)."""
    from postgresql_topn_spark.operators.sampling import weighted_sample_k
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = weighted_sample_k(docs, ["lang"], "doc_id", "n_chars", 10)
    assert hash_shuffles(out) == 2
    assert python_stages(out) == 0
    assert "__salt" in plan_str(out, "simple")


def test_pack_contexts_no_corpus_wide_single_partition(spark):
    """pack_token_stream: the corpus-sized window must be partitioned
    by the order-preserving bucket key (parallel local cumsums); the
    only SinglePartition exchange feeds from the per-bucket AGGREGATE
    (#buckets rows), never from the raw document stream."""
    from postgresql_topn_spark.operators.packing import pack_token_stream
    from postgresql_topn_spark.operators.text import ws_token_count
    from postgresql_topn_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    out = pack_token_stream(docs, "doc_id", ws_token_count("text"))
    p = plan_str(out, "simple")
    assert "hashpartitioning(__bkt" in p
    assert p.count("Exchange SinglePartition") == 1
    # the single-partition branch exists only above the bucket aggregate
    import re

    assert re.search(r"HashAggregate\(keys=\[__bkt", p)
    assert python_stages(out) == 0


def test_pixel_block_features_scan_stage(spark, docs):
    """pixel_block_features adds ZERO exchanges: the block means ride
    one Arrow-batched numpy stage fused directly after the decode
    stage that produced the pixels — unlike the explode->groupBy
    histogram featurizer, the embedding never shuffles. (r13: the
    per-row Catalyst gather became a vectorized numpy kernel — the
    nested higher-order functions evaluated interpreted and measured
    ~14x slower than bincount for identical values — so the featurizer
    now costs exactly one Python stage of its own, still Arrow, never
    row-pickled.)"""
    from postgresql_topn_spark.operators.multimodal import (
        decode_image_pixels,
        decode_png_pixels,
        make_png_blob_table,
        pixel_block_features,
    )

    imgs = decode_image_pixels(
        make_png_blob_table(docs), decoder=decode_png_pixels
    )
    out = pixel_block_features(imgs, grid=4)
    assert hash_shuffles(out) == 0
    assert python_stages(out) == python_stages(imgs) + 1  # decode + kernel
    assert "BatchEvalPython" not in plan_str(out, "simple")


def test_dsir_rollup_model_two_aggs_broadcast_totals(spark, docs):
    """dsir_model_from_counts over dsir_bucket_counts rollups: the
    model build is bounded hash-aggs (key space <= |groups| *
    n_buckets) with the 1-row totals riding a broadcast — no Python
    anywhere, partial combine on every agg."""
    from postgresql_topn_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_model_from_counts,
    )

    roll = dsir_bucket_counts(docs, ["lang"], n_buckets=256)
    model = dsir_model_from_counts(
        roll.select("bucket", "cnt"),
        roll.where(F.col("lang") == "en").select("bucket", "cnt"),
        n_buckets=256,
    )
    assert python_stages(model) == 0
    assert has_partial_aggregate(model)
    assert broadcast_exchanges(model) >= 1


def test_token_budget_mix_scan_stage_filter_broadcast_rates(spark, docs):
    """token_budget_mix: one |strata|-row hash-agg (map-side combined)
    for the totals, rates ride a BROADCAST back onto the corpus, and
    the keep decision is a scan-stage filter — the corpus itself never
    shuffles, so the sample prunes everything downstream at any
    scale. Zero Python stages."""
    from postgresql_topn_spark.operators.sampling import token_budget_mix
    from postgresql_topn_spark.operators.text import tokens

    d = docs.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    out = token_budget_mix(
        d, "lang", "doc_id", "n_tok",
        budget=10_000.0, weights={"en": 0.5, "de": 0.5},
    )
    assert python_stages(out) == 0
    assert has_partial_aggregate(out)
    assert broadcast_exchanges(out) >= 1
    # only the totals agg shuffles (its |langs|-row key space), never
    # the corpus: exactly one hash-shuffle in the whole plan
    assert hash_shuffles(out) == 1


def test_ppl_buckets_single_partition_only_on_sample(spark, docs):
    """ppl_buckets: the scorer is the unigram plan (hash-aggs with
    partial combine, zero Python); the cutoffs come from ONE
    order-statistics aggregate over the bounded SAMPLE subtree (r13:
    sort_array(collect_list) replaced the sample rank window — zero
    windows anywhere now), and the cutoff row reaches the corpus as a
    BROADCAST feeding a scan-stage CASE — the full corpus is never
    globally sorted."""
    from postgresql_topn_spark.operators.lm import ppl_buckets

    out = ppl_buckets(docs, sample_fraction=0.25, seed=3)
    assert python_stages(out) == 0
    assert has_partial_aggregate(out)
    assert broadcast_exchanges(out) >= 2  # model total + cutoff row
    p = plan_str(out)
    # NO window anywhere — the sample's order statistics ride a
    # collect_list aggregate; the corpus subtrees stay hash-partitioned
    # (the remaining SinglePartition exchanges are the 1-row/sample
    # aggregates: model total, OOV floor, cutoff row)
    import re

    assert len(re.findall(r"\(\d+\) Window", p)) == 0


def test_lr_classifier_bounded_aggs_no_python(spark, docs):
    """lr_train/lr_score: the whole training loop and the scorer are
    JVM-side — zero Python stages, map-side-combined hash-aggs (the
    per-iteration gradient agg's key space is <= n_buckets). r13: the
    model no longer rides broadcast joins at all — the bounded
    (n_buckets+1)-integer state is folded into the plan as a dense
    literal array, so the scorer's only join is the id spine and its
    logit sum is an O(1) element_at lookup. No single-partition window
    or global sort anywhere."""
    from postgresql_topn_spark.operators.classifier import lr_score, lr_train

    model = lr_train(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        n_buckets=64,
        iters=2,
        lr=0.5,
    )
    out = lr_score(docs, model, n_buckets=64)
    # model's own displayed plan is lineage-cut (localCheckpoint per
    # iteration — the design), so the shape pins ride the scorer and
    # the shared feature plan
    from postgresql_topn_spark.operators.classifier import lr_features

    feats = lr_features(docs, n_buckets=64)
    for df in (feats, out):
        assert python_stages(df) == 0
        assert has_partial_aggregate(df)
    assert python_stages(model) == 0
    # the model enters as a literal array lookup, not a broadcast join
    assert "element_at" in plan_str(out, "simple")
    import re

    assert len(re.findall(r"\(\d+\) Window", plan_str(out))) == 0


def test_chunk_pack_gate_single_partition_only_bucket_prefix(spark):
    """pipeline_pack_contexts (round-8 merged chunk->pack gate): the
    only SinglePartition exchange is the #buckets-row bucket prefix;
    the corpus-sized window stays partitioned by the order-preserving
    bucket key, chunking adds zero Python stages."""
    from postgresql_topn_spark.suite import QUERIES

    out = QUERIES["pipeline_pack_contexts"](spark, SF)
    p = plan_str(out, "simple")
    assert p.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(__bkt" in p
    assert python_stages(out) == 0


def test_deliver_dataset_gate_plan_shape(spark):
    """pipeline_deliver_dataset: downstream of the recipe's stage cut,
    chunk->pack->split must keep the two-level-prefix shape (one
    bounded SinglePartition exchange, bucketed window) and stay
    entirely JVM-side — the split assignment is a scan-stage
    projection, never a shuffle of its own."""
    from postgresql_topn_spark.suite import QUERIES

    out = QUERIES["pipeline_deliver_dataset"](spark, SF)
    p = plan_str(out, "simple")
    assert p.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(__bkt" in p
    assert python_stages(out) == 0


def test_model_roundtrip_gate_broadcast_models(spark):
    """pipeline_model_roundtrip: both reloaded model tables are bounded
    (<= n_buckets rows) and must ride broadcasts into the scorers —
    corpus rows never shuffle toward a model, and no Python stage
    exists anywhere in the scoring path.

    The SinglePartition count pins the AT-SCALE shape: the only
    single-partition funnel is the bounded model write's
    repartition(1). The lr feature partitioning is size-derived
    (_train_parts, r13) and on the sf0.01 fixture legitimately lands
    the toy corpus in one partition (hashpartitioning(_, 1) prints as
    SinglePartition too), so the knob is forced to the conf cap here —
    the derivation itself is unit-pinned in test_classifier.py."""
    from postgresql_topn_spark.suite import QUERIES

    spark.conf.set("spark.topn.lr.partitionBytes", "1")
    try:
        out = QUERIES["pipeline_model_roundtrip"](spark, SF)
    finally:
        spark.conf.unset("spark.topn.lr.partitionBytes")
    p = plan_str(out, "simple")
    assert broadcast_exchanges(out) >= 3
    assert python_stages(out) == 0
    assert p.count("Exchange SinglePartition") <= 1


def test_curation_signal_cascade_scan_stage(spark):
    """pipeline_curation's published-rule signal pass: the whole
    c4 -> quality -> repetition cascade — 20+ rules, 9 n-gram fold
    families — is ONE scan-stage dataflow with zero shuffles in BOTH
    kernels. At 100 TB this is the property that matters: the filter
    cost scales with executors, never with coordination.

    Round 10 (VERDICT r9 item 3): the default repetition kernel is the
    Arrow lane (4.1x faster; exactly ONE Python stage — the cheap-rule
    stage below it stays pure Catalyst so pushdown/pruning still reach
    the scan); kernel='catalyst' keeps the zero-Python pure-expression
    form the oracles replay."""
    from postgresql_topn_spark.suite import curation_signal_cascade, load_table

    docs = load_table(spark, SF, "documents")
    arrow = curation_signal_cascade(docs)
    assert hash_shuffles(arrow) == 0
    assert python_stages(arrow) == 1
    cat = curation_signal_cascade(docs, kernel="catalyst")
    assert hash_shuffles(cat) == 0
    assert python_stages(cat) == 0


def test_ppjoin_prefix_chain_no_hot_gram_window_one_kernel(spark):
    """round-10 skew hardening #2 (_prefix_candidates): gram document
    frequency is a map-side-combinable aggregate joined back onto CUT
    postings — never a `count() over (partition by __sh)` window,
    whose hottest gram (' the ' in every doc) is one unsplittable
    task. r13: the cut moved BELOW the explode — the per-doc gram
    ARRAYS are the shared stage cut, and the verification join reads
    the same cut instead of re-running the Arrow kernel, so the final
    plan now has ZERO Python stages (the kernel's single evaluation
    lives inside the cut's lineage; until r13 the plan carried one —
    the verification branch's second full kernel pass)."""
    from postgresql_topn_spark.operators.dedup import (
        char_ngram_jaccard_pairs,
    )
    from postgresql_topn_spark.suite import load_table

    out = char_ngram_jaccard_pairs(
        load_table(spark, SF, "documents"), "doc_id", "text",
        threshold=0.7, n=5,
    )
    p = plan_str(out, "simple")
    assert "Window" not in p
    assert python_stages(out) == 0


def test_cascade_cheap_rules_gate_the_arrow_stage(spark):
    """The cascade's ORDERING is the scale defense: the cheap-rule
    Filter must sit BELOW the Arrow repetition stage (plans print
    parent-first, so MapInPandas appears before Filter), which means a
    pathological document — e.g. 150k words, past Gopher's n_words
    ceiling — is dropped by the scan-stage rules and never reaches the
    expensive kernel. Value-checked too: the giant doc is absent from
    the cascade output while a normal doc survives to the repetition
    verdict."""
    from pyspark.sql import functions as F

    from postgresql_topn_spark.suite import curation_signal_cascade

    docs = spark.createDataFrame(
        [
            (1, "words " * 150_000),  # n_words > 100000 -> cheap drop
            (2, "plain ordinary variation " * 30),  # survives cheap
        ],
        "doc_id long, text string",
    )
    sig = curation_signal_cascade(docs)
    p = sig._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p and "Filter" in p
    assert p.index("MapInPandas") < p.index("Filter")
    rows = {r["doc_id"]: r for r in sig.collect()}
    assert 1 not in rows
    assert 2 in rows and rows[2]["__keep_rep"] is not None


def test_ann_ivf_recall_lane_broadcast_no_smj(spark):
    """ann_ivf_topk + the round-9 recall lane: the per-query recall
    aggregate (<= |Q| rows) must ride a broadcast back onto the result
    rows — no sort-merge join materializes, and the Python budget
    stays at the three mapInPandas kernels (IVF assign/score + exact
    cosine spine)."""
    from postgresql_topn_spark.suite import QUERIES

    out = QUERIES["ann_ivf_topk"](spark, SF)
    p = plan_str(out, "simple")
    assert "SortMergeJoin" not in p
    assert broadcast_exchanges(out) >= 2
    assert python_stages(out) == 3


def test_extract_frames_single_decode_pass_no_shuffle(spark):
    """extract_frames: synth + per-offset frame decode are exactly two
    Arrow-batched Python stages with NO shuffle anywhere — frame
    fan-out happens inside the batch, so blob bytes never ride an
    exchange, and the merged meta_frames gate keeps zero shuffles
    total across both lanes."""
    from postgresql_topn_spark.operators.multimodal import (
        extract_frames,
        make_video_blob_table,
    )
    from postgresql_topn_spark.suite import QUERIES, load_table

    fr = extract_frames(make_video_blob_table(load_table(spark, SF, "documents")))
    assert hash_shuffles(fr) == 0
    assert python_stages(fr) == 2
    gate = QUERIES["multimodal_meta_frames"](spark, SF)
    assert hash_shuffles(gate) == 0
    assert python_stages(gate) == 3


def test_byte_cap_evaluated_once_in_count_stage(spark):
    """The item byte cap (the octet_length CASE) is projected once per
    row and the count aggregates the projected item: the Column API and
    topn_sql's rewrite both show the CASE exactly once in the plan."""
    from postgresql_topn_spark.functions.sql_api import topn_sql
    from postgresql_topn_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    li.createOrReplaceTempView("__tp_plan_lineitem")
    col = topn_add_agg(li, ["l_returnflag"], "l_linestatus", counters=100)
    sql = topn_sql(
        spark,
        "SELECT l_returnflag, topn_add_agg(l_linestatus) AS topn "
        "FROM __tp_plan_lineitem GROUP BY l_returnflag",
        counters=100,
    )
    for df in (col, sql):
        assert plan_str(df, "simple").count("CASE WHEN (octet_length(") == 1
        assert hash_shuffles(df) == 2
