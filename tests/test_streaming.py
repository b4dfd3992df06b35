"""Streaming top-n: the applyInPandasWithState operator and the
foreachBatch rollup pattern, driven with file-source streams +
availableNow triggers so results are deterministic and comparable to the
batch aggregates on the same data."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.aggregates import topn_add_agg
from postgresql_topn_spark.streaming.topn_stream import (
    read_topn_rollup,
    stream_topn_rollup,
    topn_streaming_state,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """The events table re-written as 4 parquet files in a fresh dir, so
    a file-source stream replays it in multiple micro-batches."""
    from postgresql_topn_spark.sources.tables import load_table

    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, SF_DIR, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "user_id"
    )
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _batch_expected(spark, events_stream_dir):
    ev = spark.read.parquet(events_stream_dir)
    sk = topn_add_agg(ev, ["event_type"], "user_id", counters=1_000_000)
    return {
        r["event_type"]: dict(r["topn"])
        for r in sk.collect()
    }


def test_streaming_state_matches_batch(spark, events_stream_dir, tmp_path):
    ev = spark.read.parquet(events_stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    out = topn_streaming_state(stream, ["event_type"], "user_id", counters=1_000_000)
    q = (
        out.writeStream.format("memory")
        .queryName("topn_state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select * from topn_state_test"
    ).collect()
    # update mode re-emits per trigger: keep the LAST emission per group
    latest: dict[str, dict] = {}
    for r in rows:  # memory sink preserves arrival order
        latest[r["__g0"]] = json.loads(r["topn"])
    assert latest == _batch_expected(spark, events_stream_dir)


def test_streaming_weighted_state_matches_batch(spark, events_stream_dir, tmp_path):
    """The weighted streaming form must converge to topn_weighted_agg's
    batch result (additive measure: user_id weighted by a deterministic
    per-row value)."""
    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

    ev = spark.read.parquet(events_stream_dir)
    w = (F.xxhash64("user_id") % 7 + 7) % 7  # deterministic 0..6 weight
    expected = {
        r["event_type"]: dict(r["topn"])
        for r in topn_weighted_agg(
            ev, ["event_type"], "user_id", w, counters=1_000_000
        ).collect()
    }
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    out = topn_streaming_state(
        stream, ["event_type"], "user_id", counters=1_000_000, weight=w
    )
    q = (
        out.writeStream.format("memory")
        .queryName("topn_weighted_state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest: dict[str, dict] = {}
    for r in spark.sql("select * from topn_weighted_state_test").collect():
        latest[r["__g0"]] = json.loads(r["topn"])
    assert latest == expected


def test_stream_rollup_matches_batch(spark, events_stream_dir, tmp_path):
    ev = spark.read.parquet(events_stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    rollup = str(tmp_path / "rollup")
    q = stream_topn_rollup(
        stream,
        ["event_type"],
        "user_id",
        rollup_path=rollup,
        checkpoint_path=str(tmp_path / "ckpt2"),
        counters=1_000_000,
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    merged = read_topn_rollup(spark, rollup, ["event_type"], counters=1_000_000)
    got = {r["event_type"]: dict(r["topn"]) for r in merged.collect()}
    assert got == _batch_expected(spark, events_stream_dir)


def test_streaming_state_event_time_window(spark, events_stream_dir, tmp_path):
    """Event-time windowing composes in front of the stateful operator:
    group on window(ts, 1 day) + event_type."""
    ev = spark.read.parquet(events_stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_stream_dir)
    )
    out = topn_streaming_state(
        stream.withWatermark("ts", "1 day"),
        [F.window("ts", "1 day").getField("start").alias("day"), "event_type"],
        "user_id",
        counters=1_000_000,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("topn_state_window_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from topn_state_window_test").collect()
    latest = {}
    for r in rows:
        latest[(r["__g0"], r["__g1"])] = json.loads(r["topn"])
    # batch truth: per (day, event_type) user sketches
    sk = topn_add_agg(
        ev,
        [F.window("ts", "1 day").getField("start").alias("day"), "event_type"],
        "user_id",
        counters=1_000_000,
    )
    want = {(r["day"], r["event_type"]): dict(r["topn"]) for r in sk.collect()}
    assert latest == want


def test_stream_exact_dedup_matches_batch_keyset(spark, events_stream_dir, tmp_path):
    """Streaming dedup must emit exactly one row per distinct key, and
    the key set must equal batch DISTINCT — in both the unbounded-state
    and watermarked forms (no key here arrives later than the delay, so
    the watermarked form is also exact on this replay)."""
    from postgresql_topn_spark.streaming.topn_stream import stream_exact_dedup

    ev = spark.read.parquet(events_stream_dir)
    expected = {r["event_type"] for r in ev.select("event_type").distinct().collect()}

    for i, wm in enumerate([None, ("ts", "365 days")]):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_stream_dir)
        )
        out = stream_exact_dedup(stream, F.col("event_type"), watermark=wm)
        q = (
            out.writeStream.format("memory")
            .queryName(f"dedup_sink_{i}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck{i}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(f"SELECT content_key FROM dedup_sink_{i}").collect()
        keys = [r["content_key"] for r in rows]
        assert len(keys) == len(set(keys)), "duplicate key emitted"
        assert set(keys) == expected


def test_stream_session_stats_matches_batch(spark, events_stream_dir, tmp_path):
    """Native session_window streaming sessionization == the same
    session_window aggregation run in batch on the full input (the
    engine merges windows identically; availableNow drains everything,
    and a final watermark pass closes all sessions)."""
    from postgresql_topn_spark.streaming.topn_stream import stream_session_stats

    ev = spark.read.parquet(events_stream_dir)
    # one batch: a 0s watermark drops cross-batch late arrivals, and the
    # file source replays files in no particular time order — single-batch
    # ingestion makes "late" impossible while still exercising the
    # streaming operator, state store and watermark flush path.
    stream = spark.readStream.schema(ev.schema).parquet(events_stream_dir)
    out = stream_session_stats(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sess_stream")

    batch = (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_event"),
            F.max("ts").alias("last_event"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("win_start"),
            F.col("session_window.end").alias("win_end"),
            "n_events",
            "first_event",
            "last_event",
        )
    )
    g = {tuple(r) for r in got.collect()}
    # append mode emits exactly the sessions the final watermark closed:
    # watermark tops out at max(ts), so sessions whose window end (last
    # event + gap) is still beyond it remain open state at termination —
    # the correct streaming semantic, so the batch reference is filtered
    # to the flushable subset.
    max_ts = ev.agg(F.max("ts")).first()[0]
    b = {tuple(r) for r in batch.collect() if r.win_end <= max_ts}
    assert g == b
    assert len(b) > 0
    # sanity: the holdback is the tail, not the bulk
    assert len(b) >= 0.5 * batch.count()


def test_stream_distinct_rollup_matches_batch(spark, events_stream_dir, tmp_path):
    """Per-batch HLL sketches appended by the streaming sink merge to
    the same estimates as one batch-built rollup (HLL union is
    lossless), and interval reads prune partitions."""
    from postgresql_topn_spark.functions.distinct import (
        hll_add_agg,
        hll_estimate_col,
        hll_union_rollup,
    )
    from postgresql_topn_spark.streaming.topn_stream import (
        stream_distinct_rollup,
    )

    ev = spark.read.parquet(events_stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    path = str(tmp_path / "hll_rollup")
    writer = stream_distinct_rollup(
        stream, path, type_col="event_type", checkpoint=str(tmp_path / "hckpt")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)

    rolled = hll_union_rollup(
        spark.read.parquet(path), ["event_type"], "hll"
    ).select("event_type", hll_estimate_col("hll").alias("est"))
    direct = hll_add_agg(
        ev.where(F.col("event_type").isNotNull()), ["event_type"], "user_id"
    ).select("event_type", hll_estimate_col("hll").alias("est"))
    got = {r.event_type: r.est for r in rolled.collect()}
    want = {r.event_type: r.est for r in direct.collect()}
    assert got == want  # lossless union: EQUAL estimates, not close


def test_stream_sketch_rollup_kmv_cms_bloom_match_batch(
    spark, events_stream_dir, tmp_path
):
    """The generic mergeable-sketch streaming sink: per-batch KMV, CMS
    and Bloom sketches appended by foreachBatch merge to EXACTLY the
    sketch a batch job builds over the whole input — idempotent union
    for KMV/Bloom, additive merge for CMS, each family's merge law
    doing the streaming correctness work."""
    from postgresql_topn_spark.functions.bloom import (
        bloom_add_agg,
        bloom_union_rollup,
    )
    from postgresql_topn_spark.functions.cms import cms_add_agg, cms_union_rollup
    from postgresql_topn_spark.functions.kmv import kmv_add_agg, kmv_union_rollup
    from postgresql_topn_spark.streaming.topn_stream import stream_sketch_rollup

    ev = spark.read.parquet(events_stream_dir)
    uid = F.col("user_id").cast("string")

    cases = {
        "kmv": (
            lambda b: kmv_add_agg(b, ["event_type"], uid, k=32),
            lambda df: kmv_union_rollup(df, ["event_type"], "kmv", k=32),
            lambda: kmv_add_agg(ev, ["event_type"], uid, k=32),
            "kmv",
        ),
        "cms": (
            lambda b: cms_add_agg(b, ["event_type"], uid),
            lambda df: cms_union_rollup(df, ["event_type"], "cms"),
            lambda: cms_add_agg(ev, ["event_type"], uid),
            "cms",
        ),
        "bloom": (
            lambda b: bloom_add_agg(b, ["event_type"], uid),
            lambda df: bloom_union_rollup(df, ["event_type"], "bloom"),
            lambda: bloom_add_agg(ev, ["event_type"], uid),
            "bloom",
        ),
    }
    for name, (build, merge, direct, col) in cases.items():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_stream_dir)
        )
        path = str(tmp_path / f"{name}_rollup")
        writer = stream_sketch_rollup(
            stream, path, build, checkpoint=str(tmp_path / f"{name}_ckpt")
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(120)
        appended = spark.read.parquet(path)
        assert appended.count() > 5, name  # several micro-batches appended
        rolled = {
            r["event_type"]: list(r[col])
            for r in merge(appended.drop("batch_id")).collect()
        }
        want = {r["event_type"]: list(r[col]) for r in direct().collect()}
        assert rolled == want, name


def test_kmv_streaming_state_matches_batch(spark, events_stream_dir, tmp_path):
    """The stateful streaming KMV sketch must equal the batch
    kmv_add_agg sketch over the same rows — same md5-60bit hash, same
    bottom-k, and bottom-k union is idempotent so multi-batch replay
    lands on the identical array."""
    from postgresql_topn_spark.functions.kmv import kmv_add_agg
    from postgresql_topn_spark.streaming.topn_stream import kmv_streaming_state

    ev = spark.read.parquet(events_stream_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    q = (
        kmv_streaming_state(
            stream, ["event_type"], F.col("user_id").cast("string"), k=32
        )
        .writeStream.format("memory")
        .queryName("kmv_state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode re-emits per trigger: keep the LAST emission per group
    final = {}
    for r in spark.sql("select * from kmv_state_test").collect():
        final[r["__g0"]] = list(r["kmv"])
    want = {
        r["event_type"]: list(r["kmv"])
        for r in kmv_add_agg(
            ev, ["event_type"], F.col("user_id").cast("string"), k=32
        ).collect()
    }
    assert final == want


def test_stream_bloom_dedup_drops_history_dups(spark, tmp_path):
    """Bloom-state streaming dedup: duplicates of keys admitted in ANY
    earlier batch are dropped (no false negatives), survivors match
    the batch distinct-key set minus possible (here: zero, sized
    filter) false positives, and the filter file advances per batch."""
    from postgresql_topn_spark.streaming.topn_stream import stream_bloom_dedup

    src_dir = str(tmp_path / "in")
    # 3 files -> 3 micro-batches with heavy cross-batch overlap
    rows = [(i, f"doc{i % 40}") for i in range(300)]
    df = spark.createDataFrame(rows, "i long, content string")
    df.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out_path = str(tmp_path / "out")
    bloom_path = str(tmp_path / "bloom")
    q = (
        stream_bloom_dedup(
            stream,
            F.col("content"),
            out_path=out_path,
            bloom_path=bloom_path,
            m_bits=1 << 14,
            checkpoint=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = spark.read.parquet(out_path)
    keys = [r["content_key"] for r in admitted.select("content_key").collect()]
    # every distinct key admitted exactly once, across ALL batches
    assert sorted(keys) == sorted({f"doc{i}" for i in range(40)})
    # the accumulated filter rejects every known key on a fresh probe
    from postgresql_topn_spark.functions.bloom import bloom_might_contain
    import glob as _glob
    import os as _os

    latest = max(
        _glob.glob(_os.path.join(bloom_path, "v=*")),
        key=lambda d: int(d.rsplit("=", 1)[1]),
    )
    seen = spark.read.parquet(latest)
    probes = spark.createDataFrame(
        [(f"doc{i}",) for i in range(40)], "content_key string"
    )
    n_hit = (
        probes.crossJoin(F.broadcast(seen))
        .where(bloom_might_contain("bloom", "content_key", m_bits=1 << 14))
        .count()
    )
    assert n_hit == 40


def test_streaming_fractional_weight_matches_batch(
    spark, events_stream_dir, tmp_path
):
    """Review pin: the streaming weighted lane must apply the
    three-surface weight rule (HALF-UP rounding), not a truncating long
    cast — fractional and negative-fractional weights must converge to
    topn_weighted_agg's batch result over the same rows."""
    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg
    from postgresql_topn_spark.streaming.topn_stream import (
        topn_streaming_state,
    )

    ev = spark.read.parquet(events_stream_dir)
    # fractional weights incl. negatives and exact .5 boundaries:
    # truncation vs HALF-UP disagrees on most of these
    w = ((F.xxhash64("user_id") % 7 + 7) % 7 - 2).cast("double") + F.lit(0.5)
    expected = {
        r["event_type"]: dict(r["topn"])
        for r in topn_weighted_agg(
            ev, ["event_type"], "user_id", w, counters=1_000_000
        ).collect()
    }
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    out = topn_streaming_state(
        stream, ["event_type"], "user_id", counters=1_000_000, weight=w
    )
    q = (
        out.writeStream.format("memory")
        .queryName("topn_frac_weight_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_fw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest: dict[str, dict] = {}
    for r in spark.sql("select * from topn_frac_weight_test").collect():
        latest[r["__g0"]] = json.loads(r["topn"])
    assert latest == expected


def test_streaming_state_global_group(spark, events_stream_dir, tmp_path):
    """Review pin: empty group_cols is the global aggregate, like the
    batch API (previously raised at analysis time — groupBy() with no
    key cannot feed applyInPandasWithState)."""
    ev = spark.read.parquet(events_stream_dir)
    expected = {
        None: dict(r["topn"])
        for r in topn_add_agg(ev, [], "user_id", counters=1_000_000).collect()
    }[None]
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    out = topn_streaming_state(stream, [], "user_id", counters=1_000_000)
    assert out.columns == ["topn"]
    q = (
        out.writeStream.format("memory")
        .queryName("topn_global_state_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_g"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emissions = spark.sql("select * from topn_global_state_test").collect()
    assert emissions  # at least one trigger emitted
    assert json.loads(emissions[-1]["topn"]) == expected


def test_stream_bloom_dedup_restart_without_checkpoint_preserves_history(
    spark, tmp_path
):
    """Review pin: without a durable checkpoint, a process restart
    replays with batch ids at 0 — the run namespace must be unique per
    process or the new run's batch-0 dynamic overwrite destroys the old
    run's admitted rows."""
    from postgresql_topn_spark.streaming.topn_stream import stream_bloom_dedup

    out_path = str(tmp_path / "out")
    bloom_path = str(tmp_path / "bloom")

    def run(src_name, lo, hi):
        src = str(tmp_path / src_name)
        df = spark.createDataFrame(
            [(i, f"doc{i}") for i in range(lo, hi)], "i long, content string"
        )
        df.coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_bloom_dedup(
                stream,
                F.col("content"),
                out_path=out_path,
                bloom_path=bloom_path,
                m_bits=1 << 14,
                # no checkpoint: each run replays from scratch at batch 0
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("in1", 0, 20)       # run 1 admits doc0..doc19 under batch_id=0
    run("in2", 10, 30)      # run 2: batch 0 again; doc10..19 are dups
    keys = sorted(
        r["content_key"]
        for r in spark.read.parquet(out_path).select("content_key").collect()
    )
    # run 1's rows survive; run 2 admitted only the genuinely new keys
    assert keys == sorted(f"doc{i}" for i in range(30))


def test_stream_bloom_dedup_geometry_mismatch_raises(spark, tmp_path):
    """Review pin: probing a stored filter with different m_bits/depth
    silently corrupts dedup; the stream must refuse loudly."""
    import pytest

    from postgresql_topn_spark.streaming.topn_stream import stream_bloom_dedup

    out_path = str(tmp_path / "out")
    bloom_path = str(tmp_path / "bloom")
    src = str(tmp_path / "in")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "i long, content string")
    df.coalesce(1).write.parquet(src)

    def start(m_bits, depth):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_bloom_dedup(
                stream,
                F.col("content"),
                out_path=out_path,
                bloom_path=bloom_path,
                m_bits=m_bits,
                depth=depth,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    start(1 << 14, 3)
    with pytest.raises(Exception, match="m_bits"):
        start(1 << 14, 2)
    with pytest.raises(Exception, match="m_bits"):
        start(1 << 12, 3)


def test_stream_score_documents_matches_batch(spark, tmp_path):
    """Streaming classifier scoring == batch scoring on the same
    corpus: scores are per-doc pure functions of (text, model), so the
    union of micro-batch outputs must equal the one-shot batch score —
    including the min_prob curation filter."""
    from postgresql_topn_spark.operators.classifier import lr_score, lr_train
    from postgresql_topn_spark.sources.tables import load_table
    from postgresql_topn_spark.streaming.topn_stream import (
        stream_score_documents,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang"
    )
    model = lr_train(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        n_buckets=128,
        iters=2,
        lr=0.5,
    )
    # model must survive foreachBatch re-use across batches: pin it
    model = spark.createDataFrame(model.collect(), "bucket long, w_micro long")

    stream_dir = str(tmp_path / "docs_stream")
    docs.repartition(4).write.mode("overwrite").parquet(stream_dir)
    out_dir = str(tmp_path / "scored")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = stream_score_documents(
        stream,
        model,
        out_path=out_dir,
        checkpoint_path=str(tmp_path / "ckpt"),
        n_buckets=128,
        min_prob=0.4,
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    got = {
        (r["doc_id"], r["z_micro"], r["prob"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["doc_id"], r["z_micro"], r["prob"])
        for r in lr_score(
            spark.read.parquet(stream_dir), model, n_buckets=128
        )
        .where(F.col("prob") >= 0.4)
        .collect()
    }
    assert got == want and len(got) > 0


def test_replay_safe_append_idempotent(spark, events_stream_dir, tmp_path):
    """Round-11 review finding: foreachBatch is at-least-once, and a
    plain append double-counted a replayed batch's sketch rows for the
    ADDITIVE families (topn, CMS). The (run_id, batch_id)
    dynamic-overwrite write must make a replay a no-op and keep
    distinct batches separate."""
    from postgresql_topn_spark.functions.cms import cms_add_agg, cms_union_rollup
    from postgresql_topn_spark.streaming.topn_stream import (
        _replay_safe_append,
    )

    # the sink pins dynamic overwrite PER-WRITE; the session conf must
    # stay at Spark's default (static) for this test to actually prove
    # the writer-option precedence (ADVICE r11: a session-conf toggle
    # races concurrent streams)
    assert (
        spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode"
        ).lower()
        == "static"
    )
    ev = spark.read.parquet(events_stream_dir)
    uid = F.col("user_id").cast("string")
    half_a = ev.where(F.col("user_id") % 2 == 0)
    half_b = ev.where(F.col("user_id") % 2 == 1)
    path = str(tmp_path / "cms_rollup")

    _replay_safe_append(cms_add_agg(half_a, ["event_type"], uid), path, "r1", 0)
    # the REPLAY: same run, same batch id, same rows — must overwrite,
    # not append (the old code doubled every CMS cell here)
    _replay_safe_append(cms_add_agg(half_a, ["event_type"], uid), path, "r1", 0)
    _replay_safe_append(cms_add_agg(half_b, ["event_type"], uid), path, "r1", 1)

    rolled = spark.read.parquet(path)
    assert rolled.select("batch_id").distinct().count() == 2
    got = {
        r["event_type"]: list(r["cms"])
        for r in cms_union_rollup(rolled, ["event_type"], "cms").collect()
    }
    want = {
        r["event_type"]: list(r["cms"])
        for r in cms_add_agg(ev, ["event_type"], uid).collect()
    }
    assert got == want


def test_replay_safe_append_rejects_old_flat_layout(
    spark, events_stream_dir, tmp_path
):
    """ADVICE r11: pointing an upgraded stream at a rollup path that
    already holds pre-replay-safe flat-append part files would mix
    root-level files with run_id=/batch_id= partition dirs and break
    Spark partition discovery for every READER — fail at the first
    write with migration guidance instead."""
    import pytest

    from postgresql_topn_spark.functions.cms import cms_add_agg
    from postgresql_topn_spark.streaming.topn_stream import (
        _replay_safe_append,
    )

    ev = spark.read.parquet(events_stream_dir)
    uid = F.col("user_id").cast("string")
    sk = cms_add_agg(ev, ["event_type"], uid)
    path = str(tmp_path / "old_rollup")
    # old layout: plain append, part files at the path root
    sk.write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="flat-append|Migrate"):
        _replay_safe_append(sk, path, "r1", 0)
    # a path already in the NEW layout (partition dirs + _SUCCESS
    # marker at root) keeps writing fine
    new_path = str(tmp_path / "new_rollup")
    _replay_safe_append(sk, new_path, "r1", 0)
    _replay_safe_append(sk, new_path, "r1", 1)
    assert (
        spark.read.parquet(new_path).select("batch_id").distinct().count()
        == 2
    )


def test_stream_rollup_checkpoint_reset_detected_then_recoverable(
    spark, events_stream_dir, tmp_path
):
    """VERDICT r12 item 2: deleting the checkpoint dir replays history
    from batch 0 under possibly-DIFFERENT batch boundaries while the
    stale higher-numbered partitions remain — the merged read would
    double-count. (An earlier pin relied on identical input/options
    producing identical boundaries so the replay re-landed exactly;
    real resets get no such guarantee, so the sink now refuses the
    batch-0-over-existing-history write outright.) Following the
    error's guidance — wipe the rollup with the checkpoint — rebuilds
    a merged result identical to the batch aggregate."""
    import shutil

    import pytest

    ev = spark.read.parquet(events_stream_dir)
    rollup = str(tmp_path / "rollup_replay")
    ckpt = str(tmp_path / "ckpt_replay")

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_stream_dir)
        )
        q = stream_topn_rollup(
            stream,
            ["event_type"],
            "user_id",
            rollup_path=rollup,
            checkpoint_path=ckpt,
            counters=1_000_000,
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    run()
    shutil.rmtree(ckpt)  # simulate the lost-checkpoint replay
    with pytest.raises(Exception, match="checkpoint was reset"):
        run()
    # the guided recovery: wipe the rollup with the checkpoint, replay
    shutil.rmtree(rollup)
    shutil.rmtree(ckpt, ignore_errors=True)
    run()
    merged = read_topn_rollup(spark, rollup, ["event_type"], counters=1_000_000)
    got = {r["event_type"]: dict(r["topn"]) for r in merged.collect()}
    assert got == _batch_expected(spark, events_stream_dir)


def test_replay_safe_append_reset_guard_scope(
    spark, events_stream_dir, tmp_path
):
    """The reset guard fires ONLY on the can't-happen-legitimately
    shape (batch 0 over existing batch_id>0 of the SAME run): a
    batch-0 retry with no later batches re-overwrites fine (the first
    micro-batch crashing before its checkpoint commit is the normal
    at-least-once path), a later-batch retry is untouched, and another
    run's batch 0 writes its own namespace (the reader guards the
    cross-run merge instead)."""
    import pytest

    from postgresql_topn_spark.functions.cms import cms_add_agg
    from postgresql_topn_spark.streaming.topn_stream import (
        _replay_safe_append,
    )

    ev = spark.read.parquet(events_stream_dir)
    sk = cms_add_agg(ev, ["event_type"], F.col("user_id").cast("string"))
    path = str(tmp_path / "guarded_rollup")
    _replay_safe_append(sk, path, "r1", 0)
    _replay_safe_append(sk, path, "r1", 0)  # batch-0 retry: fine
    _replay_safe_append(sk, path, "r1", 1)
    _replay_safe_append(sk, path, "r1", 1)  # later-batch retry: fine
    with pytest.raises(ValueError, match="checkpoint was reset"):
        _replay_safe_append(sk, path, "r1", 0)  # reset shape: refused
    _replay_safe_append(sk, path, "r2", 0)  # fresh run id: fine


def test_read_topn_rollup_refuses_multi_run_merge(
    spark, events_stream_dir, tmp_path
):
    """VERDICT r12 item 2 (reader side): without a durable checkpoint
    every process start mints a fresh run_id and replays the input, so
    a rollup accumulating several runs double-counts when merged — the
    reader refuses by default and requires an explicit
    allow_multiple_runs=True opt-in."""
    import pytest

    from postgresql_topn_spark.functions.aggregates import topn_add_agg
    from postgresql_topn_spark.functions.sketch import sketch_to_json
    from postgresql_topn_spark.streaming.topn_stream import (
        _replay_safe_append,
    )

    ev = spark.read.parquet(events_stream_dir)
    sk = topn_add_agg(
        ev, ["event_type"], "user_id", counters=1_000_000
    ).withColumn("topn", sketch_to_json("topn"))
    path = str(tmp_path / "two_run_rollup")
    _replay_safe_append(sk, path, "run_a", 0)
    _replay_safe_append(sk, path, "run_b", 0)
    with pytest.raises(ValueError, match="allow_multiple_runs"):
        read_topn_rollup(spark, path, ["event_type"], counters=1_000_000)
    # explicit opt-in still merges (here: two identical runs => 2x)
    merged = read_topn_rollup(
        spark,
        path,
        ["event_type"],
        counters=1_000_000,
        allow_multiple_runs=True,
    )
    got = {r["event_type"]: dict(r["topn"]) for r in merged.collect()}
    want = _batch_expected(spark, events_stream_dir)
    assert got == {
        k: {i: 2 * c for i, c in v.items()} for k, v in want.items()
    }


def test_compact_rollup_after_replay_is_reader_identical(
    spark, events_stream_dir, tmp_path, capsys
):
    """VERDICT r11 item 5: the two r11/r12 disciplines COMPOSE — a
    rollup produced by the replay-safe sink (run_id=/batch_id=
    partitions, rebuilt through a guided checkpoint-reset recovery)
    goes through the janitor CLI's compact-rollup, and the merged read
    is IDENTICAL before and after compaction while the raw fragment
    count drops to one row per bucket."""
    import json
    import shutil

    from postgresql_topn_spark.maintenance import main

    ev = spark.read.parquet(events_stream_dir)
    rollup = str(tmp_path / "rollup_compact")
    ckpt = str(tmp_path / "ckpt_compact")

    def run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_stream_dir)
        )
        q = stream_topn_rollup(
            stream,
            ["event_type"],
            "user_id",
            rollup_path=rollup,
            checkpoint_path=ckpt,
            counters=1_000_000,
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    run()
    # the guided reset recovery (r13 guard): checkpoint AND rollup
    # wiped together, then a full replay rebuilds the run's partitions
    shutil.rmtree(ckpt)
    shutil.rmtree(rollup)
    run()

    def merged():
        m = read_topn_rollup(
            spark, rollup, ["event_type"], counters=1_000_000
        )
        return {r["event_type"]: dict(r["topn"]) for r in m.collect()}

    before = merged()
    assert before == _batch_expected(spark, events_stream_dir)
    raw_before = spark.read.parquet(rollup).count()

    assert (
        main(
            [
                "compact-rollup",
                "--dir",
                rollup,
                "--bucket-name",
                "event_type",
                "--counters",
                "1000000",
            ],
            spark=spark,
        )
        == 0
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["cmd"] == "compact-rollup"
    raw_after = spark.read.parquet(rollup).count()
    assert raw_after == rep["n_rows"] == len(before) < raw_before
    assert merged() == before  # readers see identical merged sketches


def test_stream_bloom_dedup_rejects_old_flat_layout(spark, tmp_path):
    """r12 ADVICE #3: stream_bloom_dedup writes the same run_id=/
    batch_id= hive layout as _replay_safe_append, so pointing an
    upgraded stream at an old flat-append out_path mixes layouts and
    breaks partition discovery for readers — the sink must refuse at
    the first write with the same migration guidance."""
    import pytest

    from postgresql_topn_spark.streaming.topn_stream import stream_bloom_dedup

    out_path = str(tmp_path / "out")
    src = str(tmp_path / "in")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "i long, content string")
    df.coalesce(1).write.parquet(src)
    # old layout: plain part files at the out_path root
    df.write.mode("append").parquet(out_path)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream_bloom_dedup(
            stream,
            F.col("content"),
            out_path=out_path,
            bloom_path=str(tmp_path / "bloom"),
            m_bits=1 << 14,
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="flat-append|Migrate"):
        q.awaitTermination(120)


def test_adaptive_stream_partitions_scales_with_source_bytes(
    spark, tmp_path
):
    """adaptive_stream_partitions: ceil(source bytes / partitionBytes)
    clamped to [1, spark.sql.shuffle.partitions] — tiny sources stop
    paying the full configured state-store count, real backlogs hit the
    cap and keep the session conf as the scale lever; an unreadable
    source falls back to the cap (never under-parallelize on a stat
    error)."""
    from postgresql_topn_spark.conf import (
        STREAM_PARTITION_BYTES as _STATE_PARTITION_BYTES_CONF,
    )
    from postgresql_topn_spark.streaming.topn_stream import (
        adaptive_stream_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.bin").write_bytes(b"x" * 3000)
    (src / "b.bin").write_bytes(b"x" * 2000)  # 5000 bytes total

    cap = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(_STATE_PARTITION_BYTES_CONF, "2000")
        # ceil(5000/2000) = 3, under the cap
        assert adaptive_stream_partitions(spark, str(src)) == 3
        spark.conf.set(_STATE_PARTITION_BYTES_CONF, "1")
        # 5000 partitions wanted -> clamped to the session conf
        assert adaptive_stream_partitions(spark, str(src)) == int(cap)
        spark.conf.set(_STATE_PARTITION_BYTES_CONF, "1000000")
        # one partition floor for a sub-threshold source
        assert adaptive_stream_partitions(spark, str(src)) == 1
        spark.conf.set(_STATE_PARTITION_BYTES_CONF, "not-a-number")
        with pytest.raises(ValueError, match=_STATE_PARTITION_BYTES_CONF):
            adaptive_stream_partitions(spark, str(src))
        spark.conf.set(_STATE_PARTITION_BYTES_CONF, "2000")
        # missing path: size unknown -> keep configured parallelism
        assert adaptive_stream_partitions(
            spark, str(tmp_path / "missing")
        ) == int(cap)
    finally:
        spark.conf.unset(_STATE_PARTITION_BYTES_CONF)


def test_stream_rollup_text_matches_batch_writer(spark, tmp_path):
    """Stream-built and batch-built rollups store the same sketch text:
    both render with sketch_to_json (the reference's jsonb key order,
    shorter keys first), not the map's (frequency DESC) entry order."""
    from postgresql_topn_spark.sources.rollup import write_topn_rollup

    src = str(tmp_path / "src")
    df = spark.createDataFrame([("d", "bb"), ("d", "bb"), ("d", "a")], "day string, item string")
    df.write.parquet(src)
    batch = str(tmp_path / "batch_rollup")
    write_topn_rollup(df, batch, "day", "item", counters=10)
    stream_rollup = str(tmp_path / "stream_rollup")
    q = stream_topn_rollup(
        spark.readStream.schema(df.schema).parquet(src),
        ["day"],
        "item",
        rollup_path=stream_rollup,
        checkpoint_path=str(tmp_path / "ckpt_text"),
        counters=10,
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    texts = [
        [r["topn"] for r in spark.read.parquet(p).select("topn").collect()]
        for p in (batch, stream_rollup)
    ]
    assert texts == [['{"a":1,"bb":2}'], ['{"a":1,"bb":2}']]


def test_stream_bloom_dedup_sweeps_uncommitted_filter_versions(spark, tmp_path):
    """The filter is a `versioned_rewrite` table: a batch over a bloom
    path holding a committed v=0 and an orphan v=5 without its marker
    (a crash between data write and commit) reads v=0 and leaves no
    uncommitted version behind."""
    import glob
    import os

    from postgresql_topn_spark.streaming.topn_stream import stream_bloom_dedup

    out_path = str(tmp_path / "out")
    bloom_path = str(tmp_path / "bloom")

    def one_batch(name, keys):
        src = str(tmp_path / name)
        df = spark.createDataFrame(list(enumerate(keys)), "i long, content string")
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = (
            stream_bloom_dedup(
                stream, F.col("content"), out_path=out_path,
                bloom_path=bloom_path, m_bits=1 << 14,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    one_batch("in0", ["a", "b"])
    orphan = os.path.join(bloom_path, "v=5")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").close()
    one_batch("in1", ["b", "c"])

    versions = glob.glob(os.path.join(bloom_path, "v=*"))
    assert versions and all(
        os.path.exists(os.path.join(v, "_COMMITTED")) for v in versions
    ), sorted(versions)
    keys = sorted(r.content_key for r in spark.read.parquet(out_path).collect())
    assert keys == ["a", "b", "c"]
