"""Structured Streaming surface: continuous top-n over unbounded input.

The reference is batch-only (PostgreSQL has no streaming executor); its
incremental story is the *rollup table* pattern — append per-period
sketch rows, ``topn_union_agg`` them at query time (README.md:73-116).
Streams are the natural Spark extension of exactly that pattern, so we
provide both shapes:

1. :func:`topn_streaming_state` — a custom stateful operator
   (``applyInPandasWithState``): one bounded ``TopnState`` per group
   key, updated each micro-batch, emitting the refreshed sketch in
   update mode. State per key is <= 3 x counters entries regardless of
   stream cardinality — the reference's bounded-memory contract carried
   over to unbounded data. Each emitted snapshot finishes through
   ``sketch_state.pack_counts`` like every batch Python lane: totals
   saturate into int64 before they are ranked and cut.

2. :func:`stream_topn_rollup` — the rollup-table pattern itself:
   ``foreachBatch`` computes batch-local sketches with the (exact,
   Catalyst-native) Tier-1 aggregate and *appends* them to a parquet
   rollup as ``sketch_to_json`` text, the batch rollup writers' jsonb
   key order; :func:`read_topn_rollup` re-merges at read time with
   ``topn_union_agg``. Append-only writes scale (no read-modify-write
   races, partition-pruned reads by event date), and merging sketch
   deltas is associative so late batches just add rows.

Event-time windowing/watermarks compose in front of either shape: group
on ``F.window(ts, '1 day')`` (plus ``withWatermark``) and the window
struct is just another group column.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from postgresql_topn_spark.conf import STREAM_PARTITION_BYTES, knob, resolve_counters
from postgresql_topn_spark.functions.sketch import _col, sketch_to_json
from postgresql_topn_spark.operators.sketch_state import (
    TopnState,
    _group_ddl,
    _group_keys,
    clamp64,
    pack_counts,
    truncate_key_bytes,
    weight_to_long,
)
from postgresql_topn_spark.sources.tables import child_dirs, input_bytes


def topn_streaming_state(
    stream_df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    weight: Column | str | None = None,
) -> DataFrame:
    """Continuously-maintained per-group sketches over a stream.

    Returns a streaming DataFrame of ``group_cols + [out_col json]``
    (sketch as a JSON text column — arbitrary map-typed state cannot be
    stored in the state store, and the reference's at-rest form is JSON
    anyway, topn.c:914-939). Each trigger emits the refreshed sketch for
    every group that saw input. Use output mode ``update``.

    With ``weight`` the sketch accumulates the additive measure instead
    of row counts — the streaming twin of ``topn_weighted_agg``, using
    the SAME three-surface weight rule (``weight_to_long``: NULL/NaN
    contribute 0, fractions round HALF-UP — a plain long cast would
    TRUNCATE and diverge from the batch lanes; review pin) and the same
    "zero weights add nothing and create no entries" rule, so streaming
    and batch sketches agree over the same rows. NULL items are
    skipped. An empty ``group_cols`` is the global aggregate (one
    sketch for the whole stream), like the batch API.
    """
    counters = resolve_counters(counters, stream_df.sparkSession)
    weighted = weight is not None
    gnames, gexprs = _group_keys(group_cols)
    w_col = (
        _col(weight).cast("double") if weighted else F.lit(1).cast("double")
    )
    src = stream_df.select(
        *gexprs,
        _col(item).cast("string").alias("__item"),
        w_col.alias("__w"),
    )
    out_schema = _group_ddl(src, gnames) + f"{out_col} string"
    # State = the sketch's entries as parallel arrays (state store rows
    # must be a fixed struct; two arrays are the cheapest encoding).
    state_schema = "items array<string>, freqs array<bigint>"

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st = TopnState(counters)
        if state.exists:
            items, freqs = state.get
            st.counts = dict(zip(items, freqs))
        for pdf in batches:
            for it, w in zip(pdf["__item"], pdf["__w"]):
                if it is None or (isinstance(it, float) and pd.isna(it)):
                    continue
                wv = weight_to_long(w) if weighted else 1
                if wv:
                    # zero/NULL weights add nothing and create no
                    # entries (batch Tier-2 rule — a zero-count entry
                    # would still consume sketch capacity)
                    st.add(truncate_key_bytes(it), wv, aggregate_path=True)
        # per-TRIGGER saturation into the bigint state store: a stream
        # is sequential by nature, so saturating at each trigger is the
        # reference's running saturating-add semantic (batch Tier-2
        # instead sums exactly and clamps once — order-independence
        # matters there, arrival order is real here)
        st.counts = {k: clamp64(int(v)) for k, v in st.counts.items()}
        state.update((list(st.counts.keys()), [int(v) for v in st.counts.values()]))
        # non-positive totals are not heavy hitters (matches
        # topn_weighted_agg's drop rule; counted items are always >= 1)
        snapshot = pack_counts(st.counts, counters, drop_nonpositive=True)
        row = dict(zip(gnames, key))
        row[out_col] = json.dumps(snapshot)
        yield pd.DataFrame([row])

    out = src.groupBy(*gnames).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out if group_cols else out.drop("__gall")


def _run_id(checkpoint: "str | None") -> str:
    """Sink namespace for replay-safe writes — the contract
    stream_bloom_dedup pinned in review: a durable checkpoint yields a
    STABLE id (its batch ids are durable too, so a retried batch must
    land on the same partition across driver restarts); without a
    checkpoint every process start replays from batch 0, so the id is
    unique per process and a fresh run cannot clobber an old run's
    partitions."""
    import hashlib
    import uuid

    if checkpoint:
        return hashlib.md5(checkpoint.encode()).hexdigest()[:12]
    return uuid.uuid4().hex[:12]


def adaptive_stream_partitions(spark: SparkSession, source_path: str) -> int:
    """Scale-adaptive ``spark.sql.shuffle.partitions`` for a streaming
    query draining a finite staged source (availableNow backfills —
    the shape every gate and any bounded re-ingest runs).

    Streaming queries get NO AQE (Spark disables it with a warning at
    ``writeStream.start()``, and the disable covers the batch plans
    ``foreachBatch`` executes inside the stream runner), so the
    configured shuffle-partition count applies unconditioned twice
    over:

    - STATEFUL operators (``session_window`` aggs, ``dropDuplicates*``)
      freeze the count into the checkpoint at first start and
      instantiate one state store per partition — a create + per-batch
      commit + snapshot in its own checkpoint subdir (measured: the
      2 MB sf0.1 events drain spends ~550-740 ms in addBatch at 32
      state partitions vs ~320 ms at 8 — the bookkeeping, not the
      data, is the cost);
    - ``foreachBatch`` sinks run their inner aggregations at the full
      count with no runtime coalescing, and the write fans the tiny
      per-batch result into that many sink files (guide §6: small
      files hurt twice).

    Derive the count from the source's on-disk bytes instead:
    ``ceil(bytes / partitionBytes)`` clamped to
    ``[1, spark.sql.shuffle.partitions]``. The session conf stays the
    SCALE lever — any real backlog hits the cap and keeps
    cluster-sized parallelism; only toy inputs shrink.
    ``spark.topn.stream.partitionBytes`` (default 1 MiB) tunes source
    bytes per partition. Any Hadoop FS scheme. Callers set the conf
    around ``.start()`` and restore it after the drain so the rest of
    the session is untouched.
    """
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    bpp = knob(spark, STREAM_PARTITION_BYTES)
    nbytes = input_bytes(source_path, spark)
    if nbytes is None:  # unreadable/missing source: size unknown,
        return cap  # keep the configured parallelism
    return max(1, min(cap, -(-nbytes // bpp)))


def _guard_old_layout(spark: SparkSession, path: str) -> None:
    """Refuse to write the replay-safe (run_id=/batch_id=) layout into
    a rollup path that already holds OLD-layout files. Sinks written
    before the replay-safe rewrite appended plain part files at the
    path root (batch_id as a data column); mixing those with hive
    partition dirs breaks Spark's partition discovery ('Conflicting
    directory structures') for every reader of the rollup — an
    upgrade foot-gun better caught at the first write with migration
    guidance than at some later read. One listStatus per micro-batch;
    rollup roots hold partition dirs plus at most marker files."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isFile() and name.startswith("part-"):
            raise ValueError(
                f"rollup path {path} holds pre-replay-safe flat-append "
                f"part files at its root (e.g. {name}); the replay-safe "
                "sink writes run_id=/batch_id= partition directories, "
                "and mixing the two layouts breaks Spark partition "
                "discovery for readers. Migrate first: compact the old "
                "rollup (maintenance.py compact-rollup / "
                "compact_topn_rollup) or point the stream at a fresh "
                "rollup path."
            )


def _guard_checkpoint_reset(
    spark: SparkSession, path: str, run_id: str, batch_id: int
) -> None:
    """Refuse a batch-0 write when higher-numbered batch partitions
    already exist under the SAME run_id. With a durable checkpoint the
    run_id is stable and batch ids are durable, so a restart can only
    ever revisit the last uncommitted batch — a batch-0 write against
    existing batch_id>0 partitions can only mean the checkpoint dir
    was deleted (VERDICT r12 item 2). That reset replays history from
    scratch under possibly-DIFFERENT batch boundaries while the stale
    partitions remain, and the read-time merge sums across all of
    them — silent double-counting for the additive sketch families
    (topn, CMS) this sink exists to protect. Same refuse-loudly-with-
    migration-guidance idiom as ``_guard_old_layout``; cost is one
    listStatus, and only on batch 0."""
    if batch_id != 0:
        return
    jvm = spark._jvm
    run_dir = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/run_id={run_id}")
    fs = run_dir.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(run_dir):
        return
    for st in fs.listStatus(run_dir):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b > 0:
                raise ValueError(
                    f"rollup path {path} already holds batch_id={b} "
                    f"under run_id={run_id}, but this stream is writing "
                    "batch 0 — the streaming checkpoint was reset or "
                    "deleted. Replaying history against the existing "
                    "partitions double-counts additive sketch rollups "
                    "(batch boundaries need not line up). Wipe this "
                    "run_id's partitions along with the checkpoint, or "
                    "restart with a fresh checkpoint AND rollup path."
                )


def _replay_safe_append(
    sk: DataFrame,
    path: str,
    run_id: str,
    batch_id: int,
    partition_by: Sequence[str] = (),
) -> None:
    """Idempotent per-batch sink write. ``foreachBatch`` is
    AT-LEAST-ONCE (a crash between the sink write and the checkpoint
    commit re-runs the batch): a plain ``append`` would land a SECOND
    copy of the replayed batch's sketch rows, and while idempotent
    families (HLL/KMV/Bloom) absorb that at read-time union, ADDITIVE
    families (topn, CMS) double-count — silently wrong merged results
    on exactly the crash path streaming exists to survive. Writes are
    therefore keyed by (run_id, batch_id) with dynamic partition
    overwrite: a retry rewrites its own partition and nothing else.
    Readers are unaffected (the rollup merges group over the sketch
    rows; run_id/batch_id ride along as partition columns, and time
    partitions in `partition_by` still prune).

    NOTE a checkpoint RESET (deleting the checkpoint dir) reprocesses
    history under possibly-different batch boundaries — wipe the
    rollup with it, same as any foreachBatch sink. Forgetting that is
    caught at the first write: ``_guard_checkpoint_reset`` refuses a
    batch-0 write over existing batch_id>0 partitions of the same run.

    Dynamic overwrite is requested via the PER-WRITE DataFrameWriter
    option (takes precedence over the session conf) rather than a
    set/restore of the session-global conf: two concurrent streaming
    queries sharing one SparkSession would otherwise race — one
    query's finally-restore to 'static' landing mid-flight in the
    other's overwrite TRUNCATES that rollup path entirely."""
    _guard_old_layout(sk.sparkSession, path)
    _guard_checkpoint_reset(sk.sparkSession, path, run_id, batch_id)
    out = sk.withColumn("run_id", F.lit(run_id)).withColumn(
        "batch_id", F.lit(batch_id)
    )
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("run_id", "batch_id", *partition_by).parquet(path)


def stream_topn_rollup(
    stream_df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    *,
    rollup_path: str,
    checkpoint_path: str,
    counters: int | None = None,
    out_col: str = "topn",
    trigger_available_now: bool = False,
):
    """The incremental-rollup pattern (README.md:73-116) on a stream:
    every micro-batch computes exact batch-local sketches (Tier-1
    ``topn_add_agg``) and lands them in the parquet rollup at
    *rollup_path*, keyed by (run_id, batch_id) with dynamic partition
    overwrite so a REPLAYED batch rewrites its own partition instead
    of double-counting (see ``_replay_safe_append`` — topn deltas are
    additive, so at-least-once appends are not safe for this family).
    Merging happens at read time; sketch-delta merge is associative,
    so restarts/late batches are safe.

    Returns the started StreamingQuery.
    """
    from postgresql_topn_spark.functions.aggregates import topn_add_agg

    counters = resolve_counters(counters, stream_df.sparkSession)
    rid = _run_id(checkpoint_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk = topn_add_agg(batch_df, group_cols, item, counters=counters, out_col=out_col)
        # sketches at rest as JSON text (parquet-friendly, engine-portable)
        # in the reference's jsonb key order, like the batch rollup writers
        _replay_safe_append(
            sk.withColumn(out_col, sketch_to_json(F.col(out_col))),
            rollup_path,
            rid,
            batch_id,
        )

    writer = stream_df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    stream_df: DataFrame,
    key: Column | str,
    *,
    watermark: tuple[str, str] | None = None,
    key_col: str = "content_key",
) -> DataFrame:
    """Streaming exact deduplication: emit only the first row seen per
    content key (e.g. ``F.md5('text')`` or ``fingerprint_md5`` — the
    streaming twin of :func:`operators.dedup.exact_dedup`).

    Without a watermark, ``dropDuplicates`` keeps one state row per
    distinct key forever — exact, but state grows with corpus
    cardinality. With ``watermark=(ts_col, delay)`` it uses
    ``dropDuplicatesWithinWatermark``: keys older than the watermark
    delay are evicted from the state store, so state is bounded by the
    key arrival rate x delay window — the only shape that survives an
    unbounded 100 TB/day stream. (Duplicates arriving later than the
    delay window re-emit; pick the delay from the dedup-relevance
    horizon, not from memory limits — RocksDB state backing scales past
    executor memory.)"""
    keyed = stream_df.withColumn(key_col, _col(key))
    if watermark is not None:
        ts_col, delay = watermark
        return keyed.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            [key_col]
        )
    return keyed.dropDuplicates([key_col])


def read_topn_rollup(
    spark,
    rollup_path: str,
    group_names: Sequence[str],
    *,
    counters: int | None = None,
    out_col: str = "topn",
    allow_multiple_runs: bool = False,
) -> DataFrame:
    """Query-time merge of an appended rollup: parse the JSON sketches
    and ``topn_union_agg`` per group (the read side of
    :func:`stream_topn_rollup`).

    The merge sums over ALL partitions, so a rollup holding more than
    one ``run_id=`` raises by default (VERDICT r12 item 2): multiple
    runs normally mean a stream restarted WITHOUT a durable checkpoint
    (each process start mints a fresh run id and replays the input
    from scratch), and summing the runs double-counts every event the
    runs share. Callers that genuinely shard one logical rollup across
    runs with disjoint inputs pass ``allow_multiple_runs=True``. The
    check is a directory listing — no data is read."""
    from postgresql_topn_spark.functions.aggregates import topn_union_agg

    if not allow_multiple_runs:
        try:
            runs = [n for n in child_dirs(spark, rollup_path) if n.startswith("run_id=")]
        except FileNotFoundError:  # the read below names the missing path
            runs = []
        if len(runs) > 1:
            raise ValueError(
                f"rollup at {rollup_path} holds {len(runs)} runs "
                f"({sorted(runs)[:4]}...): merging across runs "
                "double-counts events the runs share (typically a "
                "restart without a durable checkpoint replaying the "
                "input under a fresh run_id). Keep only the "
                "authoritative run's partitions, or pass "
                "allow_multiple_runs=True if the runs genuinely "
                "hold disjoint inputs."
            )
    raw = spark.read.parquet(rollup_path).withColumn(
        out_col, F.from_json(F.col(out_col), "map<string,bigint>")
    )
    return topn_union_agg(raw, list(group_names), out_col, counters=counters, out_col=out_col)


def stream_session_stats(
    events,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Streaming gap-based sessionization with Spark's NATIVE
    ``session_window`` (dynamic-gap windows merged by the engine's
    streaming state store): per-(user, session) event counts and exact
    start/end bounds, emitted once the watermark passes the session's
    close. This is the streaming twin of operators/sessions.sessionize
    (same 30-minute-gap semantics); batch==stream equivalence on a
    finite input is pinned in tests/test_streaming.py.

    At scale: state is per-open-session (bounded by the watermark
    horizon), keys partition by user — no global state, no reducer
    hot spot beyond organic user skew."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), w)
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("first_event"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("win_start"),
            F.col("session_window.end").alias("win_end"),
            "n_events",
            "first_event",
            "last_event",
        )
    )


def stream_distinct_rollup(
    events,
    path: str,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    lg_k: int = 12,
    checkpoint: str | None = None,
):
    """Streaming mergeable distinct-count rollup: each micro-batch
    appends per-(day, event_type) HLL sketches to a partitioned parquet
    rollup (foreachBatch — exactly the incremental-sink shape of
    stream_topn_rollup). Readers merge day sketches with
    functions/distinct.hll_union_rollup for any interval's distinct
    users without touching raw events; batch-level sketches union
    LOSSLESSLY, so landing per-batch sketches is semantically the
    same rollup a batch job would write. Writes are replay-safe
    ((run_id, batch_id) dynamic overwrite — HLL union would absorb a
    duplicate batch anyway, but the sink contract is uniform across
    families; day stays a partition column for pruned reads)."""
    from postgresql_topn_spark.functions.distinct import hll_add_agg

    rid = _run_id(checkpoint)

    def write_batch(batch_df, batch_id: int) -> None:
        day = F.to_date(F.col(ts_col)).alias("day")
        sk = hll_add_agg(
            batch_df.where(F.col(type_col).isNotNull()),
            [day, F.col(type_col)],
            user_col,
            lg_k=lg_k,
        )
        _replay_safe_append(sk, path, rid, batch_id, partition_by=("day",))

    writer = events.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_sketch_rollup(
    stream_df,
    path: str,
    build_fn,
    *,
    partition_by: Sequence[str] = (),
    checkpoint: str | None = None,
):
    """Streaming incremental maintenance for ANY mergeable-sketch
    family: each micro-batch runs `build_fn(batch_df)` (a bound
    kmv_add_agg / cms_add_agg / bloom_add_agg / hll_add_agg — anything
    returning per-group sketch rows) and lands the result in the
    parquet rollup at `path`, keyed by (run_id, batch_id) with dynamic
    partition overwrite (``_replay_safe_append``). Correctness rests
    on each family's merge law, already pytest-pinned per family:
    distinct/membership sketches (HLL, KMV, Bloom) merge by idempotent
    union, so the same user seen in two batches collapses at read-time
    merge; counting sketches (CMS, topn) merge additively, and the
    replay-keyed write guarantees every event's batch lands EXACTLY
    once even though foreachBatch only promises at-least-once — a
    plain append double-counted a replayed batch for these families.
    Either way, the landed per-batch sketches merged at read time
    equal the sketch a batch job would build over the whole history —
    the reference's rollup-table pattern (README.md:73-116) running
    continuously.

    Readers use the family's `*_union_rollup` over the parquet rows
    (partition-pruned when `partition_by` carries the time grain).
    Returns the DataStreamWriter (caller picks trigger/start)."""
    rid = _run_id(checkpoint)

    def write_batch(batch_df, batch_id: int) -> None:
        _replay_safe_append(
            build_fn(batch_df), path, rid, batch_id, partition_by=partition_by
        )

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def kmv_streaming_state(
    stream_df,
    group_cols: Sequence,
    item,
    *,
    k: int = 64,
    out_col: str = "kmv",
):
    """Continuously-maintained per-group KMV distinct sketches over a
    stream (applyInPandasWithState): state per key is the k smallest
    md5-60bit item hashes — BOUNDED at k longs regardless of stream
    cardinality, updated by set-union + truncate each micro-batch
    (bottom-k union is idempotent AND lossless, so replays/duplicate
    deliveries cannot corrupt the sketch). Each trigger emits the
    refreshed sorted array; feed it to functions/kmv.kmv_estimate /
    kmv_intersect_estimate at read time for continuous distinct counts
    and cross-group overlap. Output mode: update.

    The hash matches functions/kmv.kmv_hash exactly (same md5-60bit
    form), so a streaming-built sketch equals the batch kmv_add_agg
    sketch over the same rows — pinned in tests/test_streaming.py."""
    import hashlib

    gnames, gexprs = _group_keys(group_cols)
    src = stream_df.select(
        *gexprs,
        _col(item).cast("string").alias("__item"),
    )
    out_schema = _group_ddl(src, gnames) + f"{out_col} array<bigint>"
    state_schema = "mins array<bigint>"

    def update(key, batches, state):
        mins = set()
        if state.exists:
            (stored,) = state.get
            mins.update(stored)
        for pdf in batches:
            for it in pdf["__item"]:
                if it is None or (isinstance(it, float) and pd.isna(it)):
                    continue
                h = int(hashlib.md5(it.encode("utf-8")).hexdigest()[:15], 16)
                mins.add(h)
        kept = sorted(mins)[:k]
        state.update((kept,))
        row = dict(zip(gnames, key))
        row[out_col] = kept
        yield pd.DataFrame([row])

    out = src.groupBy(*gnames).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return out if group_cols else out.drop("__gall")


def stream_bloom_dedup(
    stream_df,
    key,
    *,
    out_path: str,
    bloom_path: str,
    m_bits: int = 1 << 20,
    depth: int = 3,
    checkpoint: str | None = None,
    key_col: str = "content_key",
    keep_versions: int = 2,
):
    """Streaming dedup against ALL history in FIXED memory: a single
    Bloom filter (m_bits/8 bytes, total) accumulates every key ever
    admitted; each micro-batch (1) drops rows whose key probes present
    (definitely-new rows never drop — no false negatives), (2) dedups
    within the batch (first row per key; NULL keys are dropped outright
    — they cannot be deduplicated against a filter), (3) writes
    survivors under ``out_path/batch_id=N`` and ORs their keys into a
    NEW filter version at ``bloom_path/v=N``.

    Crash/replay safety (foreachBatch is at-least-once, never assume
    exactly-once):
    - output is keyed by batch_id with dynamic partition OVERWRITE, so
      a replayed batch rewrites its own partition instead of appending
      duplicates;
    - the filter is a versioned table (``sources.maintenance.
      versioned_rewrite``: monotonic ``v=K`` dirs, committed only when
      their ``_COMMITTED`` marker exists), never swapped in place: a
      replayed batch reads the latest committed version
      (``current_table_path``) and writes a fresh one whose content is
      identical (OR-ing the same keys is idempotent), a half-written
      version is invisible and swept by the next commit, version
      numbering is independent of batch ids so history survives
      checkpoint resets, and there is no rename window that can destroy
      accumulated history. Older versions are pruned best-effort after
      a successful write (``keep_versions``, minimum 2 so the version a
      replay must re-read is never deleted).
    - all filesystem ops go through the Hadoop FileSystem API, so any
      Spark-supported scheme (file/hdfs/s3a/...) works.

    Contrast the engine alternatives: `dropDuplicates` state grows with
    distinct-key cardinality forever; `dropDuplicatesWithinWatermark`
    bounds state by FORGETTING old keys (late duplicates re-admit).
    The Bloom trades the opposite way — it never forgets, never grows,
    and the price is a known false-POSITIVE rate ((set-bit
    fraction)^depth): a fresh row can be wrongly dropped. That trade is
    the right one for corpus ingestion (a rare lost fresh doc is cheap;
    a duplicate slipped into training data is not), and the rate is
    sized by m_bits against expected corpus cardinality.

    Returns the DataStreamWriter (caller picks trigger/start)."""
    if keep_versions < 2:
        # pruning the version a replayed batch would need to re-read
        # destroys history on the crash path this design exists for
        raise ValueError(f"keep_versions must be >= 2, got {keep_versions}")
    from postgresql_topn_spark.functions.bloom import (
        bloom_add_agg,
        bloom_merge,
        bloom_might_contain,
    )
    from postgresql_topn_spark.sources.maintenance import (
        current_table_path,
        versioned_rewrite,
    )

    # Output rows are namespaced by a run id (_run_id): a replayed batch
    # overwrites its own partition, and a fresh run's batch 0 cannot
    # dynamic-overwrite an old run's batch-0 partition. The old run's
    # output stays put and the shared filter still dedups across runs.
    run_id = _run_id(checkpoint)

    def write_batch(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keyed = batch_df.withColumn(key_col, _col(key)).where(
            F.col(key_col).isNotNull()
        )
        current = current_table_path(spark, bloom_path)
        have_filter = current is not None
        if have_filter:
            fdf = spark.read.parquet(current)
            # geometry guard: probing a stored filter with different
            # m_bits/depth silently corrupts dedup in BOTH directions
            # (fresh rows wrongly dropped forever, or historical keys
            # re-admitted) — refuse loudly instead (review pin).
            # Filters written before the metadata columns skip the
            # check (back-compat).
            if "m_bits" in fdf.columns:
                meta = fdf.select("m_bits", "depth").head()
                if meta and (meta["m_bits"], meta["depth"]) != (m_bits, depth):
                    raise ValueError(
                        f"bloom filter at {bloom_path} was built with "
                        f"m_bits={meta['m_bits']}, depth={meta['depth']} "
                        f"but this stream was configured with "
                        f"m_bits={m_bits}, depth={depth}; changing "
                        "filter geometry against existing history "
                        "corrupts dedup — use a fresh bloom_path"
                    )
            # the filter column gets a private name so an input stream
            # that itself carries a 'bloom' column cannot collide
            seen = fdf.select(F.col("bloom").alias("__bloom_filter"))
            fresh = keyed.crossJoin(F.broadcast(seen)).where(
                ~bloom_might_contain(
                    "__bloom_filter", key_col, m_bits=m_bits, depth=depth
                )
            ).drop("__bloom_filter")
        else:
            seen = None
            fresh = keyed
        fresh = (
            fresh.dropDuplicates([key_col])
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(batch_id))
        )
        fresh.persist()
        try:
            if fresh.isEmpty():
                # an all-duplicates batch leaves the filter untouched
                return
            # replay-idempotent: a re-run of batch N overwrites ONLY
            # its own (run_id, batch_id) partition. Per-write option,
            # not the session conf — see _replay_safe_append (two
            # concurrent streams sharing a session must not race on
            # the global overwrite mode). Same hive layout as
            # _replay_safe_append ⇒ same old-layout foot-gun: refuse
            # to mix with a pre-replay-safe flat-append sink.
            _guard_old_layout(spark, out_path)
            fresh.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("run_id", "batch_id").parquet(out_path)
            delta = bloom_add_agg(
                fresh.select(key_col), [], key_col, m_bits=m_bits, depth=depth
            ).select("bloom")
            if have_filter:
                # reuse the already-read filter; a replayed batch merges
                # the same keys again, which OR makes a no-op
                merged = delta.crossJoin(F.broadcast(seen)).select(
                    bloom_merge("bloom", "__bloom_filter").alias("bloom")
                )
            else:
                merged = delta
            versioned_rewrite(
                merged.select(
                    "bloom",
                    F.lit(m_bits).alias("m_bits"),
                    F.lit(depth).alias("depth"),
                ).coalesce(1).write.mode("overwrite").parquet,
                bloom_path,
                spark,
                keep_versions=keep_versions,
            )
        finally:
            fresh.unpersist()

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_score_documents(
    stream_docs: DataFrame,
    model: DataFrame,
    *,
    out_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: "Column | str" = "text",
    n_buckets: int = 4096,
    bigrams: bool = True,
    min_prob: "float | None" = None,
    trigger_available_now: bool = False,
):
    """Streaming quality curation — score every ingest micro-batch
    under a TRAINED classifier (operators/classifier.lr_train's
    persisted n_buckets+1-row model) and APPEND the per-document
    (id, z_micro, prob) verdicts to a parquet sink, optionally
    filtered at ``min_prob`` (the curated-intake form: crawl lands on
    the stream, only head-quality rows reach the corpus).

    Stream == batch by construction: a document's score depends only
    on its own text and the STATIC model (lr_score has no cross-doc
    state), so the union of per-batch outputs equals scoring the whole
    corpus in one batch — the same batch-split invariance contract the
    sketch rollups here carry, pinned in test_streaming.py. Replay
    safety follows the rollup sinks' story: verdicts land keyed by
    (run_id, batch_id) with dynamic partition overwrite
    (``_replay_safe_append``), so a replayed batch rewrites its own
    partition and readers never see duplicate verdict rows.

    100 TB/day shape: per batch, the model broadcast-joins the
    exploded feature stream and one doc-keyed agg closes it — the
    batch never shuffles on anything wider than its own ids. The
    model frame should be a persisted small table (read once,
    broadcast every batch), not a live recomputation.

    Returns the started StreamingQuery."""
    from postgresql_topn_spark.operators.classifier import lr_score

    rid = _run_id(checkpoint_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = lr_score(
            batch_df,
            model,
            id_col=id_col,
            text_col=text_col,
            n_buckets=n_buckets,
            bigrams=bigrams,
        )
        if min_prob is not None:
            scored = scored.where(F.col("prob") >= float(min_prob))
        _replay_safe_append(scored, out_path, rid, batch_id)

    writer = stream_docs.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
