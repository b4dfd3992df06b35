"""Trained quality classifier — the GPT-3 / LLaMA / RefinedWeb
"quality filter" stage: a logistic-regression classifier over hashed
n-gram features, trained to separate a REFERENCE ("high-quality")
corpus from the raw pool, then used to score every document (GPT-3
trained LR against WebText/Wikipedia/Books positives and Common Crawl
negatives; LLaMA and RefinedWeb run the same shape with fastText).
This is the supervised sibling of DSIR (operators/dsir.py): DSIR
derives per-document importance WEIGHTS from two bag-of-ngram
multinomials; the classifier fits a DISCRIMINATIVE boundary by
gradient descent and emits a calibrated probability.

Features are MEAN-NORMALIZED (the fastText form): each document's
feature vector is its bucket-count distribution, not raw counts —
``m(d,i) = round(cnt(d,i) * 1e6 / n_feats(d))`` in integer micro
units, so every document carries ~1e6 total feature mass regardless
of length. This is what keeps full-batch GD well-conditioned: with
RAW counts a 600-gram document multiplies every weight 600x and
three lr=0.5 steps drive |z| to tens of nats — every probability
saturates to 0/1 and the "calibrated" output is a step function (the
first cut of this module did exactly that; the sf0.01 gate corpus,
whose labels are near-independent of the text, came back with every
prob < 0.01 instead of near the 0.44 base rate).

The whole training loop is distributed AND deterministic — the
fixed-point discipline the repo's oracles depend on, applied to
gradient descent:

- features: the exact DSIR feature space (word unigrams + bigrams,
  md5-60bit mod n_buckets) — scan-stage explode, one hash-agg to
  per-doc counts, one more double op for the micro-mean mass
  ``m = round(cnt * 1e6 / n_feats)``; integers thereafter.
- forward pass: ``z_micro = b_micro + round(sum(m * w_micro) / 1e6)``
  — the sum is EXACT INTEGER (weights live in integer micro-units),
  the division one double op on an exact integer, so the logit is
  summation-order independent. The only other float step is
  ``p = 1/(1+exp(-clamp(z_micro/1e6)))`` — one fixed expression
  evaluated per-row identically by any IEEE engine (the clamp to
  +/-30 keeps exp out of the denormal range); the residual is
  immediately re-fixed-pointed: ``r_micro = round((p - y) * 1e6)``.
- gradient: per-(doc, bucket) term ``t = round(m * r_micro / 1e6)``
  (re-fixed-pointed so the bucket sum ``g(i) = sum_docs(t)`` stays
  exact-integer AND int64-safe at any corpus size: |t| <= 1e6, so a
  billion-document gradient is ~1e15, nowhere near overflow — the
  raw product ``m * r`` is ~1e12 per doc and would overflow the
  bucket sum past ~1e7 docs). Alongside it, ``M(i) = sum_docs(m)`` —
  the feature's total observed mass (same exact-integer agg).
- update: DIAGONALLY PRECONDITIONED descent —
  ``w' = w - round(lr * g / M * 1e6)``: each coordinate's step is its
  feature-mass-weighted MEAN residual, not the n-normalized sum. Raw
  full-batch GD is hopelessly scaled here: a feature direction's
  curvature is ~||m||^2 ~ 1/n_distinct_buckets of the bias's, so any
  lr that moves the weights stalls or oscillates the bias (measured:
  lr=100 flips every probability 0 -> 1 between iterations — the
  bias diverging — while lr=2 moves mean separation 0.03 in 40
  rounds). Normalizing by M gives every coordinate the bias's own
  classic rule (the bias IS the mass-1 feature: M = n recovers
  ``lr * sum(r) / n`` exactly), and with mean-normalized features
  the preconditioned curvature is <= 1/4 per coordinate, so lr <= 2
  is stable for ANY corpus; default lr = 1. The division is one
  double expression over exact integers in a fixed parenthesization,
  rounded back to integer micro-units. After every iteration the
  entire model state is integers, so T unrolled iterations replay
  bit-for-bit in ANSI SQL (the gate's DuckDB oracle does exactly
  that).

100 TB shape: per iteration, ONE doc-keyed hash-agg (the logit sum)
and ONE bucket-keyed hash-agg (the gradient, key space <= n_buckets),
both map-side combined. The model state (n_buckets+1 integers — a
bounded driver object BY CONSTRUCTION, like any broadcast side) is
held on the driver between iterations and folded into each
iteration's plan as a dense literal array, so the logit sum is a
scan-stage O(1) lookup — no weight-table broadcast build, no
per-iteration lineage cut, and no model-state shuffle at any corpus
size. The weight/bias UPDATE runs in driver Python over the
collected gradient rows, keeping the distributed form's exact float
parenthesization and the pinned shortest-repr HALF_UP rounding rule
(`_round_half_up_py`) — so every arithmetic step produces the same
IEEE doubles and the same integers as the frame form, bit-for-bit,
which is what the unrolled-SQL oracle pins (r14, ADVICE r13: this
paragraph previously described a Catalyst-LocalRelation evaluation
that the r13 rewrite replaced). The
feature frame is computed once, lineage-cut (localCheckpoint by
default; pass ``checkpoint_dir`` for reliable shared-storage cuts
that survive executor loss — see operators/checkpointing.py), and
pre-partitioned by training identity so each iteration's doc-keyed
agg and gradient join reuse one exchange (guide-of-record: remove
shuffles outright). T iterations cost T bounded aggs — no Python
stages, no driver-side CORPUS data, no global sort. Model size is
fixed at n_buckets+1 rows regardless of corpus size.

Reference-parity note: this module is beyond the reference's own
surface (citusdata/postgresql-topn is the sketch engine; SURVEY.md
mandates the LLM-pipeline operators as first-class additions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from postgresql_topn_spark.conf import LR_PARTITION_BYTES, knob
from postgresql_topn_spark.functions.sketch import _col
from postgresql_topn_spark.operators.dsir import (
    _bucket,
    hashed_ngrams,
)
from postgresql_topn_spark.sources.tables import input_bytes

_MICRO = 1_000_000
# |z|/1e6 is clamped here before exp(): sigmoid saturates to within
# 1e-13 of {0,1} by +/-30, and keeping exp() in a sane range avoids
# engine-dependent denormal handling.
_Z_CLAMP = 30.0

# Reserved model rows (md5 buckets are non-negative): -1 bias,
# -2/-3 the embedded (n_buckets, bigrams) feature-space parameters —
# the part of the model that must survive persistence for lr_score's
# mismatch validation to keep working on reloaded models.
_PARAM_NBUCKETS_ROW = -2
_PARAM_BIGRAMS_ROW = -3

# Bucket spaces up to this size ride the plan as a dense literal array
# (8 bytes/bucket: 64k buckets = 512 KB in the task closure — broadcast
# territory, fine); past it the weight table goes back to the broadcast
# hash join form. Both forms compute identical integer sums.
_INLINE_WEIGHTS_MAX = 1 << 16


def _round_half_up_py(x: float) -> int:
    """Integer HALF_UP rounding of a double, bit-identical to Spark's
    ``round(double, 0)``: both go through the SHORTEST round-trip
    decimal repr (Scala BigDecimal(double) = Double.toString; Python
    repr) before rounding — the established parity rule
    (text.py `_rep_signals_py`, sketch_state.weight_to_long; pinned in
    tests/test_gopher.py with the boundary-fraction probe)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _weight_lookup(w_map: "dict[int, int]", n_buckets: int) -> Column:
    """O(1) scan-stage weight lookup: the (bucket -> w_micro) state as a
    DENSE literal array indexed by bucket (absent/NULL weights read 0 —
    exactly the ``coalesce(w_micro, 0)`` the join form applies). Only
    valid for n_buckets <= _INLINE_WEIGHTS_MAX; md5 buckets are always
    in [0, n_buckets), so the lookup cannot miss."""
    dense = [0] * n_buckets
    for b, v in w_map.items():
        if 0 <= b < n_buckets and v is not None:
            dense[b] = int(v)
    # Ship the whole array as ONE string literal and let Catalyst's
    # ConstantFolding produce the literal array (split+cast are
    # foldable, so the OPTIMIZED plan is the identical literal — plan-
    # verified). Neither of the obvious forms is one py4j call in this
    # PySpark: per-element F.array(F.lit(v)...) is two round trips per
    # bucket (~2 s at 512 buckets, measured r13 session 1) and even
    # F.lit(list) LOOKS like one call but maps lit() over the elements
    # internally (builtin.py `<listcomp>` — cProfile showed ~0.35 s per
    # 512-bucket lookup, ~1 s per trained gate). The string form is a
    # 3-node expression regardless of n_buckets (~30 ms incl.
    # analysis); string->bigint cast is exact over the full int64
    # range (pinned in test_classifier).
    arr = F.split(F.lit(",".join(map(str, dense))), ",").cast(
        "array<bigint>"
    )
    return F.element_at(arr, F.col("bucket").cast("int") + F.lit(1))


def lr_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: Column | str = "text",
    *,
    n_buckets: int = 4096,
    bigrams: bool = True,
    _pre_partition: "int | None" = None,
) -> DataFrame:
    """(id, bucket, cnt, m) hashed-ngram features — the shared
    representation of `lr_train` / `lr_score` (the feature space is
    DSIR's: word unigrams + bigrams, md5-60bit mod n_buckets). ``cnt``
    is the raw multinomial count; ``m`` is the MEAN-NORMALIZED micro
    mass ``round(cnt * 1e6 / n_feats)`` (n_feats = the document's
    total gram count), so every document carries ~1e6 total mass —
    the fastText-style conditioning the GD loop needs. One scan-stage
    explode + one hash-agg (n_feats rides the group keys: it is a
    scan-stage expression, constant per document); 'bucket'/'cnt'/'m'
    are reserved output names (the dsir_bucket_counts convention).

    ``_pre_partition`` (internal): hash-partition the exploded gram
    stream by the id column into that many partitions BEFORE the count
    aggregate. The agg then needs no exchange of its own (id
    clustering subsumes the (id, bucket) grouping) and the OUTPUT
    stays hash-partitioned by id — so a caller that immediately groups
    or joins per id (lr_train's GD loop, lr_score's logit sum) reuses
    this one exchange instead of adding another. Values are
    partition-invariant; this only moves the shuffle."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if id_col in ("bucket", "cnt", "m"):
        raise ValueError(
            f"id_col may not be a reserved output name ({id_col!r})"
        )
    grams = hashed_ngrams(text_col, bigrams=bigrams)
    # spread a starved single-file scan BEFORE the gram projection:
    # tokenize + md5-per-gram is the per-row hot leg and otherwise
    # runs at the scan's task count (ONE for the small-SF fixtures);
    # no-op whenever the scan already splits, and for cut/persisted
    # inputs (no file scan to inspect)
    from postgresql_topn_spark.operators.dedup import spread_small_scan

    docs = spread_small_scan(docs, docs)
    # materialize the gram array in its own projection BELOW the
    # generator: referencing the array expression alongside explode()
    # makes Spark rebuild the whole array per EXPLODED row (the
    # projection collapses into the Generate output — measured 35s vs
    # 1.5s on 536k grams at sf0.1); a named column under the Generate
    # node is built once per document
    stream = (
        docs.select(_col(id_col).alias(id_col), grams.alias("__g"))
        .select(
            id_col,
            F.size("__g").cast("long").alias("__nf"),
            F.explode("__g").alias("__f"),
        )
        .select(
            id_col, "__nf", _bucket(F.col("__f"), n_buckets).alias("bucket")
        )
    )
    if _pre_partition is not None:
        stream = stream.repartition(int(_pre_partition), id_col)
    return (
        stream.groupBy(id_col, "bucket", "__nf")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            id_col,
            "bucket",
            "cnt",
            F.round(
                F.col("cnt").cast("double")
                * F.lit(float(_MICRO))
                / F.col("__nf").cast("double"),
                0,
            )
            .cast("long")
            .alias("m"),
        )
    )


def _train_parts(train: DataFrame) -> int:
    """Working-set partition count for the GD loop, derived from the
    training input's file bytes instead of taken verbatim from the
    session conf (guide §2.2 — make partitioning scale-adaptive, the
    `adaptive_stream_partitions` pattern): explicit
    ``repartition(n, key)`` is invisible to AQE coalescing, so a
    conf-sized count fans a KB-scale training corpus into
    conf-many near-empty cached partitions and every one of the
    iterations' scan/join stages pays conf-many task dispatches for
    microseconds of compute (measured: 3-iteration lr_train at sf0.1
    median 4.10 s at 32 partitions vs 2.77 s at 4; 1 partition is
    SLOWER again — the per-round compute serializes — so the floor
    derivation matters as much as the cap).

    ``ceil(input_bytes / spark.topn.lr.partitionBytes)`` clamped to
    ``[1, spark.sql.shuffle.partitions]``. The knob (default 128 KiB)
    is COMPRESSED input bytes per partition — the exploded gram
    working set runs ~an order of magnitude larger in memory, so the
    default keeps a few MB of working set per task. The session conf
    stays the SCALE lever: any real corpus hits the cap and trains at
    cluster-sized parallelism — only toy inputs shrink, which is
    precisely the AQE-coalescing behavior an explicit repartition
    lacks. Cut/cached inputs (no scan files) and unknown sizes fall
    back to the conf count — the prior behavior, and at cluster scale
    the right one."""
    spark = train.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    total = input_bytes(train)
    if total is None:
        return cap
    per_part = knob(spark, LR_PARTITION_BYTES)
    return max(1, min(cap, -(-total // per_part)))


def _sigmoid(z_micro: Column) -> Column:
    z = F.greatest(
        F.lit(-_Z_CLAMP),
        F.least(F.lit(_Z_CLAMP), z_micro.cast("double") / F.lit(float(_MICRO))),
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def lr_train(
    pos: DataFrame,
    neg: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: Column | str = "text",
    n_buckets: int = 4096,
    iters: int = 3,
    lr: float = 1.0,
    bigrams: bool = True,
    checkpoint_dir: "str | None" = None,
    share_features: bool = False,
) -> DataFrame:
    """Train the classifier: `pos` is the reference ("high-quality")
    corpus, `neg` the raw pool sample. Full-batch gradient descent
    from a zero init, `iters` rounds at step size ``lr/n`` (per-doc
    normalized). Returns the model as (bucket, w_micro) with the BIAS
    stored at bucket = -1 and the feature-space parameters embedded at
    buckets -2/-3 (md5 buckets are non-negative, so negatives are
    free) — one bounded table, ready to persist and reuse across
    scoring runs like DSIR's model; `lr_score` validates the embedded
    parameters even on a model reloaded from storage, where a
    Python-side tag would have been lost.

    ``lr`` is in NATS under the mass preconditioner (module
    docstring): every coordinate's step is lr x its mass-weighted
    mean residual, so lr=1 moves a cleanly-separating feature's
    weight ~0.5 nats on the first round and lr <= 2 is stable for
    any corpus (preconditioned curvature <= 1/4).

    The frames may share document ids (training identity is
    (label, id)); a document present in BOTH frames contributes one
    positive and one negative example — dedup upstream if that is not
    intended. Zero-token documents still train the bias (their logit
    is the bare bias term), matching what the scorer does to them;
    NULL-id documents behave the same way (a NULL training identity
    joins no features, so they contribute to the bias gradient only —
    they are counted in n, not silently dropped).

    No regularization / early stopping: full-batch GD on a convex
    loss with a fixed iteration count is the deterministic-replay
    form; at production scale the same loop runs on a deterministic
    subsample of each corpus (`deterministic_sample`) — the model is
    n_buckets rows either way.

    The returned frame is tagged (Python-side) with
    (n_buckets, bigrams); `lr_score` validates the tag so a model
    can't silently be scored in the wrong feature space (the DSIR
    model-tag convention).

    Every GD iteration cuts lineage at its (w, b) state — otherwise
    iteration k's plan embeds iterations 1..k-1 and a re-executed
    branch replays the whole history. ``checkpoint_dir=None`` cuts
    with executor-local blocks (fastest; lost on executor death);
    pass an HDFS/S3 path for RELIABLE cuts — iteration state then
    persists to shared storage and a failed executor recomputes
    nothing upstream (operators/checkpointing.py; the
    `connected_components` plumbing applied to the training loop).
    Superseded iteration state is released as the loop advances, but
    the RETURNED model keeps reading the two FINAL w/b cut dirs —
    their paths are exposed as ``model._lr_cut_paths`` so callers can
    `release_cut` both once the model is persisted elsewhere
    (`sweep_cuts` reaps them otherwise).

    ``share_features=True`` additionally hands the TRAINING feature
    table — (__tid, bucket, m), keyed by the "y:<id>" training
    identity — back on the model as ``model._lr_feats``, materialized
    as its own lineage cut (an eager localCheckpoint copied from the
    still-cached working set; in reliable mode the existing parquet
    feats cut, whose path then also rides ``_lr_cut_paths`` for
    reclamation instead of being released here). Training itself is
    unchanged. This exists so a caller that scores EXACTLY pos ∪ neg
    afterwards can skip re-featurizing the corpus — see
    `lr_shared_features` / `lr_score(features=...)` (guide-of-record:
    compute each corpus pass once)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if lr <= 0:
        raise ValueError(f"lr must be positive, got {lr}")

    def _labeled(df: DataFrame, y: int) -> DataFrame:
        return df.select(
            F.concat(
                F.lit(f"{y}:"), _col(id_col).cast("string")
            ).alias("__tid"),
            F.lit(y).alias("__y"),
            _col(text_col).alias("__text"),
        )

    from postgresql_topn_spark.operators.checkpointing import (
        release_cut,
        stage_cut,
    )

    def _cut(df: DataFrame) -> DataFrame:
        return stage_cut(df, checkpoint_dir)

    spark = pos.sparkSession
    # one exchange, reused by every iteration's doc-keyed agg AND its
    # gradient join (r13: both frames land hash-partitioned by training
    # identity with a PINNED partition count, so the per-iteration
    # groupBy/join reuse the cut's partitioning instead of re-shuffling
    # the feature table twice per iteration); the count is derived
    # from the input bytes with the session's scale knob as the CAP
    # (_train_parts), so it sizes with the corpus, not this box
    train = _labeled(pos, 1).unionByName(_labeled(neg, 0))
    n_parts = _train_parts(train)
    # Both working frames land hash-partitioned AND sorted by training
    # identity, so every iteration's doc-keyed agg and its gradient
    # join run exchange-free and sort-free against the materialized
    # blocks. In local mode they ride persist() — an InMemoryRelation
    # PRESERVES partitioning/ordering where a localCheckpoint
    # LogicalRDD reports UnknownPartitioning (plan-verified) — and the
    # r8 persist objection (clobbering a CALLER's cache) does not
    # apply: these are operator-internal frames, fully consumed before
    # lr_train returns, and unpersisted on exit now that the model
    # state is driver-held. Reliable mode keeps parquet cuts.
    examples = (
        train.select("__tid", "__y")
        .repartition(n_parts, "__tid")
        .sortWithinPartitions("__tid")
    )
    feats = (
        lr_features(
            train,
            "__tid",
            "__text",
            n_buckets=n_buckets,
            bigrams=bigrams,
            _pre_partition=n_parts,
        )
        # training touches only (__tid, bucket, m) — project the raw
        # count away so the cached rows are one long narrower
        .select("__tid", "bucket", "m")
        .sortWithinPartitions("__tid")
    )
    if checkpoint_dir is None:
        examples = examples.persist()
        feats = feats.persist()
    else:
        examples = _cut(examples)
        feats = _cut(feats)

    # Model state lives on the DRIVER between iterations (bounded at
    # n_buckets+1 integers by construction — the same size class as the
    # broadcast it used to ride). `None` values mirror the SQL NULLs
    # the frame form produced on degenerate (empty-corpus) inputs.
    w_map: "dict[int, int | None] | None" = None  # None = all-zero init
    b_val: "int | None" = None
    shared: "DataFrame | None" = None
    try:
        for it in range(iters):
            if w_map is not None and n_buckets <= _INLINE_WEIGHTS_MAX:
                zterm = F.col("m") * _weight_lookup(w_map, n_buckets)
                zsum = feats
            elif w_map is not None:
                wdf = spark.createDataFrame(
                    [(int(k), v) for k, v in w_map.items()],
                    "bucket long, w_micro long",
                )
                zsum = feats.join(F.broadcast(wdf), "bucket", "left")
                zterm = F.col("m") * F.coalesce(F.col("w_micro"), F.lit(0))
            else:
                zterm = F.lit(0).cast("long")
                zsum = feats
            zsum = zsum.groupBy("__tid").agg(F.sum(zterm).alias("__z0"))
            # MERGE hints: both sides are hash-partitioned AND sorted by
            # __tid (the persisted cuts), so the sort-merge joins run
            # exchange-free and sort-free in ONE stage — without the hint
            # AQE broadcasts the per-iteration zsum/resid sides, paying a
            # broadcast-build job each per iteration locally and, at corpus
            # scale, estimating its way toward broadcasting a corpus-sized
            # residual frame
            z = examples.join(zsum.hint("merge"), "__tid", "left")
            zdot = F.round(
                F.coalesce(F.col("__z0"), F.lit(0)).cast("double")
                / F.lit(float(_MICRO)),
                0,
            ).cast("long")
            if it > 0:
                z_micro = F.lit(b_val).cast("long") + zdot
            else:
                z_micro = zdot
            resid = z.select(
                "__tid",
                F.round(
                    (_sigmoid(z_micro) - F.col("__y").cast("double"))
                    * F.lit(float(_MICRO)),
                    0,
                )
                .cast("long")
                .alias("__r"),
            )
            # ONE bucket-keyed agg serves both gradients: per-(doc, bucket)
            # weight terms plus a synthetic bucket=-1 row per example whose
            # (term, mass) = (__r, 1) — so __g(-1) is the bias gradient and
            # __M(-1) is n (the bias IS the mass-1 feature; module
            # docstring). Exact integer sums, so folding the two aggs into
            # one changes nothing.
            term = feats.join(resid.hint("merge"), "__tid").select(
                "bucket",
                F.round(
                    (F.col("m") * F.col("__r")).cast("double")
                    / F.lit(float(_MICRO)),
                    0,
                )
                .cast("long")
                .alias("__t"),
                F.col("m").alias("__m"),
            )
            bias_term = resid.select(
                F.lit(-1).cast("long").alias("bucket"),
                F.col("__r").alias("__t"),
                F.lit(1).cast("long").alias("__m"),
            )
            grad_rows = (
                term.unionByName(bias_term)
                .groupBy("bucket")
                .agg(F.sum("__t").alias("__g"), F.sum("__m").alias("__M"))
                .collect()
            )
            # mass-preconditioned step: lr x the feature's mass-weighted
            # mean residual (M == 0 only for mass-rounded-to-zero buckets;
            # they carry no signal, leave them at their previous weight).
            # The update runs in DRIVER Python over the collected gradient
            # rows: the float expression keeps the distributed form's exact
            # parenthesization (((lr*g)/M)*1e6 — identical IEEE doubles)
            # and the final rounding uses the pinned HALF_UP parity rule
            # (_round_half_up_py), so the arithmetic is bit-identical to
            # the frame form the oracle replays. SQL NULL propagation
            # (degenerate empty-corpus chains) is mirrored with None.
            prev_w = w_map or {}
            new_w: "dict[int, int | None]" = {}
            found_bias = False
            for r in grad_rows:
                bkt, g, M = int(r["bucket"]), r["__g"], r["__M"]
                if bkt == -1:
                    prevb = b_val if it > 0 else 0
                    if g is None or prevb is None:
                        b_val = None
                    else:
                        b_val = prevb - _round_half_up_py(
                            float(lr) * float(g) / float(M)
                        )
                    found_bias = True
                elif M is not None and M > 0:
                    prevv = prev_w.get(bkt, 0) or 0
                    if g is None:
                        new_w[bkt] = None
                    else:
                        new_w[bkt] = prevv - _round_half_up_py(
                            float(lr) * float(g) / float(M) * float(_MICRO)
                        )
                else:
                    new_w[bkt] = prev_w.get(bkt, 0) or 0
            if not found_bias:
                # empty training input: the frame form's global agg summed
                # over zero residuals to NULL — mirror it
                b_val = None
            w_map = new_w

        if checkpoint_dir is None and share_features:
            # copy the still-cached feature blocks into checkpoint
            # storage EAGERLY (reads the persisted blocks, no
            # recompute), so the handoff survives the unpersist in
            # the finally below. A per-call localCheckpoint — never
            # persist-without-unpersist, which would let a later
            # identical plan hit this run's cache (cross-run
            # caching, banned)
            shared = feats.localCheckpoint(eager=True)
    finally:
        if checkpoint_dir is None:
            # training is fully materialized into driver state — the
            # cached working set is dead; release the blocks now. In
            # a finally (r14, ADVICE r13): a failure inside the
            # T-iteration collect loop (executor OOM, task error)
            # must not leak both cached working sets for the rest of
            # the session
            examples.unpersist()
            feats.unpersist()

    # bias + feature-space parameters live IN the frame at reserved
    # negative buckets (md5 buckets are non-negative), so a model
    # persisted to parquet and reloaded still carries — and lr_score
    # still validates — the (n_buckets, bigrams) it was trained under;
    # the Python-side tag alone dies at the store boundary (the DSIR
    # params-frame review item, applied here)
    meta_rows = [
        (_PARAM_NBUCKETS_ROW, int(n_buckets)),
        (_PARAM_BIGRAMS_ROW, 1 if bigrams else 0),
    ]
    w_rows = [
        (int(k), (None if v is None else int(v)))
        for k, v in sorted(w_map.items())
    ]
    bias_row = (-1, None if b_val is None else int(b_val))
    if checkpoint_dir is not None:
        # reliable mode keeps its external contract: the returned model
        # READS two shared-storage cut dirs (final w + final b), whose
        # paths ride `_lr_cut_paths` for reclamation (ADVICE r9).
        # Per-iteration state no longer needs cuts at all — it lives on
        # the driver, which executor loss cannot touch — so the dir
        # holds exactly these two file sets at any iteration count.
        from postgresql_topn_spark.operators.checkpointing import cut_path

        w_cut = stage_cut(
            spark.createDataFrame(w_rows, "bucket long, w_micro long"),
            checkpoint_dir,
        )
        b_cut = stage_cut(
            spark.createDataFrame([(bias_row[1],)], "b_micro long"),
            checkpoint_dir,
        )
        # the training working set (labeled examples + feature table)
        # is dead once the final cuts exist — release the file sets now
        # (the feats cut survives as the share_features handoff, its
        # path joining _lr_cut_paths for the caller to reclaim)
        release_cut(spark, examples)
        if share_features:
            shared = feats
        else:
            release_cut(spark, feats)
        model = w_cut.unionByName(
            b_cut.select(
                F.lit(-1).cast("long").alias("bucket"),
                F.col("b_micro").alias("w_micro"),
            )
        ).unionByName(
            spark.createDataFrame(meta_rows, "bucket long, w_micro long")
        )
        cut_paths = tuple(
            p
            for p in (
                cut_path(w_cut),
                cut_path(b_cut),
                cut_path(feats) if share_features else None,
            )
            if p is not None
        )
    else:
        # one partition: the frame is bounded at n_buckets+3 rows by
        # construction, and createDataFrame's default parallelism
        # slicing otherwise fans a later model.write into 32 tiny
        # part files (and its collect into 32 tasks) — guide §6.
        # repartition, NOT coalesce: coalesce(1) merges the parent
        # slices' preferred locations and the lone task then sits out
        # spark.locality.wait (~3 s measured); the 1-partition shuffle
        # of a few hundred rows is free
        model = spark.createDataFrame(
            w_rows + [bias_row] + meta_rows, "bucket long, w_micro long"
        ).repartition(1)
        cut_paths = ()
    model._lr_params = (int(n_buckets), bool(bigrams))  # type: ignore[attr-defined]
    # driver-held final state: lr_score's fast path reads it directly,
    # skipping even the bounded model collect
    model._lr_state = (dict(w_map), b_val)  # type: ignore[attr-defined]
    model._lr_cut_paths = cut_paths  # type: ignore[attr-defined]
    if share_features:
        model._lr_feats = shared  # type: ignore[attr-defined]
    return model


def lr_shared_features(
    model: DataFrame, *, id_col: str = "doc_id", id_type: str = "bigint"
) -> "DataFrame | None":
    """The training feature table a ``lr_train(share_features=True)``
    model carries, re-keyed for ``lr_score(features=...)``: the
    "y:<id>" training identity is stripped back to the original id
    (cast to ``id_type`` — the id column's own type, so the downstream
    join key matches without implicit casts). Returns None for models
    trained without sharing (including any model reloaded from
    storage — the handoff is a session-local frame by design).

    ONLY pass the result to `lr_score` when the scored docs are
    EXACTLY pos ∪ neg and the two training frames are id-disjoint: a
    document trained under both labels has two feature rows here and
    would count twice in the logit sum; a scored doc absent from
    training would silently score bias-only. Both conditions hold for
    the label-partitioned corpora the suite gates train on; callers
    with other shapes must featurize the scored frame themselves
    (lr_score's default path)."""
    feats = getattr(model, "_lr_feats", None)
    if feats is None:
        return None
    return feats.select(
        F.expr("substring(__tid, 3)").cast(id_type).alias(id_col),
        "bucket",
        "m",
    )


def lr_score(
    docs: DataFrame,
    model: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: Column | str = "text",
    n_buckets: int = 4096,
    bigrams: bool = True,
    features: "DataFrame | None" = None,
) -> DataFrame:
    """Score documents under a trained model: (id, z_micro, prob) with
    ``z_micro`` the exact-integer logit and ``prob`` the sigmoid
    rounded to 6 decimals. Documents with no features get the bare
    bias logit (scored, not dropped — the curation pipeline judges
    every row). One broadcast join + one doc-keyed agg; the quality
    FILTER is then just ``.where(F.col('prob') >= t)`` — or keep the
    probability as a sampling weight (the GPT-3 Pareto trick is a
    downstream choice this operator doesn't hard-code).

    ``features``: a PRECOMPUTED `lr_features` table for exactly
    `docs` — (id_col, bucket, m) in the model's feature space — used
    verbatim instead of re-featurizing (the m values are an exact
    integer function of the text, so the logit sums are identical;
    exact-integer addition makes them partitioning-order independent).
    The canonical source is `lr_shared_features` on a
    ``share_features=True`` model: train + score then pay ONE
    tokenize/explode/hash pass over the corpus instead of two. The
    caller owns the docs <-> features correspondence; rows for ids
    outside `docs` or duplicate (id, bucket) rows change the scores
    exactly as they would change the feature table."""
    if id_col in ("z_micro", "prob", "bucket", "cnt", "m"):
        raise ValueError(
            f"id_col may not be a reserved output name ({id_col!r})"
        )
    if features is not None:
        missing = {id_col, "bucket", "m"} - set(features.columns)
        if missing:
            raise ValueError(
                "features frame is missing required column(s) "
                f"{sorted(missing)} — expected the lr_features output "
                f"({id_col!r}, 'bucket', 'm')"
            )
    params = getattr(model, "_lr_params", None)
    state = getattr(model, "_lr_state", None)
    rows = None
    if params is None or state is None:
        # a persisted-and-reloaded model: ONE bounded collect (the
        # model is <= n_buckets+3 rows by construction) yields the
        # embedded parameters AND the weight/bias state, replacing the
        # old params-filter collect + weight broadcast + bias broadcast
        rows = model.collect()
    if params is None:
        prow = {
            r["bucket"]: r["w_micro"]
            for r in rows
            if r["bucket"] in (_PARAM_NBUCKETS_ROW, _PARAM_BIGRAMS_ROW)
        }
        if prow:
            params = (
                int(prow[_PARAM_NBUCKETS_ROW]),
                bool(prow[_PARAM_BIGRAMS_ROW]),
            )
    if params is not None and params != (int(n_buckets), bool(bigrams)):
        raise ValueError(
            f"model was trained with (n_buckets, bigrams)={params}, "
            f"scored with ({n_buckets}, {bigrams}) — feature spaces "
            "must match"
        )
    w_map: "dict[int, int | None] | None" = None
    b_val: "int | None" = None
    if state is not None:
        w_map, b_val = state
    elif rows is not None:
        wrows = [
            r for r in rows if r["bucket"] is not None and r["bucket"] >= 0
        ]
        brows = [r for r in rows if r["bucket"] == -1]
        # irregular models (duplicate buckets, 0 or >1 bias rows) fall
        # back to the frame form, whose join semantics define the
        # behavior for such inputs
        if len(brows) == 1 and len({r["bucket"] for r in wrows}) == len(
            wrows
        ):
            w_map = {int(r["bucket"]): r["w_micro"] for r in wrows}
            b_val = brows[0]["w_micro"]
    if w_map is not None and n_buckets <= _INLINE_WEIGHTS_MAX:
        # dense-literal lookup: zero joins besides the id spine — the
        # integer sum is identical (absent buckets contribute exact 0);
        # the feature agg pre-partitions by id so the logit sum needs
        # no exchange of its own
        if features is not None:
            feats = features
        else:
            # same size-derived count as training (_train_parts): the
            # conf stays the cap, toy inputs stop fanning the logit
            # agg into conf-many near-empty partitions
            n_parts = _train_parts(docs)
            feats = lr_features(
                docs,
                id_col,
                text_col,
                n_buckets=n_buckets,
                bigrams=bigrams,
                _pre_partition=n_parts,
            )
        zsum = feats.groupBy(id_col).agg(
            F.sum(F.col("m") * _weight_lookup(w_map, n_buckets)).alias(
                "__z0"
            )
        )
        z_micro = F.lit(b_val).cast("long") + F.round(
            F.coalesce(F.col("__z0"), F.lit(0)).cast("double")
            / F.lit(float(_MICRO)),
            0,
        ).cast("long")
        return (
            docs.select(_col(id_col).alias(id_col))
            .join(zsum, id_col, "left")
            .select(
                id_col,
                z_micro.alias("z_micro"),
                F.round(_sigmoid(z_micro), 6).alias("prob"),
            )
        )
    bias = model.where(F.col("bucket") == -1).select(
        F.col("w_micro").alias("__b")
    )
    weights = model.where(F.col("bucket") >= 0)
    feats = (
        features
        if features is not None
        else lr_features(
            docs, id_col, text_col, n_buckets=n_buckets, bigrams=bigrams
        )
    )
    zsum = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("m") * F.col("w_micro")).alias("__z0"))
    )
    z_micro = F.col("__b") + F.round(
        F.coalesce(F.col("__z0"), F.lit(0)).cast("double")
        / F.lit(float(_MICRO)),
        0,
    ).cast("long")
    return (
        docs.select(_col(id_col).alias(id_col))
        .join(zsum, id_col, "left")
        .crossJoin(F.broadcast(bias))
        .select(
            id_col,
            z_micro.alias("z_micro"),
            F.round(_sigmoid(z_micro), 6).alias("prob"),
        )
    )
