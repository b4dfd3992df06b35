"""Deduplication operators for training-data pipelines: exact,
shingle-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (100 TB):
- exact dedup is a single hash aggregation on the content key — the
  cheapest possible shape; use `fingerprint_md5` for bag-of-words
  identity or raw text for byte identity.
- pairwise Jaccard never materializes the full O(n^2) pair space: pairs
  are generated only for documents sharing a shingle (inverted-index
  join), and ultra-frequent shingles can be capped (`max_shingle_df`)
  to bound join fan-out — the standard candidate-pair trick.
- MinHash+LSH replaces the shared-shingle join with banded-signature
  buckets: O(n x bands) slim (band, id) rows shuffle instead of
  O(n x shingles); candidate pairs are then verified with exact Jaccard
  so the output precision is 1.0 and recall is the LSH probability
  (1-(1-s^r)^b).
- SimHash pairs bucket on 16-bit chunks (pigeonhole: hamming<=3 over 64
  bits guarantees one of 4 chunks equal), then filter on bit_count(xor).
- candidate pairs come from bucket-collect + combination explode, not a
  key-equality self-join: the self-join form evaluates the signature /
  sketch subtree twice (see _bucket_pairs).

Everything below is DataFrame/Catalyst composition; the only Python in
a row path is SimHash's Arrow-batched numpy majority vote, which runs
map-side with no shuffle.
"""

from __future__ import annotations

import random
import time

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from postgresql_topn_spark.conf import CC_LOCAL_EDGE_THRESHOLD, SPREAD_ENABLED, knob, size_bytes
from postgresql_topn_spark.functions.sketch import _col
from collections.abc import Sequence

from postgresql_topn_spark.operators.text import (
    hashed_shingles_from_tokens,
    shingles_from_tokens,
    tokens,
)
from postgresql_topn_spark.sources.tables import input_bytes

# MinHash permutation modulus: the smallest prime ABOVE the 32-bit
# shingle-hash universe. The modulus must sit just above the hash
# range so a*h wraps it ~a times and the permuted value decorrelates
# from h's magnitude. The first cut used 2^61 - 1: with h < 2^32 and
# a < 2^31, a*h + b < 2^63 wraps that modulus at most 3 times, so the
# "permutation" stayed roughly PROPORTIONAL to a*h — one shingle with
# a tiny 32-bit hash (p ~ 2^-12 per corpus shingle) captured the min
# of EVERY permutation in every doc containing it, collapsing the
# signatures of its supersets onto it (found as a jaccard-0.9 pair
# whose 32 signature slots all differed: sf0.1 sweep, round 5). With a
# prime field just above the universe, (a*h + b) mod p is exactly
# uniform in h (b alone spans the field) and two distinct 32-bit
# hashes can NEVER collide under any (a, b): a*(h1-h2) has both
# factors nonzero and below the prime.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32; a*h + b < 2^63


def spread_small_scan(
    src: DataFrame, slim: DataFrame, *, min_task_bytes: int | None = None
) -> DataFrame:
    """Repartition `slim` up to defaultParallelism when `src`'s file
    scan cannot produce that many splits — i.e. parallelize
    single-row-group files ahead of an expensive per-row kernel.
    With `min_task_bytes`, the target drops to
    ``ceil(input bytes / min_task_bytes)`` when that is smaller, so no
    task gets less input than the floor; a scan under the floor keeps
    its own partitioning.

    The split estimate is conf-side (file count + total bytes vs
    spark.sql.files.maxPartitionBytes) from driver metadata only: no
    `.rdd` conversion (which builds a Python-serialized RDD plan per
    query construction). In-memory relations and unknown sizes
    (`input_bytes` is None) leave the plan untouched — at cluster
    scale the scan already has >= defaultParallelism splits and no
    shuffle is added."""
    spark = src.sparkSession
    # global opt-out (r14): the VERDICT r13 watchlist asked for a
    # fresh-JVM A/B lever for the spread sites; 'false' restores the
    # pre-r13 unspread plans everywhere. Exact values are the same
    # either way (a round-robin exchange is placement only); a Tier-2
    # sketch under eviction can differ, as its partial states do.
    if not knob(spark, SPREAD_ENABLED):
        return slim
    target = spark.sparkContext.defaultParallelism
    try:
        files = src.inputFiles()
    except Exception:
        return slim
    if not files or len(files) >= target:
        return slim
    total = input_bytes(files, spark)
    if total is None:
        return slim
    if min_task_bytes:
        target = min(target, -(-total // min_task_bytes))
    max_bytes = size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est = max(len(files), -(-total // max_bytes))
    if est < target:
        return slim.repartition(target)
    return slim


def _bucket_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    payload: str,
    chunk: int = 4096,
) -> DataFrame:
    """(__a, __b) — all unordered within-bucket candidate pairs from an
    LSH-style (key, payload) bucket table, one row per pair per bucket.

    Bucket-collect + combination explode instead of a key-equality
    self-join, for one reason that dominates at scale: a self-join
    evaluates the upstream plan on BOTH sides (Spark does not reuse
    exchanges across the two sides when the subtree contains a Python
    stage — observed on the SimHash plan), so signatures/sketches were
    computed twice. This shape computes the upstream ONCE and shuffles
    only slim (key, payload) rows into buckets.

    Pair fan-out is quadratic in bucket size either way (a hash
    self-join also colocates each key in one task), so this loses no
    skew behavior.

    Hot-bucket byte bound: the naive posexplode form emits m rows each
    carrying the full m-element bucket array — O(m^2) bytes through the
    projection for ONE adversarial bucket (a boilerplate LSH band, a hot
    winnow fingerprint) before any pair is even produced. Instead the
    bucket is sliced into `chunk`-width pieces and pairs are generated
    chunk-against-chunk: the diagonal chunk uses the j>i triangle slice,
    every later chunk a full cross product, so each pair still appears
    exactly once. A generate row then carries two chunk-width slices
    (O(chunk) elements) instead of the whole bucket, and the bytes
    through the worst projection drop from O(m^2) to O(m^2/chunk) —
    the same order as the (inherently quadratic) pair output itself.
    This is the explode-side analogue of the embedding path's in-bucket
    tiling (similarity.py embedding_near_dup_pairs)."""
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.collect_list(payload).alias("__m"))
        .where(F.size("__m") >= 2)
    )
    nch = F.ceil(F.size("__m") / F.lit(chunk)).cast("int")
    chunks = buckets.select(
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.slice("__m", i * chunk + 1, chunk),
        ).alias("__ch")
    )
    # one row per (chunk i, chunk j>=i): __dj == 0 marks the diagonal
    ch_i = chunks.select("__ch", F.posexplode("__ch").alias("__ci", "__mi"))
    step = ch_i.select(
        "__mi",
        F.posexplode(
            F.slice(
                "__ch", F.col("__ci") + 1, F.size("__ch") - F.col("__ci")
            )
        ).alias("__dj", "__mj"),
    )
    return step.select(
        "__dj", "__mj", F.posexplode("__mi").alias("__k", "__a")
    ).select(
        "__a",
        F.explode(
            F.when(
                F.col("__dj") == 0,
                F.slice(
                    "__mj",
                    F.col("__k") + 2,
                    F.greatest(F.lit(0), F.size("__mj") - F.col("__k") - 1),
                ),
            ).otherwise(F.col("__mj"))
        ).alias("__b"),
    )


def _local_min_label_fixpoint(und_rows, max_iter: int):
    """Driver-side mirror of `connected_components`' distributed loop:
    the SAME synchronous min-label recurrence over the doubled edge
    list, round for round — init label(s) = min(s, min neighbor), each
    round label'(s) = min(label(s), min over neighbors d of label(d))
    from the PREVIOUS round's snapshot, stop on the first round that
    changes nothing. Returns {node: component}, or None when max_iter
    rounds all changed something (the caller raises exactly as the
    distributed loop does). Kept recurrence-identical rather than
    union-find so the max_iter contract (rounds = diameter budget) is
    preserved observably."""
    adj: dict = {}
    for s, d in und_rows:
        adj.setdefault(s, []).append(d)
    labels = {s: min(s, min(nbrs)) for s, nbrs in adj.items()}
    for _rnd in range(max_iter):
        new = {}
        changed = False
        for s, nbrs in adj.items():
            m = labels[s]
            for d in nbrs:
                ld = labels[d]
                if ld < m:
                    m = ld
            new[s] = m
            if m != labels[s]:
                changed = True
        labels = new
        if not changed:
            return labels
    return None


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    round_stats: list | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in `edges` (undirected),
    where component = the minimum node id reachable from it — the
    canonical-keeper labeling a dedup pipeline needs on top of any
    pair generator (jaccard_pairs, minhash_lsh_pairs, simhash_pairs,
    embedding near-dup): duplicate PAIRS are not duplicate GROUPS until
    transitively closed, and keep-one-per-group requires a stable
    cluster representative.

    Algorithm: min-label propagation to a fixpoint. Each round every
    node adopts the smallest label among itself and its neighbors —
    one join (edge.dst -> label) + one min-aggregation per round, both
    shuffle-parallel on slim (long, long) rows; rounds = graph diameter.
    Near-dup graphs are dense star-ish clusters with tiny diameters
    (a transitive chain of near-dups longer than a few hops is rare),
    so this converges in 2-4 rounds in practice; `max_iter` bounds
    pathological chains. Labels only ever decrease, so the fixpoint is
    the unique exact component labeling regardless of round count.

    Each round materializes via a stage cut: iterative DataFrame loops
    otherwise double the lineage (and thus planning time) per round,
    and re-execution of round k would recompute rounds 1..k-1. The
    default is executor-memory localCheckpoint (fastest, lost on
    executor/driver failure); pass `checkpoint_dir` (an HDFS/S3 path at
    cluster scale) for RELIABLE cuts — each round then lands in its
    own parquet subdirectory via `checkpointing.stage_cut` (no
    SparkContext-global `setCheckpointDir`, so concurrent pipelines
    never interleave), a failed executor recomputes nothing upstream,
    and each round's cut supersedes the previous one so the dir
    footprint stays O(1) in rounds: at return only the edge cut
    (released) and the FINAL label cut (backing the returned frame —
    `checkpointing.release_cut(spark, result)` reclaims it when the
    caller is done) exist. Same loop, same labels, one write per
    round. Driver-side is only the O(1)-row convergence check per
    round — node and edge data never leave the executors."""
    from postgresql_topn_spark.operators.checkpointing import (
        adopt_cut,
        release_cut,
        stage_cut,
    )

    def _persist_round(
        df: DataFrame, supersedes: "DataFrame | None" = None
    ) -> DataFrame:
        # localCheckpoint mode is LAZY: the per-round convergence-sum
        # action below is what materializes it, so each round runs ONE
        # job (materialize + sum) instead of two. Reliable mode writes
        # the round eagerly (the write IS the materializing job; the
        # sum then scans the cut files) and deletes the superseded
        # round's files only after the new cut is fully on disk.
        if checkpoint_dir is not None:
            return stage_cut(df, checkpoint_dir, supersedes=supersedes)
        return df.localCheckpoint(eager=False)

    und = edges.select(_col(src).alias("__s"), _col(dst).alias("__d"))
    # checkpoint the edge list FIRST: the loop scans it every round, and
    # without materialization each round would re-execute the entire
    # upstream pair-generation pipeline (the dominant cost for near-dup
    # edges — measured 1.7s/round of re-run jaccard at sf0.1)
    und = _persist_round(
        und.unionByName(
            und.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
        )
    )

    # Driver-local fast path (r14, guide §1.2/§5): near-dup edge sets
    # are a vanishing fraction of the corpus (pairs above a high
    # similarity threshold), so after the one unavoidable
    # materialization of the pair generator the LOOP below is pure
    # overhead when the edges fit on the driver — each round is a
    # Catalyst compile + an AQE-staged join/agg + a convergence
    # collect over a few hundred rows (measured ~1 s/round at sf0.1
    # against ~1 ms of actual label work). Below the size bound the
    # same synchronous min-label propagation runs in Python: identical
    # labels (it is the same fixpoint recurrence, round for round,
    # including the max_iter exhaustion raise — pytest-pinned against
    # union-find), one job (limit+collect) instead of 2 + 2/round, and
    # the returned labels become a LocalRelation the downstream keeper
    # join can broadcast without scanning anything. Above the bound —
    # the only regime possible at 100 TB — nothing changes: the
    # limit() probe collects bound+1 slim rows and the distributed
    # loop proceeds. Reliable mode (checkpoint_dir) keeps the loop on
    # executors so loop state stays restart-safe; round_stats probes
    # measure the distributed rounds by definition.
    local_bound = 0
    if checkpoint_dir is None and round_stats is None:
        local_bound = knob(edges.sparkSession, CC_LOCAL_EDGE_THRESHOLD)
    if local_bound > 0:
        from pyspark.sql import types as _T

        _node_t = und.schema["__s"].dataType
        # only orderings proven identical between Python and Spark:
        # integral min is arithmetic; Spark's UTF8String ordering is
        # binary UTF-8, which preserves code-point order == Python str
        _safe_type = isinstance(
            _node_t,
            (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType,
             _T.StringType),
        )
        if _safe_type:
            probe = und.limit(local_bound + 1).collect()
            if len(probe) <= local_bound and all(
                r["__s"] is not None and r["__d"] is not None for r in probe
            ):
                labels = _local_min_label_fixpoint(
                    [(r["__s"], r["__d"]) for r in probe], max_iter
                )
                if labels is None:
                    raise RuntimeError(
                        f"connected_components did not converge within "
                        f"max_iter={max_iter} rounds — the component "
                        "diameter exceeds the round budget; raise "
                        "max_iter (rounds are cheap and measured to "
                        "stay at ~1 on near-dup graphs) or pass "
                        "checkpoint_dir for long chains"
                    )
                schema = _T.StructType(
                    [
                        _T.StructField("node", _node_t),
                        _T.StructField("component", _node_t),
                    ]
                )
                # broadcast hint: createDataFrame yields a stats-less
                # LogicalRDD, so the downstream keeper join would
                # otherwise sort-merge — exchanging the full corpus
                # side against <= local_bound label rows. The hint is
                # scale-safe by construction (the bound caps the rows
                # far below the broadcast limits).
                return F.broadcast(
                    edges.sparkSession.createDataFrame(
                        sorted(labels.items()), schema
                    )
                )
            # too big / null ids: fall through to the distributed loop
            # (the probe rows are dropped; und stays materialized)

    labels = _persist_round(
        und.groupBy("__s")
        .agg(F.min("__d").alias("__m"))
        .select("__s", F.least("__s", "__m").alias("__c"))
    )

    from pyspark.sql import types as _T

    _numeric_label = isinstance(
        und.schema["__s"].dataType,
        (
            _T.ByteType,
            _T.ShortType,
            _T.IntegerType,
            _T.LongType,
            _T.DecimalType,
        ),
    )

    def _label_sum(lbl: DataFrame):
        # labels only ever decrease element-wise, so one cheap scan of
        # the checkpointed labels per round detects the fixpoint —
        # instead of a join + inequality count. Integral/decimal ids:
        # the exact decimal(38,0) label sum is strictly monotone, so
        # equal consecutive sums == fixpoint, exactly. Other id types
        # (string doc keys — supported by every pair generator; the
        # old unconditional decimal cast CRASHED on them under ANSI,
        # review pin): a (sum, bit_xor) pair over xxhash64(label) — a
        # changed label multiset escapes both checks except with
        # probability ~2^-128 (the JSONL manifest's digest argument),
        # and the max_iter exhaustion guard below backstops even that.
        if _numeric_label:
            return lbl.agg(F.sum(F.col("__c").cast("decimal(38,0)"))).first()[0]
        h = F.xxhash64("__c")
        row = lbl.agg(
            F.sum(h.cast("decimal(38,0)")).alias("s"),
            F.bit_xor(h).alias("x"),
        ).first()
        return (row["s"], row["x"])

    converged = False
    prev_sum = _label_sum(labels)
    for rnd in range(max_iter):
        _t0 = time.perf_counter()
        nbr = und.join(
            labels.select(F.col("__s").alias("__d"), "__c"), "__d"
        ).select("__s", "__c")
        labels = _persist_round(
            labels.select("__s", "__c")
            .unionByName(nbr)
            .groupBy("__s")
            .agg(F.min("__c").alias("__c")),
            supersedes=labels,
        )
        cur_sum = _label_sum(labels)
        if round_stats is not None:
            # instrumentation for scale probes (cc_scale_probe.py):
            # per-round wall and whether this round changed any label
            round_stats.append(
                {
                    "round": rnd + 1,
                    "seconds": round(time.perf_counter() - _t0, 3),
                    "converged": cur_sum == prev_sum,
                }
            )
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    # the edge cut served its last read in the final round's write job;
    # only the final label cut must outlive the function (it backs the
    # returned frame). Release it too on the failure path — partial
    # labels are never returned, so nothing reads them.
    release_cut(edges.sparkSession, und)
    if not converged:
        release_cut(edges.sparkSession, labels)
        # returning partially-propagated labels would silently split
        # components (and downstream keep-one dedup would keep several
        # 'canonical' copies); the docstring promises the exact
        # labeling, so fail loudly instead (review pin)
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} rounds — the component diameter exceeds the "
            "round budget; raise max_iter (rounds are cheap and "
            "measured to stay at ~1 on near-dup graphs) or pass "
            "checkpoint_dir for long chains"
        )
    return adopt_cut(
        labels.select(
            F.col("__s").alias("node"), F.col("__c").alias("component")
        ),
        labels,
    )


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(__id, __toks) — tokens materialized as a real column so shingle
    transforms read the array instead of re-splitting the text per
    element (see shingles_from_tokens). Downstream shingle explodes must
    live in the SAME select as the shingle expression (an explode of a
    pre-materialized shingle column goes through an extra Generate
    boundary that measured ~30x slower than generating inline)."""
    return df.select(_col(id_col).alias("__id"), tokens(text_col).alias("__toks"))


def exact_dedup(
    df: DataFrame,
    key: Column | str,
    id_col: Column | str,
    *,
    quality: Column | str | None = None,
) -> DataFrame:
    """Group identical content keys; emit one keeper per group plus the
    duplicate count. A single shuffle on the content key, map-side
    partial combine either way.

    Default keeper = min id (deterministic, cheap). With `quality` the
    keeper is the HIGHEST-quality duplicate (ties -> min id) — the
    policy real curation pipelines want when duplicates differ in
    extraction cleanliness: implemented as a MIN over a
    (-quality, id)-ordered struct (quality DESC, id ASC — ids keep
    their own type, strings included), still ONE aggregate — no
    window, no second shuffle. NULL quality sorts below every
    non-NULL one."""
    keyed = df.groupBy(_col(key).alias("content_key"))
    if quality is None:
        return keyed.agg(
            F.min(_col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    # struct ordering is lexicographic: MIN of (-quality, id) gives
    # quality DESC then id ASC without negating the id, so string ids
    # work exactly like the default path; NULL quality negates to +inf
    # and loses to every non-NULL one
    nq = -F.coalesce(_col(quality).cast("double"), F.lit(float("-inf")))
    ranked = F.struct(nq.alias("nq"), _col(id_col).alias("id"))
    return keyed.agg(
        F.min(ranked)["id"].alias("keeper_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def line_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    granularity: str = "line",
) -> DataFrame:
    """Corpus-wide frequency table of exact lines (or paragraphs):
    (line_key, n_total, n_docs, first_id, first_idx) — the audit view
    next to :func:`corpus_line_dedup` (which boilerplate survived, how
    hot it is, where its canonical occurrence lives). `line_key` is
    md5 of the trimmed-nonempty element, so the table is narrow on
    the wire and an ANSI-SQL oracle replays it exactly. One explode +
    one key-partitioned aggregate (the canonical-occurrence min is
    computed ONCE and its fields projected after the agg). NULL-id
    documents are excluded, same as corpus_line_dedup."""
    occ = _line_occurrences(docs, id_col, text_col, granularity)
    return (
        occ.groupBy("line_key")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_distinct("__id").alias("n_docs"),
            F.min(F.struct("__id", "__idx")).alias("__first"),
        )
        .select(
            "line_key",
            "n_total",
            "n_docs",
            F.col("__first.__id").alias("first_id"),
            F.col("__first.__idx").alias("first_idx"),
        )
    )


def _line_occurrences(
    docs: DataFrame, id_col: str, text_col: str, granularity: str
) -> DataFrame:
    """(__id, __idx, __line, line_key) occurrence rows. NULL-id
    documents are excluded up front (same contract as
    multimodal.extract_frames): a NULL id can neither anchor a
    canonical occurrence nor rejoin an id-keyed spine, so admitting it
    would let a NULL-id doc claim `keep_first`'s canonical slot and
    then silently delete that line corpus-wide (its rebuilt row drops
    at the join). NULL-id docs still appear in corpus_line_dedup's
    output via the spine, as empty husks."""
    if granularity not in ("line", "paragraph"):
        raise ValueError(
            f"granularity must be 'line' or 'paragraph', got {granularity!r}"
        )
    sep = "\n" if granularity == "line" else "\n\n"
    elems = F.filter(
        F.split(_col(text_col), sep),
        lambda x: F.char_length(F.trim(x)) > 0,
    )
    return docs.where(_col(id_col).isNotNull()).select(
        _col(id_col).alias("__id"), elems.alias("__elems")
    ).select(
        "__id", F.posexplode("__elems").alias("__idx", "__line")
    ).select(
        "__id", "__idx", "__line", F.md5(F.col("__line")).alias("line_key")
    )


def corpus_line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    granularity: str = "line",
    policy: str = "keep_first",
    max_df: int = 2,
) -> DataFrame:
    """CROSS-DOCUMENT exact line/paragraph dedup — the CCNet/
    RefinedWeb boilerplate-removal REWRITER the document-level dedup
    family can't express: instead of dropping whole documents, drop
    the repeated LINES inside them (nav menus, cookie banners, shard
    headers — the "duplicated paragraphs across shards" pass of CCNet
    §3.1 and RefinedWeb's line-wise corrections).

    Policies (element identity = exact text, keyed by md5 so the
    shuffle rides 32-byte keys and a SQL oracle replays it):

    - ``keep_first`` (default): every distinct line keeps exactly ONE
      occurrence — the corpus-canonical first, i.e. the smallest
      (id, position) — and loses all others. This is CCNet's
      paragraph dedup: content survives once, boilerplate collapses.
    - ``drop_frequent``: lines occurring >= `max_df` times
      corpus-wide are removed EVERYWHERE (within-doc repeats count —
      a page repeating its own banner is boilerplate too); rare lines
      are untouched. The conservative mode when canonical-occurrence
      choice is unwanted.

    Returns one row per input document: (id_col, clean_text, n_lines,
    n_lines_kept). `clean_text` re-joins the surviving lines in their
    original order with single newlines (blank-line spacing is
    normalized away — same contract as `c4_clean.clean_text`); a doc
    whose every line was removed keeps an empty-string clean_text;
    NULL/empty input text stays NULL-ish (0 lines, '' clean_text)
    so downstream `WHERE n_lines_kept > 0` drops husks explicitly.
    NULL-id documents are hollow by contract (see _line_occurrences):
    their lines neither claim canonical slots nor count toward
    frequencies, and their output row is ('', 0, 0).

    Scale shape: per-line stats are a HASH AGGREGATE on line_key
    (`count` + `min(struct(__id,__idx))` — both map-side combinable,
    so a boilerplate line present in 1% of the corpus collapses to one
    row per map task BEFORE the exchange, and column pruning keeps the
    line TEXT out of that branch entirely), pruned to the DUPLICATED
    keys only, then joined back to the occurrences on line_key — a
    join whose build side is the duplicate set (broadcast when small;
    AQE skew-join splitting when not). Deliberately NOT a
    `Window.partitionBy(line_key)`: a window must sort every
    occurrence of the hottest line on ONE task, and AQE cannot split a
    skewed window partition — at 10^10 docs a cookie-banner line would
    be an unsplittable straggler (round-9 verdict finding;
    hot_line_probe.py measures both forms). Then one doc-partitioned
    regroup and an id-only spine join (column pruning keeps the text
    out of that scan — husk/NULL docs get their empty row without a
    second text pass). The text is scanned/exploded twice (once
    narrow for stats, once for the rebuild) — two cheap parallel scans
    instead of one corpus-wide wide sort. No self-join of the
    occurrence table, no all-pairs path, no Python, no broadcast of
    corpus-sized data."""
    if policy not in ("keep_first", "drop_frequent"):
        raise ValueError(
            f"policy must be 'keep_first' or 'drop_frequent', got {policy!r}"
        )
    if policy == "drop_frequent" and max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")

    occ = _line_occurrences(docs, id_col, text_col, granularity)
    # (__id, __idx) is unique per occurrence row (posexplode), so
    # min(struct) IS the row_number()==1 row of the window form — the
    # identity is pinned in tests/test_dedup.py. Column pruning keeps
    # __line out of this branch: the exchange carries only
    # (line_key, n, first).
    stats = occ.groupBy("line_key").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct("__id", "__idx")).alias("__first"),
    )
    # Prune to the DUPLICATED keys before joining back: a unique line
    # (the overwhelming majority of a real corpus) is trivially kept
    # and is its own canonical, so it needs no join match — a NULL
    # right side encodes it. This collapses the join's build side from
    # |distinct lines| to |duplicated lines| (usually broadcastable;
    # AQE picks BHJ at runtime), and when it isn't, the shuffled join
    # is exactly where AQE skew-splitting applies.
    if policy == "keep_first":
        dup = stats.where(F.col("__n") >= 2).select("line_key", "__first")
        occ = occ.join(dup, "line_key", "left")
        keep = F.col("__first").isNull() | (
            (F.col("__id") == F.col("__first.__id"))
            & (F.col("__idx") == F.col("__first.__idx"))
        )
    else:
        dup = stats.where(F.col("__n") >= max_df).select("line_key", "__n")
        occ = occ.join(dup, "line_key", "left")
        keep = F.col("__n").isNull()
    # collect_list skips NULLs, so the single doc-regroup carries
    # total AND kept counts and the surviving lines in one aggregate
    rebuilt = occ.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("__idx", "__line"))
                    )
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(keep.cast("long")).cast("long").alias("n_lines_kept"),
    )
    spine = docs.select(_col(id_col).alias("__id"))
    return spine.join(rebuilt, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
        F.coalesce("n_lines_kept", F.lit(0).cast("long")).alias(
            "n_lines_kept"
        ),
    )


# Default posting-list Zipf guard: max(1000, ceil(0.5% * N)). The
# floor keeps small corpora exact (a cap below any real posting list
# never binds); the fraction keeps the hottest posting list — and with
# it the |postings|^2 self-join term — linear in corpus size. Dropping
# a hot gram only SHRINKS candidate sets (under-delete, never a false
# positive), the same trade every df cap in this module makes.
_AUTO_DF_FLOOR = 1000
_AUTO_DF_FRAC = 0.005


def _auto_df_cap(n: Column) -> Column:
    """max(1000, ceil(0.5% * n)) as a Column over a (broadcast) count."""
    return F.greatest(
        F.lit(_AUTO_DF_FLOOR).cast("long"),
        F.ceil(n.cast("double") * F.lit(_AUTO_DF_FRAC)),
    )


def _postings(
    base: DataFrame,
    grams: Column,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(__id, __n, __sh) inverted index over a distinct 64-bit gram-hash
    array expression evaluated against `base` (which must carry __id):
    postings shuffle/group/join on longs instead of gram strings
    (identical counts up to a ~n^2/2^65 hash collision).

    Each posting row carries its document's distinct-gram count __n, so
    Jaccard denominators need no separate sizes aggregation (which would
    re-evaluate the gram chain and re-scan the table).

    With max_shingle_df, hot grams are dropped from the index but __n
    keeps the TRUE distinct count: capping affects candidate generation
    and intersections only, never a document's size, so reported jaccard
    under capping is a lower bound of the uncapped value."""
    # The gram array MUST appear exactly once: naming it twice in the
    # select (size + explode) lets project collapsing substitute the
    # producing chain into each reference (measured 3.6x on the whole
    # suite query for token shingles). Binding it as a one-element-array
    # lambda variable makes every inner reference (including size) a
    # variable lookup, then one inline() generates (__sh, __n) rows
    # from the single evaluation.
    sh_n = F.element_at(
        F.transform(
            F.array(grams),
            lambda a: F.transform(
                a,
                lambda s: F.struct(
                    s.alias("__sh"), F.size(a).cast("long").alias("__n")
                ),
            ),
        ),
        1,
    )
    posts = base.select("__id", F.inline(sh_n)).select("__id", "__sh", "__n")
    if max_shingle_df is not None:
        hot = (
            posts.groupBy("__sh")
            .count()
            .where(F.col("count") > max_shingle_df)
            .select("__sh")
        )
        posts = posts.join(F.broadcast(hot), "__sh", "left_anti")
    return posts


def _shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Token-shingle postings: _postings over the 64-bit xxhash64
    k-token-window hashes (see hashed_shingles_from_tokens).

    The tokenized frame is spread ahead of the shingle explode
    (spread_small_scan): the per-row shingle/hash work otherwise runs
    at the file scan's parallelism, which for a single-row-group local
    file is ONE task — no-op whenever the scan already splits."""
    return _postings(
        spread_small_scan(df, _tokenized(df, id_col, text_col)),
        F.array_distinct(hashed_shingles_from_tokens("__toks", k)),
        max_shingle_df,
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 13,
    min_overlap: int = 1,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(test_id, train_id, shared_shingles): evaluation/test documents
    sharing >= min_overlap DISTINCT k-token shingles with a training
    document — the standard pre-training decontamination sweep (13-gram
    overlap against eval sets). Anti-join the test set on test_id to
    get the clean remainder, or inspect train_id to locate the leak.

    Scale shape: a bipartite inverted-index join on 64-bit shingle
    hashes — jaccard_pairs' candidate machinery across two relations.
    Each side shuffles once on slim (id, hash) rows, matches stream
    through the hash join, and the (test, train) pair count is the only
    other exchange; never O(|train| x |test|). For web-scale train
    corpora, `max_shingle_df` drops boilerplate shingles hotter than
    the cap from the index (a Zipf guard: reported overlap becomes a
    lower bound, sizes unaffected)."""
    t_posts = _shingle_postings(train, id_col, text_col, k, max_shingle_df)
    q_posts = _shingle_postings(test, id_col, text_col, k)
    joined = q_posts.select(F.col("__id").alias("__test"), "__sh").join(
        t_posts.select(F.col("__id").alias("__train"), "__sh"), "__sh"
    )
    # postings are distinct per document, so the pair count IS the
    # number of distinct shared shingles
    return (
        joined.groupBy("__test", "__train")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_overlap)
        .select(
            F.col("__test").alias("test_id"),
            F.col("__train").alias("train_id"),
            "shared_shingles",
        )
    )


def winnow_fingerprint_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    md5_form: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, shared_fingerprints): document pairs sharing >=
    min_shared DISTINCT winnowing fingerprints — MOSS-style local
    similarity detection on top of the fingerprint operator
    (text.fingerprint_winnow*): winnowing guarantees any shared run of
    ~window+k-1 tokens contributes a shared fingerprint, so pairs with
    substantial verbatim overlap surface even when global Jaccard is
    low (the complement of the whole-document measures).

    Scale shape: fingerprints are ~1/window of the shingles, so this is
    a SPARSER inverted index than jaccard_pairs, same two-shuffle plan:
    explode distinct fingerprints, bucket-join on the fingerprint, one
    group-count per surviving pair. `max_fp_df` drops fingerprints
    hotter than the cap (boilerplate guard — broadcast anti-join, no
    extra scan of df). md5_form=True uses the md5 digests (SQL-
    replayable, the oracled path); False uses the xxhash64 longs
    (cheaper keys for production indexes, pytest-covered)."""
    from postgresql_topn_spark.operators.text import (
        fingerprint_winnow,
        fingerprint_winnow_md5,
    )

    fp_fn = fingerprint_winnow_md5 if md5_form else fingerprint_winnow
    # starved-scan spread before the fingerprint projection (md5 per
    # shingle + windowed mins is the per-row hot leg)
    fps = spread_small_scan(df, df).select(
        _col(id_col).alias("__id"),
        F.explode(F.array_distinct(fp_fn(text_col, k, window))).alias("__fp"),
    )
    if max_fp_df is not None:
        hot = (
            fps.groupBy("__fp")
            .count()
            .where(F.col("count") > max_fp_df)
            .select("__fp")
        )
        fps = fps.join(F.broadcast(hot), "__fp", "left_anti")
    cand = _bucket_pairs(fps, ["__fp"], "__id")
    # fingerprints are distinct per doc, so the pair count IS the
    # number of distinct shared fingerprints
    return (
        cand.select(
            F.least("__a", "__b").alias("doc_a"),
            F.greatest("__a", "__b").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


def _char_gram_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(__id, __g, __n) — per document with >= n characters, the array
    of DISTINCT 64-bit character-n-gram hashes and its length.

    The gram hash is a degree-n rolling polynomial over code points —
    an injective-in-practice stand-in for the substrings themselves
    (Jaccard over the hashes equals Jaccard over the grams up to a
    ~pairs/2^64 collision; the DuckDB oracle computes the identical
    Jaccard over raw substrings, so any collision would surface as a
    hash mismatch). Computed in ONE Arrow-batched numpy stage, O(len)
    per document: the expression-tree form (transform(sequence(...),
    i -> xxhash64(substring(txt, i, n)))) is O(len * n) with O(position)
    UTF8String char-position scans inside — measured 2.3s vs ~0.4s for
    this kernel on the sf0.1 documents table. Same map-side, no-shuffle
    shape as the SimHash kernel (simhash_table)."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    base = df.select(
        _col(id_col).alias("__id"), _col(text_col).alias("__txt")
    ).where(
        # NULL-id docs can't name a pair, and a NULL in the Arrow id
        # column would float-coerce it (corrupting ids > 2^53)
        F.col("__id").isNotNull() & (F.char_length(text_col) >= n)
    )
    base = spread_small_scan(df, base)
    out_schema = StructType(
        [
            base.schema["__id"],
            StructField("__g", ArrayType(LongType())),
            StructField("__n", LongType()),
        ]
    )
    # odd multiplier => bijective step mod 2^64 (Rabin-Karp style)
    mult = np.uint64(0x9E3779B97F4A7C15)

    def _gram_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = [
                np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(
                    np.uint64
                )
                for t in pdf["__txt"]
            ]
            ndocs = len(arrs)
            lens = np.fromiter((a.size for a in arrs), np.int64, ndocs)
            flat = np.concatenate(arrs)
            nw = flat.size - (n - 1)  # >= 1: every doc has >= n chars
            doc_of = np.repeat(np.arange(ndocs), lens)
            with np.errstate(over="ignore"):
                sh = np.zeros(nw, dtype=np.uint64)
                for j in range(n):
                    sh = sh * mult + flat[j : nw + j]
            valid = doc_of[:nw] == doc_of[n - 1 :]  # window within one doc
            sh, seg = sh[valid], doc_of[:nw][valid]
            order = np.lexsort((sh, seg))
            sh, seg = sh[order], seg[order]
            keep = np.ones(sh.size, dtype=bool)  # distinct per doc
            keep[1:] = (seg[1:] != seg[:-1]) | (sh[1:] != sh[:-1])
            sh, seg = sh[keep], seg[keep]
            counts = np.bincount(seg, minlength=ndocs)
            splits = np.split(sh.view(np.int64), np.cumsum(counts)[:-1])
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "__g": splits,
                    "__n": counts.astype(np.int64),
                }
            )

    return base.mapInPandas(_gram_batches, out_schema)


def _prefix_candidates(
    posts: DataFrame,
    threshold: float,
    checkpoint_dir: "str | None" = None,
    *,
    cut: bool = True,
) -> DataFrame:
    """EXACT prefix-filter candidate pairs (doc_a < doc_b) for Jaccard
    >= threshold over a postings index — the AllPairs/PPJoin principle:
    with every document's gram set sorted by one global (document
    frequency, gram) order, any pair with Jaccard >= t must share a
    gram inside BOTH sides' (|d| - ceil(t*|d|) + 1)-prefixes (their
    rarest grams). Only prefixes are indexed, so ubiquitous grams — a
    5-char gram like ' the ' occurs in every document and makes a full
    inverted index quadratic in the corpus — fall outside the prefixes
    and never generate a bucket. This keeps the threshold join exact
    (unlike capping hot grams, which silently lowers reported jaccard)
    while collapsing the candidate space; the standard exact
    set-similarity-join shape for corpora where gram frequencies are
    Zipfian.

    Cost: the postings (slim (id, n, hash) rows) are CUT once
    (lazy localCheckpoint — the stage_cut default mode), then document
    frequency is a HASH AGGREGATE on the gram hash (map-side partial
    combine collapses a ubiquitous gram to one row per map task BEFORE
    the exchange) joined back onto the postings — where AQE skew-join
    splitting applies. Deliberately NOT a `count() over (partition by
    __sh)` window (the round-9-era form): a ubiquitous gram — ' the '
    occurs in EVERY document — would put the whole corpus's posting
    rows through ONE unsplittable window task, the exact straggler
    class the corpus_line_dedup round-10 hardening removed. The cut is
    what keeps the Python gram kernel at ONE evaluation: without it
    the aggregate and join branches each re-run the kernel (exchange
    reuse does NOT apply — the two exchanges have different children),
    measured 114.9 s vs 79.3 s at sf0.1; the cut form also beats the
    retired window form (81.3 s) outright. Then one per-doc sort — all
    shuffle-parallel. The ceil is computed on t*n - 1e-9: float
    rounding may only LENGTHEN a prefix (extra candidates), never
    shorten it (missed pairs).

    `checkpoint_dir` (ADVICE r10): the cut defaults to a lazy
    localCheckpoint — executor-local blocks, lost on executor death,
    in which case a fleet run recomputes the whole gram chain mid-join
    instead of rescanning a file. Pipelines on the reliable-cut
    discipline pass a dir and the postings materialize through
    `stage_cut` to shared storage instead (same values, pytest-pinned).
    The reliable cut's files are the caller's to reclaim: the
    candidate frame returned here (and by `char_ngram_jaccard_pairs`)
    is `adopt_cut`-tagged, so `release_cut(spark, result)` after the
    pairs are consumed deletes the staging directory. localCheckpoint
    blocks have no handle — in a long-lived session they live until
    the RDD is GC'd (`spark.cleaner.referenceTracking`), one more
    reason long-running fleets should prefer the dir form."""
    from postgresql_topn_spark.operators.checkpointing import (
        adopt_cut,
        stage_cut,
    )

    # cut=False (r13): the caller's postings already derive from its
    # OWN materialized cut (char_ngram_jaccard_pairs cuts the per-doc
    # gram ARRAYS so the verification join shares one kernel
    # evaluation) — re-deriving the explode from those blocks per
    # branch is cheap JVM work, while a second cut here would
    # materialize the exploded rows (strictly more bytes) on top.
    if cut:
        posts = stage_cut(posts, checkpoint_dir)
    _cut = posts if cut else None
    dfreq = posts.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    ranked = posts.join(dfreq, "__sh")
    plen = (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + 1
    ).cast("int")
    prefix = (
        ranked.groupBy("__id", "__n")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__sh"))).alias("__g"))
        .select(
            # payload carries the doc's set size so the PPJoin length
            # filter below runs on the pair row, before the (expensive)
            # distinct + verification join
            F.struct(F.col("__id").alias("id"), F.col("__n").alias("n")).alias(
                "__p"
            ),
            F.explode(F.slice("__g", F.lit(1), plen)).alias("__e"),
        )
        # a prefix gram unique to one document (df = 1) can never open a
        # bucket of size >= 2 — drop it BEFORE the pair-generation
        # shuffle. In Zipfian gram distributions most prefix grams (the
        # rarest ones by construction) are df-1, so this is the bulk of
        # the exploded rows.
        .where(F.col("__e.__df") >= 2)
        .select("__p", F.col("__e.__sh").alias("__sh"))
    )
    cand = _bucket_pairs(prefix, ["__sh"], "__p")
    # PPJoin length filter: |A∩B| <= min(n), |A∪B| >= max(n), so
    # Jaccard >= t forces min(n) >= ceil(t * max(n)) — pairs of very
    # different sizes can never verify and are dropped here, before
    # the distinct exchange and the gram-array verification join.
    # The 1e-9 slack only weakens the bound (extra candidates survive
    # to exact verification), never drops a qualifying pair.
    lo = F.least(F.col("__a.n"), F.col("__b.n"))
    hi = F.greatest(F.col("__a.n"), F.col("__b.n"))
    return adopt_cut(
        cand.where(lo >= F.ceil(F.lit(threshold) * hi - F.lit(1e-9)))
        .select(
            F.least("__a.id", "__b.id").alias("doc_a"),
            F.greatest("__a.id", "__b.id").alias("doc_b"),
        )
        .distinct(),
        _cut,
    )


def char_ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    n: int = 5,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """All document pairs with character-n-gram Jaccard >= threshold —
    exact, via prefix-filter candidate generation (_prefix_candidates)
    + full-intersection verification. Character grams catch near-dups
    that token shingles miss when tokenization differs (whitespace
    runs, punctuation edits), but are far hotter than token shingles,
    so the full-index join of jaccard_pairs would be quadratic here;
    the prefix filter is what makes char-gram similarity joinable at
    corpus scale.

    Verification joins the candidate pairs back to the PER-DOC gram
    arrays and intersects them JVM-side (array_intersect inside
    whole-stage codegen): each candidate pair is one slim row carrying
    two arrays, instead of the posting-level join whose intermediate is
    O(candidates x grams-per-doc) rows (measured 8M intermediate rows
    for 29k candidates at sf0.1). The pair set is unpivoted to
    (pair, role, doc) and joined to the gram table ONCE, then re-paired
    with first(when(role)) — two separate a-side/b-side joins would
    scan the gram table twice; the union's two branches share the
    candidate distinct-exchange (reused, since they differ only in
    projections above it). The gram table itself is a stage cut shared
    with the postings index (r13), so the Arrow gram kernel runs
    EXACTLY ONCE for the whole query.

    `checkpoint_dir` (ADVICE r10): reliable cut for the postings
    index instead of the default localCheckpoint — identical pairs,
    executor-loss-safe (see `_prefix_candidates`). The returned frame
    carries the cut handle: `release_cut(spark, result)` reclaims the
    staging dir once the pairs are consumed."""
    if not 0.0 < threshold <= 1.0:
        # an out-of-range threshold makes the prefix length negative
        # and surfaces as a cryptic runtime slice error deep in the
        # job; validate at the API boundary like the sibling operators
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from postgresql_topn_spark.operators.checkpointing import stage_cut

    # ONE kernel evaluation (r13): cut the per-doc gram ARRAYS, then
    # derive both the postings index (explode below) and the
    # verification join from the same materialized blocks. The prior
    # shape cut the EXPLODED postings inside _prefix_candidates, so
    # the verification branch's `garr` re-ran the Arrow gram kernel —
    # a second full corpus Python pass (~0.4 s at sf0.1; a whole scan
    # at 100 TB). The array cut is also strictly fewer bytes than the
    # exploded-posting cut it replaces.
    garr = stage_cut(_char_gram_arrays(df, id_col, text_col, n), checkpoint_dir)
    posts = garr.select("__id", F.explode("__g").alias("__sh"), "__n")
    cand = _prefix_candidates(posts, threshold, checkpoint_dir, cut=False)
    tagged = cand.select(
        "doc_a", "doc_b", F.col("doc_a").alias("__d"), F.lit(0).alias("__r")
    ).unionByName(
        cand.select(
            "doc_a", "doc_b", F.col("doc_b").alias("__d"), F.lit(1).alias("__r")
        )
    )
    from postgresql_topn_spark.operators.checkpointing import adopt_cut

    sides = tagged.join(garr, tagged["__d"] == garr["__id"])
    out = (
        sides.groupBy("doc_a", "doc_b")
        .agg(
            F.first(
                F.when(F.col("__r") == 0, F.col("__g")), ignorenulls=True
            ).alias("__ga"),
            F.first(
                F.when(F.col("__r") == 0, F.col("__n")), ignorenulls=True
            ).alias("__na"),
            F.first(
                F.when(F.col("__r") == 1, F.col("__g")), ignorenulls=True
            ).alias("__gb"),
            F.first(
                F.when(F.col("__r") == 1, F.col("__n")), ignorenulls=True
            ).alias("__nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__ga", "__gb"))
            .cast("long")
            .alias("intersection"),
            "__na",
            "__nb",
        )
        .withColumn(
            "union_size", F.col("__na") + F.col("__nb") - F.col("intersection")
        )
        .withColumn(
            "jaccard",
            F.col("intersection").cast("double")
            / F.col("union_size").cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "union_size", "jaccard")
    )
    # hand the caller the release handle for the reliable gram-array cut
    return adopt_cut(out, garr)


def _exact_jaccard(posts: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for all pairs sharing a shingle, or — when a
    candidate-pair DataFrame is given — only for those pairs (the
    intersection join is *driven from* the candidates, so the work is
    O(candidates x doc_size), never the full shared-shingle pair space).
    Returns (doc_a, doc_b, intersection, union_size, jaccard).

    Sizes ride the posting rows (__n from _shingle_postings), so the
    all-pairs path is exactly two shuffles — postings into shingle
    buckets, co-bucket pair rows into per-pair counts — with the
    tokenize->shingle chain evaluated once and no size joins. (The
    previous sizes-agg + self-join + two size-joins shape scanned the
    table 4x.)"""
    if pairs is not None:
        pa = posts.select(
            F.col("__id").alias("doc_a"), F.col("__n").alias("__na"), "__sh"
        )
        pb = posts.select(
            F.col("__id").alias("doc_b"), F.col("__n").alias("__nb"), "__sh"
        )
        inter = (
            pairs.join(pa, "doc_a")
            .join(pb, ["doc_b", "__sh"])
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("intersection"),
                F.first("__na").alias("__na"),
                F.first("__nb").alias("__nb"),
            )
        )
    else:
        keyed = posts.select(F.struct("__id", "__n").alias("__p"), "__sh")
        cand = _bucket_pairs(keyed, ["__sh"], "__p")
        swap = F.col("__a.__id") > F.col("__b.__id")
        inter = (
            cand.select(
                F.when(swap, F.col("__b.__id")).otherwise(F.col("__a.__id")).alias("doc_a"),
                F.when(swap, F.col("__a.__id")).otherwise(F.col("__b.__id")).alias("doc_b"),
                F.when(swap, F.col("__b.__n")).otherwise(F.col("__a.__n")).alias("__na"),
                F.when(swap, F.col("__a.__n")).otherwise(F.col("__b.__n")).alias("__nb"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("intersection"),
                F.first("__na").alias("__na"),
                F.first("__nb").alias("__nb"),
            )
        )
    out = (
        inter.withColumn(
            "union_size", F.col("__na") + F.col("__nb") - F.col("intersection")
        )
        .withColumn(
            "jaccard",
            F.col("intersection").cast("double") / F.col("union_size").cast("double"),
        )
    )
    return out.select("doc_a", "doc_b", "intersection", "union_size", "jaccard")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All document pairs with k-shingle Jaccard >= threshold, via the
    inverted-index join (no O(n^2) pair space)."""
    posts = _shingle_postings(df, id_col, text_col, k, max_shingle_df)
    return _exact_jaccard(posts).where(F.col("jaccard") >= threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures over k-token shingles: sig_i = min over
    shingles of (a_i * h(shingle) + b_i) mod MINHASH_PRIME, where h is the
    64-bit shingle hash reduced to 32 bits. Hash params are derived from
    a fixed seed so signatures are deterministic across runs/partitions.

    Shape: explode the hashed shingles, then ONE hash aggregation with
    `num_hashes` min() aggregates. Computing the mins as nested
    array_min(transform(...)) expressions instead re-evaluates the whole
    tokenize->shingle->hash chain once per permutation and overflows
    whole-stage codegen into interpreted mode (~50x slower measured);
    the explode+agg form hashes each shingle once and gets map-side
    partial combine."""
    rng = random.Random(seed)
    # a < 2^31 and h reduced to 32 bits keep a*h + b inside int64 —
    # Spark 4 runs ANSI mode, where signed overflow is an error, so the
    # permutation arithmetic must be overflow-free by construction:
    # a*h + b <= (2^31-1)(2^32-1) + (p-1) < 2^63. b spans the FULL
    # prime field so the permuted value is uniform even for h = 0
    # (see the MINHASH_PRIME note for the magnitude-bias bug this
    # family replaces).
    params = [
        (rng.randrange(1, 1 << 31), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]
    # NOT spread (r14, VERDICT r13 watchlist): the r13 warm paired A/B
    # read the spread as a win here, but the driver's cold r13 bench
    # regressed dedup_minhash_lsh 0.75x and the fresh-JVM-per-arm
    # re-measure (two JVMs each way, bench warmup + 3 runs) confirmed
    # it: spread 2.38/2.54 s vs unspread 1.49/1.72 s best — the
    # signature build is 32 tiny min-aggregates whose map-side partials
    # are cheap at any task count, so the round-robin exchange is pure
    # cost under a cold JVM. The shingle-verify leg's spread (the
    # _shingle_postings site) stays: it re-measured a clear cold win
    # (dedup_substring_runs 1.81 vs 3.56 s).
    hashed = _tokenized(df, id_col, text_col).select(
        "__id",
        F.explode(
            F.transform(
                F.array_distinct(hashed_shingles_from_tokens("__toks", k)),
                lambda h: F.pmod(h, F.lit(1 << 32)),
            )
        ).alias("__h"),
    )
    # expr-string construction: one parser call per aggregate instead of
    # ~6 py4j Column calls each — the 32-aggregate build dropped ~4x
    # (pure driver-side DataFrame-construction cost, measured 0.26s vs
    # 0.07s warm; the plan is identical)
    mins = [
        F.expr(f"min(pmod(__h * {a}L + {b}L, {MINHASH_PRIME}L)) AS __m{i}")
        for i, (a, b) in enumerate(params)
    ]
    agg = hashed.groupBy("__id").agg(*mins)
    sig = "array(" + ", ".join(f"__m{i}" for i in range(num_hashes)) + ") AS __sig"
    return agg.select("__id", F.expr(sig))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard rerank.

    LSH generates candidates (any pair agreeing on a full band);
    candidates are verified with exact shingle Jaccard, so output
    precision is exact and only recall depends on (bands, rows). With
    r=2, b=16 the candidate probability at s=0.9 is 1-(1-0.81)^16 >
    0.999999.
    """
    if num_hashes % bands != 0:
        # ValueError, not assert: asserts vanish under python -O and
        # the silent floor division would use only bands*(n//bands) of
        # the signature — a different recall curve than requested
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes=num_hashes, k=k, seed=seed
    )
    # one xxhash64 long per band (band index folded in so bands don't
    # collide with each other) — cheaper to shuffle and group than a
    # formatted string key; a 64-bit collision only ever ADDS a false
    # candidate, which the exact-Jaccard rerank filters out. Built as
    # one expr string: one parser call for all bands (see the build-cost
    # note in minhash_signatures).
    band_arr = F.expr(
        "array("
        + ", ".join(
            "xxhash64({})".format(
                ", ".join(
                    [str(j)]
                    + [
                        f"element_at(__sig, {j * rows_per_band + r + 1})"
                        for r in range(rows_per_band)
                    ]
                )
            )
            for j in range(bands)
        )
        + ")"
    )
    banded = sigs.select(F.col("__id").alias("__p"), F.explode(band_arr).alias("__band"))
    cand = _bucket_pairs(banded, ["__band"], "__p")
    candidates = (
        cand.select(
            F.least("__a", "__b").alias("doc_a"),
            F.greatest("__a", "__b").alias("doc_b"),
        )
        .distinct()
    )
    posts = _shingle_postings(df, id_col, text_col, k)
    verified = _exact_jaccard(posts, pairs=candidates)
    return verified.where(F.col("jaccard") >= threshold)


def _minhash_md5_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) permutation params, themselves derived
    from md5 so the oracle can inline the same literals: a_i in
    [1, 2^31) (keeps a*h inside int64), b_i in [0, MINHASH_PRIME) —
    b must span the FULL prime field for uniformity at small h (see
    the MINHASH_PRIME note)."""
    import hashlib

    def hmd5(tag: str, hexchars: int) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:hexchars], 16)

    return [
        (
            hmd5(f"a:{i}", 8) % (1 << 31) | 1,
            hmd5(f"b:{i}", 16) % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(__id, __sig) — MinHash signatures in the SQL-replayable md5
    form: ONE md5 per distinct k-token shingle reduced to 32 bits, then
    ``sig_i = min((a_i * h + b_i) mod MINHASH_PRIME)`` with fixed md5-
    derived params — the xxhash production form's permutation algebra
    (minhash_signatures) with the repo's cross-engine hash swapped in.
    All arithmetic stays inside int64 on both engines (a < 2^31,
    h < 2^32 ⇒ a*h + b < 2^63), so a DuckDB oracle replays signatures
    bit-for-bit. Same explode + min-aggregate shape: each shingle is
    hashed once inside ONE hash aggregation with map-side partial
    combine. Use the xxhash form for production indexes; this form
    whenever the result must be value-oracled."""
    # explode distinct shingles -> 32-bit md5 hash, one md5 per shingle
    # (tokenized frame spread first: the md5-per-shingle projection is
    # the expensive leg and must not run at a starved scan's task count)
    shs = (
        spread_small_scan(df, _tokenized(df, id_col, text_col))
        .select(
            "__id",
            F.explode(
                F.array_distinct(shingles_from_tokens("__toks", k))
            ).alias("__s"),
        )
        .select(
            "__id",
            F.expr(
                "pmod(CAST(conv(substring(md5(__s), 1, 15), 16, 10) AS BIGINT),"
                " 4294967296L)"
            ).alias("__h"),
        )
    )
    mins = [
        F.expr(f"min(pmod(__h * {a}L + {b}L, {MINHASH_PRIME}L)) AS __m{i}")
        for i, (a, b) in enumerate(_minhash_md5_params(num_hashes))
    ]
    agg = shs.groupBy("__id").agg(*mins)
    sig = (
        "array(" + ", ".join(f"__m{i}" for i in range(num_hashes)) + ") AS __sig"
    )
    return agg.select("__id", F.expr(sig))


def minhash_union_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    sig: str,
    *,
    out_col: str = "sig",
) -> DataFrame:
    """Merge MinHash signatures per group by element-wise minimum — the
    signature algebra that makes MinHash a ROLLUP sketch like topn:
    min-merge of doc signatures equals the signature of the union of
    their shingle sets, so per-day/per-source signatures can be stored
    small and merged across any grouping or time range later (exactly
    the topn_union_agg pattern, for set similarity instead of heavy
    hitters).

    Shape: posexplode -> min per (group, position) -> repack ordered
    array. The (group, pos) min aggregation gets Catalyst's map-side
    partial combine, so per-group state is O(num_hashes) regardless of
    group size — never a collect_list of all member signatures."""
    ex = df.select(*group_cols, F.posexplode(F.col(sig)).alias("__pos", "__v"))
    m = ex.groupBy(*group_cols, "__pos").agg(F.min("__v").alias("__mn"))
    return (
        m.groupBy(*group_cols)
        .agg(
            F.array_sort(F.collect_list(F.struct("__pos", "__mn"))).alias("__e")
        )
        .select(
            *group_cols,
            F.transform("__e", lambda e: e["__mn"]).alias(out_col),
        )
    )


def minhash_est_jaccard(a, b) -> Column:
    """Estimated Jaccard from two equal-length signatures: the fraction
    of agreeing components (an unbiased estimator with std error
    ~1/sqrt(num_hashes))."""
    eq = F.zip_with(_col(a), _col(b), lambda x, y: x == y)
    return F.size(F.filter(eq, lambda v: v)).cast("double") / F.size(
        _col(a)
    ).cast("double")


def simhash_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over k-token shingle hashes:
    bit_j set iff the majority of the document's distinct shingle
    hashes have bit_j set.

    Shape: ONE flat JVM expression (xxhash64 per token) followed by ONE
    Arrow-batched numpy stage that forms shingle hashes as a rolling
    degree-k polynomial over the token hashes, dedupes them per
    document, and takes the 64-way majority vote via unpackbits +
    segmented reduce. Entirely map-side: no explode, no shuffle, so at
    cluster scale SimHash costs exactly one scan. (Two rejected
    alternatives, both measured at sf0.1: explode + 64-conditional-sum
    aggregation shuffles docs x shingles rows — 3.0s; a nested-lambda
    per-shingle concat/hash expression feeding the vote pays seconds of
    analysis/codegen on a plan this deep — 7.4s cold. This form: ~1.5s
    cold.) Documents with fewer than k tokens have no shingles and are
    omitted, matching the no-group behavior of the aggregation form.

    The vote is a mapInPandas STAGE, not a column-level pandas UDF, on
    purpose: an opaque map node is a plan barrier, so downstream
    self-joins can't infer isnotnull(udf(...)) constraint filters or
    push the Python eval into positions ExtractPythonUDFs can't plan
    (both failure modes observed with the scalar-UDF form)."""
    from pyspark.sql.types import LongType, StructField, StructType

    # token-count pre-filter (pushed into the scan stage) + per-token
    # hashes; flat expressions keep analysis/codegen trivial. The
    # conditional repartition parallelizes single-row-group local files;
    # at cluster scale the scan already has >= defaultParallelism splits
    # and no shuffle is added.
    hashed = df.select(
        _col(id_col).alias("__id"), tokens(text_col).alias("__toks")
    ).where(
        # NULL-id guard: same Arrow nullable-int64 coercion class as
        # the char-gram path above
        F.col("__id").isNotNull() & (F.size("__toks") >= k)
    )
    hashed = hashed.select(
        "__id", F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th")
    )
    hashed = spread_small_scan(df, hashed)
    out_schema = StructType(
        [hashed.schema["__id"], StructField("__sh", LongType())]
    )
    # odd multiplier => bijective step mod 2^64; k-gram polynomial
    # combine of already-uniform token hashes
    mult = np.uint64(0x9E3779B97F4A7C15)

    def _simhash_batches(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = [np.asarray(a, dtype=np.int64) for a in pdf["__th"]]
            out = np.empty(len(arrs), dtype=np.uint64)
            # chunk docs so the (shingles, 64) bit matrix stays small
            step = 2048
            for i in range(0, len(arrs), step):
                chunk = arrs[i : i + step]
                n = len(chunk)
                lens = np.fromiter((len(a) for a in chunk), np.int64, n)
                flat = np.concatenate(chunk).view(np.uint64)
                nw = flat.size - (k - 1)  # >= 1: every doc has >= k tokens
                doc_of = np.repeat(np.arange(n), lens)
                with np.errstate(over="ignore"):
                    sh = np.zeros(nw, dtype=np.uint64)
                    for j in range(k):
                        sh = sh * mult + flat[j : nw + j]
                valid = doc_of[:nw] == doc_of[k - 1 :]  # window within one doc
                sh, seg = sh[valid], doc_of[:nw][valid]
                order = np.lexsort((sh, seg))
                sh, seg = sh[order], seg[order]
                keep = np.ones(sh.size, dtype=bool)  # distinct per doc
                keep[1:] = (seg[1:] != seg[:-1]) | (sh[1:] != sh[:-1])
                sh, seg = sh[keep], seg[keep]
                counts = np.bincount(seg, minlength=n)
                starts = np.zeros(n, dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                bits = np.unpackbits(
                    sh.view(np.uint8).reshape(sh.size, 8), axis=1, bitorder="little"
                )
                ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
                maj = (2 * ones > counts[:, None]).astype(np.uint64)
                out[i : i + step] = (maj << shifts).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {"__id": pdf["__id"].to_numpy(), "__sh": out.view(np.int64)}
            )

    return hashed.mapInPandas(_simhash_batches, out_schema)


def _hamming_chunk_pairs(
    sh: DataFrame, n_bits: int, max_hamming: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with hamming <= max_hamming from a
    (__id, __sh) SimHash table, via the pigeonhole trick: partition the
    n_bits into (max_hamming+1) chunks; any pair within distance
    max_hamming agrees on at least one chunk, so candidates join on
    (chunk_idx, chunk_value) — never O(n^2). When n_bits doesn't divide
    evenly the leading chunks take one extra bit, so the chunks still
    cover every bit (required for the pigeonhole guarantee)."""
    from postgresql_topn_spark.operators.text import _bind

    n_chunks = max_hamming + 1
    base, extra = divmod(n_bits, n_chunks)
    # numeric (chunk_idx, chunk_value) join keys — a long pair shuffles
    # and compares cheaper than a formatted string key. The whole
    # per-row output is built inside ONE _bind lambda: the naive form
    # (struct + n_chunks shift expressions each naming __sh) lets
    # project collapsing substitute the hash-producing tree into every
    # reference — for the expression-computed md5 SimHash that meant
    # ~5x re-evaluation of the md5+vote pipeline (measured 14.4s vs
    # ~3s at sf0.1; the numpy form was shielded by its mapInPandas
    # barrier).
    def chunk_rows(s: Column) -> Column:
        rows, off = [], 0
        for c in range(n_chunks):
            width = base + (1 if c < extra else 0)
            rows.append(
                F.struct(
                    F.struct(F.col("__id").alias("__id"), s.alias("__sh")).alias(
                        "__p"
                    ),
                    F.lit(c).alias("__c"),
                    F.shiftright(s, off)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .cast("long")
                    .alias("__v"),
                )
            )
            off += width
        return F.array(*rows)

    chunked = sh.select(F.inline(_bind(F.col("__sh"), chunk_rows)))
    cand = _bucket_pairs(chunked, ["__c", "__v"], "__p")
    return (
        cand.select(
            F.least("__a.__id", "__b.__id").alias("doc_a"),
            F.greatest("__a.__id", "__b.__id").alias("doc_b"),
            F.bit_count(F.col("__a.__sh").bitwiseXOR(F.col("__b.__sh")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    k: int = 3,
) -> DataFrame:
    """Pairs with 64-bit SimHash hamming distance <= max_hamming (the
    xxhash64 + numpy scale form; see simhash_table)."""
    sh = simhash_table(df, id_col, text_col, k)
    return _hamming_chunk_pairs(sh, 64, max_hamming)


def simhash_md5_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(__id, __sh) — 60-bit SimHash over md5-hashed k-token shingles:
    the cross-engine-reproducible twin of simhash_table.

    The shingle hash is the first 15 hex chars of md5(shingle) read as a
    60-bit long — Spark `conv(substr(md5(s),1,15),16,10)` and DuckDB
    `CAST('0x' || substr(md5(s),1,15) AS BIGINT)` produce the identical
    integer, so the whole pipeline (hash -> per-bit majority vote ->
    hamming) is reproducible in ANSI SQL and the suite query carries a
    value-level oracle. 60 bits (not 64) keeps the value positive in a
    signed BIGINT on both engines.

    Shape: pure JVM expressions, map-side, no shuffle, no Python stage —
    one aggregate pass accumulates the 60 per-bit counts, then the
    majority vote folds them into the hash (measured faster than a
    filter-per-bit form: 0.42s vs 0.68s warm at sf0.1). Documents with
    fewer than k tokens have no shingles and are omitted, like
    simhash_table. For throughput at scale prefer simhash_table; this
    form exists so SimHash semantics are oracle-checkable."""
    parts = ", ".join(f"element_at(__toks, i + {j})" for j in range(k))
    vote = f"""
    transform(
      array(array_distinct(transform(
        sequence(1, size(__toks) - {k - 1}),
        i -> cast(conv(substr(md5(concat_ws(' ', {parts})), 1, 15), 16, 10) as bigint)))),
      a -> aggregate(
        aggregate(a, transform(sequence(0, 59), j -> 0),
                  (acc, h) -> zip_with(acc, transform(sequence(0, 59),
                                                      j -> cast(shiftright(h, j) & 1 as int)),
                                       (x, y) -> x + y),
                  acc -> zip_with(acc, sequence(0, 59),
                                  (c, j) -> if(2 * c > size(a),
                                               shiftleft(cast(1 as bigint), j),
                                               cast(0 as bigint)))),
        cast(0 as bigint), (s, b) -> s + b))[0]
    """
    toks = _tokenized(df, id_col, text_col).where(F.size("__toks") >= k)
    # parallelize single-row-group local files before the (per-row
    # expensive) md5+vote projection (see spread_small_scan)
    toks = spread_small_scan(df, toks)
    return toks.select("__id", F.expr(vote).alias("__sh"))


def simhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    k: int = 3,
) -> DataFrame:
    """Pairs with 60-bit md5-SimHash hamming distance <= max_hamming —
    the oracle-checkable twin of simhash_pairs (same pigeonhole join)."""
    sh = simhash_md5_table(df, id_col, text_col, k)
    return _hamming_chunk_pairs(sh, 60, max_hamming)


def substring_run_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_run_tokens: int = 16,
    shingle_k: int = 8,
    max_shingle_df: "int | str | None" = "auto",
) -> DataFrame:
    """Exact SHARED-SUBSTRING detection at token granularity — the
    substring-dedup primitive of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") expressed as Spark
    relational algebra instead of a suffix array: every maximal run of
    >= `min_run_tokens` consecutive tokens shared verbatim by two
    documents, with its start offsets. Catches boilerplate headers,
    quoted passages and partial copies that document-level
    (Jaccard/MinHash) dedup misses because the rest of the documents
    differ.

    Algorithm: positional `shingle_k`-token grams, md5-60bit hashed
    (oracle-replayable; collisions ~2^-60 per candidate pair, same
    class as every other md5 operator here); inverted-index self-join
    on the hash (never all-pairs); a shared run of R tokens appears as
    R-k+1 matches on one (doc_a, doc_b, pa-pb) DIAGONAL at consecutive
    pa — coalesced with the gaps-and-islands trick (pa - row_number
    per diagonal), so each maximal run becomes one output row with
    run_tokens = matches + k - 1.

    Scale shape: the only joins are hash-equality on longs; window
    state is per-(pair, diagonal) match lists (bounded by matched
    positions, not corpus size). `max_shingle_df` drops grams whose
    posting list exceeds the cap (Zipf guard, same trade as
    jaccard_pairs: a dropped gram can split a run that crosses it —
    candidate bound, never a false positive). It defaults to
    ``'auto'`` = max(1000, ceil(0.5% * N)) with N = input ROW count
    (one cheap count job at call time, like semdedup's
    `n_clusters='auto'`) — the guard is ON by default so a boilerplate
    gram shared by the whole corpus can't go |postings|^2 under
    default arguments; an explicit int overrides, ``None`` disables
    (the exact-Lee-et-al escape hatch).

    Returns (doc_a, doc_b, a_start, b_start, run_tokens), 1-based
    token offsets, doc_a < doc_b."""
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    if min_run_tokens < shingle_k:
        raise ValueError(
            f"min_run_tokens ({min_run_tokens}) must be >= shingle_k "
            f"({shingle_k}): shorter runs are invisible to k-gram matching"
        )
    from pyspark.sql.window import Window

    t = spread_small_scan(df, _tokenized(df, id_col, text_col))
    sh_expr = shingles_from_tokens(F.col("__toks"), shingle_k)
    # posexplode in the SAME select as the shingle expression (see
    # _tokenized's Generate-boundary note); the tokenized frame is
    # spread first — the positional md5-per-gram projection below is
    # the hot leg (measured 3.1 -> 1.1 s on the suite gate when the
    # scan is a single-row-group file)
    sh = t.select(
        "__id", F.posexplode(sh_expr).alias("__p0", "__s")
    ).select(
        "__id",
        (F.col("__p0") + 1).alias("__p"),
        F.conv(F.substring(F.md5("__s"), 1, 15), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    if max_shingle_df == "auto":
        # N = input ROW count (one cheap count job — parquet metadata
        # for a bare scan), NOT a distinct-count over the postings:
        # that variant re-evaluated the whole md5-shingle chain a
        # third time and cost ~1.5x on the suite query (r7 bench).
        # The cap is a heuristic bound, so the simpler universe is
        # fine; the gate oracles replay count(*) over the same table.
        import math

        cap = max(_AUTO_DF_FLOOR, math.ceil(df.count() * _AUTO_DF_FRAC))
        hot = (
            sh.groupBy("__h")
            .count()  # posting appearances (incl. intra-doc repeats)
            .where(F.col("count") > cap)
            .select("__h")
        )
        sh = sh.join(F.broadcast(hot), "__h", "left_anti")
    elif max_shingle_df is not None:
        hot = (
            sh.groupBy("__h")
            .count()  # posting appearances (incl. intra-doc repeats)
            .where(F.col("count") > int(max_shingle_df))
            .select("__h")
        )
        sh = sh.join(F.broadcast(hot), "__h", "left_anti")
    a = sh.select(
        F.col("__id").alias("doc_a"), F.col("__p").alias("__pa"), "__h"
    )
    b = sh.select(
        F.col("__id").alias("doc_b"), F.col("__p").alias("__pb"), "__h"
    )
    m = a.join(b, "__h").where(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy("doc_a", "doc_b", "__diag").orderBy("__pa")
    runs = (
        m.select(
            "doc_a",
            "doc_b",
            "__pa",
            "__pb",
            (F.col("__pa") - F.col("__pb")).alias("__diag"),
        )
        .withColumn("__isl", F.col("__pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "__diag", "__isl")
        .agg(
            F.min("__pa").alias("a_start"),
            F.min("__pb").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(shingle_k - 1))
            .cast("int")
            .alias("run_tokens"),
        )
        .where(F.col("run_tokens") >= min_run_tokens)
    )
    return runs.select("doc_a", "doc_b", "a_start", "b_start", "run_tokens")


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_run_tokens: int = 16,
    shingle_k: int = 8,
    max_shingle_df: "int | str | None" = "auto",
    theta: float = 0.5,
) -> DataFrame:
    """Substring-dedup DECISION on top of `substring_run_pairs` — Lee
    et al. 2022 dedup doesn't just list shared spans, it removes them;
    this is the document-drop variant of that policy: a document is
    dropped when the fraction of its tokens covered by >=
    `min_run_tokens` runs shared with EARLIER-id documents exceeds
    `theta` (keep-earliest, like the other dedup operators here).

    Coverage is the length of the UNION of the document's shared
    intervals (classic sort + running-max-end islands — overlapping
    runs against different partners aren't double-counted), one window
    per doc over per-doc interval lists (bounded by matched spans, not
    corpus size). Coverage counts runs against ALL earlier documents,
    including ones themselves dropped — the one-pass, non-iterative
    policy (a survivor-only recount would need a sequential dependency
    chain; at corpus scale the difference is second-order and the
    one-pass form is deterministic and embarrassingly parallel).

    Returns one row per input document:
    (id_col, n_tokens, covered_tokens, coverage, keep)."""
    if not (0.0 <= theta <= 1.0):
        raise ValueError(f"theta must be in [0, 1], got {theta}")
    from pyspark.sql.window import Window

    runs = substring_run_pairs(
        df,
        id_col,
        text_col,
        min_run_tokens=min_run_tokens,
        shingle_k=shingle_k,
        max_shingle_df=max_shingle_df,
    )
    # the LATER doc of each pair owes coverage to the earlier one
    iv = runs.select(
        F.col("doc_b").alias("__id"),
        F.col("b_start").alias("__s"),
        (F.col("b_start") + F.col("run_tokens") - 1).alias("__e"),
    )
    w = Window.partitionBy("__id").orderBy("__s", "__e")
    prev_max = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max.isNull() | (F.col("__s") > prev_max), 1
    ).otherwise(0)
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    covered = (
        iv.withColumn("__isl", island)
        .groupBy("__id", "__isl")
        .agg((F.max("__e") - F.min("__s") + 1).alias("__len"))
        .groupBy("__id")
        .agg(F.sum("__len").alias("__covered"))
    )
    totals = _tokenized(df, id_col, text_col).select(
        "__id", F.size("__toks").alias("n_tokens")
    )
    cov_raw = F.when(
        F.col("n_tokens") > 0,
        F.col("covered_tokens") / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        totals.join(covered, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            F.coalesce("__covered", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            "covered_tokens",
            F.round(cov_raw, 6).alias("coverage"),
            (cov_raw <= F.lit(float(theta))).alias("keep"),
        )
    )


def _shuffle_partition_count(spark) -> int:
    """spark.sql.shuffle.partitions as an int, degrading gracefully on
    platforms where the conf holds a non-integer value (e.g. 'auto'
    under AQE-managed runtimes): fall back to the cluster default
    parallelism, then 200 — never fail plan construction over a
    repartition width hint (review pin)."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism) or 200
        except Exception:
            return 200


def levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_dist: int = 2,
    block: Column | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs — the record-linkage /
    fuzzy-title-dedup flavor the token-set operators (Jaccard, MinHash,
    SimHash) can't express: Jaccard sees "colour" vs "color" as
    different tokens, edit distance sees one deletion. Standard
    blocking-then-verify shape: candidates must share an equality
    BLOCKING key (default: lower-cased first whitespace token), then
    pairs are verified with Spark's built-in ``levenshtein`` (same
    unweighted Wagner-Fischer as DuckDB/Postgres ``levenshtein``) —
    never all-pairs across the corpus.

    Pre-filter: ``abs(len_a - len_b) <= max_dist`` (a length gap of g
    needs >= g edits) runs before the distance — it prunes most
    candidates for small thresholds — and the verify itself is the
    BANDED levenshtein (Spark's threshold form): O(n * max_dist) per
    pair with early exit instead of O(n * m), a ~m/d speedup that
    measured 60s -> ~3s on a coarse-blocked corpus at sf0.1.
    ``max_block_size`` optionally
    drops blocks with more members than the cap (the Zipf guard, same
    trade as jaccard_pairs' df cap: a dropped block can only lose
    candidate pairs, never fabricate them) — set it at corpus scale
    where a degenerate blocking key (empty titles) would go quadratic.

    Returns (doc_a, doc_b, dist), doc_a < doc_b. Scale shape: one
    hash-equality self-join on the block key (AQE skew-split applies),
    distance computed JVM-side, zero Python stages."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    # default block: first REAL token (text.tokens() trims and drops
    # phantom '' tokens, so leading whitespace can't dump documents
    # into a shared degenerate '' block). F.get, not getItem: an
    # empty/whitespace-only document tokenizes to [] and getItem(0)
    # CRASHES under ANSI (INVALID_ARRAY_INDEX) — F.get yields NULL and
    # the isNotNull filter below drops the row (review pin)
    b = (
        block
        if block is not None
        else F.lower(F.get(tokens(text_col), 0))
    )
    t = df.select(
        _col(id_col).alias("__id"),
        _col(text_col).alias("__t"),
        b.alias("__b"),
    ).where(F.col("__b").isNotNull() & F.col("__t").isNotNull())
    if max_block_size is not None:
        hot = (
            t.groupBy("__b")
            .count()
            .where(F.col("count") > max_block_size)
            .select("__b")
        )
        t = t.join(F.broadcast(hot), "__b", "left_anti")
    a = t.select(
        F.col("__b"),
        F.col("__id").alias("doc_a"),
        F.col("__t").alias("__ta"),
    )
    c = t.select(
        F.col("__b"),
        F.col("__id").alias("doc_b"),
        F.col("__t").alias("__tb"),
    )
    cand = (
        a.join(c, "__b")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.abs(F.length("__ta") - F.length("__tb")) <= F.lit(max_dist)
        )
    )
    # Two plan hazards around the expensive verify, both measured at
    # sf0.1 (5s -> 0.6s when fixed):
    # 1. A plain filter on levenshtein gets PUSHED INTO the block-join
    #    condition, where it is (a) evaluated per raw candidate before
    #    cheap predicates prune, (b) duplicated (dist >= 0 and
    #    dist <= d are two evaluations — no CSE in join conditions),
    #    and (c) run inside the probe side's task layout — ONE task
    #    when the corpus is a single parquet split. The groupBy below
    #    is an optimizer barrier: filters on aggregate output do not
    #    push below the aggregation (it also dedups repeated pairs).
    # 2. The verify is CPU-bound, not byte-bound, so AQE's size-based
    #    coalescing would fold the byte-tiny candidate exchange back
    #    into one partition; the EXPLICIT repartition count (respected
    #    by AQE) keeps the verify spread. Candidates are tiny relative
    #    to the corpus, so the extra shuffle is cheap at every scale.
    n_parts = _shuffle_partition_count(df.sparkSession)
    cand = cand.repartition(n_parts, F.col("doc_a"), F.col("doc_b"))
    cand = cand.groupBy("doc_a", "doc_b").agg(
        F.first("__ta").alias("__ta"), F.first("__tb").alias("__tb")
    )
    pairs = (
        cand.select(
            "doc_a",
            "doc_b",
            # banded: returns -1 when the distance exceeds max_dist
            F.levenshtein("__ta", "__tb", max_dist).alias("dist"),
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= F.lit(max_dist)))
    )
    return pairs


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    min_sim: float = 0.5,
    max_df: "int | str | None" = "auto",
    round_to: int = 6,
) -> DataFrame:
    """Sparse TF-IDF cosine near-duplicate pairs — the weighted bridge
    between token-set Jaccard (every shingle counts the same) and dense
    embedding cosine (needs an embedding column): documents are
    tf-idf-weighted sparse vectors over `shingle_k`-token shingles, and
    similarity is the exact normalized dot product.

    weight = tf * ln(N / df); terms with zero idf (df == N) — and
    terms with df over the ``max_df`` cap — carry weight 0 in the
    MEASURE itself (a df-derived stopword rule: idf already says
    ubiquitous terms carry no signal) and are dropped from the inverted
    index, which is exactly what bounds the hottest posting lists (the
    |postings|^2 quadratic trap). The remaining candidate generation is
    an inverted-index self-join on shared terms — never all-pairs; the
    dot product needs only SHARED terms, so the join result is the
    whole computation.

    ``max_df`` defaults to ``'auto'`` = max(1000, ceil(0.5% * N)) —
    the posting-list Zipf guard is ON by default (the same
    default-not-knob promotion as `auto_lsh_params` and semdedup's
    `n_clusters='auto'`: a pathological corpus must not go
    |postings|^2 just because the caller took the defaults). An
    explicit int overrides the cap; ``None`` disables it entirely (the
    exact-measure escape hatch). The cap only ever DROPS near-stopword
    terms: pairs lose a low-idf contribution, never gain one.

    Plan: tf hash-agg (map-side combined) -> df/norm derived from it ->
    posting self-join -> per-pair sum. All JVM. Returns
    (doc_a, doc_b, cos_sim) with cos_sim rounded to ``round_to`` and
    the threshold applied to the ROUNDED value (engine-portable
    boundary semantics)."""
    if not (0.0 <= min_sim <= 1.0):
        raise ValueError(f"min_sim must be in [0, 1], got {min_sim}")
    t = _tokenized(df, id_col, text_col)
    sh = t.select(
        "__id",
        F.explode(shingles_from_tokens(F.col("__toks"), shingle_k)).alias(
            "__term"
        ),
    )
    tf = sh.groupBy("__id", "__term").agg(
        F.count(F.lit(1)).cast("double").alias("__tf")
    )
    df_t = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    # N counts docs that produced at least one term — the same universe
    # df is counted over. Counting ALL docs (incl. those shorter than
    # shingle_k) made df == N unreachable in short-doc corpora, so the
    # zero-idf stopword guard never fired and a ubiquitous shingle kept
    # its full quadratic posting list (review pin)
    n_docs = tf.agg(
        F.count_distinct(F.col("__id")).cast("double").alias("__n")
    )
    if max_df == "auto":
        df_t = (
            df_t.crossJoin(F.broadcast(n_docs))
            .where(F.col("__df") <= _auto_df_cap(F.col("__n")))
            .select("__term", "__df")
        )
    elif max_df is not None:
        df_t = df_t.where(F.col("__df") <= int(max_df))
    w = (
        tf.join(df_t, "__term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "__id",
            "__term",
            (
                F.col("__tf")
                * F.log(F.col("__n") / F.col("__df").cast("double"))
            ).alias("__w"),
        )
        .where(F.col("__w") > 0)  # df == N terms carry no signal
    )
    # r13: the norm rides `w` as a per-doc window (bounded: one doc's
    # terms) and travels THROUGH the posting join, instead of a
    # separate groupBy(__id) branch joined back twice — the norm
    # branch's whole tf subtree (tokenize -> explode -> tf agg -> df
    # join) re-executed at runtime (runtime exchange reuse only covered
    # the two posting sides), and the two norm joins were two more
    # exchanges of the pair table. Same doubles: sqrt(sum(w*w)) per
    # doc, one value per window partition, and the pair agg's
    # min() just picks that single repeated value.
    wkey = Window.partitionBy("__id")
    w = w.withColumn(
        "__nn", F.sqrt(F.sum(F.col("__w") * F.col("__w")).over(wkey))
    )
    a = w.select(
        F.col("__term"),
        F.col("__id").alias("doc_a"),
        F.col("__w").alias("__wa"),
        F.col("__nn").alias("__na"),
    )
    b = w.select(
        F.col("__term"),
        F.col("__id").alias("doc_b"),
        F.col("__w").alias("__wb"),
        F.col("__nn").alias("__nb"),
    )
    dots = (
        a.join(b, "__term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"),
            F.min("__na").alias("__na"),
            F.min("__nb").alias("__nb"),
        )
    )
    return dots.select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("__dot") / (F.col("__na") * F.col("__nb")), round_to
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= F.lit(float(min_sim)))
