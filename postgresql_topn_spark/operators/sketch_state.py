"""Tier-2 "faithful sketch" mode: bounded-memory per-group top-n state
with the reference's exact prune policies, for groups whose item
cardinality is too large to count exactly.

The reference's algorithm (SURVEY.md §1.2, topn.c):

1. plain hash upsert per item, saturating int64 add (topn.c:997-1009);
2. when the table exceeds an itemLimit, sort all entries by frequency
   DESC and delete everything beyond a keep-count (topn.c:869-908);
3. the (limit, keep) pair differs by call site:
   - aggregate add/merge paths: limit = 3 x counters ("UnionFactor",
     topn.c:50), keep = current_size / 2   (topn.c:440-446, 984-988)
   - scalar add/union + finalizer: limit = counters, keep = counters
     (topn.c:350, 380, 652)

Evicted items lose their whole count (re-inserted items restart), so
reported frequencies are lower bounds — unlike textbook Space-Saving,
which overestimates. Counts are exact while no eviction fires.

Spark execution model: a two-phase distributed aggregation that mirrors
the reference's parallel aggregation (worker partial states + leader
combine via serialize/deserialize/union_internal, topn.c:509-625):

- phase 1 (`mapInPandas`): one bounded state per group per input
  partition — the map-side partial combine, before any shuffle; emits
  each partial state's entries as plain rows.
- phase 2 (shuffle on group keys + `applyInPandas`): MergeTopn-style
  merge of partial entries, then :func:`pack_counts`, which returns the
  ``map<string,bigint>`` sketch itself (no JSON hop) in (frequency
  DESC, item ASC) entry order, like Tier-1.

Every Python lane of the package (these merges, the streaming
snapshot, the three registered SQL UDAFs) finishes through
:func:`pack_counts`: it saturates each exact total into int64 before it
ranks and cuts, as the reference saturates on every add
(topn.c:997-1009) before ``PruneHashTable`` ranks (topn.c:869-908). So
at the int64 edge every lane keeps the same items as Tier-1.

Only the entries of bounded sketches cross the wire (<= 3 x counters
rows per group per input partition), never raw items — at 100 TB this
is the difference between shuffling billions of raw rows and shuffling
O(groups x counters) pre-reduced pairs. Merge order is made
deterministic (frequency DESC, item ASC) so eviction decisions do not
depend on shuffle arrival order — the reference is order-dependent and
nondeterministic here; we pin determinism as a documented deviation.

Phase 1 pre-combines each Arrow batch and adds its (group, item) sums
in (total DESC, item ASC) order (see :func:`_partial_fn`), so under
eviction the heavy items of a batch are never half counted, whatever
the number of partial tasks. That number is set by ``spread_small_scan``
with a floor of ``spark.sql.files.openCostInBytes`` per task: every
Python task pays a fixed worker cost (README "Deployment"), so a scan
under 4 MB runs one partial task rather than ``defaultParallelism``.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Iterator, Sequence
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from postgresql_topn_spark.conf import INT64_MAX, resolve_counters, size_bytes
from postgresql_topn_spark.functions.aggregates import _caller_names
from postgresql_topn_spark.functions.sketch import _col

UNION_FACTOR = 3  # topn.c:50


def clamp64(v: int) -> int:
    """Saturate an exact integer total into int64 — applied ONCE at
    each egress (:func:`pack_counts`, the state store), never per add:
    a running per-add clamp would make mixed-sign weighted totals
    depend on partition arrival order, which a distributed aggregate
    must never do (Tier-1 sums exactly in decimal(38,0) and clamps
    once; Tier-2 matches)."""
    return max(min(v, INT64_MAX), -INT64_MAX - 1)


def _rank_cut(pairs, keep: int) -> dict[str, int]:
    """``PruneHashTable``: rank by ``compareFrequentTopnItem``
    (frequency DESC, item ASC, topn.c:817-834) and keep the first
    *keep* (topn.c:869-908)."""
    return dict(sorted(pairs, key=lambda kv: (-kv[1], kv[0]))[:keep])


def pack_counts(
    counts: dict[str, int], counters: int, *, drop_nonpositive: bool = False
) -> dict[str, int]:
    """The finishing rule of every Python lane: saturate each exact
    total with :func:`clamp64`, drop totals <= 0 when asked (the
    weighted "not a heavy hitter" rule), keep the top *counters* by
    (frequency DESC, item ASC) and return them in that order.

    Saturating BEFORE ranking is the reference's order: two totals past
    INT64_MAX tie at INT64_MAX and the smaller item wins, as in Tier-1;
    ranking exact totals first would keep the other one."""
    pairs = ((k, clamp64(v)) for k, v in counts.items())
    if drop_nonpositive:
        pairs = ((k, v) for k, v in pairs if v > 0)
    return _rank_cut(pairs, counters)


def truncate_key_bytes(s: str, limit: int = 255) -> str:
    """Exact encoding-aware byte truncation (topn.c:338 semantics)."""
    b = s.encode("utf-8")
    if len(b) <= limit:
        return s
    return b[:limit].decode("utf-8", errors="ignore")


class TopnState:
    """The reference's TopnAggState (topn.c:100-117): a dict standing in
    for the PG HTAB of FrequentTopnItem entries."""

    __slots__ = ("counts", "counters")

    def __init__(self, counters: int):
        self.counts: dict[str, int] = {}
        self.counters = counters

    def _prune(self, keep: int) -> None:
        # eviction ranks the EXACT totals (see clamp64); only the final
        # pack saturates first
        if keep < len(self.counts):
            self.counts = _rank_cut(self.counts.items(), keep)

    def add(self, item: str, amount: int = 1, *, aggregate_path: bool = True) -> None:
        """Upsert + conditional prune. aggregate_path=True is the
        transition/merge policy (limit 3c, keep size/2, topn.c:440-446,
        984-988); False is the scalar policy (limit c, keep c,
        topn.c:350)."""
        cur = self.counts.get(item)
        if cur is None:
            # exact (unbounded) Python-int totals; int64 saturation is
            # applied once at egress via clamp64 — see its docstring
            self.counts[item] = amount
            if aggregate_path:
                if len(self.counts) > self.counters * UNION_FACTOR:
                    self._prune(len(self.counts) // 2)
            elif len(self.counts) > self.counters:
                self._prune(self.counters)
        else:
            self.counts[item] = cur + amount

    def finalize(self) -> dict[str, int]:
        """topn_pack: :func:`pack_counts` to counters (topn.c:652)."""
        return pack_counts(self.counts, self.counters)


def weight_to_long(w) -> int:
    """The THREE-SURFACE fractional-weight rule (Column lane's F.round
    == SQL UDAF == Tier-2 sketch): NULL/NaN -> 0; finite values round
    HALF-UP away from zero via Decimal on the shortest repr (naive
    wf + 0.5 diverges on edge doubles); infinities and magnitudes
    beyond int64 saturate like Spark's non-ANSI double->long cast."""
    # pd.isna, not `isinstance(w, float) and w != w`: missing markers
    # arrive as np.float32 NaN (not a Python-float subclass) or pd.NA
    # depending on the Arrow dtype, and Decimal(repr(nan)) raises
    # (review pin)
    if w is None or pd.isna(w):
        return 0
    wf = float(w)
    if math.isinf(wf) or abs(wf) >= 9.3e18:
        return INT64_MAX if wf > 0 else -INT64_MAX - 1
    return clamp64(
        int(Decimal(repr(wf)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
    )


def weights_to_long_vec(a) -> "np.ndarray":
    """Vectorized weight_to_long over a float64 array — bit-identical
    results, ~100x faster on the common case. Fast path: |w| < 2^30
    (double ulp ~2.4e-7, far under the guard band) and fractional part
    at least 1e-6 away from .5 — there floor(w + 0.5) provably equals
    the Decimal HALF_UP of the shortest repr. Everything else (NaN/inf,
    near-half fractions where binary +0.5 can cross the boundary, big
    magnitudes where ulp swamps the guard) takes the exact scalar
    path."""
    a = np.asarray(a, dtype=np.float64)
    out = np.zeros(len(a), dtype=np.int64)
    with np.errstate(invalid="ignore"):  # NaN rows route to slow path
        finite = np.isfinite(a)
        frac = a - np.floor(a)
        near_half = np.abs(frac - 0.5) < 1e-6
        fast = finite & (np.abs(a) < float(1 << 30)) & ~near_half
    af = a[fast]
    out[fast] = np.where(
        af >= 0, np.floor(af + 0.5), np.ceil(af - 0.5)
    ).astype(np.int64)
    for i in np.nonzero(~fast)[0]:
        v = a[i]
        out[i] = weight_to_long(None if np.isnan(v) else float(v))
    return out


def _group_keys(group_cols: Sequence[Column | str]):
    """The caller's group columns as ``(names, exprs)`` aliased
    ``__g{i}``. A global aggregate rides an internal constant ``__gall``
    key instead: ``applyInPandas`` and ``applyInPandasWithState`` need a
    grouping key, and callers drop it again."""
    if not group_cols:
        return ["__gall"], [F.lit(1).alias("__gall")]
    gnames = [f"__g{i}" for i in range(len(group_cols))]
    return gnames, [_col(c).alias(g) for c, g in zip(group_cols, gnames)]


def _group_ddl(df: DataFrame, gnames: Sequence[str]) -> str:
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    ddl = ", ".join(f"{g} {fields[g]}" for g in gnames)
    return ddl + ", " if ddl else ""


def _merge_fn(gnames: Sequence[str], counters: int, *, drop_nonpositive: bool):
    """Phase-2 reducer: MergeTopn over partial entries, then
    :func:`pack_counts`. drop_nonpositive applies the weighted
    aggregate's "total weight <= 0 is not a heavy hitter" rule."""

    def merge_keyed(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        st = TopnState(counters)
        live = pdf[pdf["__item"].notna()]
        live = live.sort_values(["__freq", "__item"], ascending=[False, True])
        for it, freq in zip(live["__item"], live["__freq"]):
            st.add(it, int(freq), aggregate_path=True)
        row = dict(zip(gnames, key))
        row["__sketch"] = pack_counts(
            st.counts, counters, drop_nonpositive=drop_nonpositive
        )
        return pd.DataFrame([row])

    return merge_keyed


def _partial_fn(gnames: Sequence[str], counters: int, *, weighted: bool):
    """Phase-1 mapInPandas partial for BOTH the counting and weighted
    lanes: one bounded state per (group, input partition), fed by one
    loop. Shared on purpose — the NaN group-key normalization (NaN !=
    NaN would fragment NULL numeric group keys into one state PER ROW,
    unbounded memory), the NULL-item skip and the group-preserving
    ``(key, None, 0)`` marker row must live in exactly one place
    (review pin: two hand-kept copies drifted).

    Per Arrow batch, each (group, item) is summed exactly: the counting
    lane is the weighted lane with weight 1; the weighted lane rounds
    each row FIRST (the three-surface semantics). Items are truncated
    to 255 bytes before they combine, NULL items and zero weights add
    nothing. Each group's pairs then go to its state in ``_rank_cut``'s
    order (total DESC, item ASC), one add per pair: the reference's
    MergeTopn of the batch's exact sums (topn.c:955-990), as phase 2
    merges partials. It equals the reference's transition over the
    same rows arriving in runs of equal items, heaviest run first — it
    prunes only when a NEW item is inserted (topn.c:440-446), so a run
    of k rows is one add of their sum — except where a prune fires on a
    run's first row: the transition ranks that item at its first row's
    count, the merge at the run's sum. So a prune drops the batch's
    tail items rather than half-counted heavy ones. Any order gives the
    same states in the no-eviction regime.

    Memory: the per-batch sums hold at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` pairs, whatever the
    item cardinality; the states stay within 3 x counters per group.
    Emitted ``__freq`` values are EXACT Python ints (the weighted
    mid-schema is decimal(38,0), so partials never clamp — parity with
    Tier-1's sum-exact-clamp-once)."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, TopnState] = {}
        for pdf in batches:
            keys = [
                tuple(
                    None if (isinstance(k, float) and k != k) else k
                    for k in key
                )
                for key in zip(*[pdf[g] for g in gnames])
            ]
            wvs = (
                weights_to_long_vec(
                    pd.to_numeric(pdf["__w"], errors="coerce").to_numpy(
                        dtype=float, na_value=float("nan")
                    )
                ).tolist()
                if weighted
                else itertools.repeat(1)
            )
            sums: dict[tuple, dict[str, int]] = {}
            for key, it, wv in zip(keys, pdf["__item"], wvs):
                acc = sums.get(key)
                if acc is None:
                    acc = sums[key] = {}  # the group is kept even if empty
                if it is None or (isinstance(it, float) and pd.isna(it)) or not wv:
                    continue
                k = truncate_key_bytes(it)
                acc[k] = acc.get(k, 0) + wv
            for key, acc in sums.items():
                st = states.get(key)
                if st is None:
                    st = states[key] = TopnState(counters)
                for it, v in _rank_cut(acc.items(), len(acc)).items():
                    st.add(it, v, aggregate_path=True)
        rows = []
        for key, st in states.items():
            if not st.counts:
                rows.append((*key, None, 0))  # group-preserving marker
            rows.extend((*key, it, fr) for it, fr in st.counts.items())
        yield pd.DataFrame(rows, columns=gnames + ["__item", "__freq"])

    return partial


def _decimal_ride_keys(src: DataFrame, gnames: Sequence[str]):
    """Cast INTEGRAL group-key columns to decimal(20,0) for the
    mapInPandas leg and return (frame, restore-type map).

    Why: a nullable int64 Arrow column coerces to FLOAT64 in pandas, so
    an integral group key above 2^53 sharing an input partition with
    NULL keys would come back with its low bits rounded off (the same
    coercion class as topn_union_agg_sketch's __freq rule). decimal(20,0)
    arrives as exact Python Decimal whatever the null mix; _merge casts
    the survivors back to the original type."""
    from pyspark.sql import types as T

    restore: dict[str, str] = {}
    out = src
    for f in src.schema.fields:
        if f.name in set(gnames) and isinstance(
            f.dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        ):
            restore[f.name] = f.dataType.simpleString()
            out = out.withColumn(f.name, F.col(f.name).cast("decimal(20,0)"))
    return out, restore


def _merge(
    entries: DataFrame,
    df: DataFrame,
    group_cols: Sequence[Column | str],
    gnames: Sequence[str],
    counters: int,
    out_col: str,
    restore: "dict[str, str] | None" = None,
    drop_nonpositive: bool = False,
) -> DataFrame:
    """Phase 2 over ``gnames + (__item, __freq)`` entry rows: shuffle on
    the group keys, merge and pack each group into a sketch map, restore
    the caller's names and (``restore``) integral key types."""
    merged = entries.groupBy(*gnames).applyInPandas(
        _merge_fn(gnames, counters, drop_nonpositive=drop_nonpositive),
        schema=_group_ddl(entries, gnames) + "__sketch map<string,bigint>",
    )
    restore = restore or {}
    return merged.select(
        *[
            (F.col(g).cast(restore[g]) if g in restore else F.col(g)).alias(n)
            for g, n in zip(gnames, _caller_names(df, group_cols))
        ],
        F.col("__sketch").alias(out_col),
    )


def _item_agg_sketch(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    weight: Column | str | None,
    counters: int | None,
    out_col: str,
    spread: bool,
) -> DataFrame:
    """The Tier-2 item aggregate behind :func:`topn_add_agg_sketch`
    (``weight=None``) and :func:`topn_weighted_agg_sketch`."""
    counters = resolve_counters(counters, df.sparkSession)
    weighted = weight is not None
    gnames, gexprs = _group_keys(group_cols)
    src = df.select(
        *gexprs,
        _col(item).cast("string").alias("__item"),
        *([_col(weight).cast("double").alias("__w")] if weighted else []),
    )
    # the mapInPandas partial runs at the input's partitioning — spread
    # a starved few-file scan over more partial tasks (no-op when the
    # scan already splits), but give each task at least Spark's own
    # split floor, spark.sql.files.openCostInBytes: every Python task
    # pays a fixed worker cost, so a scan under the floor runs ONE
    # partial. The per-batch pre-combine, not the fan-out, keeps the
    # answer under eviction (see _partial_fn).
    # `spread=False` opts out for callers that fan MANY lanes over the
    # same small source in one query: each lane's projection differs,
    # so the per-lane repartition exchanges don't dedupe and cost more
    # than the starved partial saves (measured on topn_tier2_eviction).
    if spread:
        from postgresql_topn_spark.operators.dedup import spread_small_scan

        src = spread_small_scan(
            df,
            src,
            min_task_bytes=size_bytes(
                df.sparkSession.conf.get("spark.sql.files.openCostInBytes", "4194304")
            ),
        )
    src, restore = _decimal_ride_keys(src, gnames)
    # weighted partials ride decimal(38,0), not bigint: totals stay EXACT
    # across the shuffle so the int64 saturation happens exactly once,
    # in the merge's pack — two near-max same-sign partials would
    # otherwise clamp per partition and make the merged total depend on
    # partition arrival (review pin). 38 digits hold any realistic sum
    # of int64 terms.
    freq_type = "decimal(38,0)" if weighted else "bigint"
    partial_df = src.mapInPandas(
        _partial_fn(gnames, counters, weighted=weighted),
        schema=_group_ddl(src, gnames) + f"__item string, __freq {freq_type}",
    )
    return _merge(
        partial_df, df, group_cols, gnames, counters, out_col, restore, weighted
    )


def topn_add_agg_sketch(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    spread: bool = True,
) -> DataFrame:
    """Bounded-memory ``topn_add_agg``: per-group sketch state never
    exceeds 3 x counters entries, whatever the item cardinality.

    Returns group_cols + a ``map<string,bigint>`` sketch column. NULL
    items are skipped (topn.c:424-427); groups with only NULL items
    still emit ``{}``.
    """
    return _item_agg_sketch(df, group_cols, item, None, counters, out_col, spread)


def topn_weighted_agg_sketch(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    weight: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    spread: bool = True,
) -> DataFrame:
    """Bounded-memory ``topn_weighted_agg``: the additive-measure
    aggregate under the Tier-2 sketch policy — per-group state never
    exceeds 3 x counters entries whatever the item cardinality, weights
    folded with the three-surface rounding rule (weight_to_long).

    Parity contract: EXACT equality with the Tier-1 Column lane in the
    no-eviction regime (counter budget >= distinct items — the regime
    the reference is exact in), including the NULL-weight-is-0 and
    total<=0-drops rules. Under eviction the usual sketch caveat
    applies, plus one weighted-only caveat: NEGATIVE weights make
    evicted mass unrecoverable in either direction, so prefer
    non-negative weights when the budget can actually evict.

    NULL items are skipped (group still emits {}); zero-valued weights
    add nothing and do not create entries."""
    return _item_agg_sketch(df, group_cols, item, weight, counters, out_col, spread)


def topn_union_agg_sketch(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    sketch: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
) -> DataFrame:
    """Bounded-memory ``topn_union_agg``: merge a column of sketches per
    group under the MergeTopn prune policy (topn.c:955-990). NULL
    sketches are skipped (topn.c:489); all-NULL groups yield {}."""
    counters = resolve_counters(counters, df.sparkSession)
    gnames, gexprs = _group_keys(group_cols)
    # __freq rides as decimal(38,0), NOT bigint: explode_outer's NULL
    # marker rows (NULL/empty sketches keeping their group alive) make
    # the column nullable, and Arrow->pandas coerces nullable int64 to
    # FLOAT64 — a frequency near 2^63 then loses its low bits BEFORE
    # the merge's exact Python sum (found by the randomized four-surface
    # test: a group holding both a NULL sketch and an INT64_MAX-adjacent
    # count came back off by one). Decimal converts to exact Python
    # Decimal objects whatever the null mix — same rule as the weighted
    # partial mid-schema.
    exploded = df.select(
        *gexprs,
        F.explode_outer(_col(sketch)).alias("__item", "__freq"),
    ).withColumn("__freq", F.col("__freq").cast("decimal(38,0)"))
    return _merge(exploded, df, group_cols, gnames, counters, out_col)
