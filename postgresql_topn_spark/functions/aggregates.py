"""Aggregate surface — ``topn_add_agg`` / ``topn_weighted_agg`` /
``topn_union_agg`` and the window-frame merge, Tier-1 composition path.

Each Tier-1 aggregate is written once, as SQL text: the ``*_sql``
builders below emit its count -> rank -> pack plan over a named source,
and both surfaces run that text. ``sql_api.topn_sql`` splices a user's
statement into it. The Column-API functions project the caller's
columns to internal names (``__g{i}`` plus the item, weight or sketch),
run the text through ``spark.sql(text, src=projected)`` — PySpark's
DataFrame-parameterised ``sql``, which registers a per-call temp view
under a uuid name, so concurrent builds never share a view — and
restore the caller-facing names on the result. Caller names never
enter the SQL text.

The plan is native groupBy / window / higher-order-map expressions, so
Catalyst supplies partial aggregation (the reference's serialize/
combine parallel-agg plumbing, topn.c:509-625, is free), spill, AQE and
codegen. Results are exact whenever distinct items per group stay
within the counter budget — exactly the regime where the reference is
also exact (SURVEY.md §1.2). For strictly-bounded-memory semantics under
huge per-group cardinality use operators/sketch_state.py (Tier 2).

Scale notes (100 TB design):
- The count shuffles once on (keys, item) for the exact per-item count
  (map-side partial combine collapses duplicate items before the
  exchange — for skewed heavy-hitter data this is a massive reduction),
  then once on (keys) for the window rank; the final GROUP BY keys
  reuses the window's hash partitioning, so no third exchange.
- Sketch size is bounded (<= counters entries, default 1000) before any
  ``collect_list``, so per-group state in the final aggregation is small
  and bounded regardless of input cardinality.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
)

from postgresql_topn_spark.conf import INT64_MAX, resolve_counters
from postgresql_topn_spark.functions.sketch import (
    ENTRY_CMP_SQL,
    _col,
    empty_sketch,
    merge_sketches,
    normalize_item,
    prune_sketch,
)

# Item types whose string cast is injective: the count groups on the RAW
# value and casts once per distinct group afterwards, so the count
# shuffle carries fixed-width keys and the cast runs per group, not per
# row. Strings must normalize before grouping (255-byte truncation can
# merge items).
_RAW_KEY_TYPES = (ByteType, ShortType, IntegerType, LongType, DateType, BooleanType)

# Saturating int64 total of the per-row int64 weights __w: an exact
# decimal(38,0) sum (cannot overflow below ~10^19 addends of int64
# magnitude) clamped to the int64 range in BOTH directions — a negative
# overflow saturates at INT64_MIN, never at +INT64_MAX (the top heavy
# hitter slot), and a transient mixed-sign overflow whose exact total
# fits int64 stays exact, so the result is independent of aggregation
# order. A NULL-item group row carries 0: it exists only as the
# keep-the-group marker and must not take a rank slot from a real item.
_SATURATING_SUM_SQL = (
    "CASE WHEN __k IS NULL THEN 0 ELSE cast(least(greatest("
    "sum(cast(__w as decimal(38,0))), "
    f"cast({-INT64_MAX - 1} as decimal(38,0))), "
    f"cast({INT64_MAX} as decimal(38,0))) as bigint) END"
)


def _sql_ident_pairs(
    group_by: "Sequence[str | tuple[str, str]]",
) -> list[tuple[str, str]]:
    return [(g, g) if isinstance(g, str) else (g[0], g[1]) for g in group_by]


def _truncate_sql(s: str, limit: int = 255) -> str:
    """SQL-text twin of sketch._byte_truncate (same exact
    longest-fitting-prefix computation via the monotone filter count)."""
    k = (
        f"size(filter(sequence(1, greatest(least(char_length({s}), {limit}), 1)), "
        f"k -> octet_length(substring({s}, 1, k)) <= {limit}))"
    )
    return f"substring({s}, 1, {k})"


def _normalize_sql(item: str) -> str:
    """SQL-text twin of sketch.normalize_item (TEXT intake + byte cap).
    *item* should be a cheap expression (it is repeated in the text)."""
    s = f"cast(({item}) as string)"
    return (
        f"CASE WHEN octet_length({s}) <= 255 THEN {s} "
        f"ELSE {_truncate_sql(s)} END"
    )


def _weight_sql(weight: str) -> str:
    """Per-row int64 weight. An INTEGRAL weight (byte/short/int/long/
    boolean) casts exactly — the typeof test folds at analysis, so the
    plan keeps one branch and a bigint weight of 2^53+1 never passes
    through double. Any other weight rounds half-up to int64, saturating
    at the int64 bounds (no ANSI crash on out-of-range weights); NULL
    and NaN contribute 0 (NaN would otherwise sail through try_cast to
    the saturation branch, where NaN > 0 is TRUE). *weight* should be a
    cheap expression (it is repeated in the text)."""
    wd = f"cast(({weight}) as double)"
    return (
        f"CASE WHEN typeof({weight}) IN "
        "('tinyint', 'smallint', 'int', 'bigint', 'boolean') "
        f"THEN coalesce(cast(({weight}) as bigint), 0) "
        f"WHEN {wd} IS NULL OR isnan({wd}) THEN 0 "
        f"ELSE coalesce(try_cast(round({wd}, 0) as bigint), "
        f"CASE WHEN round({wd}, 0) > 0 THEN {INT64_MAX} "
        f"ELSE {-INT64_MAX - 1} END) END"
    )


def _count_sql(
    source: str,
    pairs: list[tuple[str, str]],
    key: str,
    weight: str | None = None,
    *,
    raw: bool = False,
    where: str | None = None,
) -> str:
    """Count stage: one row (group keys, __i, __f) per distinct item.
    *key* is the row-level item expression; the projection is its own
    subquery, so a costly key (the byte cap) is evaluated once per row.
    *weight* is the row-level int64 weight (saturating sum) or None
    (row count; count skips NULLs, so a NULL-item group row survives
    with 0). *raw* groups on the key as is and casts it to string per
    group afterwards (the rank still orders by the string)."""
    sel = "".join(f"{e} AS {a}, " for a, e in pairs)
    names = "".join(f"{a}, " for a, _ in pairs)
    w = f", {weight} AS __w" if weight else ""
    wtext = f" WHERE {where}" if where else ""
    item = "cast(__k as string)" if raw else "__k"
    freq = _SATURATING_SUM_SQL if weight else "count(__k)"
    return (
        f"SELECT {names}{item} AS __i, {freq} AS __f FROM ("
        f"SELECT {sel}{key} AS __k{w} FROM {source}{wtext}) "
        f"GROUP BY {names}__k"
    )


def _rank_pack_sql(
    counted: str,
    names: Sequence[str],
    counters: int,
    out_col: str,
    salt_buckets: int | None = None,
    drop_nonpositive: bool = True,
) -> str:
    """The rank + pack tail of every Tier-1 aggregate: window-rank the
    per-(group, item) frequencies of *counted*, keep the top *counters*
    per group by (frequency DESC, item ASC), pack them into the sketch.

    NULL-item marker rows keep otherwise-empty groups alive (reference:
    an all-NULL group still yields ``{}``, topn.c:655-661,
    expected/null_tests.out:35-40); real entries — whatever their sign —
    obey the rank prune. The pack sorts entries so the map's entry order,
    and therefore its JSON rendering, is deterministic.

    *salt_buckets* enables a lossless two-level rank for skewed groups:
    first keep the top *counters* within (group, hash(item) % salt)
    sub-buckets, then run the per-group rank over the survivors. Any item
    in a group's true top-N is also in its sub-bucket's top-N (the
    sub-bucket holds a subset of its competitors), so the pre-filter
    drops no winners — but the final per-group sort handles at most
    salt_buckets x counters rows instead of every distinct item of a hot
    group on a single reducer. Use when groups can have millions of
    distinct items (100 TB regime); leave None for the two-exchange plan.

    ``drop_nonpositive`` applies the counting/weighted drop rule (a
    non-positive total is not a heavy hitter). The UNION path passes
    False: the reference's MergeTopn keeps whatever frequencies the
    input sketches carry (zero/negative entries are producible via
    sketch_from_json), matching the scalar topn_union."""
    keys = ", ".join(names)
    prefix = f"{keys}, " if names else ""

    def prune(rows: str, part: Sequence[str]) -> str:
        over = f"PARTITION BY {', '.join(part)} " if part else ""
        return (
            f"SELECT {prefix}__i, __f FROM (SELECT {prefix}__i, __f, "
            f"row_number() OVER ({over}ORDER BY __f DESC, __i ASC NULLS LAST) "
            f"AS __rn FROM ({rows})) WHERE __rn <= {counters} OR __i IS NULL"
        )

    if salt_buckets and salt_buckets > 1:
        salt = f"pmod(xxhash64(coalesce(__i, '')), {salt_buckets})"
        counted = prune(counted, [*names, salt])
    keep = "__f > 0 AND __i IS NOT NULL" if drop_nonpositive else "__i IS NOT NULL"
    return (
        f"SELECT {prefix}map_from_entries(coalesce(array_sort(collect_list("
        f"CASE WHEN {keep} THEN named_struct('item', __i, 'frequency', __f) END), "
        f"{ENTRY_CMP_SQL}), "
        "cast(array() as array<struct<item:string,frequency:bigint>>))) "
        f"AS {out_col} FROM ({prune(counted, names)})"
        + (f" GROUP BY {keys}" if names else "")
    )


def _item_agg_sql(
    source: str,
    group_by: "Sequence[str | tuple[str, str]]",
    item: str,
    weight: str | None,
    *,
    counters: int,
    out_col: str,
    salt_buckets: int | None,
    where: str | None = None,
    raw: bool = False,
) -> str:
    """The counting (*weight* None) or weighted aggregate over *item*;
    *raw* skips the TEXT-intake byte cap for raw-key item types."""
    pairs = _sql_ident_pairs(group_by)
    key = item if raw else _normalize_sql(item)
    w = None if weight is None else _weight_sql(weight)
    counted = _count_sql(source, pairs, key, w, raw=raw, where=where)
    return _rank_pack_sql(
        counted, [a for a, _ in pairs], counters, out_col, salt_buckets
    )


def topn_add_agg_sql(
    source: str,
    group_by: "Sequence[str | tuple[str, str]]",
    item: str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
    spark: SparkSession | None = None,
    where: str | None = None,
) -> str:
    """SQL text for ``SELECT keys, topn_add_agg(item) … GROUP BY keys``
    over the table, view or FROM-clause text *source*: a pure-built-in
    two-phase plan (no Python stages, map-side partial combine on the
    count — the reference's parallel aggregate, topn.c:509-625,
    expressed in Catalyst).

    *group_by* entries are either column names or ``(alias, sql_expr)``
    pairs; *item* is any SQL expression (kept cheap — it is repeated).
    NULL items are skipped but all-NULL groups yield ``{}``; TEXT intake
    with 255-byte cap; prune to *counters* by (frequency DESC, item
    ASC). ``salt_buckets`` adds the lossless two-level rank for groups
    with millions of distinct items (see ``_rank_pack_sql``). *where*
    filters raw rows before the count (the original query's WHERE)."""
    return _item_agg_sql(
        source,
        group_by,
        item,
        None,
        counters=resolve_counters(counters, spark),
        out_col=out_col,
        salt_buckets=salt_buckets,
        where=where,
    )


def topn_weighted_agg_sql(
    source: str,
    group_by: "Sequence[str | tuple[str, str]]",
    item: str,
    weight: str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
    spark: SparkSession | None = None,
    where: str | None = None,
) -> str:
    """SQL text for ``SELECT keys, topn_weighted_agg(item, weight) …
    GROUP BY keys`` as the two-phase built-in plan (arguments as
    :func:`topn_add_agg_sql`; *weight* is kept cheap too). NULL items
    are skipped (all-NULL groups yield ``{}``); per-row weights follow
    ``_weight_sql`` (integral weights exact over the full int64 range,
    others rounded half-up with sign saturation, NULL/NaN 0); the exact
    sum is clamped to the int64 range and items whose total is <= 0 are
    dropped."""
    return _item_agg_sql(
        source,
        group_by,
        item,
        weight,
        counters=resolve_counters(counters, spark),
        out_col=out_col,
        salt_buckets=salt_buckets,
        where=where,
    )


def topn_union_agg_sql(
    source: str,
    group_by: "Sequence[str | tuple[str, str]]",
    sketch_col: str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
    spark: SparkSession | None = None,
    where: str | None = None,
) -> str:
    """SQL text for ``SELECT keys, topn_union_agg(sketch) … GROUP BY``
    as a pure-built-in two-phase plan: explode the (bounded, <= counters
    entries) stored sketches, sum per item with map-side partial
    combine, rank, re-pack. Frequencies sum exactly and saturate at the
    int64 bounds like the reference (topn.c:997-1009) instead of erroring
    under ANSI mode; NULL map values contribute 0. NULL / empty sketches
    keep their group alive with ``{}`` (LATERAL VIEW OUTER). Frequencies
    are kept as the sketches carry them, zero and negative included.
    *where* filters source rows before the explode; ``salt_buckets`` as
    for :func:`topn_add_agg_sql`."""
    pairs = _sql_ident_pairs(group_by)
    counted = _count_sql(
        f"{source} LATERAL VIEW OUTER explode({sketch_col}) __t AS __i, __fr",
        pairs,
        "__t.__i",
        "coalesce(__t.__fr, 0)",
        where=where,
    )
    return _rank_pack_sql(
        counted,
        [a for a, _ in pairs],
        resolve_counters(counters, spark),
        out_col,
        salt_buckets,
        drop_nonpositive=False,
    )


def _run(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    src: DataFrame,
    text: str,
    out_col: str,
) -> DataFrame:
    """Run builder *text* (reading ``{src}``) over the projected *src* and
    restore the caller-facing names."""
    out = df.sparkSession.sql(text, src=src)
    return out.toDF(*_caller_names(df, group_cols), out_col)


def _caller_names(df: DataFrame, group_cols: Sequence[Column | str]) -> list[str]:
    """Output names of *group_cols* over *df*: string group cols name
    themselves, unquoted as Spark names them (:func:`_unquoted`); Column
    expressions are resolved in ONE batched select (one analysis
    round-trip, not one per col)."""
    col_objs = [_col(c) for c in group_cols if not isinstance(c, str)]
    resolved = iter(df.select(*col_objs).columns if col_objs else ())
    return [_unquoted(c) if isinstance(c, str) else next(resolved) for c in group_cols]


def _unquoted(name: str) -> str:
    """A fully backtick-quoted identifier named as Spark names it
    (``"`a.b`"`` -> ``a.b``, a doubled backtick -> one); anything else,
    an unquoted dotted string included, as given."""
    inner = name[1:-1]
    if len(name) > 1 and name[0] == name[-1] == "`" and "`" not in inner.replace("``", ""):
        return inner.replace("``", "`")
    return name


def _project(
    df: DataFrame, group_cols: Sequence[Column | str], *cols: Column
) -> DataFrame:
    """The caller's group columns as ``__g{i}``, then *cols*."""
    return df.select(
        *[_col(c).alias(f"__g{i}") for i, c in enumerate(group_cols)], *cols
    )


def _item_agg(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    weight: Column | str | None,
    counters: int | None,
    out_col: str,
    salt_buckets: int | None,
) -> DataFrame:
    """Column-API form of :func:`_item_agg_sql`: items of a raw-key type
    group on their raw value."""
    counters = resolve_counters(counters, df.sparkSession)
    extra = [] if weight is None else [_col(weight).alias("__wt")]
    src = _project(df, group_cols, _col(item).alias("__it"), *extra)
    text = _item_agg_sql(
        "{src}",
        [f"__g{i}" for i in range(len(group_cols))],
        "__it",
        None if weight is None else "__wt",
        counters=counters,
        out_col="topn",
        salt_buckets=salt_buckets,
        raw=isinstance(src.schema["__it"].dataType, _RAW_KEY_TYPES),
    )
    return _run(df, group_cols, src, text, out_col)


def topn_add_agg(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
) -> DataFrame:
    """``SELECT keys, topn_add_agg(item) FROM df GROUP BY keys``
    (reference aggregate: update/topn--2.3.0--2.3.1.sql:34-42,
    transition topn.c:393-449).

    Returns a DataFrame of ``group_cols + [out_col sketch]``. NULL items
    are skipped (topn.c:424-427) but all-NULL groups still produce ``{}``.
    Items are cast to string and byte-capped on entry (TEXT-only intake).
    Exact counts (no eviction) — Tier-1 contract.
    """
    return _item_agg(df, group_cols, item, None, counters, out_col, salt_buckets)


def topn_weighted_agg(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    item: Column | str,
    weight: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Beyond-reference: top-N items by an ADDITIVE MEASURE instead of
    row count — ``frequency = saturating int64 sum of weight`` per item
    (top products by revenue, top hosts by bytes, top tokens by
    tf-weight). The reference can only count occurrences (topn_add adds
    1, topn.c:340-351); weighting is the first thing real rollups need
    beyond that, and it reuses the identical sketch type, extraction,
    union and window machinery — a weighted sketch merges with counted
    sketches transparently.

    Semantics: NULL items are skipped (group still yields ``{}``), NULL
    and NaN weights contribute 0; an INTEGRAL weight column (byte/short/
    int/long/boolean) sums directly in int64 — exact for the full int64
    range, no float round-trip. A fractional weight column is rounded
    half-up to int64 per row (saturating at the int64 bounds — no ANSI
    crash on out-of-range weights) BEFORE the exact integer sum, which
    keeps the aggregate summation-order independent and engine-portable
    — pre-scale fractional weights (cents, milli-units) when sub-unit
    resolution matters; note a fractional (double) weight above 2^53 has
    already lost ulps at the source. Items whose total weight is <= 0
    are dropped from the sketch (a zero-weight item is not a heavy
    hitter). Same two-exchange plan + optional lossless salted rank as
    topn_add_agg."""
    return _item_agg(df, group_cols, item, weight, counters, out_col, salt_buckets)


def topn_union_agg(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    sketch: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
) -> DataFrame:
    """``SELECT keys, topn_union_agg(sketch) FROM df GROUP BY keys``
    (update/topn--2.3.0--2.3.1.sql:43-51, transition topn.c:457-503).

    Merges a column of sketches per group: explode -> saturating sum per
    item -> rank-prune to *counters* -> repack. NULL sketches are skipped
    (topn.c:489) but groups of only-NULL sketches still yield ``{}``.
    The explode->re-aggregate shape is the idiomatic, shuffle-parallel
    Spark "merge maps at scale" (no per-group state larger than the
    counter budget).
    """
    counters = resolve_counters(counters, df.sparkSession)
    src = _project(df, group_cols, _col(sketch).alias("__sk"))
    text = topn_union_agg_sql(
        "{src}",
        [f"__g{i}" for i in range(len(group_cols))],
        "__sk",
        counters=counters,
        salt_buckets=salt_buckets,
    )
    return _run(df, group_cols, src, text, out_col)


def topn_union_agg_global(
    df: DataFrame,
    sketch: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Grand-total union (no GROUP BY), e.g. the reference's
    ``overall_result`` step (sql/customer_reviews_query.sql:25-34).

    This is the single-group shape where the final rank would otherwise
    sort EVERY distinct item on one reducer — at high cardinality pass
    ``salt_buckets`` (lossless pre-filter, see ``_rank_pack_sql``)."""
    counters = resolve_counters(counters, df.sparkSession)
    with_g = df.select(F.lit(1).alias("__g0"), _col(sketch).alias("__sk"))
    out = topn_union_agg(
        with_g,
        ["__g0"],
        "__sk",
        counters=counters,
        out_col=out_col,
        salt_buckets=salt_buckets,
    )
    return out.drop("__g0")


def topn_union_over_window(
    sketch: Column | str,
    window: WindowSpec,
    *,
    counters: int | None = None,
) -> Column:
    """``topn_union_agg(sketch) OVER (ORDER BY ... ROWS k PRECEDING)`` —
    the sliding-frame merge of sql/customer_reviews_query.sql:59-68
    (fixed in the reference by v2.0.1, CHANGELOG.md:46-48).

    Spark has no native "sum maps over frame" aggregate; we collect the
    frame's sketches (already bounded to <= counters entries each) and
    fold them with ``map_zip_with`` saturating sums. O(frame) per row,
    which is the reference's cost too (it re-runs the transition per
    frame row).
    """
    counters = resolve_counters(counters)
    frame = F.collect_list(_col(sketch)).over(window)
    merged = F.aggregate(frame, empty_sketch(), merge_sketches)
    return prune_sketch(merged, counters)


def topn_add_agg_grouping_sets(
    df: DataFrame,
    grouping_sets: Sequence[Sequence[str]],
    item: Column | str,
    *,
    counters: int | None = None,
    out_col: str = "topn",
    gid_col: str = "gid",
) -> DataFrame:
    """``topn_add_agg(item)`` under ``GROUP BY GROUPING SETS (...)`` —
    one sketch per (grouping set, key combination) from ONE scan.

    The reference never composes its aggregate with grouping sets (no
    pg_regress test touches them; SURVEY.md §2.2 "not present"), but a
    rollup-table builder wants exactly this: day/month/all-time sketch
    grains in a single pass instead of one scan per grain. Spark's
    native ``DataFrame.groupingSets`` drives the count stage, so the
    multi-grain expansion happens inside one hash aggregate with
    map-side partial combine — the same two-exchange shape as
    ``topn_add_agg``, with the grain id riding the group key.

    ``grouping_sets`` are lists of column NAMES drawn from one ordered
    universe (their union, in first-appearance order). The output gets
    ``gid_col``: an explicit engine-agnostic bitmap — for universe
    columns c1..ck (left to right), bit 2^(k-1-i) is set iff ci is
    ROLLED UP in the row's set — computed from ``F.grouping`` so ANSI
    engines replay it as ``GROUPING(c1)*2^(k-1) + ...``. Rolled-up key
    columns are NULL in their rows (distinguish real-NULL keys by
    ``gid``, the standard grouping-sets discipline)."""
    universe: list[str] = []
    for s in grouping_sets:
        for c in s:
            if c not in universe:
                universe.append(c)
    for s in grouping_sets:
        if len(set(s)) != len(s):
            raise ValueError(f"duplicate column in grouping set {s!r}")
    # a REPEATED set shares one gid bitmap, so its duplicate rank rows
    # crash the final map_from_entries with a duplicate-map-key error
    # at runtime (or silently double-count past the budget) — refuse at
    # the API boundary instead (review pin)
    canon = [tuple(sorted(s)) for s in grouping_sets]
    if len(set(canon)) != len(canon):
        dup = next(s for s in canon if canon.count(s) > 1)
        raise ValueError(f"grouping set {list(dup)!r} appears more than once")
    counters = resolve_counters(counters, df.sparkSession)

    base = _project(df, universe, normalize_item(item).alias("__i"))
    gnames = [f"__g{i}" for i in range(len(universe))]
    name_of = {c: f"__g{i}" for i, c in enumerate(universe)}
    sets_internal = [[name_of[c] for c in s] + ["__i"] for s in grouping_sets]
    k = len(universe)
    gid = sum(
        (F.grouping(g).cast("long") * F.lit(1 << (k - 1 - i)))
        for i, g in enumerate(gnames)
    ) if k else F.lit(0).cast("long")
    counted = base.groupingSets(sets_internal, *gnames, F.col("__i")).agg(
        F.count(F.col("__i")).alias("__f"), gid.alias("__gid")
    )
    text = _rank_pack_sql(
        "SELECT * FROM {src}", ["__gid", *gnames], counters, "topn"
    )
    return df.sparkSession.sql(text, src=counted).toDF(
        gid_col, *_caller_names(df, universe), out_col
    )
