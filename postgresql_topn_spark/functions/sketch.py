"""Sketch column functions — the scalar surface of postgresql-topn.

The sketch is a ``map<string,bigint>`` column (the reference's JSONB
object ``{"item": count}``, SURVEY.md §1.1). All functions here are pure
Catalyst expressions (no Python UDFs): they stay inside whole-stage
codegen and are usable at any data scale.

Reference parity notes (file:line cites are into /root/reference):

- item type is TEXT only; casts applied on entry (sql/add_agg.sql:63-86).
- items are truncated to <=255 bytes on the add path (topn.c:338,
  MAX_KEYSIZE=256 at topn.c:51); keys longer than 256 bytes on the
  JSONB-read path are an error (topn.c:700-706).
- frequency is int64 with saturating addition (topn.c:997-1009).
- tie order is unspecified in the reference (unstable qsort,
  topn.c:817-834); we pin the deterministic order (frequency DESC,
  item ASC) everywhere — a documented deviation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from postgresql_topn_spark.conf import INT64_MAX, resolve_counters

# The at-rest sketch type (reference: JSONB object of item -> count).
SKETCH_TYPE = MapType(StringType(), LongType(), valueContainsNull=False)
SKETCH_DDL = "map<string,bigint>"

# topn_record composite (update/topn--2.0.0--2.1.0.sql:2).
TOPN_RECORD_TYPE = StructType(
    [
        StructField("item", StringType()),
        StructField("frequency", LongType()),
    ]
)

MAX_KEY_BYTES = 255  # effective add-path cap, topn.c:51 + topn.c:338
READ_KEY_ERROR_BYTES = 256  # read-path hard error threshold, topn.c:700-706


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def empty_sketch() -> Column:
    """``{}`` — what the reference returns for empty/all-NULL aggregation
    (topn.c:655-661, expected/null_tests.out:35-40)."""
    return F.expr(f"cast(map() as {SKETCH_DDL})")


def _byte_truncate(s: Column, limit: int = MAX_KEY_BYTES) -> Column:
    """UTF-8-safe truncation of *s* to the LONGEST prefix of at most
    *limit* bytes — byte-for-byte what the reference's encoding-aware
    ``text_to_cstring_buffer`` keeps (topn.c:338), and what Tier-2's
    Python ``truncate_key_bytes`` computes, so every surface truncates
    identically.

    Exactness trick: octet_length(substring(s, 1, k)) is monotone in k,
    so the max fitting k equals the COUNT of candidate lengths that
    fit — one array filter over at most *limit* candidates (a char is
    >= 1 byte). This path only runs for over-limit items (the callers'
    fast path returns short strings untouched), so the O(limit^2)-byte
    scan prices only the rare long keys."""
    lim = F.lit(limit)
    cand = F.sequence(F.lit(1), F.greatest(F.least(F.char_length(s), lim), F.lit(1)))
    keep = F.size(
        F.filter(
            cand,
            lambda k: F.octet_length(F.substring(s, F.lit(1), k)) <= lim,
        )
    )
    return F.when(F.char_length(s) == 0, s).otherwise(
        F.substring(s, F.lit(1), keep)
    )


def normalize_item(item: Column | str) -> Column:
    """Cast to string + byte-cap, the reference's add-path item intake
    (TEXT-only + 255-byte truncation)."""
    s = _col(item).cast("string")
    return F.when(F.octet_length(s) <= MAX_KEY_BYTES, s).otherwise(_byte_truncate(s))


def _entry_cmp(left: Column, right: Column) -> Column:
    """Deterministic entry order: frequency DESC, item ASC."""
    return (
        F.when(left["frequency"] > right["frequency"], F.lit(-1))
        .when(left["frequency"] < right["frequency"], F.lit(1))
        .when(left["item"] < right["item"], F.lit(-1))
        .when(left["item"] > right["item"], F.lit(1))
        .otherwise(F.lit(0))
    )


# SQL-text twin of _entry_cmp, for the SQL-text aggregate builders
# (aggregates.py) and the expr-string extraction paths (one parser
# round-trip instead of ~30 py4j Column calls; the parsed plan is
# identical).
ENTRY_CMP_SQL = (
    "(l, r) -> CASE WHEN l.frequency > r.frequency THEN -1 "
    "WHEN l.frequency < r.frequency THEN 1 "
    "WHEN l.item < r.item THEN -1 "
    "WHEN l.item > r.item THEN 1 ELSE 0 END"
)


def entries_sorted_sql(map_sql: str) -> str:
    """SQL text for :func:`sketch_entries` over the map-typed SQL
    expression *map_sql* — used by the string fast paths to build the
    whole extraction in one parser call."""
    return (
        f"array_sort(transform(map_entries({map_sql}), "
        "e -> named_struct('item', e.key, 'frequency', e.value)), "
        f"{ENTRY_CMP_SQL})"
    )


def sketch_entries(sketch: Column | str) -> Column:
    """All entries of a sketch as ``array<struct<item,frequency>>`` sorted
    (frequency DESC, item ASC). The building block for `topn` extraction
    and pruning (reference sort: topn.c:242-243, 817-834)."""
    if isinstance(sketch, str):
        # escape embedded backticks so the quoted name round-trips; a
        # dotted name is quoted whole (a plain top-level column name,
        # matching how the expr-string path treats identifiers)
        quoted = sketch.replace("`", "``")
        return F.expr(entries_sorted_sql(f"`{quoted}`"))
    entries = F.transform(
        F.map_entries(sketch),
        lambda e: F.struct(e["key"].alias("item"), e["value"].alias("frequency")),
    )
    return F.array_sort(entries, _entry_cmp)


def prune_sketch(sketch: Column | str, counters: int) -> Column:
    """Keep the top *counters* entries (frequency DESC, item ASC) — the
    materialization prune (topn.c:652, 869-908)."""
    m = _col(sketch)
    return F.when(F.size(m) <= F.lit(counters), m).otherwise(
        F.map_from_entries(F.slice(sketch_entries(m), 1, counters))
    )


def topn_entries(
    sketch: Column | str, n: int, counters: int | None = None
) -> Column:
    """``topn(jsonb, n)`` as an array column: top *n* entries sorted
    (frequency DESC, item ASC).

    Reference semantics (topn.c:189-283): errors when ``n >
    number_of_counters`` even if the sketch is smaller (topn.c:229-233);
    NULL/empty sketch yields no rows; otherwise emits ``min(n, size)``
    entries. Explode the result (or use :func:`explode_topn`) to get the
    SETOF topn_record shape.
    """
    counters = resolve_counters(counters)
    if n > counters:
        # mirrors "requested number of counters is greater than the
        # topn.number_of_counters" (topn.c:229-233)
        raise ValueError(
            f"requested n={n} is greater than the configured number of "
            f"counters ({counters})"
        )
    if n <= 0:
        return F.when(
            _col(sketch).isNotNull(), F.expr("array()").cast(f"array<struct<item:string,frequency:bigint>>")
        )
    return F.slice(sketch_entries(sketch), 1, n)


def explode_topn(
    df: DataFrame,
    sketch: Column | str,
    n: int,
    *,
    keep: list[Column | str] | None = None,
    counters: int | None = None,
) -> DataFrame:
    """``SELECT keys, (topn(sketch, n)).* FROM df`` — lateral SRF
    expansion (sql/join_tests.sql:6). NULL/empty sketches produce zero
    rows, like the reference's SRF (topn.c:209-226)."""
    keep_cols = [_col(c) for c in (keep or [])]
    rec = F.explode(topn_entries(sketch, n, counters)).alias("__rec")
    out = df.select(*keep_cols, rec)
    if all(isinstance(c, str) for c in (keep or [])):
        kept_names = list(keep or [])  # known without analyzing the plan
    else:
        kept_names = [c for c in out.columns if c != "__rec"]
    return out.select(
        *kept_names,
        F.col("__rec.item").alias("item"),
        F.col("__rec.frequency").alias("frequency"),
    )


def _sat_add(a: Column, b: Column) -> Column:
    """Saturating int64 addition (topn.c:997-1009). ``try_add`` yields
    NULL on overflow in every ANSI mode; int64 addition can only
    overflow when both operands share a sign, so saturation follows
    that sign. (The old unconditional +INT64_MAX mapped NEGATIVE
    overflow — reachable on the union path, where sketch_from_json
    admits negative frequencies — to the TOP heavy-hitter slot;
    review pin.)"""
    return F.coalesce(
        F.try_add(a, b),
        F.when(a > 0, F.lit(INT64_MAX)).otherwise(F.lit(-INT64_MAX - 1)),
    )


def topn_others_count(
    sketch: Column | str, n: int, counters: int | None = None
) -> Column:
    """Total frequency mass OUTSIDE the top *n* — the "everything
    else" bucket a dashboard shows next to the top slices. For Tier-1
    (un-evicted) sketches this is exact: sum of all frequencies minus
    the top-n sum; both folds run over the already-sorted entry array
    (pure expressions, no extra aggregation). Same n-vs-counters
    validation as topn()."""
    # resolve the sketch argument ONCE and share the Column between the
    # two halves — topn_entries' string path and _col parse dotted
    # names differently, so the halves could read different columns
    # (review pin)
    s = _col(sketch)
    top = topn_entries(s, n, counters)
    # EXACT decimal(38,0) folds with one both-direction clamp at the
    # end: saturating per-add folds were fold-order dependent for
    # mixed-sign sketches, and the final long subtraction could
    # overflow under ANSI (review pin). The total is order-independent
    # by exactness; decimal(38,0) holds any sum of map-bounded int64
    # entries.
    dec0 = F.lit(0).cast("decimal(38,0)")
    total = F.aggregate(
        F.map_values(s),
        dec0,
        lambda acc, v: acc + v.cast("decimal(38,0)"),
    )
    head = F.aggregate(
        top,
        dec0,
        lambda acc, e: acc + e["frequency"].cast("decimal(38,0)"),
    )
    diff = total - head
    clamped = F.least(
        F.greatest(diff, F.lit(-INT64_MAX - 1).cast("decimal(38,0)")),
        F.lit(INT64_MAX).cast("decimal(38,0)"),
    ).cast("long")
    # greatest/least SKIP NULLs, so a NULL sketch must short-circuit to
    # NULL explicitly (it would otherwise clamp to INT64_MIN)
    return F.when(diff.isNull(), F.lit(None).cast("long")).otherwise(clamped)


def topn_add(
    sketch: Column | str,
    item: Column | str,
    counters: int | None = None,
) -> Column:
    """Scalar point-update, non-STRICT (topn.c:290-356).

    NULL,NULL -> {} ; NULL,item -> {item:1} ; sketch,NULL -> sketch;
    existing item -> saturating +1 with no prune; new item -> insert,
    then prune to *counters* if the sketch outgrew the budget
    (prune fires only on insert, topn.c:350).
    """
    counters = resolve_counters(counters)
    m = _col(sketch)
    it = normalize_item(item)
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    # coalesce the stored value to 0 BEFORE _sat_add: try_add returns
    # NULL for NULL inputs too, so a NULL map value (repo convention:
    # contributes 0, matching the merge path below) would otherwise be
    # read as overflow and saturate to INT64_MIN (review pin)
    bumped = F.transform_values(
        m,
        lambda k, v: F.when(
            k == it, _sat_add(F.coalesce(v, zero), one)
        ).otherwise(v),
    )
    inserted = prune_sketch(F.map_concat(m, F.create_map(it, one)), counters)
    return (
        F.when(m.isNull() & it.isNull(), empty_sketch())
        .when(m.isNull(), F.create_map(it, one))
        .when(it.isNull(), m)
        .when(F.map_contains_key(m, it), bumped)
        .otherwise(inserted)
    )


def merge_sketches(a: Column | str, b: Column | str) -> Column:
    """Key-union merge with saturating sums — MergeTopn's arithmetic
    (topn.c:955-990) without the prune. NULL-tolerant: treats NULL input
    as empty. Used by union/window merges."""
    am, bm = _col(a), _col(b)
    zero = F.lit(0).cast("long")
    merged = F.map_zip_with(
        F.coalesce(am, empty_sketch()),
        F.coalesce(bm, empty_sketch()),
        lambda _, v1, v2: _sat_add(F.coalesce(v1, zero), F.coalesce(v2, zero)),
    )
    return merged


def topn_union(
    a: Column | str, b: Column | str, counters: int | None = None
) -> Column:
    """Scalar two-sketch union, STRICT like the reference (NULL if either
    argument is NULL — update/topn--2.0.0.sql:12-15,
    expected/null_tests.out:31-34), pruned to *counters* (topn.c:380).
    Also the implementation of the ``+`` operator
    (update/topn--2.0.0.sql:48-53)."""
    counters = resolve_counters(counters)
    am, bm = _col(a), _col(b)
    return F.when(
        am.isNull() | bm.isNull(), F.lit(None).cast(SKETCH_TYPE)
    ).otherwise(prune_sketch(merge_sketches(am, bm), counters))


def sketch_diff(a: Column | str, b: Column | str) -> Column:
    """Compare two sketches for drift monitoring between rollup
    intervals: ``array<struct<item, freq_a, freq_b, delta>>`` over the
    UNION of both key sets (freq 0 where an item is absent), sorted
    item ASC for deterministic output. Beyond-reference: the reference
    can union sketches but cannot ask "what changed between yesterday's
    and today's rollup" — the first question a monitoring user has.
    NULL-tolerant (NULL sketch = empty). Pure Catalyst expressions."""
    am = F.coalesce(_col(a), empty_sketch())
    bm = F.coalesce(_col(b), empty_sketch())
    zero = F.lit(0).cast("long")
    merged = F.map_zip_with(
        am,
        bm,
        lambda _, va, vb: F.struct(
            F.coalesce(va, zero).alias("fa"), F.coalesce(vb, zero).alias("fb")
        ),
    )
    entries = F.transform(
        F.map_entries(merged),
        lambda e: F.struct(
            e["key"].alias("item"),
            e["value"]["fa"].alias("freq_a"),
            e["value"]["fb"].alias("freq_b"),
            (e["value"]["fb"] - e["value"]["fa"]).alias("delta"),
        ),
    )
    return F.array_sort(entries)  # struct sort: first field (item) ASC


def topn_plus(
    a: Column | str, b: Column | str, counters: int | None = None
) -> Column:
    """The ``+`` operator on two sketches (update/topn--2.0.0.sql:48-53)
    — an alias of :func:`topn_union`, which implements the operator's
    function in the reference. For infix syntax wrap either side in
    :class:`SketchColumn`: ``SketchColumn(a) + b``."""
    return topn_union(a, b, counters)


class SketchColumn:
    """Column wrapper giving sketches the reference's infix ``+``
    (update/topn--2.0.0.sql:48-53: ``jsonb + jsonb -> jsonb`` via
    topn_union). ``+`` returns another SketchColumn so unions chain
    (``SketchColumn(a) + b + c``); every other attribute (``alias``,
    ``cast``, …) delegates to the wrapped Column, so
    ``(SketchColumn(a) + b).alias("sk")`` drops straight into
    ``select``. Use ``.col`` for the bare Column itself.
    """

    def __init__(self, col: Column | str, counters: int | None = None):
        self._col = _col(col)
        self._counters = counters

    def __add__(self, other: "SketchColumn | Column | str") -> "SketchColumn":
        o = other._col if isinstance(other, SketchColumn) else _col(other)
        return SketchColumn(
            topn_union(self._col, o, self._counters), self._counters
        )

    # No __radd__: pyspark's Column.__add__ never returns NotImplemented
    # for unknown operands (it raises inside py4j), so Python would
    # never dispatch here. The SketchColumn must be the LEFT operand:
    # SketchColumn("x") + F.col("y"), not F.col("y") + SketchColumn("x").

    @property
    def col(self) -> Column:
        return self._col

    def __getattr__(self, name: str):
        # delegate alias/cast/etc. to the wrapped Column (returns plain
        # Column results, e.g. .alias("sk") for select)
        return getattr(self._col, name)


# ---------------------------------------------------------------------------
# JSON import/export — the user-visible JSONB form
# ---------------------------------------------------------------------------


def sketch_to_json(sketch: Column | str) -> Column:
    """Render a sketch as a JSON text column with PostgreSQL's jsonb key
    order (key length first, then bytewise — visible in
    expected/customer_reviews_query.out:70-74)."""
    m = _col(sketch)
    entries = F.array_sort(
        F.map_entries(m),
        lambda l, r: (
            F.when(F.octet_length(l["key"]) < F.octet_length(r["key"]), F.lit(-1))
            .when(F.octet_length(l["key"]) > F.octet_length(r["key"]), F.lit(1))
            .when(l["key"] < r["key"], F.lit(-1))
            .when(l["key"] > r["key"], F.lit(1))
            .otherwise(F.lit(0))
        ),
    )
    # map_from_entries preserves entry order, and to_json emits map
    # entries in that order.
    return F.to_json(F.map_from_entries(entries))


def sketch_from_json(json_col: Column | str, *, strict_keys: bool = True) -> Column:
    """Parse a JSON object into a sketch.

    Reference read-path semantics (topn.c:671-722, 753-810): only numeric
    values are accepted (others silently skipped); numerics are truncated
    toward zero to int64; keys longer than 256 bytes raise an error
    (topn.c:700-706 — pass ``strict_keys=False`` to skip them instead).

    "Numeric" means the JSON TYPE (jbvNumeric, topn.c:709), not the
    lexical shape: ``{"a": "5"}`` is a quoted STRING and is skipped,
    exactly like the reference. Parsing goes through Spark 4's VARIANT
    type because ``map<string,string>`` erases the number-vs-string
    distinction (a regex on the erased text accepted quoted numerics —
    review pin); ``schema_of_variant`` recovers each entry's JSON type.
    """
    raw = F.map_entries(F.from_json(_col(json_col), "map<string,variant>"))
    if strict_keys:
        # the reference raises on an over-long key REGARDLESS of its
        # value's type (topn.c:700-706 runs before numeric_normalize),
        # so the check applies to the raw entries, not the numeric ones
        raw = F.transform(
            raw,
            lambda e: F.when(
                F.octet_length(e["key"]) > READ_KEY_ERROR_BYTES,
                F.raise_error(
                    F.concat(
                        F.lit("item "),
                        e["key"],
                        F.lit(
                            " is longer than the allowed topn key size "
                            f"({READ_KEY_ERROR_BYTES} bytes)"
                        ),
                    )
                ).cast("struct<key:string,value:variant>"),
            ).otherwise(e),
        )
    else:
        raw = F.filter(
            raw, lambda e: F.octet_length(e["key"]) <= READ_KEY_ERROR_BYTES
        )
    # numeric-JSON-TYPE filter runs AFTER the key-length handling (the
    # reference's key check precedes numeric_normalize). JSON integers
    # surface as BIGINT, decimals as DECIMAL(p,s), big/exponent floats
    # as DOUBLE; strings/booleans/nulls/objects/arrays are skipped.
    def _is_numeric(v: Column) -> Column:
        t = F.schema_of_variant(v)
        return (
            (t == F.lit("BIGINT"))
            | (t == F.lit("DOUBLE"))
            | (t == F.lit("FLOAT"))
            | t.startswith("DECIMAL")
        )

    checked = F.transform(
        F.filter(raw, lambda e: _is_numeric(e["value"])),
        lambda e: F.struct(
            e["key"].alias("key"),
            F.try_variant_get(e["value"], "$", "string").alias("value"),
        ),
    )
    # Integer-shaped strings parse straight to long so frequencies above
    # 2^53 keep exact int64 precision, matching the reference's
    # numeric_normalize + atol path (topn.c:711-712). Decimal/exponent
    # forms (and out-of-range integers, where try_cast yields NULL) fall
    # back to the double path, which truncates toward zero and saturates
    # at +/-INT64_MAX like the reference.
    def _freq(v: Column) -> Column:
        as_long = F.when(
            v.rlike(r"^-?[0-9]+$"), v.try_cast("long")
        )
        d = v.cast("double")
        via_double = F.coalesce(
            d.try_cast("long"),  # NULL on overflow under ANSI — saturate:
            F.when(d > 0, F.lit(9223372036854775807)).otherwise(
                F.lit(-9223372036854775808)
            ),
        )
        return F.coalesce(as_long, via_double)

    return F.map_from_entries(
        F.transform(
            checked,
            lambda e: F.struct(
                e["key"].alias("item"),
                _freq(e["value"]).alias("frequency"),
            ),
        )
    )
