"""SQL-callable registration — the PG-like API for ``spark.sql()`` users.

The reference's users call ``topn(jsonb, n)``, ``topn_add``,
``topn_union`` directly in SQL (update/topn--2.0.0.sql:2-15) and — the
flagship pattern — ``SELECT keys, topn_add_agg(item) … GROUP BY keys``
(update/topn--2.3.0--2.3.1.sql:34-51, README.md:84-96).
:func:`register_sql_functions` provides both:

- ``topn(sketch, n)`` — a SQL table function (SETOF topn_record, like
  the reference SRF topn.c:189-283), usable with LATERAL.
- ``topn_add(sketch, item)`` / ``topn_union(a, b)`` — scalar SQL
  functions with the reference's NULL matrix and prune policies.
- ``topn_entries(sketch, n)`` — array<struct> form of topn for callers
  that prefer explode().
- ``topn_add_agg(item)`` / ``topn_union_agg(sketch)`` /
  ``topn_weighted_agg(item, weight)`` — GROUPED_AGG pandas UDAFs so the
  reference's primary aggregate API works verbatim in ``GROUP BY``
  queries (Arrow-batched; the whole group's items stream through one
  Python worker).

The first four are ``CREATE TEMPORARY FUNCTION … RETURN <expr>``
bodies built from the SQL-text twins of the Column forms in
functions/sketch.py (ranking) and functions/aggregates.py (item
intake): Catalyst inlines them into the calling plan, so they run in
the JVM like the Column API. SQL cannot define an aggregate, so the
three UDAFs stay Python; they finish through ``sketch_state.
pack_counts``: exact totals saturate into int64 before they are ranked
(frequency DESC, item ASC) and cut, the reference's order
(topn.c:997-1009 before topn.c:869-908), so at the int64 edge they keep
the same items as the Tier-1 builders and the Tier-2 sketches.

NOTE the performance contract of the UDAFs: they cross the
Python/Arrow boundary and exist for SQL-surface parity and ad-hoc use.
A GROUPED_AGG pandas UDAF gets no Catalyst partial aggregation: every
raw row shuffles to its group's reducer before Python sees it. The hot
aggregation path for ``spark.sql()`` users is :func:`topn_sql`, which
rewrites the flagship aggregate statements onto the SQL-text builders
of functions/aggregates.py — the same builders the Column API runs,
entirely JVM-side. Registering does not slow anything else down.

GUC parity: the reference reads ``topn.number_of_counters`` at every
call (topn.c:229-233). The budget is spliced into the function bodies
(and captured by the UDAFs, whose workers cannot read the session
conf) at registration, so per-call semantics are provided one level
up, two ways:

- :func:`postgresql_topn_spark.conf.set_number_of_counters`
  re-registers the SQL functions of every session that registered
  without an explicit ``counters=`` — the Spark analogue of
  PostgreSQL's GUC assign hook.
- a raw ``spark.conf.set("spark.topn.numberOfCounters", …)`` is ALSO
  honored: registering with ``counters=None`` installs a per-call conf
  check on that session's ``sql()`` entry point (one ``conf.get`` py4j
  round-trip per call, ~0.1 ms) that lazily re-registers when the raw
  key changed — so, like the reference, the budget in effect is the one
  at call time, however it was set. Invalid values surface at the next
  ``sql()`` call rather than at SET time (Spark confs have no assign
  hook to validate in).
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import PandasUDFType, pandas_udf

from postgresql_topn_spark.conf import (
    CONF_KEY,
    DEFAULT_COUNTERS,
    INT64_MAX,
    resolve_counters,
)
from postgresql_topn_spark.functions.aggregates import (  # noqa: F401
    _normalize_sql,
    topn_add_agg_sql,
    topn_union_agg_sql,
    topn_weighted_agg_sql,
)
from postgresql_topn_spark.functions.sketch import (
    SKETCH_DDL,
    SKETCH_TYPE,
    entries_sorted_sql,
)
from postgresql_topn_spark.operators.sketch_state import (
    pack_counts,
    truncate_key_bytes,
    weight_to_long,
)

# Sessions that registered with counters=None (follow-the-conf). A conf
# change through set_number_of_counters() re-registers these so the next
# spark.sql() call sees the new budget — PG's GUC assign-hook analogue.
_FOLLOW_CONF_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def refresh_sql_registration(spark: SparkSession) -> None:
    """Re-register the SQL surface if *spark* follows the session conf.
    Called by conf.set_number_of_counters (the GUC assign hook)."""
    if spark in _FOLLOW_CONF_SESSIONS:
        register_sql_functions(spark)


def _raw_conf(spark: SparkSession) -> str:
    return str(spark.conf.get(CONF_KEY, str(DEFAULT_COUNTERS)))


def _install_conf_watch(spark: SparkSession) -> None:
    """Honor raw ``spark.conf.set(CONF_KEY, …)`` per ``sql()`` call.

    Wraps this session object's ``sql`` bound method with a cheap
    conf-version check: when the raw key differs from the value the
    current registration was built with, re-register first. Scoped to
    sessions that opted into the SQL surface via
    ``register_sql_functions(counters=None)``; explicit-counters
    registrations leave the wrapper installed but inert (the follow-set
    membership gates it). Idempotent."""
    if getattr(spark, "_topn_sql_conf_watch", False):
        return
    orig_sql = spark.sql

    def sql_with_guc_check(*args, **kwargs):
        if (
            spark in _FOLLOW_CONF_SESSIONS
            and _raw_conf(spark) != getattr(spark, "_topn_registered_conf", None)
        ):
            register_sql_functions(spark)
        return orig_sql(*args, **kwargs)

    spark.sql = sql_with_guc_check
    spark._topn_sql_conf_watch = True


def _sat_add_sql(a: str, b: str) -> str:
    """SQL-text twin of sketch._sat_add. *a* is repeated in the text."""
    return (
        f"coalesce(try_add({a}, {b}), "
        f"CASE WHEN {a} > 0 THEN {INT64_MAX} ELSE {-INT64_MAX - 1} END)"
    )


def _prune_sql(m: str, c: int) -> str:
    """SQL-text twin of sketch.prune_sketch. *m* is repeated in the text."""
    return (
        f"CASE WHEN size({m}) <= {c} THEN {m} "
        f"ELSE map_from_entries(slice({entries_sorted_sql(m)}, 1, {c})) END"
    )


def _function_defs(c: int) -> dict[str, str]:
    """``name -> (params) RETURNS … RETURN body`` of the SQL-bodied
    functions for a budget of *c* counters. Each body follows its Column
    form in functions/sketch.py clause for clause."""
    # sketch.topn_entries: n > counters errors even for a NULL or small
    # sketch (topn.c:229-233); n <= 0 gives [] (NULL for a NULL sketch)
    top = (
        f"CASE WHEN n > {c} THEN raise_error(concat('requested n=', n, "
        f"' is greater than the configured number of counters ({c})')) "
        "WHEN n <= 0 AND sketch IS NOT NULL THEN array() "
        f"ELSE slice({entries_sorted_sql('sketch')}, 1, n) END"
    )
    # sketch.topn_add: non-STRICT NULL matrix (topn.c:305-322); an
    # existing item bumps without a prune (topn.c:350 prunes on insert)
    it = _normalize_sql("item")
    bump = _sat_add_sql("coalesce(v, 0L)", "1L")
    add = (
        "CASE WHEN sketch IS NULL AND item IS NULL THEN map() "
        f"WHEN sketch IS NULL THEN map({it}, 1L) "
        "WHEN item IS NULL THEN sketch "
        f"WHEN map_contains_key(sketch, {it}) THEN transform_values(sketch, "
        f"(k, v) -> CASE WHEN k = {it} THEN {bump} ELSE v END) "
        f"ELSE {_prune_sql(f'map_concat(sketch, map({it}, 1L))', c)} END"
    )
    # sketch.topn_union: STRICT (update/topn--2.0.0.sql:12-15)
    merged = (
        "map_zip_with(a, b, (k, v1, v2) -> "
        f"{_sat_add_sql('coalesce(v1, 0L)', 'coalesce(v2, 0L)')})"
    )
    union = f"CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN {_prune_sql(merged, c)} END"
    entries = "ARRAY<STRUCT<item: STRING, frequency: BIGINT>>"
    return {
        "topn": (
            f"(sketch {SKETCH_DDL}, n BIGINT) RETURNS TABLE "
            f"(item STRING, frequency BIGINT) RETURN SELECT inline({top})"
        ),
        "topn_entries": f"(sketch {SKETCH_DDL}, n BIGINT) RETURNS {entries} RETURN {top}",
        "topn_add": f"(sketch {SKETCH_DDL}, item STRING) RETURNS {SKETCH_DDL} RETURN {add}",
        "topn_union": f"(a {SKETCH_DDL}, b {SKETCH_DDL}) RETURNS {SKETCH_DDL} RETURN {union}",
    }


def _item_key(item) -> str:
    """A UDAF item as the key Spark's ``cast(item AS STRING)`` gives the
    rewritten statement: booleans are ``true``/``false``, not Python's
    ``True``/``False``. Floating-point items keep Python's repr."""
    if isinstance(item, (bool, np.bool_)):
        return "true" if item else "false"
    return truncate_key_bytes(str(item))


def register_sql_functions(spark: SparkSession, *, counters: int | None = None) -> None:
    """Register the topn surface for ``spark.sql()`` sessions.

    With ``counters=None`` the budget follows the session conf: it is
    re-resolved whenever :func:`~postgresql_topn_spark.conf.
    set_number_of_counters` changes it (per-call GUC semantics,
    topn.c:229-233). An explicit ``counters=`` pins the budget until the
    next explicit registration.

    The functions depend only on the resolved budget, so a session that
    already holds them for that budget skips the CREATEs (each costs a
    parse and analysis); :func:`topn_sql` calls this once per statement."""
    c = resolve_counters(counters, spark)
    # follow-mode bookkeeping first: the CREATEs below go through
    # spark.sql, whose conf watch must already see this registration
    if counters is None:
        _FOLLOW_CONF_SESSIONS.add(spark)
        spark._topn_registered_conf = _raw_conf(spark)
        _install_conf_watch(spark)
    else:
        _FOLLOW_CONF_SESSIONS.discard(spark)
    if getattr(spark, "_topn_registered_counters", None) == c:
        return
    for name, body in _function_defs(c).items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")

    # --- GROUPED_AGG aggregates: the reference's primary API surface ---
    # (update/topn--2.3.0--2.3.1.sql:34-51). Arrow ships each group's
    # column batch; Python counts/merges and returns one bounded map.
    # Semantics mirror functions/aggregates.py: NULL items/sketches are
    # skipped but an all-NULL group still yields {} (topn.c:655-661),
    # keys are byte-capped on entry, and the exact totals finish through
    # pack_counts (saturate, rank, cut to `c`).

    @pandas_udf(SKETCH_TYPE, PandasUDFType.GROUPED_AGG)
    def topn_add_agg_udaf(items: pd.Series) -> dict:
        counts: dict[str, int] = {}
        for it in items:
            if it is None:
                continue
            k = _item_key(it)
            counts[k] = counts.get(k, 0) + 1
        return pack_counts(counts, c)

    @pandas_udf(SKETCH_TYPE, PandasUDFType.GROUPED_AGG)
    def topn_union_agg_udaf(sketches: pd.Series) -> dict:
        out: dict[str, int] = {}
        for sk in sketches:
            if sk is None:
                continue
            for k, v in sk.items():
                out[k] = out.get(k, 0) + v
        return pack_counts(out, c)

    # Precision caveat (this UDAF only): a NULL weight in a group makes
    # Arrow ship the column as float64, so integer weights above 2^53
    # lose ulps before Python sees them. The Column API and topn_sql's
    # rewrite sum INTEGRAL weight columns directly in Spark longs (exact
    # for the full int64 range, aggregates._weight_sql) — use them when
    # weights can exceed 2^53; fractional weights round-trip through
    # double on every surface (they already carry double precision at
    # the source).
    @pandas_udf(SKETCH_TYPE, PandasUDFType.GROUPED_AGG)
    def topn_weighted_agg_udaf(items: pd.Series, weights: pd.Series) -> dict:
        # beyond-reference additive-measure form (aggregates.
        # topn_weighted_agg): NULL/NaN weights contribute 0; items with
        # total weight <= 0 drop. Fractional weights round HALF-UP (away
        # from zero) per row — Spark's round semantics — NOT int() truncation
        # (int(2.7) == 2 would silently disagree with the Column lane).
        # The rounding rule is SHARED with the Tier-2 sketch
        # (sketch_state.weight_to_long): Decimal on the shortest repr
        # because Spark's F.round is BigDecimal-based (naive wf + 0.5
        # diverges on edge doubles), saturation for infinities and
        # beyond-int64 magnitudes (a raw Decimal quantize of 1e30 would
        # blow the 28-digit context and kill the task).
        totals: dict[str, int] = {}
        for it, w in zip(items, weights):
            if it is None:
                continue
            k = _item_key(it)
            totals[k] = totals.get(k, 0) + weight_to_long(w)
        return pack_counts(totals, c, drop_nonpositive=True)

    spark.udf.register("topn_add_agg", topn_add_agg_udaf)
    spark.udf.register("topn_union_agg", topn_union_agg_udaf)
    spark.udf.register("topn_weighted_agg", topn_weighted_agg_udaf)
    spark._topn_registered_counters = c


# ---------------------------------------------------------------------------
# Two-phase SQL surface — partial-combining aggregation for spark.sql users
# ---------------------------------------------------------------------------
#
# The registered GROUPED_AGG UDAFs above ship every raw row to one Python
# reducer per group — fine for parity/ad-hoc use, a wall for a hot group
# at scale. The reference's own aggregate is parallel-combining
# (topn.c:509-625, update/topn--2.3.0--2.3.1.sql:34-51). SQL users get
# that in two ways:
#
# 1. PURE-BUILT-IN SQL, generated by topn_add_agg_sql / topn_weighted_agg_sql
#    / topn_union_agg_sql (defined in functions/aggregates.py, re-exported
#    here): the Tier-1 composition (count -> window rank -> pack) as one
#    SQL string. Zero Python stages; Catalyst supplies MAP-SIDE partial
#    aggregation on the (group, item) count, spill, and AQE. These are
#    the builders the Column API itself runs.
#
# 2. A one-line SALTED REWRITE of the UDAF form, when the UDAF API is
#    wanted verbatim. Replace
#        SELECT g, topn_add_agg(item) FROM t GROUP BY g
#    with
#        SELECT g, topn_union_agg(sk) AS sk FROM (
#          SELECT g, topn_add_agg(item) AS sk
#          FROM t GROUP BY g, pmod(xxhash64(coalesce(item, '')), 64)
#        ) GROUP BY g
#    Each item lands in exactly one salt bucket, so per-bucket counts are
#    exact and any global top-N item survives its bucket's top-N prune —
#    the merged result is IDENTICAL to the unsalted form (the same
#    lossless argument as aggregates.py's salt_buckets path), but a hot
#    group's rows spread over 64 reducers instead of one. (Caveat: salt
#    on the same byte-truncated form the aggregate keys on if items can
#    exceed 255 bytes.) Pinned by test_sql_api.py.


# ---------------------------------------------------------------------------
# topn_sql: run the reference's flagship SQL verbatim WITHOUT the UDAF wall
# ---------------------------------------------------------------------------
#
# The registered GROUPED_AGG UDAFs above are single-reducer-per-group: a
# user who pastes the reference's flagship
#     SELECT keys, topn_add_agg(item) FROM t GROUP BY keys
# (update/topn--2.3.0--2.3.1.sql:34-51, README.md:84-96) into spark.sql()
# verbatim gets the slow lane. topn_sql() is the front door that fixes
# that: it pattern-matches topn_add_agg / topn_weighted_agg /
# topn_union_agg aggregate calls in the statement (including inside
# WITH-CTE bodies) and rewrites each matched SELECT onto the
# pure-built-in two-phase plan above — zero Python stages, map-side
# partial combine, identical results (the rewritten form runs the same
# builder the Column API runs). Shapes the rewriter cannot prove safe
# fall back to the registered UDAF verbatim, with a runtime warning
# naming the scale caveat.

import re as _re
import warnings as _warnings

_TOPN_AGG_RE = _re.compile(
    r"^(topn_add_agg|topn_union_agg|topn_weighted_agg)\s*\(", _re.I
)
_AGG_ARITY = {"topn_add_agg": 1, "topn_union_agg": 1, "topn_weighted_agg": 2}
_IDENT_RE = _re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_CLAUSE_RE = _re.compile(
    r"\b(select|from|where|group\s+by|having|order\s+by|limit|union|"
    r"intersect|except|window|qualify|distribute\s+by|sort\s+by|"
    r"cluster\s+by|pivot|unpivot|tablesample)\b",
    _re.I,
)
_ANY_TOPN_FN_RE = _re.compile(
    r"\btopn(_add|_union|_entries|_add_agg|_union_agg|_weighted_agg)?\s*\(",
    _re.I,
)


# A string literal, quoted identifier or comment. Inside '…' and "…" a
# backslash escapes the next character and a doubled quote continues the
# literal; `…` knows only the doubled quote. An unterminated span runs to
# the end of the text; a line comment takes its newline.
_SPAN_RE = _re.compile(
    r"""'(?:[^'\\]|\\.?|'')*'?"""
    r'''|"(?:[^"\\]|\\.?|"")*"?'''
    r"|`(?:[^`]|``)*`?"
    r"|--[^\n]*\n?"
    r"|/\*.*?(?:\*/|\Z)",
    _re.S,
)


def _segments(s: str, i: int = 0):
    """Split *s* from *i* into ``(start, end, quoted)`` runs, where a
    quoted run is one literal, quoted identifier or comment — the one
    scanner every rewriter pass uses, so they all agree on where a
    quoted span ends."""
    for m in _SPAN_RE.finditer(s, i):
        if m.start() > i:
            yield i, m.start(), False
        yield m.start(), m.end(), True
        i = m.end()
    if i < len(s):
        yield i, len(s), False


def _top_mask(s: str) -> list[bool]:
    """True at positions that sit at paren-depth 0 outside string/ident
    literals and comments — the only places clause keywords and list
    commas are structural."""
    mask = [False] * len(s)
    depth = 0
    for a, b, quoted in _segments(s):
        if quoted:
            continue
        for i in range(a, b):
            ch = s[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth = max(depth - 1, 0)
            elif depth == 0:
                mask[i] = True
    return mask


def _close_paren(s: str, i: int) -> int:
    """Index of the ``)`` closing the ``(`` at *i*, or -1."""
    depth = 0
    for a, b, quoted in _segments(s, i):
        if quoted:
            continue
        for j in range(a, b):
            if s[j] == "(":
                depth += 1
            elif s[j] == ")":
                depth -= 1
                if not depth:
                    return j
    return -1


def _strip_sql_comments(s: str) -> str:
    """Replace -- line comments and /* */ block comments with a space,
    string-literal-aware. Rewritten statements are emitted as ONE line,
    so a surviving line comment would swallow everything after it."""
    return "".join(
        " " if quoted and s[a] in "-/" else s[a:b] for a, b, quoted in _segments(s)
    )


def _split_top_commas(s: str) -> list[str]:
    mask = _top_mask(s)
    parts, start = [], 0
    for i, ch in enumerate(s):
        if ch == "," and mask[i]:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts]


def _norm_expr(s: str) -> str:
    """Case-folded and whitespace-collapsed OUTSIDE quoted spans only:
    folding a literal's case (or collapsing its internal whitespace)
    would falsely equate GROUP BY f('A') / f('a  b') with a select key
    f('a') / f('a b') and rewrite to the wrong grouping."""

    def collapse(txt: str) -> str:
        # single spaces at the run edges keep token separation stable
        out = " ".join(txt.lower().split())
        if txt[:1].isspace() and out:
            out = " " + out
        if txt[-1:].isspace() and out.strip():
            out = out + " "
        return out

    return "".join(
        s[a:b] if quoted else collapse(s[a:b]) for a, b, quoted in _segments(s)
    ).strip()


def _clause_spans(s: str):
    """Ordered top-level clause keyword matches, or None if the text
    contains a clause the rewriter does not model."""
    mask = _top_mask(s)
    out = []
    for m in _CLAUSE_RE.finditer(s):
        if all(mask[i] for i in range(m.start(), m.end())):
            out.append(m)
    return out


def _rewrite_select(
    sql: str, *, counters: int | None, spark, salt_buckets: int | None
) -> str | None:
    """Rewrite ONE bare SELECT statement of the flagship shape
    (SELECT keys..., topn_{add,union}_agg(x) AS a FROM src [WHERE p]
    [GROUP BY keys]) onto the two-phase built-in SQL. Returns None when
    the shape is not provably that pattern (caller falls back)."""
    s = sql.strip().rstrip(";").strip()
    spans = _clause_spans(s)
    if not spans:
        return None
    kinds = [_norm_expr(m.group(1)) for m in spans]
    if kinds[0] != "select" or spans[0].start() != 0:
        return None
    order = [
        "select",
        "from",
        "where",
        "group by",
        "having",
        "order by",
        "limit",
    ]
    allowed = set(order)
    if any(k not in allowed for k in kinds) or kinds.count("select") != 1:
        return None
    if kinds != sorted(kinds, key=order.index):
        return None  # clauses out of order (e.g. a second SELECT)
    if len(set(kinds)) != len(kinds):
        # a duplicated clause keyword (invalid SQL): rewriting would
        # silently DROP the earlier clause's text — let the engine
        # produce its parse error instead
        return None
    bounds = {k: None for k in allowed}
    for idx, m in enumerate(spans):
        k = _norm_expr(m.group(1))
        end = spans[idx + 1].start() if idx + 1 < len(spans) else len(s)
        bounds[k] = s[m.end() : end].strip()
    select_text = bounds["select"]
    from_text = bounds["from"]
    if select_text is None or from_text is None or not from_text:
        return None
    if _re.match(r"^\s*(distinct|all)\b", select_text, _re.I):
        return None
    items = _split_top_commas(select_text)
    agg = None  # (index, fn, arg, alias)
    keys = []  # (alias, expr) in select order
    for idx, it in enumerate(items):
        m = _TOPN_AGG_RE.match(it)
        if m:
            # whole item must be the call plus an alias: find the
            # matching close paren of the call's open paren
            open_i = it.index("(", m.start(1))
            close_i = _close_paren(it, open_i)
            if close_i < 0:
                return None
            rest = it[close_i + 1 :].strip()
            am = _re.match(r"^as\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)$", rest, _re.I)
            if am is None:
                return None  # nested expression or missing alias
            fn_name = m.group(1).lower()
            args = _split_top_commas(it[open_i + 1 : close_i])
            if len(args) != _AGG_ARITY[fn_name] or not all(args):
                return None
            if agg is not None:
                return None  # two agg calls in one list: fall back
            agg = (idx, fn_name, args, am.group(1))
            continue
        if _ANY_TOPN_FN_RE.search(it):
            return None  # some other topn call mixed in: fall back
        tm = _re.match(
            r"^(.*?)\s+as\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)$",
            it,
            _re.I | _re.S,
        )
        if tm and _top_mask(it)[len(tm.group(1)) + 1]:
            keys.append((tm.group(2), tm.group(1).strip()))
        elif _IDENT_RE.match(it):
            keys.append((it, it))
        else:
            return None  # unaliased expression key
    if agg is None:
        return None
    group_text = bounds["group by"]
    if group_text is None:
        if keys:
            return None  # non-aggregated columns without GROUP BY
    else:
        gitems = [_norm_expr(g) for g in _split_top_commas(group_text)]
        covered = set()
        for g in gitems:
            hit = None
            for ki, (a, e) in enumerate(keys):
                if g in (
                    _norm_expr(a),
                    _norm_expr(e),
                    str(ki + 1 if agg[0] > ki else ki + 2),
                ):
                    hit = ki
                    break
            if hit is None:
                return None  # grouping by something not in the select list
            covered.add(hit)
        if covered != set(range(len(keys))):
            return None  # a select key is not grouped (invalid / unsafe)
    where_text = bounds["where"]
    fn, args, out_alias = agg[1], agg[2], agg[3]
    if fn == "topn_add_agg":
        rewritten = topn_add_agg_sql(
            from_text,
            keys,
            args[0],
            counters=counters,
            out_col=out_alias,
            salt_buckets=salt_buckets,
            spark=spark,
            where=where_text,
        )
    elif fn == "topn_weighted_agg":
        rewritten = topn_weighted_agg_sql(
            from_text,
            keys,
            args[0],
            args[1],
            counters=counters,
            out_col=out_alias,
            salt_buckets=salt_buckets,
            spark=spark,
            where=where_text,
        )
    else:
        rewritten = topn_union_agg_sql(
            from_text,
            keys,
            args[0],
            counters=counters,
            out_col=out_alias,
            salt_buckets=salt_buckets,
            spark=spark,
            where=where_text,
        )
    # The builders emit keys-then-sketch; restore the original column
    # order when the agg was not the last select item.
    col_order = [a for a, _ in keys]
    col_order.insert(agg[0], out_alias)
    if agg[0] != len(keys):
        rewritten = f"SELECT {', '.join(col_order)} FROM ({rewritten})"
    # HAVING on the GROUP KEYS only (a post-agg filter on key values)
    # == WHERE over the rewritten aggregate's output. Provable subset:
    # every identifier in the predicate must RESOLVE IDENTICALLY on
    # both lanes. Spark resolves HAVING identifiers against SOURCE
    # columns FIRST, aliases second — so an identifier is safe when it
    # is (a) a BARE key (alias == expr == the identifier: both lanes
    # see the same source column), or (b) a key alias provably NOT
    # shadowing a source column (FROM is a resolvable plain table/view
    # whose schema lacks the name — then Spark falls back to the alias,
    # i.e. the key expr, which IS the output column). An alias that
    # shadows a different source column (SELECT d2 AS d ... HAVING d)
    # would filter on the wrong values — decline. Aggregates
    # (count(*)) and function calls also decline to the UDAF lane.
    having_text = bounds["having"]
    if having_text is not None:
        if group_text is None:
            return None  # HAVING without GROUP BY: not the flagship
        bare_keys = {
            _norm_expr(a)
            for a, e in keys
            if _norm_expr(a) == _norm_expr(e)
        }
        alias_keys = {_norm_expr(a) for a, _ in keys} - bare_keys
        src_cols: "set[str] | None" = None
        if alias_keys and spark is not None:
            fm = _re.fullmatch(
                r"([A-Za-z_][A-Za-z0-9_.]*)"
                r"(\s+(as\s+)?[A-Za-z_][A-Za-z0-9_]*)?",
                from_text.strip(),
                _re.I,
            )
            if fm:
                try:
                    src_cols = {
                        c.lower() for c in spark.table(fm.group(1)).columns
                    }
                except Exception:
                    src_cols = None
        stripped = "".join(
            " " if quoted and having_text[a] == "'" else having_text[a:b]
            for a, b, quoted in _segments(having_text)
        )
        sql_words = {
            "and", "or", "not", "in", "between", "like", "rlike",
            "ilike", "is", "null", "true", "false", "escape", "exists",
        }
        for im in _re.finditer(r"[A-Za-z_][A-Za-z0-9_]*", stripped):
            w = im.group(0).lower()
            if w in sql_words:
                continue
            after = stripped[im.end() :].lstrip()
            if after.startswith("("):
                return None  # function call
            if w in bare_keys:
                continue
            if w in alias_keys and src_cols is not None and w not in src_cols:
                continue  # alias provably unshadowed
            return None
        rewritten = f"SELECT * FROM ({rewritten}) WHERE {having_text}"
    # ORDER BY / LIMIT re-attach on top of the rewrite when every sort
    # item provably names an output KEY column (alias or select-list
    # ordinal — ordinals stay valid because column order is preserved).
    # Sorting by the sketch or an arbitrary expression: fall back.
    order_text, limit_text = bounds["order by"], bounds["limit"]
    if order_text is not None:
        key_names = {_norm_expr(a) for a, _ in keys}
        key_ords = {
            str(i + 1) for i in range(len(col_order)) if col_order[i] != out_alias
        }
        for ob in _split_top_commas(order_text):
            obm = _re.match(
                r"^(.*?)(?:\s+(?:asc|desc))?(?:\s+nulls\s+(?:first|last))?$",
                ob.strip(),
                _re.I | _re.S,
            )
            ref = _norm_expr(obm.group(1)) if obm else ""
            if ref not in key_names and ref not in key_ords:
                return None
        rewritten = f"SELECT * FROM ({rewritten}) ORDER BY {order_text}"
    if limit_text is not None:
        if not _re.fullmatch(r"\d+", limit_text.strip()):
            return None
        if order_text is None:
            rewritten = f"SELECT * FROM ({rewritten})"
        rewritten = f"{rewritten} LIMIT {limit_text.strip()}"
    return rewritten


def _split_ctes(sql: str):
    """Parse an optional top-level WITH prefix. Returns
    (ctes: list[(name, body)], main: str) or None on shapes the scanner
    does not model (RECURSIVE, column lists)."""
    s = sql.strip().rstrip(";").strip()
    m = _re.match(r"^with\b", s, _re.I)
    if not m:
        return [], s
    if _re.match(r"^with\s+recursive\b", s, _re.I):
        return None
    i = m.end()
    ctes = []
    while True:
        mm = _re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s+as\s*\(", s[i:], _re.I)
        if not mm:
            return None
        name = mm.group(1)
        body_start = i + mm.end()  # position just after '('
        j = _close_paren(s, body_start - 1)
        if j < 0:
            return None
        ctes.append((name, s[body_start:j]))
        comma = _re.match(r"\s*,", s[j + 1 :])
        if comma is None:
            return ctes, s[j + 1 :].lstrip()
        i = j + 1 + comma.end()


def rewrite_topn_sql(
    sql: str,
    *,
    counters: int | None = None,
    spark: SparkSession | None = None,
    salt_buckets: int | None = None,
) -> str | None:
    """Rewrite every flagship ``topn_add_agg`` / ``topn_union_agg`` /
    ``topn_weighted_agg`` aggregate SELECT in *sql* (top level, inside
    WITH-CTE bodies, and under an ``INSERT INTO … SELECT`` — the
    reference's own rollup-maintenance statement, README.md:84-88) onto
    the two-phase pure-built-in plan. Returns the rewritten statement,
    or None when nothing could be rewritten."""
    # strip comments once, statement-wide: clause texts are interpolated
    # into ONE-LINE generated SQL, where a surviving -- comment would
    # swallow the rest of the statement
    s = _strip_sql_comments(sql).strip()
    ins = _re.match(
        r"^(insert\s+(?:into|overwrite)\s+(?:table\s+)?"
        r"[A-Za-z_][\w.]*\s*(?:\([^)]*\)\s*)?)",
        s,
        _re.I,
    )
    if ins:
        body = rewrite_topn_sql(
            s[ins.end() :],
            counters=counters,
            spark=spark,
            salt_buckets=salt_buckets,
        )
        return None if body is None else f"{ins.group(1)}{body}"
    parsed = _split_ctes(s)
    if parsed is None:
        return None
    ctes, main = parsed
    changed = False
    new_ctes = []
    for name, body in ctes:
        nb = _rewrite_select(
            body, counters=counters, spark=spark, salt_buckets=salt_buckets
        )
        if nb is not None:
            changed = True
            new_ctes.append((name, nb))
        else:
            new_ctes.append((name, body))
    nm = _rewrite_select(
        main, counters=counters, spark=spark, salt_buckets=salt_buckets
    )
    if nm is not None:
        changed = True
        main = nm
    if not changed:
        return None
    if new_ctes:
        cte_text = ",\n".join(f"{n} AS ({b})" for n, b in new_ctes)
        return f"WITH {cte_text}\n{main}"
    return main


def topn_sql(
    spark: SparkSession,
    sql: str,
    *,
    counters: int | None = None,
    salt_buckets: int | None = None,
):
    """Run a topn SQL statement with the scale-safe plan: the flagship
    ``SELECT keys, topn_add_agg(item) … GROUP BY keys`` (and the
    ``topn_union_agg`` merge form) is rewritten onto the two-phase
    pure-built-in composition — zero Python stages, map-side partial
    combine, the reference's parallel aggregate (topn.c:509-625) as
    Catalyst plans it. Everything else in the statement (LATERAL
    ``topn()`` extraction, scalar ``topn_add``/``topn_union``,
    unrecognized aggregate shapes) runs through the registered SQL
    functions unchanged. ``salt_buckets`` applies the lossless salted
    rank to every rewritten aggregate, union included.

    This is the recommended ``spark.sql`` entry point for aggregate
    queries; calling ``spark.sql`` directly on a UDAF aggregate still
    works but ships every raw row to one Python reducer per group."""
    rewritten = rewrite_topn_sql(
        sql, counters=counters, spark=spark, salt_buckets=salt_buckets
    )
    text = rewritten if rewritten is not None else sql
    # Scan the FINAL text, not just the rewrite's all-or-nothing result:
    # a partially-rewritten statement (one CTE rewritten, another
    # aggregate not provable) leaves the surviving aggregate on the
    # UDAF lane and owes the same scale caveat (ADVICE r4).
    if _re.search(r"\btopn_(add|union|weighted)_agg\s*\(", text, _re.I):
        _warnings.warn(
            "topn_sql could not rewrite this aggregate onto the two-phase "
            "plan; it will run as a GROUPED_AGG pandas UDAF (every raw row "
            "shuffles to one Python reducer per group). For hot groups use "
            "the flagship shape `SELECT keys, topn_add_agg(item) FROM t "
            "GROUP BY keys`, the Column API, or the documented salted "
            "rewrite.",
            stacklevel=2,
        )
    if _ANY_TOPN_FN_RE.search(text):
        register_sql_functions(spark, counters=counters)
    return spark.sql(text)
