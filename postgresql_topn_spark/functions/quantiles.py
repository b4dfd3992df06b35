"""Mergeable quantile rollups — the rollup algebra extended to
order statistics via Spark's native Apache DataSketches KLL sketches.

Same shape as functions/distinct.py (HLL) and the topn aggregates:
build one bounded-size sketch per fine bucket in a single
partial-combining pass, then answer coarser-grain quantile questions
by MERGING sketches instead of rescanning raw values — at 100 TB an
exact percentile per dashboard query is a full sort/shuffle of the
raw column; a KLL merge touches only (groups x sketch_size) bytes.

Merge here is Spark's scalar ``kll_sketch_merge_double(left, right)``,
so the coarse-grain rollup is a sequential fold over the group's
collected sub-sketches (collect_list -> array fold) — bounded by the
bucket count per group, the same bounded-merge contract as the
window-frame topn union. Accuracy: KLL normalized rank error ~1.65%
at the default k=200 (single-sided, 99% confidence); raise k for
tighter ranks. Estimates are approximate and the sketch's compaction
uses internal randomness, so suite-level correctness pins the exact
value count plus a rank-error ENVELOPE against exact quantiles
(the same honest contract as the HLL suite query), not raw estimates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from postgresql_topn_spark.functions.sketch import _col


def _call(name: str, *cols):
    return F.call_function(name, *cols)


def kll_add_agg(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    value: Column | str,
    *,
    k: int = 200,
    out_col: str = "kll",
) -> DataFrame:
    """Per-group KLL doubles sketch of `value` (binary column). One key
    shuffle with map-side partial combine."""
    gcols = [_col(c) if isinstance(c, str) else c for c in group_cols]
    return df.groupBy(*gcols).agg(
        _call(
            "kll_sketch_agg_double", _col(value).cast("double"), F.lit(int(k))
        ).alias(out_col)
    )


def kll_merge(a: Column | str, b: Column | str) -> Column:
    """Scalar two-sketch merge (the `+` of the quantile algebra).
    NULL-tolerant like every sibling scalar merge (kmv/cms/bloom/hll):
    a NULL side acts as the empty sketch (review pin — the native
    merge propagates NULL)."""
    ca, cb = _col(a), _col(b)
    return (
        F.when(ca.isNull(), cb)
        .when(cb.isNull(), ca)
        .otherwise(_call("kll_sketch_merge_double", ca, cb))
    )


def kll_union_rollup(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    sketch_col: str = "kll",
    *,
    out_col: str | None = None,
) -> DataFrame:
    """Merge pre-built sketches to a coarser grain: collect the group's
    sub-sketches (bounded: one per fine bucket) and fold them with the
    scalar merge. Raw values never move."""
    gcols = [_col(c) if isinstance(c, str) else c for c in group_cols]
    out = out_col or sketch_col
    lst = F.collect_list(_col(sketch_col))
    # try_element_at: all-NULL groups collect empty -> NULL merge, no
    # crash. The fold reuses kll_merge so THE merge expression (incl.
    # its NULL tolerance) lives in exactly one place, like the
    # kmv/cms _merge_collected pattern.
    folded = F.aggregate(
        F.slice(lst, 2, F.greatest(F.size(lst) - 1, F.lit(0))),
        F.try_element_at(lst, F.lit(1)),
        lambda acc, x: kll_merge(acc, x),
    )
    return df.groupBy(*gcols).agg(folded.alias(out))


def kll_quantile(sketch: Column | str, q: float) -> Column:
    """Estimated value at normalized rank q in [0, 1]."""
    return _call(
        "kll_sketch_get_quantile_double", _col(sketch), F.lit(float(q))
    )


def kll_n(sketch: Column | str) -> Column:
    """Exact number of values the sketch has absorbed (KLL tracks n
    losslessly — the count column every envelope check anchors on)."""
    return _call("kll_sketch_get_n_double", _col(sketch))
