"""Deterministic sampling / data-mixing operators.

Assembling a training mix means sampling each source/language/quality
stratum at its own rate — reproducibly. Spark's ``df.sample`` is
partition-order-dependent (same seed, different partitioning, different
rows), which breaks lineage audits at 100 TB where partitioning is
never stable. These operators decide per ROW from a portable hash of a
stable key: the decision depends only on (key, seed, rate), so resample
runs are identical across engines, cluster sizes, partitionings, and
retries — and the DuckDB oracle can replay them bit-for-bit.

The uniform is the repo's portable md5-long idiom (see
simhash_md5_table): first 15 hex chars of md5 as a 60-bit long,
divided by 2^60 — identical in Spark (`conv(substr(md5(x),1,15),16,10)`)
and ANSI SQL (`CAST('0x' || substr(md5(x),1,15) AS BIGINT)`).

Everything is a pure JVM expression evaluated in the scan stage: a
sample is a FILTER, so it pushes ahead of every downstream shuffle and
costs nothing beyond the md5.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.sketch import _col

_TWO_POW_60 = float(1 << 60)
_SALTS = 16


def hash_uniform(key: Column | str, seed: int = 0) -> Column:
    """Deterministic uniform double in [0, 1) from a stable key column:
    ``md5(seed ':' key)`` first-15-hex as a 60-bit long / 2^60.
    Independent samples from the same key space = different seeds."""
    s = F.concat(F.lit(f"{seed}:"), _col(key).cast("string"))
    return (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        / F.lit(_TWO_POW_60)
    )


def deterministic_sample(
    df: DataFrame, key: Column | str, fraction: float, *, seed: int = 0
) -> DataFrame:
    """Keep each row iff ``hash_uniform(key, seed) < fraction`` —
    reproducible Bernoulli(fraction) sampling keyed by row identity,
    not partition order."""
    return df.where(hash_uniform(key, seed) < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    strata: Column | str,
    fractions: Mapping[str, float],
    key: Column | str,
    *,
    seed: int = 0,
    default: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling rates (the data-mixing primitive): keep a
    row iff its key-uniform falls under its stratum's rate. Strata
    missing from *fractions* get *default* (0.0 = drop)."""
    rate: Column = F.lit(float(default))
    for value, frac in fractions.items():
        rate = F.when(_col(strata) == value, F.lit(float(frac))).otherwise(rate)
    return df.where(hash_uniform(key, seed) < rate)


def temperature_mix(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    *,
    temperature: float = 2.0,
    target_rows: int = 100_000,
    seed: int = 0,
    rate_round: int = 9,
) -> DataFrame:
    """Temperature-flattened source mixing (the multilingual-corpus
    rebalancing rule): sample stratum s with probability proportional
    to ``n_s^(1/T)``, so T=1 preserves natural proportions and larger T
    flattens toward uniform — small sources get upsampled relative to
    their share, dominant sources get capped. Expected output size is
    ``target_rows`` (exactly: sum over strata of
    ``n_s * min(1, target * n_s^(a-1) / Z)``; the min-cap binds when a
    small stratum's ideal allocation exceeds its size — sampling is
    without replacement, so a stratum can contribute at most itself).

    Fully deterministic and engine-replayable: per-row decisions use
    the portable md5 key-uniform, and the normalizer
    ``Z = sum_s n_s^a`` is computed as a SEQUENTIAL fold over the
    strata sorted by name (collect_list -> array_sort -> aggregate), so
    its floating-point addition order — and therefore every rate, after
    rounding to ``rate_round`` decimals — is identical in any ANSI
    engine with an ordered list_reduce. Strata counts are one tiny
    aggregate; rates broadcast-join back; the sample itself is a
    scan-stage filter."""
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    alpha = 1.0 / float(temperature)

    # NULL strata are excluded OUTRIGHT (they can never join a rate row,
    # so letting them into the counts would silently deflate every other
    # stratum's share of the target via an inflated normalizer)
    df = df.where(_col(strata).isNotNull())
    counts = df.groupBy(_col(strata).alias("__s")).agg(
        F.count("*").alias("__n")
    )
    z = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__s", "__n"))),
            F.lit(0.0),
            lambda acc, e: acc + F.pow(e["__n"].cast("double"), F.lit(alpha)),
        ).alias("__z")
    )
    rates = (
        counts.crossJoin(F.broadcast(z))
        .select(
            "__s",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(target_rows))
                    * F.pow(F.col("__n").cast("double"), F.lit(alpha))
                    / F.col("__z")
                    / F.col("__n").cast("double"),
                ),
                rate_round,
            ).alias("__rate"),
        )
    )
    out = df.join(
        F.broadcast(rates), _col(strata) == F.col("__s"), "left"
    ).where(hash_uniform(key, seed) < F.coalesce(F.col("__rate"), F.lit(0.0)))
    return out.drop("__s", "__rate")


def token_budget_mix(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    size: Column | str,
    *,
    budget: "float | DataFrame",
    weights: Mapping[str, float],
    seed: int = 0,
    rate_round: int = 9,
    rate_col: str | None = None,
) -> DataFrame:
    """Mix-to-budget sampling — the "assemble N tokens at these domain
    proportions" step every pretraining recipe ends with (the Pile /
    Dolma publish exactly this table: per-source token counts, target
    weights, resulting sampling rates). Given a per-row ``size``
    (token count), a global ``budget`` (total tokens wanted) and
    per-stratum target ``weights``, each stratum s is down-sampled at

        rate_s = min(1, budget * w_s / T_s)

    where ``T_s = sum(size)`` over the stratum — so the EXPECTED kept
    token mass is ``budget * w_s`` per stratum (exactly proportional
    sampling: a row's keep probability is independent of its size, so
    the expectation needs no size-biased correction). The min-cap binds
    when a stratum is smaller than its allocation: sampling is without
    replacement, a source can contribute at most itself (the same
    under-budget honesty as `temperature_mix`'s cap — upsampling /
    epoch repetition is a separate, explicit decision).

    Deterministic and engine-replayable end-to-end: T_s is an integer
    hash-agg, each rate is ONE double multiply/divide rounded to
    ``rate_round`` decimals, and the keep decision is the portable md5
    key-uniform — so the sampled output (not just the rates) is
    reproducible across engines, partitionings and retries, and a
    DuckDB oracle hash-matches it.

    Strata rules follow `stratified_sample` / `temperature_mix`:
    strata absent from ``weights`` (or weighted 0) get rate 0 (drop —
    the recipe IS the allowlist), NULL strata are dropped, and a
    POSITIVE-weight stratum whose T_s is 0 (every row sized 0/NULL)
    keeps rate 1: its rows cost no budget, and an explicit CASE keeps
    the 0/0 out of float land where engines disagree on NaN ordering.

    ``rate_col`` (optional) appends each kept row's rate — the audit
    column the published mixing tables carry.

    ``budget`` may also be a LAZY scalar: a one-column DataFrame whose
    single row is the budget (typically ``df.agg(0.6 * sum(size))``) —
    r14, guide §2.4: the driver-side ``collect()`` every caller
    otherwise needs to turn "60% of the corpus" into a float is a job
    barrier at plan-construction time; the lazy form cross-joins the
    1-row aggregate into the rate table instead, so the whole mix runs
    as ONE job. Values are bit-identical: ``float(long)`` in Python
    and ``cast(long as double)`` round the same way, and the rate
    arithmetic is unchanged. The frame must produce exactly one row
    (a global aggregate does, by construction) holding a non-negative,
    non-NULL value; the eager-float validation cannot see a lazy value,
    so the plan asserts it and the job fails with that message instead
    of silently emptying (no row) or duplicating (several rows) the
    sample.

    100 TB shape: one |strata|-row hash-agg with map-side combine, the
    rates broadcast back, and the sample itself is a scan-stage filter
    ahead of every downstream shuffle."""
    if isinstance(budget, DataFrame):
        if len(budget.columns) != 1:
            raise ValueError(
                "a lazy budget frame must have exactly one column, got "
                f"{budget.columns}"
            )
        b = _col(budget.columns[0]).cast("double")
        one = budget.agg(F.count(F.lit(1)).alias("__n"), F.max(b).alias("__b"))
        ok = (F.col("__n") == 1) & (F.col("__b") >= 0)  # NULL fails too
        msg = "a lazy budget frame must produce exactly one row holding a non-negative, non-NULL budget"
        budget_src = one.select(F.coalesce(F.assert_true(ok, msg), "__b").alias("__budget"))
        budget_expr: Column = F.col("__budget")
    else:
        if budget < 0:
            raise ValueError(f"budget must be >= 0, got {budget}")
        budget_src = None
        budget_expr = F.lit(float(budget))
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be >= 0, got {dict(weights)}")
    if rate_col is not None and rate_col in df.columns:
        raise ValueError(
            f"rate_col {rate_col!r} already exists on the input — "
            "withColumn would silently overwrite it"
        )
    sc, kc = _col(strata), _col(key)
    szc = _col(size)
    df = df.where(sc.isNotNull())
    totals = df.groupBy(sc.alias("__s")).agg(
        F.sum(F.coalesce(szc, F.lit(0)).cast("long")).alias("__t")
    )
    if budget_src is not None:
        totals = totals.crossJoin(F.broadcast(budget_src))
    w_expr: Column = F.lit(0.0)
    for value, wt in weights.items():
        w_expr = F.when(F.col("__s") == value, F.lit(float(wt))).otherwise(
            w_expr
        )
    rates = totals.select(
        "__s",
        F.when(F.col("__t") <= 0, F.when(w_expr > 0, F.lit(1.0)).otherwise(F.lit(0.0)))
        .otherwise(
            F.round(
                F.least(
                    F.lit(1.0),
                    budget_expr * w_expr / F.col("__t").cast("double"),
                ),
                rate_round,
            )
        )
        .alias("__rate"),
    )
    out = df.join(F.broadcast(rates), sc == F.col("__s"), "left").where(
        hash_uniform(kc, seed) < F.coalesce(F.col("__rate"), F.lit(0.0))
    )
    if rate_col is not None:
        out = out.withColumn(rate_col, F.col("__rate"))
    return out.drop("__s", "__rate")


def token_budget_epochs(
    df: DataFrame,
    strata: Column | str,
    key: Column | str,
    size: Column | str,
    *,
    budget: float,
    weights: Mapping[str, float],
    seed: int = 0,
    rate_round: int = 9,
    epoch_col: str = "epoch",
) -> DataFrame:
    """`token_budget_mix` WITH upsampling — the form a recipe takes
    when a small high-value source is allocated MORE than its own mass
    ("2 epochs of Wikipedia": the published mixing tables list epoch
    counts > 1 for exactly this case). Where `token_budget_mix` clamps
    rate_s = budget*w_s/T_s at 1, this operator honors rates above 1
    by REPEATING rows: every row appears floor(rate_s) times (epochs
    0..floor-1) plus once more with probability frac(rate_s) decided
    by the portable md5 key-uniform — per-epoch seeds, so the
    fractional epoch is its own reproducible subset. Expected kept
    token mass is exactly ``budget * w_s`` per stratum with no cap.

    Output = the input rows with `epoch_col` appended (0-based; a
    row kept k times appears with epochs 0..k-1) — downstream packing
    treats (key, epoch) as the training-example identity. A rate
    below 1 degenerates to one Bernoulli(rate) draw, the same
    STRUCTURE as `token_budget_mix` — but the draw is keyed by the
    ``'{seed}e{epoch}:'``-prefixed uniform, so the two operators are
    independent samplers, not row-identical ones.

    Same stratum rules as `token_budget_mix` (NULL strata dropped,
    absent/zero weights = rate 0, zero-mass positive-weight strata
    keep one epoch). 100 TB shape: identical — one |strata|-row
    hash-agg, broadcast rates, and the repeat is a scan-stage
    posexplode of a rate-derived sequence (bounded by ceil(rate):
    epochs are a recipe constant, never data-driven blowup)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be >= 0, got {dict(weights)}")
    if epoch_col in df.columns:
        raise ValueError(
            f"epoch_col {epoch_col!r} already exists on the input"
        )
    sc, kc, szc = _col(strata), _col(key), _col(size)
    df = df.where(sc.isNotNull())
    totals = df.groupBy(sc.alias("__s")).agg(
        F.sum(F.coalesce(szc, F.lit(0)).cast("long")).alias("__t")
    )
    w_expr: Column = F.lit(0.0)
    for value, wt in weights.items():
        w_expr = F.when(F.col("__s") == value, F.lit(float(wt))).otherwise(
            w_expr
        )
    rates = totals.select(
        "__s",
        F.when(
            F.col("__t") <= 0,
            F.when(w_expr > 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        .otherwise(
            F.round(
                F.lit(float(budget)) * w_expr / F.col("__t").cast("double"),
                rate_round,
            )
        )
        .alias("__rate"),
    )
    joined = df.join(F.broadcast(rates), sc == F.col("__s"), "left")
    rate = F.coalesce(F.col("__rate"), F.lit(0.0))
    full = F.floor(rate).cast("int")
    frac = rate - full.cast("double")
    # epoch e < full always kept; epoch e == full kept iff its own
    # seeded uniform < frac — a per-epoch draw keyed by (seed, e, key)
    epochs = F.filter(
        F.sequence(F.lit(0), full),
        lambda e: (e < full)
        | (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{seed}e"),
                                e.cast("string"),
                                F.lit(":"),
                                kc.cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                / F.lit(_TWO_POW_60)
            )
            < frac
        ),
    )
    return (
        joined.select("*", F.explode(epochs).alias(epoch_col))
        .drop("__s", "__rate")
    )


def weighted_sample_k(
    df: DataFrame,
    group_cols: Sequence[Column | str],
    key: Column | str,
    weight: Column | str,
    k: int,
    *,
    seed: int = 0,
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic weighted k-sample per group — Efraimidis–Spirakis
    A-ES (IPL 2006): rank rows by ``u^(1/w)`` (computed as
    ``ln(u)/w`` for stability) with u the portable md5 key-uniform,
    keep the k largest. A row's selection probability is proportional
    to its weight at every prefix, so "sample 20 docs per language,
    longer/higher-quality docs proportionally more often" is one call —
    and the same rows come back on any cluster, partitioning, or ANSI
    engine (the DuckDB oracle replays scores exactly).

    Rows with weight <= 0 or NULL are excluded (they have probability
    zero in A-ES). Ties (astronomically unlikely with continuous
    scores) break on the key for full determinism.

    100 TB shape: the score is a scan-stage expression; the top-k is
    the lossless two-level salted rank (the topn_salted_skew /
    kmv_add_agg pattern) — no task sorts more than its (group, salt)
    slice at level 1 or SALTS*k rows per group at level 2, so one
    billion-row group costs a task no more than k*SALTS survivors."""
    if k < 1:
        raise ValueError(f"weighted_sample_k needs k >= 1, got {k}")
    gcols = [_col(c) if isinstance(c, str) else c for c in group_cols]
    kc, wc = _col(key), _col(weight)
    scored = (
        df.where(wc.isNotNull() & (wc > 0))
        .select(
            *gcols,
            kc.alias("__k"),
            (F.log(hash_uniform(kc, seed)) / wc.cast("double")).alias("__score"),
        )
    )
    names = [f.name for f in scored.schema.fields[:-2]]
    # salt derived from the key hash: deterministic, partition-invariant
    salted = scored.withColumn(
        "__salt", F.pmod(F.xxhash64("__k"), F.lit(_SALTS))
    )
    w1 = Window.partitionBy(*names, "__salt").orderBy(
        F.desc("__score"), F.asc("__k")
    )
    lvl1 = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = Window.partitionBy(*names).orderBy(F.desc("__score"), F.asc("__k"))
    key_out = key if isinstance(key, str) else "key"
    return (
        lvl1.withColumn(rank_col, F.row_number().over(w2))
        .where(F.col(rank_col) <= k)
        .drop("__score")
        .withColumnRenamed("__k", key_out)
    )


def train_split(
    df: DataFrame,
    key: Column | str,
    splits: Mapping[str, float] | None = None,
    *,
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    training pipeline needs before anything else. Each row's bucket is
    a pure function of (key, seed): the portable md5 key-uniform
    (hash_uniform) against the cumulative split boundaries, so the
    assignment is reproducible across runs, engines and partitionings,
    and ADDING OR REMOVING rows never reassigns the survivors — the
    property that keeps an eval set stable across corpus refreshes
    (random-split-by-position re-deals everything on every refresh).

    ``splits`` maps name -> weight (normalized; default 90/5/5
    train/val/test); insertion order defines the boundary order. Map-
    side only: no shuffle, no state — a projection on the scan stage.
    Prefer exact binary weights (0.75, 0.125, ...) when an external
    system must reproduce the boundaries digit-for-digit.

    A NULL key gets a NULL split (its hash is NULL, so it belongs to no
    boundary range) — previously the when-chain's otherwise() silently
    dumped every NULL-key row into the LAST bucket, contaminating the
    smallest (eval) set with the whole unidentifiable population
    (review pin). Filter or repair NULL keys upstream."""
    if splits is None:
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    splits = dict(splits)
    if not splits:
        raise ValueError("splits must contain at least one bucket")
    if any(w < 0 for w in splits.values()):
        raise ValueError(f"split weights must be >= 0, got {splits}")
    total = float(sum(splits.values()))
    if total <= 0:
        raise ValueError(f"split weights must sum > 0, got {splits}")
    u = hash_uniform(key, seed)
    names = list(splits)
    chain = None
    acc = 0.0
    for nm in names[:-1]:
        acc += splits[nm] / total
        cond = u < F.lit(acc)
        chain = F.when(cond, F.lit(nm)) if chain is None else chain.when(
            cond, F.lit(nm)
        )
    last = F.lit(names[-1])
    assigned = last if chain is None else chain.otherwise(last)
    return df.withColumn(
        out_col,
        F.when(u.isNull(), F.lit(None).cast("string")).otherwise(assigned),
    )
