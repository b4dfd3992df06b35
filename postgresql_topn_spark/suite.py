"""The declared query suite: every implemented operator from SURVEY.md §2
as a (spark, sf_dir) -> DataFrame callable plus its ANSI-SQL DuckDB oracle.

Correctness contract (BASELINE.md): each Spark query and its oracle must
agree on row count, schema and order-insensitive value hash at sf0.01.
We run Tier-1 (exact) with a large counter budget so the oracle can be
plain COUNT/ROW_NUMBER SQL — the regime where the reference itself is
exact (SURVEY.md §5). Column names are aliased identically on both sides.
Ties are broken (frequency DESC, item ASC) on both sides — our pinned
deterministic deviation from the reference's unstable qsort.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.aggregates import (
    topn_add_agg,
    topn_union_agg,
    topn_union_agg_global,
    topn_union_over_window,
)
from postgresql_topn_spark.functions.sketch import (
    explode_topn,
    sketch_from_json,
    sketch_to_json,
    topn_add,
    topn_union,
)
from postgresql_topn_spark.sources.tables import load_table

# Large budget => no eviction => exact results, hash-matchable vs DuckDB.
C = 1_000_000

# Scratch-dir discipline for the sink/roundtrip gates: each run used a
# bare mkdtemp and never removed it, so every suite sweep leaked its
# written artifacts (the CSV gate alone writes ~4.5 GB at sf0.1 —
# accumulated sweeps filled the disk mid-round and failed an unrelated
# gate's DuckDB spill with ENOSPC). _scratch_dir registers removal at
# process exit; _purge_stale_scratch reaps dirs older than 2 h left by
# hard-killed processes WITHOUT racing concurrent live runs.
_SCRATCH_PREFIXES = (
    "topn_stream_rollup_",
    "topn_jsonl_",
    "topn_orc_",
    "topn_csv_reviews_",
    "topn_stream_kmv_",
    "topn_stream_sess_",
    "topn_models_",
)


def _purge_stale_scratch(max_age_s: float = 7200.0) -> None:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import time as _time

    now = _time.time()
    for prefix in _SCRATCH_PREFIXES:
        for d in _glob.glob(
            _os.path.join(_tempfile.gettempdir(), prefix + "*")
        ):
            try:
                if now - _os.path.getmtime(d) > max_age_s:
                    _shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass


def _scratch_dir(prefix: str) -> str:
    import atexit as _atexit
    import shutil as _shutil
    import tempfile as _tempfile

    d = _tempfile.mkdtemp(prefix=prefix)
    _atexit.register(_shutil.rmtree, d, ignore_errors=True)
    return d


_purge_stale_scratch()

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Core topn surface (reference parity; SURVEY.md §2.1)
# ---------------------------------------------------------------------------


def _error_contract_rows() -> "list[tuple[str, int]]":
    """The reference's ERROR surface as value rows (VERDICT r12 item
    3): each probe invokes the operation the reference rejects, and
    emits (tag, 1) only when the expected error — right type, right
    message — actually fired, so the DuckDB oracle's literal (tag, 1)
    rows hash-check the error behavior like any value. Probes:

    - err_n_gt_counters: ``topn(jsonb, n)`` with n > the configured
      counter budget errors even on a NULL sketch (topn.c:229-233,
      expected/add_agg.out:47-53) — and as a positive control, n ==
      counters must NOT error (ok_n_eq_counters).
    - err_guc_zero / err_guc_negative / err_guc_over_max: the GUC's
      range validation, 1 .. JSONB_MAX_PAIRS (topn.c:159-179; the
      range error of expected/add_agg.out:47-53).

    All probes raise at plan-construction time (driver-side Python),
    so the lane costs no Spark job."""
    from postgresql_topn_spark.conf import MAX_COUNTERS, resolve_counters
    from postgresql_topn_spark.functions.sketch import topn_entries

    rows: list[tuple[str, int]] = []
    null_sketch = F.lit(None).cast("map<string,bigint>")
    try:
        topn_entries(null_sketch, C + 1, counters=C)
        rows.append(("err_n_gt_counters", 0))
    except ValueError as e:
        ok = "greater than the configured number of counters" in str(e)
        rows.append(("err_n_gt_counters", 1 if ok else 0))
    try:
        topn_entries(null_sketch, C, counters=C)
        rows.append(("ok_n_eq_counters", 1))
    except ValueError:
        rows.append(("ok_n_eq_counters", 0))
    for tag, bad in (
        ("err_guc_zero", 0),
        ("err_guc_negative", -5),
        ("err_guc_over_max", MAX_COUNTERS + 1),
    ):
        try:
            resolve_counters(bad)
            rows.append((tag, 0))
        except ValueError as e:
            rows.append((tag, 1 if "outside the valid range" in str(e) else 0))
    return rows


_ERROR_CONTRACT_ORACLE = """
    SELECT CAST(-1 AS INT) AS yr, CAST(-1 AS INT) AS mon,
           t.item, CAST(1 AS BIGINT) AS frequency
    FROM (VALUES ('err_n_gt_counters'), ('ok_n_eq_counters'),
                 ('err_guc_zero'), ('err_guc_negative'),
                 ('err_guc_over_max')) AS t(item)
"""


@_register(
    "topn_monthly_event_types",
    f"""
    SELECT yr, mon, item, frequency FROM (
      SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mon,
             event_type AS item, COUNT(event_type) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(ts), month(ts)
                                ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), month(ts), event_type
    ) t WHERE rn <= 3
    UNION ALL
    {_ERROR_CONTRACT_ORACLE}
    """,
)
def topn_monthly_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_add_agg + topn() extraction per month — the README.md:84-96
    rollup/extract pattern on the events stream table — plus the
    error-contract verdict lane (r13): the reference's n-vs-counters
    and GUC range errors emitted as sentinel (-1, -1, tag, flag) rows
    the oracle replays as literals, putting the ERROR surface behind
    the value-hash driver (VERDICT r12 item 3)."""
    ev = load_table(spark, sf_dir, "events")
    sk = topn_add_agg(
        ev,
        [F.year("ts").alias("yr"), F.month("ts").alias("mon")],
        "event_type",
        counters=C,
    )
    main = explode_topn(sk, "topn", 3, keep=["yr", "mon"], counters=C)
    verdicts = spark.createDataFrame(
        [(-1, -1, tag, flag) for tag, flag in _error_contract_rows()],
        "yr int, mon int, item string, frequency bigint",
    )
    return main.unionByName(verdicts)


@_register(
    "topn_overall_products",
    """
    SELECT item, frequency FROM (
      SELECT CAST(l_partkey AS VARCHAR) AS item, COUNT(*) AS frequency,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, CAST(l_partkey AS VARCHAR) ASC) AS rn
      FROM lineitem GROUP BY CAST(l_partkey AS VARCHAR)
    ) t WHERE rn <= 10
    """,
)
def topn_overall_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline (sql/customer_reviews_query.sql:12-40): build
    per-month sketches, union-merge them all, extract the global top-10.
    Exercises topn_add_agg -> topn_union_agg -> topn."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = topn_add_agg(
        li,
        [F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mon")],
        "l_partkey",
        counters=C,
    )
    overall = topn_union_agg_global(monthly, "topn", counters=C)
    return explode_topn(overall, "topn", 10, counters=C)


# VALUES-literal corpus for the unicode/JSON-fidelity lanes (VERDICT
# r11 item 3; the reference dedicates sql/char_tests.sql:18-199 to
# this): Cyrillic, CJK, quotes, backslashes, \b\f\t control chars —
# seeded IDENTICALLY in Spark (createDataFrame) and DuckDB (generated
# VALUES), because the parquet fixtures are ASCII word soup. Keys are
# chosen so BYTE-length order differs from CHAR-length order ('東' is
# 1 char / 3 bytes vs 'ab' 2/2) — the discriminator that pins
# sketch_to_json's PG-jsonb key order (octet_length, then bytewise)
# against a char-length impostor. Frequencies are distinct per group
# so every value is individually load-bearing in the hash.
_UNI_ROWS: "list[tuple[str, str, int]]" = [
    ("г1", "ж", 7),
    ("г1", "é", 6),
    ("г1", "東京", 5),
    ("г1", "ab", 4),
    ("г1", 'say "hi"', 3),
    ("г1", "back\\slash", 9),
    ("г1", "tab\there", 2),
    ("г1", "bell\bboop", 8),
    ("г1", "feed\fform", 1),
    ("日本", "привет", 4),
    ("日本", "日本語テキスト", 11),
    ("日本", "naïve", 2),
    ("日本", "a", 1),
    # astral plane: 4-byte UTF-8 (surrogate-pair territory in UTF-16
    # engines) — 2 chars / 5 bytes, so char-length order would slot it
    # before the 2-byte-per-char Cyrillic strings; byte order must not
    ("日本", "🎉x", 3),
]


def _sql_str(s: str) -> str:
    """Render a Python string as a DuckDB expression, control chars via
    chr() so the oracle SQL text stays printable."""
    parts: "list[str]" = []
    buf: "list[str]" = []

    def flush():
        if buf:
            parts.append("'" + "".join(buf).replace("'", "''") + "'")
            buf.clear()

    for ch in s:
        if ord(ch) < 32:
            flush()
            parts.append(f"chr({ord(ch)})")
        else:
            buf.append(ch)
    flush()
    return " || ".join(parts) if parts else "''"


_UNI_VALUES = ",\n      ".join(
    f"({_sql_str(g)}, {_sql_str(it)}, {n})" for g, it, n in _UNI_ROWS
)


@_register(
    "topn_scalar_ops",
    f"""
    WITH base AS (
      SELECT l_returnflag, l_linestatus AS item, COUNT(l_linestatus) AS frequency
      FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1, 2
    ),
    u AS (
      SELECT l_returnflag, l_linestatus AS item FROM lineitem
      WHERE l_linestatus IS NOT NULL
      UNION ALL
      SELECT l_returnflag, CAST(year(l_shipdate) AS VARCHAR) AS item FROM lineitem
      WHERE l_shipdate IS NOT NULL
    )
    SELECT 'add' AS lane, l_returnflag, item, frequency FROM base
    UNION ALL
    SELECT 'add' AS lane, l_returnflag, 'NEWITEM' AS item,
           CAST(1 AS BIGINT) AS frequency
    FROM (SELECT DISTINCT l_returnflag FROM lineitem)
    UNION ALL
    SELECT 'union' AS lane, l_returnflag, item, COUNT(*) AS frequency
    FROM u GROUP BY 2, 3
    UNION ALL
    SELECT 'prune_insert' AS lane, l_returnflag, item, frequency FROM (
      SELECT l_returnflag, item, c AS frequency,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, item ASC) AS rn
      FROM (
        SELECT l_returnflag, CAST(l_linenumber AS VARCHAR) AS item,
               COUNT(l_linenumber) AS c
        FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 1, 2
        UNION ALL
        SELECT DISTINCT l_returnflag, '0NEW', CAST(1 AS BIGINT)
        FROM lineitem
      ) pu
    ) pt WHERE rn <= 4
    UNION ALL
    SELECT 'prune_update' AS lane, l_returnflag, item,
           CAST(c + (CASE WHEN item = '1' THEN 1 ELSE 0 END) AS BIGINT)
           AS frequency
    FROM (
      SELECT l_returnflag, CAST(l_linenumber AS VARCHAR) AS item,
             COUNT(l_linenumber) AS c
      FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 1, 2
    ) ln2
    UNION ALL
    SELECT 'unicode' AS lane, grp AS l_returnflag, item,
           CAST(n AS BIGINT) AS frequency
    FROM (VALUES {_UNI_VALUES}) AS uni(grp, item, n)
    UNION ALL
    SELECT 'unicode_order' AS lane, grp AS l_returnflag, item,
           CAST(ROW_NUMBER() OVER (PARTITION BY grp
                                   ORDER BY strlen(item), item)
                AS BIGINT) AS frequency
    FROM (VALUES {_UNI_VALUES}) AS uni(grp, item, n)
    UNION ALL
    SELECT 'truncate255' AS lane, 'т' AS l_returnflag,
           repeat('я', 127) || 'A' AS item, CAST(11 AS BIGINT) AS frequency
    UNION ALL
    SELECT 'truncate255' AS lane, 'т' AS l_returnflag,
           repeat('я', 127) AS item, CAST(4 AS BIGINT) AS frequency
    UNION ALL
    SELECT 'saturate' AS lane, grp AS l_returnflag, item,
           CAST(LEAST(SUM(CAST(w AS HUGEINT)),
                      CAST(9223372036854775807 AS HUGEINT)) AS BIGINT)
           AS frequency
    FROM (VALUES ('с', 'big', 9223372036854775807),
                 ('с', 'big', 9223372036854775807),
                 ('с', 'small', 7)) AS sat(grp, item, w)
    GROUP BY 2, 3
    """,
)
def topn_scalar_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH scalar sketch operators in one gate (round-10 lane merge —
    absorbed the retired `topn_add_scalar` / `topn_union_scalar` gates
    verbatim; each lane keeps its own oracle branch):

    - lane 'add': scalar topn_add (topn.c:290-356) — point-insert a
      new item into aggregate-built sketches, then extract all entries.
    - lane 'union': scalar topn_union / the `+` operator
      (topn.c:363-385) — merge two sketches with disjoint key domains,
      saturating sums.

    Round-12 lanes (VERDICT r11 items 3 + 4):

    - lane 'prune_insert': the SCALAR-path prune regime (topn.c:350 —
      limit = keep = counters, the asymmetric row of SURVEY §1.2's
      policy table). A 7-entry exact sketch (l_linenumber counts per
      group) takes a scalar topn_add of a NEW item under counters=4:
      the insert fires the prune and exactly the top-4 by (frequency
      DESC, item ASC) survive — fully deterministic, so the oracle
      VALUE-replays the whole post-prune sketch, not a verdict.
    - lane 'prune_update': the same 7-entry sketch and the same
      counters=4 budget, but the added item already EXISTS ('1'):
      the prune must NOT fire (insert-only, topn.c:350 runs in the
      new-item branch alone) — all 7 entries survive with '1'
      incremented. An eager impostor that prunes on every add fails
      this lane with 3 missing rows per group.
    - lanes 'unicode' / 'unicode_order' (sql/char_tests.sql:18-199):
      the VALUES-literal corpus (_UNI_ROWS — Cyrillic/CJK/quotes/
      backslashes/control chars, identical rows seeded in both
      engines) runs topn_add_agg -> sketch_to_json ->
      sketch_from_json -> posexplode: 'unicode' value-pins key AND
      frequency fidelity through the full JSON round trip;
      'unicode_order' pins the exporter's PG-jsonb key order
      (octet_length first, then bytewise — functions/sketch.py) as
      1-based positions the oracle recomputes with
      ROW_NUMBER(ORDER BY strlen(item), item).
    - lane 'truncate255': the reference's 255-BYTE key cap at intake
      (topn.c:338): two 256-byte keys that differ only in their last
      byte MERGE into one truncated item with the summed count, and a
      key whose 255-byte boundary falls MID-CHARACTER ('я' x 128) cuts
      back to the last whole character (254 bytes) — the oracle
      rebuilds both truncated keys with repeat(). Previously
      pytest-only (test_sketch_functions 255-byte probes).
    - lane 'saturate': int64 saturation at egress — two INT64_MAX
      weights on one item through topn_weighted_agg must report
      exactly INT64_MAX (sum exact in wide decimal, clamp ONCE), the
      oracle summing in HUGEINT and applying the same LEAST. A
      per-add clamping impostor also lands INT64_MAX here, but the
      weighted NULL/rounding matrix in pytest kills that one; this
      lane pins the egress value itself behind the driver.

    The driver value-checks every lane every time this gate runs."""
    from postgresql_topn_spark.operators.checkpointing import stage_cut

    li = load_table(spark, sf_dir, "lineitem")
    # the linestatus sketch feeds the add lane AND the union lane's
    # 'ta' side, and the linenumber sketch feeds both prune lanes —
    # Spark does not dedupe identical subtrees across union branches,
    # so without cuts each of these <= |groups|-row aggregates would
    # re-run its full lineitem scan per consuming lane (the r12 bench
    # flagged exactly that: 10 lanes re-deriving shared aggs)
    sk = stage_cut(topn_add_agg(li, ["l_returnflag"], "l_linestatus", counters=C))
    added = sk.select(
        "l_returnflag", topn_add("topn", F.lit("NEWITEM"), counters=C).alias("topn")
    )
    add_lane = explode_topn(
        added, "topn", 100, keep=["l_returnflag"], counters=C
    ).select(F.lit("add").alias("lane"), "l_returnflag", "item", "frequency")

    a = sk.withColumnRenamed("topn", "ta")
    b = topn_add_agg(
        li, ["l_returnflag"], F.year("l_shipdate"), counters=C, out_col="tb"
    )
    j = a.join(b, "l_returnflag").select(
        "l_returnflag", topn_union("ta", "tb", counters=C).alias("t")
    )
    union_lane = explode_topn(
        j, "t", 100, keep=["l_returnflag"], counters=C
    ).select(F.lit("union").alias("lane"), "l_returnflag", "item", "frequency")

    # ---- scalar-path prune regime (topn.c:350) ----
    ln_sk = stage_cut(
        topn_add_agg(li, ["l_returnflag"], "l_linenumber", counters=C)
    )
    ins = ln_sk.select(
        "l_returnflag", topn_add("topn", F.lit("0NEW"), counters=4).alias("t")
    )
    pi_lane = explode_topn(
        ins, "t", 4, keep=["l_returnflag"], counters=4
    ).select(
        F.lit("prune_insert").alias("lane"), "l_returnflag", "item", "frequency"
    )
    upd = ln_sk.select(
        "l_returnflag", topn_add("topn", F.lit("1"), counters=4).alias("t")
    )
    # the no-prune result keeps all 7 entries (> the counters=4
    # budget), so extract with the wide-counters config
    pu_lane = explode_topn(
        upd, "t", 100, keep=["l_returnflag"], counters=C
    ).select(
        F.lit("prune_update").alias("lane"), "l_returnflag", "item", "frequency"
    )

    # ---- unicode/JSON-fidelity lanes (sql/char_tests.sql) ----
    uni = spark.createDataFrame(
        [(g, it) for g, it, n in _UNI_ROWS for _ in range(n)],
        "grp string, item string",
    )
    usk = topn_add_agg(uni, ["grp"], "item", counters=C)
    uni_exp = usk.select(
        "grp",
        F.posexplode(
            sketch_from_json(sketch_to_json("topn"))
        ).alias("pos", "item", "frequency"),
    )
    u_lane = uni_exp.select(
        F.lit("unicode").alias("lane"),
        F.col("grp").alias("l_returnflag"),
        "item",
        F.col("frequency").cast("long").alias("frequency"),
    )
    o_lane = uni_exp.select(
        F.lit("unicode_order").alias("lane"),
        F.col("grp").alias("l_returnflag"),
        "item",
        (F.col("pos") + 1).cast("long").alias("frequency"),
    )

    # ---- 255-byte truncation at intake (topn.c:338) ----
    trunc_rows = (
        [("т", "я" * 127 + "AB")] * 5  # 256 bytes; cut to ...я'A'
        + [("т", "я" * 127 + "AC")] * 6  # merges with the row above
        + [("т", "я" * 128)] * 4  # boundary mid-'я': cut to 127 chars
    )
    tr = spark.createDataFrame(trunc_rows, "grp string, item string")
    tsk = topn_add_agg(tr, ["grp"], "item", counters=C)
    t_lane = explode_topn(tsk, "topn", 100, keep=["grp"], counters=C).select(
        F.lit("truncate255").alias("lane"),
        F.col("grp").alias("l_returnflag"),
        "item",
        "frequency",
    )

    # ---- int64 saturation at egress (topn.c:997-1009) ----
    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

    imax = (1 << 63) - 1
    sat = spark.createDataFrame(
        [("с", "big", imax), ("с", "big", imax), ("с", "small", 7)],
        "grp string, item string, w long",
    )
    ssk = topn_weighted_agg(sat, ["grp"], "item", "w", counters=C)
    s_lane = explode_topn(ssk, "topn", 100, keep=["grp"], counters=C).select(
        F.lit("saturate").alias("lane"),
        F.col("grp").alias("l_returnflag"),
        "item",
        "frequency",
    )

    return (
        add_lane.unionByName(union_lane)
        .unionByName(pi_lane)
        .unionByName(pu_lane)
        .unionByName(u_lane)
        .unionByName(o_lane)
        .unionByName(t_lane)
        .unionByName(s_lane)
    )


@_register(
    "topn_union_agg_monthly",
    """
    SELECT yr, mon, item, frequency FROM (
      SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mon,
             event_type AS item, COUNT(event_type) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(ts), month(ts)
                                ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), month(ts), event_type
    ) t WHERE rn <= 5
    """,
)
def topn_union_agg_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_union_agg (topn.c:457-503): per-day sketches re-merged into
    per-month sketches — the incremental-rollup pattern README.md:100-116."""
    ev = load_table(spark, sf_dir, "events")
    daily = topn_add_agg(
        ev,
        [
            F.year("ts").alias("yr"),
            F.month("ts").alias("mon"),
            F.dayofmonth("ts").alias("dom"),
        ],
        "event_type",
        counters=C,
    )
    monthly = topn_union_agg(daily, ["yr", "mon"], "topn", counters=C)
    return explode_topn(monthly, "topn", 5, keep=["yr", "mon"], counters=C)


@_register(
    "topn_window_7d",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type AS item,
             COUNT(event_type) AS c
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    days AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
      FROM (SELECT DISTINCT day FROM daily)
    ),
    win AS (
      SELECT d2.day, daily.item, SUM(daily.c) AS frequency
      FROM days d2
      JOIN days d1 ON d1.rk BETWEEN d2.rk - 6 AND d2.rk
      JOIN daily ON daily.day = d1.day
      GROUP BY 1, 2
    )
    SELECT day, item, CAST(frequency AS BIGINT) AS frequency FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                                   ORDER BY frequency DESC, item ASC) AS rn
      FROM win
    ) t WHERE rn <= 2
    """,
)
def topn_window_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-frame union (sql/customer_reviews_query.sql:59-68,
    ROWS 6 PRECEDING): 7-row trailing merge of daily sketches. The frame
    is over rollup rows (days present), matching the reference's ROWS
    frame semantics."""
    ev = load_table(spark, sf_dir, "events")
    daily = topn_add_agg(
        ev,
        [F.date_trunc("day", F.col("ts")).cast("date").alias("day")],
        "event_type",
        counters=C,
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    merged = daily.select(
        "day", topn_union_over_window("topn", w, counters=C).alias("t")
    )
    return explode_topn(merged, "t", 2, keep=["day"], counters=C)


@_register(
    "topn_sql_window",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type AS item,
             COUNT(event_type) AS c
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    days AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
      FROM (SELECT DISTINCT day FROM daily)
    ),
    win AS (
      SELECT d2.day, daily.item, SUM(daily.c) AS frequency
      FROM days d2
      JOIN days d1 ON d1.rk BETWEEN d2.rk - 6 AND d2.rk
      JOIN daily ON daily.day = d1.day
      GROUP BY 1, 2
    )
    SELECT day, item, CAST(frequency AS BIGINT) AS frequency FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                                   ORDER BY frequency DESC, item ASC) AS rn
      FROM win
    ) t WHERE rn <= 2
    """,
)
def topn_sql_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_window_7d run ENTIRELY through spark.sql(): the registered
    GROUPED_AGG UDAFs work as window functions too, so the reference's
    sliding-frame query (sql/customer_reviews_query.sql:59-68,
    ``topn_union_agg(sk) OVER (ORDER BY day ROWS 6 PRECEDING)``) runs
    verbatim — aggregate, frame-merge and lateral extraction all in
    SQL. The aggregate and the frame-merge are the GROUPED_AGG UDAFs
    (SQL cannot define an aggregate); the lateral ``topn()`` is a SQL
    table function, a Generate in the JVM."""
    from postgresql_topn_spark.functions.sql_api import register_sql_functions

    register_sql_functions(spark, counters=C)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__topn_sql_events"
    )
    return spark.sql(
        """
        WITH daily AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                 topn_add_agg(event_type) AS sk
          FROM __topn_sql_events GROUP BY 1
        ),
        win AS (
          SELECT day,
                 topn_union_agg(sk) OVER (
                   ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                 ) AS sk
          FROM daily
        )
        SELECT win.day, t.item, t.frequency
        FROM win, LATERAL topn(win.sk, 2) t
        """
    )


@_register(
    "topn_join",
    """
    WITH sup AS (
      SELECT l_returnflag, item AS supp_item, frequency AS supp_freq FROM (
        SELECT l_returnflag, CAST(l_suppkey AS VARCHAR) AS item, COUNT(*) AS frequency,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC, CAST(l_suppkey AS VARCHAR) ASC) AS rn
        FROM lineitem GROUP BY 1, 2
      ) t WHERE rn <= 3
    ),
    par AS (
      SELECT l_returnflag, item AS part_item, frequency AS part_freq FROM (
        SELECT l_returnflag, CAST(l_partkey AS VARCHAR) AS item, COUNT(*) AS frequency,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC, CAST(l_partkey AS VARCHAR) ASC) AS rn
        FROM lineitem GROUP BY 1, 2
      ) t WHERE rn <= 3
    )
    SELECT sup.l_returnflag, supp_item, supp_freq, part_item, part_freq
    FROM sup JOIN par ON sup.l_returnflag = par.l_returnflag
    """,
)
def topn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join of two topn-derived subqueries (sql/join_tests.sql:2-25)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = topn_add_agg(li, ["l_returnflag"], "l_suppkey", counters=C)
    par = topn_add_agg(li, ["l_returnflag"], "l_partkey", counters=C)
    es = (
        explode_topn(sup, "topn", 3, keep=["l_returnflag"], counters=C)
        .withColumnRenamed("item", "supp_item")
        .withColumnRenamed("frequency", "supp_freq")
    )
    ep = (
        explode_topn(par, "topn", 3, keep=["l_returnflag"], counters=C)
        .withColumnRenamed("item", "part_item")
        .withColumnRenamed("frequency", "part_freq")
    )
    return es.join(ep, "l_returnflag")


@_register(
    "topn_json_props",
    """
    SELECT event_type, item, frequency FROM (
      SELECT event_type, json_extract_string(props, '$.k') AS item,
             COUNT(json_extract_string(props, '$.k')) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY COUNT(json_extract_string(props, '$.k')) DESC,
                                         json_extract_string(props, '$.k') ASC) AS rn
      FROM events
      WHERE event_type IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY event_type, json_extract_string(props, '$.k')
    ) t WHERE rn <= 5
    """,
)
def topn_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn over a JSON field — the jsonb-composition surface
    (sql/union_agg.sql:42 uses jsonb_each; here we aggregate a JSON
    attribute into sketches)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    ev = ev.withColumn("k", F.get_json_object("props", "$.k"))
    sk = topn_add_agg(ev, ["event_type"], "k", counters=C)
    return explode_topn(sk, "topn", 5, keep=["event_type"], counters=C)


@_register(
    "topn_daterange_union",
    """
    SELECT item, frequency FROM (
      SELECT event_type AS item, COUNT(event_type) AS frequency,
             ROW_NUMBER() OVER (ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
      FROM events
      WHERE event_type IS NOT NULL
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      GROUP BY event_type
    ) t WHERE rn <= 5
    """,
)
def topn_daterange_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard pattern (README.md:100-116): pre-materialized daily
    rollup, filtered to a date interval, union-merged, extracted. The
    date filter lands on the rollup read, so at scale a partitioned
    rollup table prunes to 7 partitions regardless of history length."""
    ev = load_table(spark, sf_dir, "events")
    daily = topn_add_agg(
        ev,
        [F.to_date("ts").alias("day")],
        "event_type",
        counters=C,
    )
    week = daily.where(
        F.col("day").between(F.lit("2024-01-08"), F.lit("2024-01-14"))
    )
    merged = topn_union_agg_global(week, "topn", counters=C)
    return explode_topn(merged, "topn", 5, counters=C)


@_register(
    "topn_sketch_stats",
    """
    SELECT yr, mon, n_entries, total_count FROM (
      SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mon,
             CAST(COUNT(DISTINCT event_type) AS INT) AS n_entries,
             COUNT(event_type) AS total_count
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), month(ts)
    ) t
    """,
)
def topn_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jsonb_each-style sketch introspection (sql/union_agg.sql:42,57):
    entry counts and total frequency mass per sketch via size() and an
    explode-sum — the counter-cap observability check."""
    ev = load_table(spark, sf_dir, "events")
    sk = topn_add_agg(
        ev,
        [F.year("ts").alias("yr"), F.month("ts").alias("mon")],
        "event_type",
        counters=C,
    )
    return sk.select(
        "yr",
        "mon",
        F.size("topn").alias("n_entries"),
        F.aggregate(
            F.map_values("topn"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total_count"),
    )


@_register(
    "topn_cross_join_cte",
    """
    WITH cat AS (
      SELECT l_returnflag, item, frequency FROM (
        SELECT l_returnflag, l_linestatus AS item, COUNT(l_linestatus) AS frequency,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(l_linestatus) DESC, l_linestatus ASC) AS rn
        FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1, 2
      ) t WHERE rn <= 2
    ),
    overall AS (
      SELECT item AS g_item, frequency AS g_freq FROM (
        SELECT l_linestatus AS item, COUNT(l_linestatus) AS frequency,
               ROW_NUMBER() OVER (ORDER BY COUNT(l_linestatus) DESC, l_linestatus ASC) AS rn
        FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1
      ) t WHERE rn <= 2
    )
    SELECT l_returnflag, item, frequency, g_item, g_freq FROM cat CROSS JOIN overall
    """,
)
def topn_cross_join_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + cross join over two topn derivations
    (sql/join_tests.sql:27-50): per-category top-2 x global top-2."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = topn_add_agg(li, ["l_returnflag"], "l_linestatus", counters=C)
    cat = explode_topn(per_flag, "topn", 2, keep=["l_returnflag"], counters=C)
    overall = topn_union_agg_global(per_flag, "topn", counters=C)
    glob = (
        explode_topn(overall, "topn", 2, counters=C)
        .withColumnRenamed("item", "g_item")
        .withColumnRenamed("frequency", "g_freq")
    )
    return cat.crossJoin(glob)


@_register(
    "topn_tier2_modes",
    """
    SELECT 'counted' AS lane, yr, item, frequency FROM (
      SELECT CAST(year(ts) AS INT) AS yr, event_type AS item,
             COUNT(event_type) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(ts)
                                ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), event_type
    ) t WHERE rn <= 5
    UNION ALL
    SELECT 'weighted' AS lane, yr, item, frequency FROM (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, CAST(l_partkey AS VARCHAR) AS item,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(l_shipdate)
                                ORDER BY SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) DESC,
                                         CAST(l_partkey AS VARCHAR) ASC) AS rn
      FROM lineitem GROUP BY year(l_shipdate), CAST(l_partkey AS VARCHAR)
    ) t WHERE rn <= 5
    """,
)
def topn_tier2_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH Tier-2 bounded-memory aggregate modes in one gate (round-11
    lane merge — absorbed the retired `topn_sketch_tier2` /
    `topn_weighted_tier2` gates verbatim; each lane keeps its own
    oracle branch, funding `topn_tier2_eviction`):

    - lane 'counted': topn_add_agg_sketch (operators/sketch_state:
      mapInPandas partials + applyInPandas merge, the reference's
      parallel aggregation shape topn.c:509-625).
    - lane 'weighted': topn_weighted_agg_sketch (round-5) with the
      three-surface weight rule (weight_to_long).

    Both lanes run with a counter budget above the distinct-item count
    — the regime where the reference is exact — so they share the
    plain COUNT / exact-sum oracles, pinning Tier-2 == Tier-1 == SQL
    bit-for-bit. The EVICTION regime (small counters) is the sibling
    gate `topn_tier2_eviction`."""
    from postgresql_topn_spark.operators.sketch_state import (
        topn_add_agg_sketch,
        topn_weighted_agg_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = topn_add_agg_sketch(
        ev, [F.year("ts").alias("yr")], "event_type", counters=100_000
    )
    counted = explode_topn(sk, "topn", 5, keep=["yr"], counters=100_000).select(
        F.lit("counted").alias("lane"), "yr", "item", "frequency"
    )

    li = load_table(spark, sf_dir, "lineitem")
    w = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100, 0
    )
    wsk = topn_weighted_agg_sketch(
        li,
        [F.year("l_shipdate").alias("yr")],
        "l_partkey",
        w,
        counters=100_000,
    )
    weighted = explode_topn(
        wsk, "topn", 5, keep=["yr"], counters=100_000
    ).select(F.lit("weighted").alias("lane"), "yr", "item", "frequency")
    return counted.unionByName(weighted)


@_register(
    "topn_tier2_eviction",
    """
    WITH exacts AS (
      SELECT l_returnflag AS grp, CAST(l_partkey AS VARCHAR) AS item,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2
    )
    SELECT 'n_entries' AS lane, grp, CAST(NULL AS VARCHAR) AS item,
           CAST(LEAST(8, COUNT(*)) AS BIGINT) AS frequency
    FROM exacts GROUP BY grp
    UNION ALL
    SELECT 'violations' AS lane, grp, CAST(NULL AS VARCHAR) AS item,
           CAST(0 AS BIGINT) AS frequency
    FROM (SELECT DISTINCT grp FROM exacts)
    UNION ALL
    SELECT 'exact_subset' AS lane, l_returnflag AS grp,
           l_linestatus AS item, COUNT(l_linestatus) AS frequency
    FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 2, 3
    UNION ALL
    SELECT 'u_entries' AS lane, grp, CAST(NULL AS VARCHAR) AS item,
           CAST(LEAST(8, COUNT(*)) AS BIGINT) AS frequency
    FROM exacts GROUP BY grp
    UNION ALL
    SELECT 'u_violations' AS lane, grp, CAST(NULL AS VARCHAR) AS item,
           CAST(0 AS BIGINT) AS frequency
    FROM (SELECT DISTINCT grp FROM exacts)
    UNION ALL
    SELECT 'u_exact' AS lane, l_returnflag AS grp,
           CAST(l_linenumber AS VARCHAR) AS item,
           COUNT(l_linenumber) AS frequency
    FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 2, 3
    """,
)
def topn_tier2_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Tier-2 EVICTION/approximation regime behind the driver for
    the first time (VERDICT r10 item 1) — the reference's prune-policy
    contract (topn.c:440-446 limit 3c/keep size/2 on the aggregate
    path; topn.c:869-908 the sort-and-truncate prune; topn.c:984-988)
    run with SMALL counters (8) over a HIGH-cardinality item column
    (l_partkey — thousands of distinct parts per group at every SF),
    so eviction fires constantly, and verified through
    oracle-replayable INVARIANT verdicts instead of value equality
    (a small-counters sketch is approximation-defined, but its
    CONTRACT is exact):

    - lane 'n_entries': the packed sketch holds exactly
      least(counters, distinct) entries per group. (>= holds because
      every prune keeps at least size/2 > counters entries and the
      final pack trims to counters; <= is the pack contract.)
      The oracle computes least(8, COUNT(DISTINCT item)) — a VALUE
      match, not a boolean.
    - lane 'violations': count of reported entries whose frequency
      exceeds the exact count (computed by an independent exact
      aggregate), plus any entry naming an item that never occurred.
      Evicted items lose their whole count and re-inserted items
      restart (topn.c:869-908), so Tier-2 reported frequencies are
      LOWER bounds — unlike textbook Space-Saving, which overcounts.
      The oracle expects literal 0: ANY overcount anywhere breaks the
      hash.
    - lane 'exact_subset': the SAME small-counters path over a
      low-cardinality item (l_linestatus, <= 2 distinct per group):
      3c = 24 is never exceeded, no prune ever fires, and the sketch
      must equal plain COUNT exactly — the reference's "exact while no
      eviction fires" clause (SURVEY §1.2 "what's hard #1") with real
      values, not verdicts.

    UNION-path lanes (VERDICT r11 item 1): `MergeTopn`'s
    per-merged-key prune (topn.c:984-988 inside topn.c:955-990) is
    what `topn_union_agg` users hit when re-merging rollup sketches
    under a small budget — the last prune-policy row of SURVEY §1.2's
    table that only pytest saw. The input sketches are built as EXACT
    per-(group, l_linenumber) maps from plain counts (plain built-ins,
    no sketch code), so the union path is tested in ISOLATION and the
    oracle can replay its bounds from the base table:

    - lane 'u_entries': `topn_union_agg_sketch` with counters=8 over
      the 7 exact sub-sketches per group (l_partkey items — thousands
      of distinct keys force MergeTopn's prune constantly) packs
      exactly least(8, distinct-across-inputs) entries — the same
      VALUE the oracle computes from the base table, because the
      inputs are exact.
    - lane 'u_violations': reported totals are LOWER bounds on the
      exact sum of that item's input-map values (evicted mass is
      unrecoverable; re-merged items restart) and no merged entry may
      name an item absent from every input — the same broadcast
      inner-join audit, literal 0 expected.
    - lane 'u_exact': the union path on the same counters=8 budget
      over low-cardinality inputs (l_linenumber items, 7 distinct per
      group <= 3c = 24): no merge prune ever fires and the merged
      sketch must equal plain COUNT exactly."""
    from postgresql_topn_spark.operators.sketch_state import (
        topn_add_agg_sketch,
        topn_union_agg_sketch,
    )

    from postgresql_topn_spark.operators.checkpointing import stage_cut

    cnt = 8
    li = load_table(spark, sf_dir, "lineitem")
    grp = F.col("l_returnflag").alias("grp")

    # the exact audit aggregate feeds BOTH verdict-lane pairs (add and
    # union paths) but is deliberately NOT cut: it streams as the probe
    # side of each broadcast audit join, so its duplicate execution is
    # pipeline-parallel and cheaper than materializing the ~groups x
    # distinct-partkey rows up front (measured: cutting it REGRESSED
    # the gate 5.6 -> 6.1 s warm at sf0.1 — cuts pay off for tiny
    # fan-out frames, not for mid-size streamed probe sides)
    exact = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.col("l_partkey").cast("string").alias("item"),
    ).agg(F.count(F.lit(1)).alias("c"))

    def verdict_lanes(ent: DataFrame, ent_lane: str, viol_lane: str):
        """The invariant-verdict recipe, shared by the add and union
        paths: violations = n_entries - (entries that match an exact
        row AND stay <= it) — phantom items and overcounts both fail
        the inner join + filter. The INNER join legally broadcasts the
        <= groups*counters reported entries as the build side (a
        left-outer from the tiny side can't — Spark only builds the
        non-preserved side), so the exact aggregate streams and never
        reshuffles for the audit."""
        ent_stats = ent.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_entries")
        )
        ok = (
            F.broadcast(ent)
            .join(exact, ["grp", "item"])
            .where(F.col("frequency") <= F.col("c"))
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_ok"))
        )
        # two verdict lanes read `per`; cut the <= |groups| rows once
        per = stage_cut(
            ent_stats.join(ok, "grp", "left").select(
                "grp",
                "n_entries",
                (
                    F.col("n_entries") - F.coalesce("n_ok", F.lit(0))
                ).alias("viol"),
            )
        )
        n_lane = per.select(
            F.lit(ent_lane).alias("lane"),
            "grp",
            F.lit(None).cast("string").alias("item"),
            F.col("n_entries").cast("long").alias("frequency"),
        )
        v_lane = per.select(
            F.lit(viol_lane).alias("lane"),
            "grp",
            F.lit(None).cast("string").alias("item"),
            F.col("viol").cast("long").alias("frequency"),
        )
        return n_lane, v_lane

    # spread=False on both add-path lanes: this gate fans SIX lanes
    # over the same small lineitem scan in one query — the per-lane
    # spread exchanges don't dedupe (each lane projects different
    # columns below them) and measured slower than the starved partial
    # (paired A/B, r13); the sibling topn_tier2_modes keeps the default
    # the reported entries fan into the audit's join AND the size agg,
    # and the verdicts fan into two lanes — cut the (<= groups*counters
    # rows) frame once so the Tier-2 partial+merge chain plans/executes
    # exactly once (the decode-once discipline of every flagship gate)
    def _add_chain():
        sk = topn_add_agg_sketch(
            li, [grp], "l_partkey", counters=cnt, spread=False
        )
        ent = stage_cut(
            explode_topn(sk, "topn", cnt, keep=["grp"], counters=cnt)
        )
        return verdict_lanes(ent, "n_entries", "violations")

    sk2 = topn_add_agg_sketch(
        li, [grp], "l_linestatus", counters=cnt, spread=False
    )
    e_lane = explode_topn(sk2, "topn", cnt, keep=["grp"], counters=cnt).select(
        F.lit("exact_subset").alias("lane"), "grp", "item", "frequency"
    )

    # ---- union path: exact input sub-sketches from plain counts ----
    def exact_inputs(sub: Column, item: Column) -> DataFrame:
        sub_counts = li.groupBy(
            F.col("l_returnflag").alias("grp"),
            sub.alias("sub"),
            item.cast("string").alias("item"),
        ).agg(F.count(F.lit(1)).alias("c"))
        return sub_counts.where(F.col("item").isNotNull()).groupBy(
            "grp", "sub"
        ).agg(
            F.map_from_entries(
                F.collect_list(F.struct("item", "c"))
            ).alias("sk")
        )

    def _union_chain():
        usk = topn_union_agg_sketch(
            exact_inputs(F.col("l_linenumber"), F.col("l_partkey")),
            ["grp"],
            "sk",
            counters=cnt,
        )
        u_ent = stage_cut(
            explode_topn(usk, "topn", cnt, keep=["grp"], counters=cnt)
        )
        return verdict_lanes(u_ent, "u_entries", "u_violations")

    # r14 (guide §2.6): the add-path and union-path verdict chains are
    # independent until the final union, but each is a string of eager
    # stage cuts (every localCheckpoint compiles + materializes its
    # subtree's AQE stages at construction), so run serially the driver
    # sits through ~4 s of barriers with the cluster near-idle. Overlap
    # the two chains from two driver threads — the model_roundtrip
    # pattern: no session-conf mutation in either chain, the second
    # chain runs on the calling thread so failures surface normally,
    # and values are scheduling-independent (oracle-verified).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _add_f = _pool.submit(_add_chain)
        u_n_lane, u_v_lane = _union_chain()
        n_lane, v_lane = _add_f.result()

    # sub key = l_linestatus here, NOT l_linenumber: each group's two
    # input maps then hold all 7 linenumber items, so the merge SUMS
    # overlapping keys across maps (MergeTopn's arithmetic) instead of
    # concatenating disjoint single-entry maps
    usk2 = topn_union_agg_sketch(
        exact_inputs(F.col("l_linestatus"), F.col("l_linenumber")),
        ["grp"],
        "sk",
        counters=cnt,
    )
    u_e_lane = explode_topn(
        usk2, "topn", cnt, keep=["grp"], counters=cnt
    ).select(F.lit("u_exact").alias("lane"), "grp", "item", "frequency")

    return (
        n_lane.unionByName(v_lane)
        .unionByName(e_lane)
        .unionByName(u_n_lane)
        .unionByName(u_v_lane)
        .unionByName(u_e_lane)
    )


@_register(
    "topn_bloom_pruned_join",
    """
    SELECT item, frequency FROM (
      SELECT CAST(l_suppkey AS VARCHAR) AS item, COUNT(*) AS frequency,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                CAST(l_suppkey AS VARCHAR) ASC) AS rn
      FROM lineitem l
      WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      )
      GROUP BY 1
    ) t WHERE rn <= 10
    """,
)
def topn_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction feeding the flagship aggregate
    (operators/joins.py bloom_pruned_join — round-5): top suppliers
    among lineitems of URGENT orders, where the fact table is pruned by
    a broadcast Bloom filter over the qualifying order keys BEFORE any
    exchange — the classic 100 TB shuffle cut. Bloom filters have no
    false negatives, so the result must equal the plain semi-join
    exactly; the oracle computes the plain IN-subquery form, so any
    lost row (a false negative, a probe/build hash mismatch) breaks
    the hash."""
    from postgresql_topn_spark.operators.joins import bloom_pruned_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    pruned = bloom_pruned_join(
        li, urgent, "l_orderkey", m_bits=1 << 20, how="left_semi"
    )
    sk = topn_add_agg(pruned, [], "l_suppkey", counters=C)
    return explode_topn(sk, "topn", 10, counters=C)


@_register(
    "topn_salted_skew",
    """
    SELECT l_returnflag, item, frequency FROM (
      SELECT l_returnflag, CAST(l_orderkey AS VARCHAR) AS item, COUNT(*) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, CAST(l_orderkey AS VARCHAR) ASC) AS rn
      FROM lineitem GROUP BY 1, 2
    ) t WHERE rn <= 5
    """,
)
def topn_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_add_agg through the lossless salted two-level rank
    (salt_buckets=8): with few groups and many distinct items per group
    (here: order keys per returnflag), a single per-group window rank
    concentrates all of a group's items in one task; salting first
    ranks within (group, hash(item) % 8) and keeps top-counters per
    salt, then re-ranks the survivors — per-task work drops ~8x with
    identical results (any true top-counters item is also top-counters
    within its salt bucket), so the exact oracle is unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = topn_add_agg(
        li, ["l_returnflag"], "l_orderkey", counters=C, salt_buckets=8
    )
    return explode_topn(sk, "topn", 5, keep=["l_returnflag"], counters=C)


@_register(
    "topn_revenue_products",
    """
    SELECT yr, item, frequency FROM (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, CAST(l_partkey AS VARCHAR) AS item,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(l_shipdate)
                                ORDER BY SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) DESC,
                                         CAST(l_partkey AS VARCHAR) ASC) AS rn
      FROM lineitem GROUP BY year(l_shipdate), CAST(l_partkey AS VARCHAR)
    ) t WHERE rn <= 5
    """,
)
def topn_revenue_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_weighted_agg — top-5 parts per ship year by REVENUE
    (discounted extended price in cents as the int64 weight) rather
    than by order count: the additive-measure generalization of the
    sketch the reference cannot express (topn_add always adds 1,
    topn.c:340-351). Same sketch type, extraction and two-exchange
    plan; decimal arithmetic stays exact so the oracle sum matches
    bit-for-bit."""
    from postgresql_topn_spark.functions.aggregates import topn_weighted_agg

    li = load_table(spark, sf_dir, "lineitem")
    w = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 100, 0
    )
    sk = topn_weighted_agg(
        li, [F.year("l_shipdate").alias("yr")], "l_partkey", w, counters=C
    )
    return explode_topn(sk, "topn", 5, keep=["yr"], counters=C)


@_register(
    "topn_month_delta",
    """
    WITH m1 AS (
      SELECT event_type AS item, COUNT(event_type) AS f FROM events
      WHERE day(ts) <= 15 AND event_type IS NOT NULL GROUP BY 1
    ),
    m2 AS (
      SELECT event_type AS item, COUNT(event_type) AS f FROM events
      WHERE day(ts) > 15 AND event_type IS NOT NULL GROUP BY 1
    )
    SELECT COALESCE(m1.item, m2.item) AS item,
           COALESCE(m1.f, 0) AS freq_a, COALESCE(m2.f, 0) AS freq_b,
           COALESCE(m2.f, 0) - COALESCE(m1.f, 0) AS delta
    FROM m1 FULL OUTER JOIN m2 ON m1.item = m2.item
    """,
)
def topn_month_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup drift: build event-type sketches for the first and second
    half of each month (day <= 15 vs day > 15), diff them with
    sketch_diff (union of keys, per-item frequency delta) — the
    between-intervals comparison a monitoring user runs on stored
    rollups; the oracle is the equivalent full outer join of the two
    periods' counts."""
    from postgresql_topn_spark.functions.sketch import sketch_diff

    ev = load_table(spark, sf_dir, "events")
    halves = topn_add_agg(
        ev,
        [(F.dayofmonth("ts") <= 15).alias("first_half")],
        "event_type",
        counters=C,
    )
    a = halves.where(F.col("first_half")).select(
        F.lit(1).alias("k"), F.col("topn").alias("a")
    )
    b = halves.where(~F.col("first_half")).select(
        F.lit(1).alias("k"), F.col("topn").alias("b")
    )
    # FULL OUTER like the oracle: if either half has zero rows the other
    # half still surfaces (sketch_diff itself coalesces a NULL side to
    # the empty sketch), so equivalence is not fixture-dependent.
    joined = a.join(b, "k", "full_outer")
    return joined.select(
        F.explode(sketch_diff("a", "b")).alias("__d")
    ).select("__d.item", "__d.freq_a", "__d.freq_b", "__d.delta")


@_register(
    "topn_sql_agg",
    """
    SELECT lane, yr, item, frequency FROM (
      SELECT 'front_door' AS lane, CAST(NULL AS INT) AS yr, item, frequency
      FROM (
        SELECT event_type AS item, COUNT(event_type) AS frequency,
               ROW_NUMBER() OVER (ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
        FROM events WHERE event_type IS NOT NULL GROUP BY event_type
      ) t WHERE rn <= 5
      UNION ALL
      SELECT 'generated_sql' AS lane, yr, item, frequency FROM (
        SELECT CAST(year(ts) AS INT) AS yr, event_type AS item,
               COUNT(event_type) AS frequency,
               ROW_NUMBER() OVER (PARTITION BY year(ts)
                                  ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
        FROM events WHERE event_type IS NOT NULL
        GROUP BY year(ts), event_type
      ) t WHERE rn <= 3
    )
    """,
)
def topn_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH pure-SQL lanes of the reference's flagship pattern in one
    gate (round-7 registry consolidation — this absorbed the retired
    `topn_sql_twophase` gate; each lane keeps its own oracle branch):

    - lane 'front_door': ``SELECT …, topn_add_agg(item) … GROUP BY``
      per month, ``topn_union_agg`` to the grand total, lateral
      ``topn()`` extraction (update/topn--2.3.0--2.3.1.sql:34-51,
      README.md:84-96; sql/customer_reviews_query.sql:12-40) through
      ``topn_sql()``, which rewrites both aggregate CTEs onto the
      two-phase pure-built-in plan (map-side partial combine, zero
      Python stages); the ``topn()`` extraction is a SQL table
      function that plans as a Generate over the sketch rows.
    - lane 'generated_sql': the generated-SQL surface WITHOUT any
      Python stage at all — monthly sketches by topn_add_agg_sql
      (salted variant), merged per year by topn_union_agg_sql,
      extracted with a plain map explode + rank (the reference's
      parallel aggregate, topn.c:509-625, compiled to Catalyst).

    Both lanes plan-pinned in tests/test_plans.py; UDAF-vs-rewrite
    equivalence pinned in tests/test_sql_api.py."""
    from postgresql_topn_spark.functions.sql_api import (
        topn_add_agg_sql,
        topn_sql,
        topn_union_agg_sql,
    )

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__topn_sql_events"
    )
    front = topn_sql(
        spark,
        """
        WITH monthly AS (
          SELECT year(ts) AS yr, month(ts) AS mon,
                 topn_add_agg(event_type) AS sk
          FROM __topn_sql_events
          GROUP BY year(ts), month(ts)
        ),
        overall AS (SELECT topn_union_agg(sk) AS sk FROM monthly)
        SELECT t.item, t.frequency
        FROM overall, LATERAL topn(overall.sk, 5) t
        """,
        counters=C,
    ).select(
        F.lit("front_door").alias("lane"),
        F.lit(None).cast("int").alias("yr"),
        "item",
        "frequency",
    )
    monthly = topn_add_agg_sql(
        "__topn_sql_events",
        [("yr", "cast(year(ts) as int)"), ("mon", "month(ts)")],
        "event_type",
        counters=C,
        salt_buckets=4,
    )
    yearly = topn_union_agg_sql("monthly", ["yr"], "topn", counters=C)
    gen = spark.sql(
        f"""
        WITH monthly AS ({monthly}),
             yearly AS ({yearly})
        SELECT 'generated_sql' AS lane, yr, item, frequency FROM (
          SELECT yr, t.item, t.frequency,
                 row_number() OVER (PARTITION BY yr
                                    ORDER BY t.frequency DESC, t.item ASC) AS rn
          FROM yearly LATERAL VIEW explode(topn) t AS item, frequency
        ) WHERE rn <= 3
        """
    )
    return front.unionByName(gen)


@_register(
    "topn_sql_having",
    """
    SELECT lane, yr, mon, item, frequency FROM (
      SELECT 'fallback' AS lane, yr, CAST(NULL AS INT) AS mon, item, frequency
      FROM (
        SELECT CAST(year(ts) AS INT) AS yr, event_type AS item,
               COUNT(event_type) AS frequency,
               ROW_NUMBER() OVER (PARTITION BY year(ts)
                                  ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
        FROM events WHERE event_type IS NOT NULL AND year(ts) >= 2000
        GROUP BY year(ts), event_type
      ) t WHERE rn <= 3
      UNION ALL
      SELECT 'rewrite' AS lane, yr, mon, item, frequency FROM (
        SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mon,
               event_type AS item, COUNT(event_type) AS frequency,
               ROW_NUMBER() OVER (PARTITION BY year(ts), month(ts)
                                  ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
        FROM events WHERE event_type IS NOT NULL
        GROUP BY year(ts), month(ts), event_type
      ) t WHERE rn <= 3 AND yr >= 2000 AND mon >= 1
    )
    """,
)
def topn_sql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH HAVING lanes of the topn_sql rewriter in one gate (round-7
    registry consolidation — absorbed the retired
    `topn_sql_having_fallback` + `topn_sql_having_keys` gates; each
    keeps its own oracle branch):

    - lane 'fallback': HAVING on an UN-ALIASED source expression
      (year(ts)) is a shape rewrite_topn_sql declines — it can only
      prove HAVING over select-list key ALIASES — so this statement
      deliberately runs the GROUPED_AGG pandas UDAF (one Python
      reducer per group — bounded here: one group per year). The
      scale-caveat warning firing for this statement is itself pinned
      in tests/test_sql_api.py.
    - lane 'rewrite': HAVING over the GROUP KEYS (every identifier a
      select-list key alias) is provably a WHERE over the two-phase
      rewrite's output, so this statement keeps the zero-Python plan
      (pinned in tests/test_plans.py / test_sql_api.py).

    The driver value-checks both lanes every time this gate runs."""
    import warnings as _w

    from postgresql_topn_spark.functions.sketch import explode_topn
    from postgresql_topn_spark.functions.sql_api import topn_sql

    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__hav_events"
    )
    with _w.catch_warnings():
        _w.simplefilter("ignore")  # the fallback here is deliberate
        fb = topn_sql(
            spark,
            """
            WITH g AS (
              SELECT year(ts) AS yr, topn_add_agg(event_type) AS sk
              FROM __hav_events
              WHERE event_type IS NOT NULL
              GROUP BY year(ts)
              HAVING year(ts) >= 2000
            )
            SELECT CAST(g.yr AS INT) AS yr, t.item, t.frequency
            FROM g, LATERAL topn(g.sk, 3) t
            """,
            counters=C,
        )
    fb = fb.select(
        F.lit("fallback").alias("lane"),
        "yr",
        F.lit(None).cast("int").alias("mon"),
        "item",
        "frequency",
    )
    g = topn_sql(
        spark,
        """
        SELECT CAST(year(ts) AS INT) AS yr,
               CAST(month(ts) AS INT) AS mon,
               topn_add_agg(event_type) AS sk
        FROM __hav_events
        WHERE event_type IS NOT NULL
        GROUP BY CAST(year(ts) AS INT), CAST(month(ts) AS INT)
        HAVING yr >= 2000 AND mon >= 1
        """,
        counters=C,
    )
    rw = explode_topn(g, "sk", 3, keep=["yr", "mon"], counters=C).select(
        F.lit("rewrite").alias("lane"), "yr", "mon", "item", "frequency"
    )
    return fb.unionByName(rw)



@_register(
    "topn_sql_weighted",
    """
    SELECT yr, item, frequency FROM (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, CAST(l_partkey AS VARCHAR) AS item,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(l_shipdate)
                                ORDER BY SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) DESC,
                                         CAST(l_partkey AS VARCHAR) ASC) AS rn
      FROM lineitem GROUP BY year(l_shipdate), CAST(l_partkey AS VARCHAR)
    ) t WHERE rn <= 5
    """,
)
def topn_sql_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_revenue_products expressed through the SQL front door:
    ``topn_weighted_agg(item, weight)`` in a GROUP BY plus lateral
    ``topn()`` — same results as the Column-API twin
    (suite.topn_revenue_products), proving the surfaces agree. Runs
    through ``topn_sql()``, which rewrites the weighted aggregate CTE
    onto the two-phase built-in plan (topn_weighted_agg_sql), and the
    ``topn()`` extraction is a SQL table function: no row crosses into
    Python."""
    from postgresql_topn_spark.functions.sql_api import topn_sql

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__topn_sql_lineitem"
    )
    return topn_sql(
        spark,
        """
        WITH yearly AS (
          SELECT CAST(year(l_shipdate) AS INT) AS yr,
                 topn_weighted_agg(
                   l_partkey,
                   CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
                 ) AS sk
          FROM __topn_sql_lineitem
          GROUP BY CAST(year(l_shipdate) AS INT)
        )
        SELECT yr, t.item, t.frequency
        FROM yearly, LATERAL topn(yearly.sk, 5) t
        """,
        counters=C,
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline operators (beyond the reference surface)
# ---------------------------------------------------------------------------


@_register(
    "dedup_exact_modes",
    """
    WITH md AS (
      SELECT 'md5' AS mode, md5(text) AS content_key,
             MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
      FROM documents GROUP BY md5(text)
    ),
    d AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(list_slice(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''), 1, 3), ' ')) AS content_key
      FROM documents
    ),
    r AS (
      SELECT content_key, doc_id,
             ROW_NUMBER() OVER (PARTITION BY content_key
                                ORDER BY CAST(n_chars AS DOUBLE) DESC,
                                         doc_id ASC) AS rn
      FROM d
    ),
    pb AS (
      SELECT 'prefix_best' AS mode, r.content_key, r.doc_id AS keeper_id,
             c.dup_count
      FROM r JOIN (
        SELECT content_key, CAST(count(*) AS BIGINT) AS dup_count
        FROM d GROUP BY content_key) c USING (content_key)
      WHERE rn = 1
    )
    SELECT * FROM md UNION ALL SELECT * FROM pb
    """,
)
def dedup_exact_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH exact-dedup keeper policies in one gate (round-7 registry
    consolidation — absorbed the retired `dedup_exact` +
    `dedup_exact_best` gates; both lanes stay value-pinned):

    - mode 'md5': the basic form — group on md5(text), keeper = min
      id. One hash aggregation on the content key.
    - mode 'prefix_best': the quality-aware form — duplicate groups
      keyed on the 3-token prefix fingerprint keep their
      HIGHEST-quality member (n_chars; ties -> min id), the
      canonical-keeper policy real curation uses when duplicates
      differ in extraction cleanliness. The keeper is a min over a
      (-quality, id) struct — one aggregate, no window over raw rows;
      the oracle replays the policy with a rank."""
    from postgresql_topn_spark.operators.dedup import exact_dedup
    from postgresql_topn_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    md = exact_dedup(docs, F.md5("text"), "doc_id").select(
        F.lit("md5").alias("mode"), "content_key", "keeper_id", "dup_count"
    )
    key = F.md5(F.concat_ws(" ", F.slice(tokens("text"), 1, 3)))
    pb = exact_dedup(
        docs.select(key.alias("k"), "doc_id", "n_chars"),
        "k",
        "doc_id",
        quality="n_chars",
    ).select(
        F.lit("prefix_best").alias("mode"),
        "content_key",
        "keeper_id",
        "dup_count",
    )
    return md.unionByName(pb)


def _gopher_rep_oracle_ctes(src: str = "t2") -> str:
    """DuckDB CTE block replaying `gopher_repetition_signals` over a
    relation `src(doc_id, text, n_chars, toks, lines, paras)` —
    independent relational form (explode + group per n-gram family vs
    the Spark side's sorted folds), ending in
    ``rep(doc_id, top2..top4, dup5..dup10, dup_line_frac,
    dup_line_char_frac, dup_para_frac, dup_para_char_frac,
    rep_passes)``. Duplicate char mass counts occurrences BEYOND the
    first ((cnt-1)*len — zero for singletons, so no guard needed);
    the top-gram mass is argmax by count with ties toward the larger
    mass, packed into one BIGINT arg_max key (mass < 2^40 at any
    conceivable doc size)."""
    fams = []
    sel = []
    joins = []
    conds = []
    from postgresql_topn_spark.operators.text import (
        GOPHER_DUP_NGRAM_MAX,
        GOPHER_TOP_NGRAM_MAX,
    )

    for n, cap in list(GOPHER_TOP_NGRAM_MAX.items()) + list(
        GOPHER_DUP_NGRAM_MAX.items()
    ):
        kind = "top" if n in GOPHER_TOP_NGRAM_MAX else "dup"
        gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
        agg = (
            "arg_max(cnt * len(gram), cnt * 1099511627776 + cnt * len(gram)) "
            "FILTER (WHERE cnt >= 2)"
            if kind == "top"
            else "sum((cnt - 1) * len(gram))"
        )
        fams.append(
            f"""
    g{n} AS (
      SELECT doc_id, n_chars,
             unnest(list_transform(range(1, len(toks) - {n} + 2),
                                   i -> {gram})) AS gram
      FROM {src} WHERE len(toks) >= {n}
    ),
    gc{n} AS (SELECT doc_id, n_chars, gram, count(*) AS cnt
              FROM g{n} GROUP BY doc_id, n_chars, gram),
    f{n} AS (SELECT doc_id,
                    least(1.0, CAST(COALESCE({agg}, 0) AS DOUBLE)
                               / n_chars) AS v
             FROM gc{n} GROUP BY doc_id, n_chars)"""
        )
        sel.append(f"COALESCE(f{n}.v, 0.0) AS {kind}{n}")
        joins.append(f"LEFT JOIN f{n} USING (doc_id)")
        # the Spark struct thresholds the REPORTED round-6 values
        conds.append(f"round({kind}{n}, 6) <= {cap}")
    dupfam = """
      1.0 - CAST(len(list_distinct({a})) AS DOUBLE) / len({a}) AS dup_{nm}_frac,
      COALESCE(CAST(list_sum(list_transform(list_distinct({a}),
                 d -> (len(list_filter({a}, x -> x = d)) - 1) * len(d)))
               AS DOUBLE), 0.0)
        / list_sum(list_transform({a}, e -> len(e))) AS dup_{nm}_char_frac"""
    lp = (
        f"""
    lp AS (
      SELECT doc_id,
      {dupfam.format(a="lines", nm="line")},
      {dupfam.format(a="paras", nm="para")}
      FROM {src}
    )"""
    )
    conds = [
        "COALESCE(round(dup_line_frac, 6), 0.0) <= 0.30",
        "COALESCE(round(dup_line_char_frac, 6), 0.0) <= 0.20",
        "COALESCE(round(dup_para_frac, 6), 0.0) <= 0.30",
        "COALESCE(round(dup_para_char_frac, 6), 0.0) <= 0.20",
    ] + conds
    return (
        ",".join(fams)
        + ","
        + lp
        + f""",
    rep AS (
      SELECT {src}.doc_id,
             {", ".join(sel)},
             lp.dup_line_frac, lp.dup_line_char_frac,
             lp.dup_para_frac, lp.dup_para_char_frac
      FROM {src} {" ".join(joins)} JOIN lp USING (doc_id)
    ),
    repv AS (
      SELECT *, ({" AND ".join(conds)}) AS rep_passes FROM rep
    )"""
    )


def _curation_oracle_sql() -> str:
    """DuckDB replay of the WHOLE rewired curation pipeline (round-9:
    the published C4+Gopher filter stack in front of the dedup/closure
    stages) — signals, rule predicate, 3-shingle Jaccard pairs,
    recursive transitive closure, canonical keepers."""
    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, text, len(text) AS n_chars,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> w <> '') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> len(trim(l)) > 0) AS lines,
             list_filter(string_split(text, chr(10) || chr(10)),
                         x -> len(trim(x)) > 0) AS paras
      FROM documents
      WHERE text IS NOT NULL AND len(text) > 0
    ),
    t2 AS (SELECT * FROM t WHERE len(toks) > 0),
    q AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(toks, w -> len(w)))
                        AS DOUBLE) / len(toks), 6) AS mean_word_len,
             round((CAST(len(text) - len(replace(text, '#', ''))
                         AS DOUBLE)
                    + (CAST(len(text) - len(replace(text, '...', ''))
                            AS DOUBLE) / 3
                       + CAST(len(text) - len(replace(text, '…', ''))
                              AS DOUBLE))) / len(toks), 6)
               AS symbol_word_ratio,
             round(CAST(len(list_filter(toks,
                       w -> regexp_matches(w, '[a-zA-Z]')))
                   AS DOUBLE) / len(toks), 6) AS alpha_word_frac
      FROM t2
    ),
    c4k AS (
      SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
             COALESCE(array_to_string(
               list_filter(lines, l ->
                 regexp_matches(trim(l), '[.!?"]$')
                 AND len(list_filter(
                       string_split_regex(trim(l), '\\s+'),
                       w -> w <> '')) >= 5
                 AND NOT contains(lower(l), 'javascript')
               ), chr(10)), '') AS ct,
             CAST(len(list_filter(lines, l ->
                 regexp_matches(trim(l), '[.!?"]$')
                 AND len(list_filter(
                       string_split_regex(trim(l), '\\s+'),
                       w -> w <> '')) >= 5
                 AND NOT contains(lower(l), 'javascript')
               )) AS BIGINT) AS n_lines_kept
      FROM t2
    ),
    c4 AS (
      SELECT doc_id, n_lines, n_lines_kept,
             CAST(len(ct) - len(replace(replace(replace(ct,
                  '.', ''), '!', ''), '?', '')) AS BIGINT) AS n_sentences
      FROM c4k
    ),{_gopher_rep_oracle_ctes("t2")},
    filt AS (
      SELECT t2.doc_id, t2.text,
             q.n_words, q.mean_word_len, q.alpha_word_frac,
             round(repv.top2, 6) AS top_2gram_char_frac,
             round(repv.dup5, 6) AS dup_5gram_char_frac,
             c4.n_lines_kept, c4.n_sentences
      FROM t2 JOIN q USING (doc_id) JOIN repv USING (doc_id)
              JOIN c4 USING (doc_id)
      WHERE q.n_words BETWEEN 50 AND 100000
        AND q.mean_word_len BETWEEN 3.0 AND 10.0
        AND q.symbol_word_ratio <= 0.1
        AND q.alpha_word_frac >= 0.8
        AND repv.rep_passes
        AND NOT contains(lower(t2.text), 'lorem ipsum')
        AND NOT contains(t2.text, '{{')
    ),
    pairs AS ({_jaccard_oracle_sql("filt", 0.5)}),
    e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(n, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT reach.n, e.d FROM reach JOIN e ON reach.r = e.s
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS component FROM reach GROUP BY n)
    SELECT f.doc_id, f.n_words, f.mean_word_len, f.alpha_word_frac,
           f.top_2gram_char_frac, f.dup_5gram_char_frac,
           f.n_lines_kept, f.n_sentences
    FROM filt f LEFT JOIN comp c USING (doc_id)
    WHERE COALESCE(c.component, f.doc_id) = f.doc_id
    """


def _jaccard_oracle_sql(src: str = "documents", threshold: float = 0.5) -> str:
    """DuckDB twin of jaccard_pairs over any documents-shaped relation
    (doc_id, text) — parameterized so pipeline oracles can close pairs
    over a filtered subset."""
    return f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
      FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks FROM {src})
    ),
    tok AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
      FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, intersection,
           sa.n + sb.n - intersection AS union_size,
           CAST(intersection AS DOUBLE) / CAST(sa.n + sb.n - intersection AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(intersection AS DOUBLE) / CAST(sa.n + sb.n - intersection AS DOUBLE) >= {threshold}
"""


_JACCARD_ORACLE = _jaccard_oracle_sql()


@_register("dedup_jaccard_pairs", _JACCARD_ORACLE)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-token-shingle Jaccard near-dup pairs >= 0.5 via inverted-index
    join (no O(n^2) pair space)."""
    from postgresql_topn_spark.operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", threshold=0.5, k=3)


@_register("dedup_minhash_lsh", _JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH banding (16 bands x 2 rows) candidates, exact
    Jaccard rerank >= 0.5. Same oracle as the exact pair query: LSH at
    these parameters has ~certain recall at s >= 0.5 on planted
    near-dups, and the rerank makes precision exact."""
    from postgresql_topn_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)


@_register(
    "dedup_char_ngram",
    """
    WITH g AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(text) - 15, 0) + 1),
                   i -> substr(text, CAST(i AS INT), 16))) AS gs
      FROM documents),
    tok AS (SELECT doc_id, unnest(gs) AS s FROM g),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
              FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, intersection, sa.n + sb.n - intersection AS union_size,
           CAST(intersection AS DOUBLE) / CAST(sa.n + sb.n - intersection AS DOUBLE) AS jaccard
    FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
    WHERE CAST(intersection AS DOUBLE) / CAST(sa.n + sb.n - intersection AS DOUBLE) >= 0.7
    """,
)
def dedup_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-16-gram Jaccard near-dup pairs >= 0.7 via exact
    prefix-filter candidates + full verification — the n-gram
    complement to the token-shingle Jaccard query (robust to
    whitespace/punctuation-only edits). Gram length 16 keeps grams
    selective on this corpus's small vocabulary (5-grams all occur in
    every document, which defeats ANY index-based candidate scheme —
    measured 2,041 distinct 5-grams vs 603k 16-grams at sf0.1)."""
    from postgresql_topn_spark.operators.dedup import char_ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return char_ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7, n=16)


@_register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(n, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT reach.n, e.d FROM reach JOIN e ON reach.r = e.s
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS component FROM reach GROUP BY n)
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: 3-shingle Jaccard >= 0.5 pairs
    -> connected components (min-label propagation to fixpoint) -> every
    document labeled with its cluster's canonical (minimum) doc_id;
    non-duplicated documents are their own singleton component. This is
    the keep-one-per-group labeling a dedup pipeline actually applies —
    pairs alone under-remove whenever duplicates chain (a~b, b~c but not
    a~c). The oracle transitively closes the same pair set with a
    recursive CTE; the iterative Spark fixpoint and the recursive SQL
    closure must agree exactly on every label."""
    from postgresql_topn_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    edges = jaccard_pairs(docs, "doc_id", "text", threshold=0.5, k=3)
    comp = connected_components(edges, "doc_a", "doc_b")
    return docs.select("doc_id").join(
        comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


def _minhash_oracle_sql(num_hashes: int = 16) -> str:
    """Replays minhash_signatures_md5 + the per-source min-merge in
    DuckDB: one md5 per distinct shingle reduced to 32 bits, the same
    md5-derived (a, b) permutation literals, all int64 arithmetic."""
    from postgresql_topn_spark.operators.dedup import (
        MINHASH_PRIME,
        _minhash_md5_params,
    )

    values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(_minhash_md5_params(num_hashes))
    )
    return rf"""
    WITH t AS (SELECT doc_id, source, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents),
    sh AS (SELECT DISTINCT source,
                  unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
           FROM t),
    h AS (SELECT source,
                 CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 4294967296 AS hv
          FROM sh),
    p AS (SELECT * FROM (VALUES {values}) AS v(i, a, b)),
    m AS (SELECT h.source, p.i,
                 MIN((h.hv * p.a + p.b) % {MINHASH_PRIME}) AS mn
          FROM h, p GROUP BY 1, 2),
    sig AS (SELECT source, list(mn ORDER BY i) AS sig FROM m GROUP BY 1)
    SELECT a.source AS src_a, b.source AS src_b,
           round(len(list_filter(range(1, {num_hashes + 1}), j -> a.sig[j] = b.sig[j])) / {num_hashes}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    """


@_register("minhash_source_jaccard", _minhash_oracle_sql(16))
def minhash_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as a MERGEABLE rollup sketch (the topn pattern for set
    similarity): per-doc md5-form signatures are min-merged per source
    (minhash_union_agg — element-wise min of doc signatures equals the
    signature of the union of their shingle sets), then every source
    pair gets an estimated shingle-set Jaccard from signature
    agreement. The oracle computes each source's signature DIRECTLY
    from its distinct-shingle union — algebraic identity with the
    Spark-side merge, so the value hash pins the merge law itself."""
    from postgresql_topn_spark.operators.dedup import (
        minhash_est_jaccard,
        minhash_signatures_md5,
        minhash_union_agg,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures_md5(docs, "doc_id", "text", num_hashes=16, k=3)
    with_src = sigs.join(
        docs.select(F.col("doc_id").alias("__id"), "source"), "__id"
    )
    per_src = minhash_union_agg(with_src, ["source"], "__sig", out_col="sig")
    a, b = per_src.alias("a"), per_src.alias("b")
    return a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.round(
            minhash_est_jaccard(F.col("a.sig"), F.col("b.sig")), 6
        ).alias("est_jaccard"),
    )


@_register(
    "dedup_winnow_pairs",
    r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents),
    sh AS (SELECT doc_id,
            list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                           i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t),
    w AS (SELECT doc_id,
            CASE WHEN len(hs) >= 4
                 THEN list_transform(range(1, len(hs) - 3 + 1), i -> list_min(hs[i:i+3]))
                 WHEN len(hs) > 0 THEN [list_min(hs)]
                 ELSE [] END AS mins
          FROM sh),
    fp AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fingerprints
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup candidates: pairs sharing >= 3 distinct
    winnowing fingerprints (window-local min-hashes, so substantial
    verbatim runs always collide). The oracle replays the identical
    winnow (same md5 shingle digests, same window minima) and
    brute-force joins; Spark's inverted index is ~1/window the size of
    the full shingle index."""
    from postgresql_topn_spark.operators.dedup import winnow_fingerprint_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprint_pairs(docs, "doc_id", "text", min_shared=3)


@_register(
    "dedup_decontaminate",
    r"""
    WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents),
    trs AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
            FROM toks WHERE doc_id % 2 = 0),
    tes AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]))) AS s
            FROM toks WHERE doc_id % 2 = 1)
    SELECT te.doc_id AS test_id, tr.doc_id AS train_id, COUNT(*) AS shared_shingles
    FROM tes te JOIN trs tr ON te.s = tr.s
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: test documents sharing >= 2 distinct
    5-token shingles with any train document (the pre-training hygiene
    sweep; at real scale k=13 with a document-frequency cap). Even
    doc_ids play train, odd play test. The oracle joins raw shingle
    strings; Spark joins 64-bit hashes — identical pair counts (tokens
    carry no whitespace, hashes injective-in-practice)."""
    from postgresql_topn_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    return decontaminate(train, test, k=5, min_overlap=2)


# NOTE: the xxhash64 + numpy SimHash scale form (dedup.simhash_pairs)
# is intentionally NOT a declared suite query: xxhash64 has no DuckDB
# twin, so it cannot carry a value oracle. Its SimHash semantics are
# pinned by the value-oracled md5 twin below (identical vote/pigeonhole
# pipeline, different hash) and by pytest invariants
# (tests/test_dedup.py: superset-of-exact-duplicates, symmetry,
# zero-shuffle plan assertion).


@_register(
    "dedup_simhash_md5",
    r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents),
    sh AS (SELECT doc_id,
            list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
              i -> CAST(concat('0x', substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)) AS BIGINT))) AS hs
           FROM t WHERE len(toks) >= 3),
    s AS (SELECT doc_id,
            list_reduce(list_transform(range(0, 60),
              j -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > len(hs)
                        THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END),
              (a, b) -> a + b) AS sh
          FROM sh)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs in the cross-engine-reproducible 60-bit
    md5 form: the shingle hash (first 15 hex chars of md5 as a long) and
    the per-bit majority vote are bit-identical in Spark and ANSI SQL,
    so the full hash -> pigeonhole join -> hamming filter pipeline is
    value-oracled (the oracle brute-forces all pairs; the Spark side
    joins on pigeonhole chunks and never materializes O(n^2))."""
    from postgresql_topn_spark.operators.dedup import simhash_md5_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_md5_pairs(docs, "doc_id", "text", max_hamming=3)


@_register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
             list_reduce(list_transform(range(1, 65),
                         i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                         (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(range(1, 65),
                      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
             AS sim
      FROM q, embeddings c WHERE c.vec_id <> q.qid
    )
    SELECT query_id, neighbor_id, "rank", round(sim, 6) AS sim FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS "rank"
      FROM scored
    ) t WHERE "rank" <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the query subset
    (vec_id % 100 == 0): broadcast queries x corpus scan, windowed rank.
    Dot products are sequential left folds so the doubles are
    bit-identical to the DuckDB list_reduce oracle."""
    from postgresql_topn_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return cosine_topk(emb, queries, k=5)


def _lsh_planes_bk_sql(n_tables: int, n_planes: int, seed: int) -> str:
    """DuckDB CTE fragment computing every vector's per-table LSH sign
    bucket with the same md5-derived planes and the same sequential
    float fold as operators/similarity.py (_hyperplanes / _seq_dots) —
    bit-identical buckets, so the approximate queries below are
    value-oracled end-to-end (the oracle replays the same algorithm,
    not an exact stand-in)."""
    return f"""
    planes AS (
      SELECT t, p, list_transform(range(0, 64),
        d -> (CAST(concat('0x', substr(md5('{seed}:' || CAST(t AS VARCHAR) || ':' ||
                   CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
              / 1152921504606846976.0) - 0.5) AS pl
      FROM range(0, {n_tables}) r1(t), range(0, {n_planes}) r2(p)
    ),
    bk AS (
      SELECT e.vec_id, p.t,
             SUM(CASE WHEN list_reduce(list_transform(range(1, 65),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.pl[i]), (a, b) -> a + b) > 0
                 THEN (1 << p.p) ELSE 0 END) AS bucket
      FROM embeddings e, planes p
      GROUP BY 1, 2
    )"""


_COS_AB = """
         list_reduce(list_transform(range(1, 65),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
         / (sqrt(list_reduce(list_transform(range(1, 65),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, 65),
              i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)))
"""

_IVF_D2 = """
         -2 * list_reduce(list_transform(range(1, 65),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
         + list_reduce(list_transform(range(1, 65),
              i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
"""

# similarity.auto_ivf_params replayed as SQL (VERDICT r11 item 2):
# n_lists = max(1, min(4096, ceil(sqrt(n)))); n_probe = max(1,
# min(n_lists, ceil(scale_eff * sqrt(n_lists)))) with scale_eff =
# 1.5 + 0.5 * max(0, digits(n) - 4) — the r13 digit-growth rule
# (VERDICT r12 item 1c; digits = LENGTH(CAST(n AS VARCHAR)) is
# integer-exact on both engines, the 0.5 steps are exact binary
# halves, and sqrt is IEEE-correctly-rounded, so the values match
# bit-for-bit; at every fixture SF n <= 9,999 so growth adds 0 and
# the committed gate values are unchanged). GREATEST(1, ...) floors
# mirror the Python function's n<2 early return (r12 ADVICE #4).
# The seeded centroid pick becomes `cell < n_lists` over the
# md5-shuffled row number instead of a literal LIMIT.
_IVF_PARAMS_SQL = """
    params AS (
      SELECT CAST(GREATEST(1, LEAST(4096, CEIL(SQRT(COUNT(*))))) AS BIGINT) AS n_lists,
             CAST(GREATEST(1, LEAST(
                  GREATEST(1, LEAST(4096, CEIL(SQRT(COUNT(*))))),
                  CEIL((1.5 + 0.5 * GREATEST(0, LENGTH(CAST(COUNT(*) AS VARCHAR)) - 4))
                       * SQRT(GREATEST(1, LEAST(4096, CEIL(SQRT(COUNT(*)))))))))
                  AS BIGINT) AS n_probe
      FROM embeddings
    ),
    cent AS (
      SELECT cell, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
               embedding AS cv
        FROM embeddings) t
      WHERE cell < (SELECT n_lists FROM params)
    )"""


@_register(
    "ann_lsh_topk",
    f"""
    WITH {_lsh_planes_bk_sql(12, 4, 7)},
    cand AS (
      SELECT DISTINCT 0 AS probe, q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
      UNION
      SELECT DISTINCT 1 AS probe, q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bk q JOIN bk c
        ON q.t = c.t AND bit_count(xor(q.bucket, c.bucket)) <= 1
      WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT cand.probe, cand.query_id, cand.neighbor_id, {_COS_AB} AS sim
      FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                JOIN embeddings b ON b.vec_id = cand.neighbor_id
    )
    SELECT probe, query_id, neighbor_id, "rank", round(sim, 6) AS sim FROM (
      SELECT probe, query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe, query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS "rank"
      FROM scored
    ) t WHERE "rank" <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed top-k, BOTH probe disciplines in one
    gate (round-7 registry consolidation — absorbed the retired
    `ann_lsh_multiprobe` gate): probe=0 is the exact-bucket collision,
    probe=1 additionally matches a table at bucket Hamming distance 1
    (one sign flip) — the classic recall lever without more tables.
    Recall < 1 vs brute force by construction (pytest enforces a floor
    and probe-1-dominates-probe-0), but the OUTPUT is deterministic:
    planes are md5-derived and projections / sims fold
    dimension-sequentially, so the DuckDB oracle replays the identical
    bucket -> candidate -> rerank pipeline for both disciplines and the
    result is value-hash-checked like any exact query."""
    from postgresql_topn_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = lsh_topk(emb, queries, k=5).select(
        F.lit(0).alias("probe"), "query_id", "neighbor_id", "rank", "sim"
    )
    multi = lsh_topk(emb, queries, k=5, probe_hamming=1).select(
        F.lit(1).alias("probe"), "query_id", "neighbor_id", "rank", "sim"
    )
    return exact.unionByName(multi)


@_register(
    "dedup_embedding_near",
    """
    WITH params AS (
      SELECT r, least(64, greatest(1, CASE WHEN p >= 1.0 THEN 1
               ELSE CAST(ceil(ln(1.0 - 0.95) / ln(1.0 - p)) AS BIGINT)
             END)) AS L
      FROM (
        SELECT r, power(1.0 - acos(0.45) / pi(), r) AS p FROM (
          SELECT greatest(1, least(24, CAST(ceil(log2(greatest(
                   CAST(n AS DOUBLE) / 32.0, 2.0))) AS BIGINT))) AS r
          FROM (SELECT count(*) AS n FROM embeddings)
        )
      )
    ),
    planes AS (
      SELECT t, p, list_transform(range(0, 64),
        d -> (CAST(concat('0x', substr(md5('7:' || CAST(t AS VARCHAR) || ':' ||
                   CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)
              / 1152921504606846976.0) - 0.5) AS pl
      FROM range(0, 64) r1(t), range(0, 24) r2(p), params
      WHERE t < params.L AND p < params.r
    ),
    bk AS (
      SELECT e.vec_id, p.t,
             SUM(CASE WHEN list_reduce(list_transform(range(1, 65),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.pl[i]), (a, b) -> a + b) > 0
                 THEN (1 << p.p) ELSE 0 END) AS bucket
      FROM embeddings e, planes p
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM bk x JOIN bk y ON x.t = y.t AND x.bucket = y.bucket
      WHERE x.vec_id < y.vec_id
    ),
    scored AS (
      SELECT cand.id_a, cand.id_b, """ + _COS_AB + """ AS sim
      FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
                JOIN embeddings b ON b.vec_id = cand.id_b
    )
    SELECT id_a, id_b, round(sim, 6) AS sim FROM scored WHERE sim >= 0.45
    """,
)
def dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded-LSH candidates +
    exact rerank, on the SEEDED-AUTO band config (VERDICT r10 item 7 —
    the same treatment the semdedup family got in r10): n_tables and
    n_planes are a pure function of the corpus count via
    auto_lsh_params (r = log2(n/32) keeps expected bucket occupancy
    constant as the corpus grows — the fixed 16x4 config's in-bucket
    work grew ~quadratically, measured 27.7x wall on a 10x corpus; L
    restores recall from the hyperplane collision model, capped at 64),
    and the oracle replays the sizing rule in SQL before replaying the
    identical bucket -> candidate -> rerank pipeline (md5-derived
    planes, dimension-sequential folds), so the result stays
    value-hash-checked end to end.

    The synthetic embeddings have no planted near-dups (max pairwise
    cosine ~0.51), so the threshold sits at 0.45 to exercise the full
    pipeline; at that low threshold the collision model caps L at
    max_tables=64 for large corpora — the documented bounded-cost
    regime (auto_lsh_params docstring: below ~0.8 use IVF/exact).
    Recall vs the exact baseline is < 1 by construction; pytest adds
    the subset-of-exact invariant."""
    from postgresql_topn_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.45, n_tables="auto", n_planes="auto"
    )


@_register(
    "dedup_semantic_clusters",
    f"""
    WITH nsem AS (
      SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) / 200.0) AS BIGINT)) AS k
      FROM embeddings WHERE vec_id IS NOT NULL
    ),
    cent AS (
      SELECT cell, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
               embedding AS cv
        FROM embeddings
      ) c CROSS JOIN nsem WHERE c.cell < nsem.k
    ),
    d AS (
      SELECT e.vec_id, e.embedding, c.cell, {_IVF_D2} AS d2,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                  i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)))
             AS csim
      FROM embeddings e, cent c
    ),
    ranked AS (
      SELECT vec_id, embedding, cluster, csim,
             CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                                     ORDER BY csim ASC, vec_id ASC) AS INT) AS rnk
      FROM (
        SELECT vec_id, embedding, CAST(cell AS INT) AS cluster, csim,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d) t WHERE rn = 1
    ),
    kills AS (
      SELECT b.vec_id AS idb, arg_min(a.vec_id, a.rnk) AS dup_of
      FROM ranked a JOIN ranked b ON a.cluster = b.cluster AND a.rnk < b.rnk
      WHERE {_COS_AB} >= 0.35
      GROUP BY b.vec_id
    )
    SELECT r.vec_id, r.cluster, round(r.csim, 6) AS centroid_sim,
           r.rnk AS "rank", k.idb IS NULL AS keep, k.dup_of
    FROM ranked r LEFT JOIN kills k ON k.idb = r.vec_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-cluster the embeddings
    (seeded md5-shuffled centroids — the IVF oracle contract), rank
    each cluster by centroid-similarity ascending (the paper keeps the
    example FARTHEST from the centroid), and drop any example whose
    cosine to an earlier-ranked cluster member reaches the threshold,
    with the earliest such witness as dup_of. The per-example
    KEEP/DROP decision form of embedding dedup — dedup_embedding_near
    emits candidate PAIRS; this emits the selection a curation
    pipeline applies. Every stage (centroid pick, assignment, rank,
    pairwise cosine, greedy sweep) is replayed value-for-value by the
    DuckDB oracle; cluster assignment itself is a scan-stage Catalyst
    fold (zero exchanges — plan-pinned in tests/test_semdedup.py).

    Round-10 change (the select_mix recipe applied here too): the gate
    runs the SCALE-CORRECT seeded-auto sizing — `n_clusters='auto'`
    (ceil(n/200) md5-seeded centroids), with the oracle replaying the
    sizing rule itself — instead of a fixed 16-cell quantizer whose
    in-cluster pair work grows ~n^2 with the corpus. The gate now pins
    the configuration a production corpus would actually run."""
    from postgresql_topn_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, n_clusters="auto", target_cluster_size=200, threshold=0.35
    )


@_register(
    "text_fingerprints",
    r"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks FROM documents),
    sh AS (SELECT doc_id,
            list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                           i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
           FROM t),
    w AS (SELECT doc_id,
            CASE WHEN len(hs) >= 4
                 THEN list_transform(range(1, len(hs) - 3 + 1), i -> list_min(hs[i:i+3]))
                 WHEN len(hs) > 0 THEN [list_min(hs)]
                 ELSE [] END AS mins
          FROM sh)
    SELECT 'winnow' AS mode, doc_id,
           unnest(list_sort(list_distinct(mins))) AS fp
    FROM w
    UNION ALL
    SELECT 'bow' AS mode, doc_id,
           md5(list_aggregate(list_sort(list_distinct(toks)), 'string_agg', ' ')) AS fp
    FROM t
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH document-fingerprint lanes in one gate (round-7 registry
    consolidation — absorbed the retired `text_winnow` +
    `text_fingerprint` gates; both stay value-pinned):

    - mode 'winnow': winnowing fingerprints (plagiarism-style local
      fingerprinting: min hash per sliding window of 4 3-token
      shingles), exploded to one row per fingerprint. The md5-digest
      variant so the VALUES are oracle-checked cross-engine; the
      xxhash64 long variant (fingerprint_winnow) is the cheaper form
      to index at scale and is pytest-covered.
    - mode 'bow': the whole-document bag-of-words fingerprint
      (md5 of the sorted distinct token set), one row per doc."""
    from postgresql_topn_spark.operators.text import (
        fingerprint_md5,
        fingerprint_winnow_md5,
    )

    docs = load_table(spark, sf_dir, "documents")
    winnow = docs.select(
        F.lit("winnow").alias("mode"),
        "doc_id",
        F.explode(fingerprint_winnow_md5("text")).alias("fp"),
    )
    bow = docs.select(
        F.lit("bow").alias("mode"),
        "doc_id",
        fingerprint_md5("text").alias("fp"),
    )
    return winnow.unionByName(bow)


@_register(
    "ann_ivf_topk",
    f"""
    WITH {_IVF_PARAMS_SQL},
    d AS (
      SELECT e.vec_id, c.cell, {_IVF_D2} AS d2
      FROM embeddings e, cent c
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d) t WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d WHERE vec_id % 100 = 0) t WHERE rn <= (SELECT n_probe FROM params)
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {_COS_AB} AS sim
      FROM cand JOIN embeddings a ON a.vec_id = cand.query_id
                JOIN embeddings b ON b.vec_id = cand.neighbor_id
    ),
    ivfk AS (
      SELECT query_id, neighbor_id, "rank", round(sim, 6) AS sim FROM (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS "rank"
        FROM scored
      ) t WHERE "rank" <= 5
    ),
    exactk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_COS_AB} DESC, b.vec_id ASC) AS rn
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id % 1000 = 0
      ) t WHERE rn <= 5
    ),
    rec AS (
      SELECT e.query_id,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM exactk e
      LEFT JOIN (SELECT DISTINCT query_id, neighbor_id FROM ivfk) i
             USING (query_id, neighbor_id)
      GROUP BY e.query_id
    )
    SELECT k.query_id, k.neighbor_id, k."rank", k.sim, rec.n_hit,
           round(CAST(rec.n_hit AS DOUBLE) / rec.n_exact, 6) AS recall_at_5
    FROM ivfk k LEFT JOIN rec ON rec.query_id = k.query_id
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k (probe the 4 nearest of 16 cells): the other standard
    ANN scale path next to LSH. Runs the deterministic seeded-centroid
    mode (md5-shuffled corpus sample; similarity._seeded_ivf_centroids)
    so the DuckDB oracle replays the identical centroid pick, cell
    assignment, probe selection and cosine rerank — value-hash-checked
    end-to-end like ann_lsh_topk. The trained-KMeans mode keeps its
    pytest recall floor.

    Round-9 lane merge (VERDICT r8 item 2): result rows also carry the
    per-query `ann_recall` measurement against the exact `cosine_topk`
    spine (n_hit of the exact top-5 recovered + recall@5), so the
    FAISS/ScaNN-style tuning metric itself is DuckDB-verified by the
    driver — the oracle independently computes the exact top-5 and the
    intersection.

    Round-10 change (VERDICT r9 item 7): the recall spine runs on a
    SAMPLED query set (vec_id % 1000) while serving keeps the full
    query set (vec_id % 100) — the production discipline for recall
    tuning. The exact spine is the one quadratic-in-|Q|x|corpus| piece
    of the gate (the r9 100x ratio of 50.9 was entirely this
    measurement cost); sampling it 10x restores ~linear growth while
    the metric stays driver-oracled on the sampled queries. Unsampled
    queries carry NULL n_hit/recall_at_5 (left join) — absence means
    unmeasured, never 0. The recall join is a broadcast of a
    <=|sample|-row aggregate; queries the index misses entirely would
    report recall 0 via `ann_recall`'s exact-side spine but have no
    result rows to carry it — the library operator keeps that failure
    visible, the gate shows recall on returned rows.

    Round-12 change (VERDICT r11 item 2): the fixed (n_lists=16,
    n_probe=4) config — the last fixed-capacity ANN configuration in a
    gate — is retired for `auto_ivf_params` (n_lists = ceil(sqrt(n))
    capped at 4096; n_probe = ceil(1.5 * sqrt(n_lists))), a pure
    function of the corpus count the oracle replays as a params CTE.
    Constant cells meant each probe scanned ~n_probe/n_lists of the
    corpus with occupancy growing linearly; sqrt-sizing makes probe
    candidate work ~n^(3/4) while the committed STATUS probe table
    shows recall at-or-above the fixed config's at equal-or-lower
    candidate cost."""
    from postgresql_topn_spark.operators.similarity import (
        ann_recall,
        auto_ivf_params,
        cosine_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists, n_probe = auto_ivf_params(emb.count())
    queries = emb.where(F.col("vec_id") % 100 == 0)
    sampled = queries.where(F.col("vec_id") % 1000 == 0)
    ivf = ivf_topk(
        emb,
        queries,
        k=5,
        n_lists=n_lists,
        n_probe=n_probe,
        centroid_mode="seeded",
    )
    exact = cosine_topk(emb, sampled, k=5)
    rec = ann_recall(ivf, exact)
    return ivf.join(
        F.broadcast(
            rec.select(
                "query_id", "n_hit", F.col("recall").alias("recall_at_5")
            )
        ),
        "query_id",
        "left",
    ).select(
        "query_id", "neighbor_id", "rank", "sim", "n_hit", "recall_at_5"
    )


@_register(
    "ann_ivfpq_topk",
    f"""
    WITH {_IVF_PARAMS_SQL},
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code_id,
             embedding AS sv
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    d AS (
      SELECT e.vec_id, c.cell, {_IVF_D2} AS d2
      FROM embeddings e, cent c
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d) t WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d WHERE vec_id % 100 = 0) t WHERE rn <= (SELECT n_probe FROM params)
    ),
    sq AS (
      SELECT js.j, s.code_id,
             list_reduce(list_transform(range(1, 9),
               i -> CAST(s.sv[js.j*8 + i] AS DOUBLE) * CAST(s.sv[js.j*8 + i] AS DOUBLE)),
               (x, y) -> x + y) AS s2
      FROM (SELECT unnest(range(8)) AS j) js, seeds s
    ),
    jd AS (
      SELECT e.vec_id, sq.j, sq.code_id,
             -2 * list_reduce(list_transform(range(1, 9),
               i -> CAST(e.embedding[sq.j*8 + i] AS DOUBLE) * CAST(s.sv[sq.j*8 + i] AS DOUBLE)),
               (x, y) -> x + y) + sq.s2 AS d2
      FROM embeddings e CROSS JOIN sq JOIN seeds s ON s.code_id = sq.code_id
    ),
    codes AS (
      SELECT vec_id, j, code_id FROM (
        SELECT vec_id, j, code_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, code_id ASC) AS rn
        FROM jd) t WHERE rn = 1
    ),
    lut AS (
      SELECT qv.vec_id AS query_id, sq.j, sq.code_id,
             list_reduce(list_transform(range(1, 9),
               i -> CAST(qv.embedding[sq.j*8 + i] AS DOUBLE) * CAST(s.sv[sq.j*8 + i] AS DOUBLE)),
               (x, y) -> x + y) AS dp
      FROM embeddings qv CROSS JOIN sq JOIN seeds s ON s.code_id = sq.code_id
      WHERE qv.vec_id % 100 = 0
    ),
    qn AS (
      SELECT vec_id AS query_id,
             sqrt(list_reduce(list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
               (x, y) -> x + y)) AS qn
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             list_reduce(list(l.dp ORDER BY co.j), (x, y) -> x + y) AS adot,
             list_reduce(list(s.s2 ORDER BY co.j), (x, y) -> x + y) AS xsq
      FROM cand c
      JOIN codes co ON co.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id AND l.j = co.j AND l.code_id = co.code_id
      JOIN sq s ON s.j = co.j AND s.code_id = co.code_id
      GROUP BY c.query_id, c.neighbor_id
    ),
    scored AS (
      SELECT a.query_id, a.neighbor_id, a.adot / (q.qn * sqrt(a.xsq)) AS sim
      FROM adc a JOIN qn q ON q.query_id = a.query_id
    )
    SELECT query_id, neighbor_id, "rank", round(sim, 6) AS sim FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS "rank"
      FROM scored
    ) t WHERE "rank" <= 5
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k — the billion-vector memory-compression ANN path
    (Jégou et al. 2011): 16 coarse cells pruned to 4 probes, candidates
    scored through 8x16 product-quantization codes via the ADC lookup
    table (32-bit codes instead of 256-byte vectors — what an index
    SHIPS at 10^9 vectors). Runs the deterministic seeded mode (both
    quantizers are md5-shuffled corpus samples, every fold
    dimension-sequential, ADC sums ascending-j left folds), so the
    oracle replays encoding, LUT, ADC scores and ranking
    value-for-value — the PQ approximation itself is hash-checked, not
    just its recall. Trained mode (Lloyd's per subspace) keeps a pytest
    recall floor.

    Round-12 change (VERDICT r11 item 2): the coarse quantizer sizes
    itself via `auto_ivf_params` (oracle-replayed params CTE), same as
    ann_ivf_topk. The PQ geometry (m=8 subspaces, n_codes=16 per
    codebook) stays FIXED by design — codebook size sets quantization
    precision per vector, not per-corpus capacity, so it has no
    linear-occupancy trap to retire."""
    from postgresql_topn_spark.operators.similarity import (
        auto_ivf_params,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_lists, n_probe = auto_ivf_params(emb.count())
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ivfpq_topk(
        emb,
        queries,
        k=5,
        n_lists=n_lists,
        n_probe=n_probe,
        m=8,
        n_codes=16,
        centroid_mode="seeded",
    )


@_register(
    "stream_topn_rollup_monthly",
    """
    SELECT yr, mon, item, frequency FROM (
      SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mon,
             event_type AS item, COUNT(event_type) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(ts), month(ts)
                                ORDER BY COUNT(event_type) DESC, event_type ASC) AS rn
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), month(ts), event_type
    ) t WHERE rn <= 5
    """,
)
def stream_topn_rollup_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-EXECUTED rollup: the events fixture replayed through a
    Structured Streaming file source with Trigger.AvailableNow; every
    micro-batch appends exact batch-local sketches to a parquet rollup
    (foreachBatch + checkpoint — streaming/topn_stream.py), then the
    batch read side merges the appended deltas with topn_union_agg and
    extracts the monthly top-5. Sketch-delta merge is associative, so
    the result is identical however availableNow splits the input into
    batches — which is exactly the incremental-rollup contract
    (README.md:73-116) this pattern carries to unbounded streams."""
    import os
    import tempfile

    from postgresql_topn_spark.streaming.topn_stream import (
        read_topn_rollup as stream_read_rollup,
        stream_topn_rollup,
    )

    load_table(spark, sf_dir, "events")  # sets the nanos-as-long conf
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = _scratch_dir("topn_stream_rollup_")
    # the file stream source wants a DIRECTORY of files to watch;
    # stage the fixture into one (symlinks — no copy)
    src_dir = _stage_stream_source(sf_dir, "events", base)
    src = _stream_event_time(
        spark.readStream.schema(raw.schema).parquet(src_dir), raw
    )
    # r13: foreachBatch inner aggs + sink writes run AQE-less at the
    # raw conf — size the drain's partitions from the source bytes
    with _stream_drain_parts(spark, src_dir):
        q = stream_topn_rollup(
            src,
            [F.year("ts").alias("yr"), F.month("ts").alias("mon")],
            "event_type",
            rollup_path=os.path.join(base, "rollup"),
            checkpoint_path=os.path.join(base, "ckpt"),
            counters=C,
            trigger_available_now=True,
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming rollup did not drain in 600s")
    merged = stream_read_rollup(
        spark, os.path.join(base, "rollup"), ["yr", "mon"], counters=C
    )
    return explode_topn(merged, "topn", 5, keep=["yr", "mon"], counters=C)


@_register(
    "events_sessionize",
    """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
    ),
    x AS (SELECT user_id, ts,
                 CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_idx
          FROM s)
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           date_diff('microsecond', MIN(ts), MAX(ts)) AS duration_us
    FROM x GROUP BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) with per-session
    stats — the behavioral windowing every event pipeline needs before
    per-session rollups. One user-key exchange serves the lag window,
    the running session counter AND the summary aggregate; interval
    arithmetic is microsecond-exact on both engines."""
    from postgresql_topn_spark.operators.sessions import session_stats

    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "user_id", "ts", gap_minutes=30)


@_register(
    "text_repetition",
    r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks,
                      string_split(text, chr(10)) AS lines
               FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS dup_token_frac,
           round(list_max(list_transform(list_distinct(toks),
                   tk -> len(list_filter(toks, x -> x = tk)))) / CAST(len(toks) AS DOUBLE), 6) AS top_token_frac,
           round(1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE), 6) AS dup_line_frac
    FROM t
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition pre-filter signals
    (duplicate-token fraction, most-frequent-token share, duplicate-line
    fraction) — one pure-expression projection, no shuffle. The Spark
    side finds the top token with an O(L log L) sorted-run fold; the
    oracle brute-forces per-token counts — identical integers, identical
    divisions."""
    from postgresql_topn_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    s = repetition_signals("text").alias("__s")
    return docs.select("doc_id", s).select(
        "doc_id",
        F.col("__s.n_tokens").alias("n_tokens"),
        F.round("__s.dup_token_frac", 6).alias("dup_token_frac"),
        F.round("__s.top_token_frac", 6).alias("top_token_frac"),
        F.round("__s.dup_line_frac", 6).alias("dup_line_frac"),
    )


@_register(
    "text_token_counts",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_topn_spark.operators.text import bpe_token_count, ws_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


@_register(
    "text_lang_id",
    """
    WITH s AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) AS INT) AS en,
        CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS INT) AS de,
        CAST(len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b')) AS INT) AS es,
        CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS INT) AS fr
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
           WHEN en = greatest(en, de, es, fr) THEN 'en'
           WHEN de = greatest(en, de, es, fr) THEN 'de'
           WHEN es = greatest(en, de, es, fr) THEN 'es'
           ELSE 'fr' END AS lang,
      greatest(en, de, es, fr) AS score
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_topn_spark.operators.text import lang_id, lang_scores

    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        lang_id("text").alias("lang"),
        F.greatest(*scores.values()).alias("score"),
    )


@_register(
    "topn_tokens_by_lang",
    """
    WITH s AS (
      SELECT text,
        CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) AS INT) AS en,
        CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS INT) AS de,
        CAST(len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b')) AS INT) AS es,
        CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS INT) AS fr
      FROM documents
    ),
    lt AS (
      SELECT CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
                  WHEN en = greatest(en, de, es, fr) THEN 'en'
                  WHEN de = greatest(en, de, es, fr) THEN 'de'
                  WHEN es = greatest(en, de, es, fr) THEN 'es'
                  ELSE 'fr' END AS lang,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS item
      FROM s
    )
    SELECT lang, item, frequency FROM (
      SELECT lang, item, COUNT(item) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY COUNT(item) DESC, item ASC) AS rn
      FROM lt GROUP BY lang, item
    ) t WHERE rn <= 10
    """,
)
def topn_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch composed with the text operators — the shape a
    training-data pipeline actually runs: language-ID each document
    (operators/text.lang_id), explode whitespace tokens, and build one
    top-10 token sketch PER LANGUAGE with topn_add_agg. Vocabulary
    statistics per language over a whole corpus is exactly the
    heavy-hitter problem the reference extension exists for; at scale
    the token explode stays map-side and the sketch aggregation
    shuffles only partial (lang, token) counts.

    lang_id and the token array are materialized in their OWN select
    before the explode: inlining lang_id next to the explode lets
    project collapsing hoist the 4-regex scoring chain above the
    Generate, re-evaluating it once per TOKEN row instead of once per
    document (measured 27.4s vs 1.9s at sf0.1)."""
    from postgresql_topn_spark.operators.text import lang_id, tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        lang_id("text").alias("lang"), tokens("text").alias("__toks")
    )
    toks = base.select("lang", F.explode("__toks").alias("tok"))
    sk = topn_add_agg(toks, ["lang"], "tok", counters=C)
    return explode_topn(sk, "topn", 10, keep=["lang"], counters=C)


@_register("pipeline_curation", _curation_oracle_sql())
def pipeline_curation(
    spark: SparkSession, sf_dir: str, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """The end-to-end corpus-curation pipeline, round-9 form: the
    filter stage is the PUBLISHED C4+Gopher stack (Raffel 2020 /
    Rae 2021 — the chain every modern curation run starts from;
    VERDICT r8 item 1) instead of the repo's ad-hoc quality_score:

    1. signals — `c4_clean`, `gopher_quality_signals` and
       `gopher_repetition_signals` computed per document in one scan
       projection (pure Catalyst, no shuffle);
    2. rule filter — the published thresholds that are meaningful on a
       markup-free corpus: Gopher's word-count window [50, 100000],
       mean-word-length window [3, 10], symbol-word ratio <= 0.1,
       alphabetic-word fraction >= 0.8, the FULL 13-rule repetition
       verdict (`rep.passes`), and C4's page-content rules (no
       "lorem ipsum", no '{'). The markup-bound rules — C4's
       terminal-punctuation line filter + sentence floor and Gopher's
       stopword/bullet/ellipsis line rules — are computed (their
       signal values are oracle-checked below) but not applied: the
       driver fixture has no newlines or punctuation, so they are
       non-binding here by construction; their discriminative behavior
       is pinned on the edge-row corpus in test_gopher.py. Toggling
       individual published rules per corpus is exactly how the
       descendant pipelines (Dolma/RefinedWeb) run this stack.
    3. dedup — 3-shingle Jaccard >= 0.5 inverted-index pairs over the
       survivors, transitive closure, canonical (min-id) keepers.

    Output carries value columns from all THREE structs (n_words /
    mean_word_len / alpha_word_frac from quality; top_2gram_char_frac /
    dup_5gram_char_frac from repetition; n_lines_kept / n_sentences
    from C4), so the driver's DuckDB oracle — an independent
    explode+group replay of every signal plus the pair join, recursive
    closure and keeper rule — value-checks each struct's arithmetic
    AND the composition.

    Execution shape: two scan-stage projections in CASCADE — the
    cheap quality/C4 rules filter first (pure Catalyst), and the
    9-family repetition verdict (the expensive stage) evaluates only
    on their survivors via the Arrow kernel
    (`gopher_repetition_signals_pandas`, round 10 — 4.1x the
    interpreted-HOF form, value-pinned identical in test_gopher.py;
    the oracle still replays the Catalyst semantics) — then ONE stage
    cut, so the signal pass runs once however many branches (pair
    join's two sides, the final keeper join) read the survivor set.
    `checkpoint_dir=` upgrades the cut and the closure's loop state to
    reliable storage (the flagship-pipeline contract)."""
    from postgresql_topn_spark.operators.checkpointing import stage_cut
    from postgresql_topn_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    sig = curation_signal_cascade(docs)
    filt = stage_cut(
        sig.where("__keep_rep").drop("__keep_rep"), checkpoint_dir
    )
    edges = jaccard_pairs(filt, "doc_id", "text", threshold=0.5, k=3)
    comp = connected_components(
        edges, "doc_a", "doc_b", checkpoint_dir=checkpoint_dir
    )
    return (
        filt.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .where(F.coalesce("component", "doc_id") == F.col("doc_id"))
        .drop("text", "component")
    )


def curation_signal_cascade(
    docs: DataFrame, kernel: str = "arrow"
) -> DataFrame:
    """The published-rule signal pass of `pipeline_curation`, exposed
    for plan audits: cheap quality/C4 rules filter first, the 9-family
    repetition verdict evaluates only on their survivors. Returns the
    survivor candidates with their signal columns + the final
    `__keep_rep` verdict column.

    `kernel` picks the repetition-stage implementation (round 10,
    VERDICT r9 item 3 — identical values, pinned in test_gopher.py):

    - 'arrow' (default): `gopher_repetition_signals_pandas`, one
      Arrow-batched mapInPandas stage. The Catalyst HOF folds are
      interpreted (~2.4 ms/doc; the #1 CPU cost in the suite) and the
      numpy/Python kernel measures 4.1x faster at sf0.1 — still no
      shuffle, embarrassingly parallel, but one Python stage in the
      plan (the cheap-rule stage stays pure Catalyst, so column-prune
      + pushdown still reach the scan below it).
    - 'catalyst': the pure-expression form — zero Python, zero
      shuffles (the plan property pinned in tests/test_plans.py); the
      form every SQL oracle replays.
    """
    from postgresql_topn_spark.operators.dedup import spread_small_scan
    from postgresql_topn_spark.operators.text import (
        c4_clean,
        gopher_quality_signals,
        gopher_repetition_signals,
        gopher_repetition_signals_pandas,
    )

    if kernel not in ("arrow", "catalyst"):
        raise ValueError(f"kernel must be 'arrow' or 'catalyst': {kernel}")

    # the signal pass is the per-row hot leg of the whole pipeline —
    # spread a starved single-file scan before it (no-op at cluster
    # scale; measured 2.75 -> 1.51 s for the cascade at sf0.1, where
    # the documents scan is ONE task)
    docs = spread_small_scan(docs, docs)
    cheap = (
        docs.select(
            "doc_id",
            "text",
            gopher_quality_signals("text").alias("__q"),
            c4_clean("text").alias("__c4"),
        )
        .select(
            "doc_id",
            "text",
            F.col("__q.n_words").alias("n_words"),
            F.col("__q.mean_word_len").alias("mean_word_len"),
            F.col("__q.alpha_word_frac").alias("alpha_word_frac"),
            F.col("__c4.n_lines_kept").alias("n_lines_kept"),
            F.col("__c4.n_sentences").alias("n_sentences"),
            (
                F.col("__q.n_words").between(50, 100_000)
                & F.col("__q.mean_word_len").between(3.0, 10.0)
                & (F.col("__q.symbol_word_ratio") <= 0.1)
                & (F.col("__q.alpha_word_frac") >= 0.8)
                & ~F.lower(F.col("text")).contains("lorem ipsum")
                & ~F.col("text").contains("{")
            ).alias("__keep_q"),
        )
        .where("__keep_q")
        .drop("__keep_q")
    )
    if kernel == "arrow":
        rep = gopher_repetition_signals_pandas(cheap, "text")
        return rep.select(
            "doc_id",
            "text",
            "n_words",
            "mean_word_len",
            "alpha_word_frac",
            F.col("rep_top_2gram_char_frac").alias("top_2gram_char_frac"),
            F.col("rep_dup_5gram_char_frac").alias("dup_5gram_char_frac"),
            "n_lines_kept",
            "n_sentences",
            F.col("rep_passes").alias("__keep_rep"),
        )
    return cheap.select(
        "doc_id",
        "text",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        gopher_repetition_signals("text").alias("__rep"),
        "n_lines_kept",
        "n_sentences",
    ).select(
        "doc_id",
        "text",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        F.col("__rep.top_2gram_char_frac").alias("top_2gram_char_frac"),
        F.col("__rep.dup_5gram_char_frac").alias("dup_5gram_char_frac"),
        "n_lines_kept",
        "n_sentences",
        F.col("__rep.passes").alias("__keep_rep"),
    )


@_register(
    "pipeline_select_mix",
    f"""
    WITH RECURSIVE s0 AS (
      SELECT doc_id, text, lang,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS DOUBLE) AS n_tok,
        CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|is|in|it|on|for)\\b')) AS DOUBLE) AS stop_cnt,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS punct_cnt,
        CAST(length(text) AS DOUBLE) AS n_chars
      FROM documents
    ),
    filt AS (
      SELECT * FROM (
        SELECT doc_id, text, lang,
          round(least(n_tok / 100.0, 1.0) * 0.5
                + least(stop_cnt / n_tok * 3.0, 1.0) * 0.3
                + (1.0 - least(punct_cnt / n_chars * 10.0, 1.0)) * 0.2, 6) AS score
        FROM s0
      ) WHERE score >= 0.45
    ),
    pairs AS ({_jaccard_oracle_sql("filt", 0.5)}),
    e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    reach(n, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT reach.n, e.d FROM reach JOIN e ON reach.r = e.s
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS component FROM reach GROUP BY n),
    nd AS (
      SELECT f.* FROM filt f LEFT JOIN comp c USING (doc_id)
      WHERE COALESCE(c.component, f.doc_id) = f.doc_id
    ),
    semsrc AS (
      SELECT nd.doc_id AS vec_id, emb.embedding
      FROM nd JOIN embeddings emb ON emb.vec_id = nd.doc_id
    ),
    nsem AS (
      SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) / 200.0) AS BIGINT)) AS k
      FROM semsrc
    ),
    cent AS (
      SELECT cell, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
               embedding AS cv
        FROM semsrc
      ) c CROSS JOIN nsem WHERE c.cell < nsem.k
    ),
    d AS (
      SELECT e.vec_id, e.embedding, c.cell, {_IVF_D2} AS d2,
             list_reduce(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 65),
                  i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)))
             AS csim
      FROM semsrc e, cent c
    ),
    ranked AS (
      SELECT vec_id, embedding, cluster, csim,
             CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                                     ORDER BY csim ASC, vec_id ASC) AS INT) AS rnk
      FROM (
        SELECT vec_id, embedding, CAST(cell AS INT) AS cluster, csim,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d) t WHERE rn = 1
    ),
    kills AS (
      SELECT b.vec_id AS idb
      FROM ranked a JOIN ranked b ON a.cluster = b.cluster AND a.rnk < b.rnk
      WHERE {_COS_AB} >= 0.4
      GROUP BY b.vec_id
    ),
    pool AS (
      SELECT nd.* FROM nd
      JOIN ranked r ON r.vec_id = nd.doc_id
      LEFT JOIN kills k ON k.idb = nd.doc_id
      WHERE k.idb IS NULL
    ),
    toksp AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS t
      FROM pool
    ),
    feats AS (
      SELECT doc_id,
             unnest(list_concat(t,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                              i -> t[i] || ' ' || t[i+1]))) AS f
      FROM toksp
    ),
    fb AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 2048 AS bucket
      FROM feats
    ),
    docfeat AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM fb GROUP BY doc_id, bucket
    ),
    rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY bucket),
    tgtc AS (
      SELECT fb.bucket, CAST(count(*) AS BIGINT) AS ct
      FROM fb JOIN pool USING (doc_id) WHERE pool.lang = 'en' GROUP BY fb.bucket
    ),
    tot AS (
      SELECT CAST((SELECT sum(cr) FROM rawc) AS DOUBLE) AS tr,
             CAST(COALESCE((SELECT sum(ct) FROM tgtc), 0) AS DOUBLE) AS tt
    ),
    model AS (
      SELECT r.bucket,
             CAST(round(((ln(CAST(COALESCE(t2.ct, 0) AS DOUBLE) + 1.0) - ln(tt + 2048.0))
                         - (ln(CAST(r.cr AS DOUBLE) + 1.0) - ln(tr + 2048.0)))
                        * 1000000.0, 0) AS BIGINT) AS lr_micro
      FROM rawc r LEFT JOIN tgtc t2 USING (bucket) CROSS JOIN tot
    ),
    w AS (
      SELECT df.doc_id, CAST(sum(df.cnt) AS BIGINT) AS n_feats,
             CAST(sum(df.cnt * m.lr_micro) AS BIGINT) AS logw_micro
      FROM docfeat df JOIN model m USING (bucket)
      GROUP BY df.doc_id
    ),
    allw AS (
      SELECT p.doc_id, p.score, COALESCE(w.n_feats, 0) AS n_feats,
             COALESCE(w.logw_micro, 0) AS logw_micro
      FROM pool p LEFT JOIN w USING (doc_id)
    ),
    keyed AS (
      SELECT doc_id, score, n_feats, logw_micro,
             CAST(round(CAST(logw_micro AS DOUBLE) / 1.0, 0) AS BIGINT)
             + CAST(round(-ln(-ln((CAST(CAST(concat('0x',
                     substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     AS DOUBLE) + 0.5) / 1152921504606846976.0))
                    * 1000000.0, 0) AS BIGINT) AS key_micro
      FROM allw
    )
    SELECT doc_id, score, n_feats, logw_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id ASC LIMIT 40
    """,
)
def pipeline_select_mix(
    spark: SparkSession, sf_dir: str, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """The FLAGSHIP data-selection composition (VERDICT r6 item 3):
    the two round-6 selection primitives chained AFTER token-level
    dedup, the order a real pretraining-curation pipeline runs them,
    as ONE dataflow over documents + embeddings:

      1. quality floor  — quality_score >= 0.45 (scan-stage JVM
         regex), ALL languages (the language targeting belongs to
         DSIR, not a hard filter);
      2. near-dup removal — 3-shingle Jaccard >= 0.5 inverted-index
         pairs -> transitive closure -> keep each cluster's min-id
         canonical (the pipeline_curation stage);
      3. SEMANTIC dedup — survivors join their embeddings and
         semantic_dedup (seeded-AUTO clusters: ceil(n/200) md5-seeded
         centroids, cosine >= 0.4) drops paraphrase-level duplicates
         token dedup can't see. Round-10 change (VERDICT r9 missing
         #2): the stage runs the SCALE-CORRECT auto sizing — expected
         cluster size, and with it the per-cluster quadratic pair
         work, stays constant as the corpus grows — and the oracle
         replays the sizing rule itself (cluster count a pure function
         of the survivor count, centroids md5-seeded), retiring the
         fixed-12-cell ~n^2 oracle configuration;
      4. DSIR resample — importance-weight the surviving pool toward
         its own lang='en' slice (hashed bigrams, 2048 buckets) and
         Gumbel-top-k 40 documents.

    The oracle replays ALL FOUR stages value-for-value (quality
    formula, pair join + recursive closure, centroid pick ->
    assignment -> rank -> greedy sweep, model -> integer weights ->
    Gumbel keys -> selection), so the COMPOSITION — every stage
    consuming exactly the previous stage's survivor set — is what the
    hash pins, not just the stages in isolation.

    `checkpoint_dir=None` cuts stage lineage with executor-local
    blocks; pass an HDFS/S3 path for RELIABLE stage boundaries — the
    survivor sets then persist to shared storage (the production
    materialization discipline) and an executor loss replays nothing
    upstream. Same values either way (pytest-pinned)."""
    from postgresql_topn_spark.operators.checkpointing import stage_cut
    from postgresql_topn_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )
    from postgresql_topn_spark.operators.dsir import dsir_resample
    from postgresql_topn_spark.operators.semdedup import semantic_dedup
    from postgresql_topn_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # NOT spread at the gate (r13): a gate-level spread of the quality
    # stage stacks a second round-robin exchange under jaccard_pairs'
    # internal one and measured SLOWER (paired A/B +0.9 s med); the
    # heavy shingle/md5 leg is already spread inside _shingle_postings
    scored = docs.select(
        "doc_id", "text", "lang", quality_score("text").alias("score")
    )
    filt = scored.where(F.col("score") >= 0.45)
    edges = jaccard_pairs(filt, "doc_id", "text", threshold=0.5, k=3)
    comp = connected_components(
        edges, "doc_a", "doc_b", checkpoint_dir=checkpoint_dir
    )
    # Lineage cuts at the two stage boundaries: semantic_dedup fans
    # its corpus into three branches and DSIR reads its pool four
    # times (model raw+target, doc features, id spine) — without the
    # cuts each branch re-executes the quality + pair-join + closure
    # chain (~10x re-run, measured 14s -> ~4s at sf0.1). A production
    # pipeline materializes survivor sets between stages for exactly
    # this reason — and with `checkpoint_dir` set the cut IS that
    # materialization (shared storage, survives executor loss).
    nd = stage_cut(
        filt.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .where(F.coalesce("component", "doc_id") == F.col("doc_id"))
        .drop("component"),
        checkpoint_dir,
    )
    sem = semantic_dedup(
        nd.join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        ).select("doc_id", "embedding"),
        id_col="doc_id",
        vec_col="embedding",
        n_clusters="auto",
        target_cluster_size=200,
        threshold=0.4,
    )
    pool = stage_cut(
        nd.join(sem.where("keep").select("doc_id"), "doc_id"), checkpoint_dir
    )
    sel = dsir_resample(
        pool,
        pool.where(F.col("lang") == "en"),
        id_col="doc_id",
        text_col="text",
        k=40,
        n_buckets=2048,
        seed=0,
    )
    return sel.join(pool.select("doc_id", "score"), "doc_id").select(
        "doc_id", "score", "n_feats", "logw_micro", "key_micro"
    )


@_register(
    "pipeline_token_budget",
    """
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    tt AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS t FROM d),
    ts AS (
      SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t_s
      FROM d WHERE lang IS NOT NULL GROUP BY lang
    ),
    r AS (
      SELECT lang,
             CASE WHEN t_s <= 0
                  THEN CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END
                  ELSE round(least(1.0, ((0.6 * tt.t) * w) / CAST(t_s AS DOUBLE)), 9)
             END AS rate
      FROM (SELECT lang, t_s,
                   CASE lang WHEN 'en' THEN 0.2 WHEN 'de' THEN 0.35
                             WHEN 'es' THEN 0.2 WHEN 'zh' THEN 0.25
                             ELSE 0.0 END AS w
            FROM ts) CROSS JOIN tt
    )
    SELECT d.doc_id, d.lang, d.n_tok, r.rate
    FROM d JOIN r USING (lang)
    WHERE CAST(concat('0x', substr(md5('11:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          / 1152921504606846976.0 < r.rate
    """,
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-to-budget sampling (`token_budget_mix`) — the step every
    published pretraining recipe ends with (the Pile / Dolma publish
    exactly this table: per-source token counts, target weights,
    resulting sampling rates): assemble 60% of the corpus's token mass
    at lang proportions en 0.2 / de 0.35 / es 0.2 / zh 0.25, fr absent
    from the recipe (the weights ARE the allowlist -> rate 0). The de
    weight deliberately over-allocates a ~15%-of-mass language so the
    min(1, .) WITHOUT-REPLACEMENT cap binds (a source contributes at
    most itself) while en is genuinely down-sampled — both regimes in
    one gate. Rates are one rounded double op over integer hash-agg
    totals and the keep decision is the portable md5 key-uniform, so
    the oracle replays the sampled OUTPUT (incl. the audit rate
    column), not just the rate table. Scan-stage filter + one
    |langs|-row hash-agg at any scale."""
    from postgresql_topn_spark.operators.sampling import token_budget_mix
    from postgresql_topn_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    # lazy budget (r14, §2.4): the old collect() of the token total was
    # a construction-time job barrier; the 1-row aggregate now rides
    # the mix's own job (bit-identical rates — see token_budget_mix)
    return token_budget_mix(
        d,
        "lang",
        "doc_id",
        "n_tok",
        budget=d.agg(
            (F.lit(0.6) * F.sum("n_tok").cast("double")).alias("__b")
        ),
        weights={"en": 0.2, "de": 0.35, "es": 0.2, "zh": 0.25},
        seed=11,
        rate_col="rate",
    )


@_register(
    "pipeline_ppl_buckets",
    """
    WITH tokall AS (
      SELECT doc_id, t.tok
      FROM documents,
           LATERAL (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS tok) t
      WHERE t.tok <> ''
    ),
    reftok AS (
      SELECT t.tok
      FROM documents,
           LATERAL (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS tok) t
      WHERE documents.lang = 'en' AND t.tok <> ''
    ),
    model AS (SELECT tok, count(*) AS cnt FROM reftok GROUP BY tok),
    total AS (SELECT sum(cnt) AS t FROM model),
    modlp AS (
      SELECT tok,
             CAST(round((ln(CAST(cnt AS DOUBLE)) - ln(CAST(t AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS lpm
      FROM model CROSS JOIN total
    ),
    floorv AS (SELECT min(lpm) - 1000000 AS fl FROM modlp),
    scored AS (
      SELECT a.doc_id, coalesce(m.lpm, f.fl) AS lpm
      FROM tokall a LEFT JOIN modlp m USING (tok) CROSS JOIN floorv f
    ),
    sums AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(lpm) AS s
      FROM scored GROUP BY doc_id
    ),
    sc AS (
      SELECT doc_id, n_tokens,
             CAST(round(-CAST(s AS DOUBLE) / n_tokens, 0) AS BIGINT) AS ppl_micro
      FROM sums
    ),
    rk AS (
      SELECT ppl_micro,
             ROW_NUMBER() OVER (ORDER BY ppl_micro ASC, doc_id ASC) AS rn
      FROM sc
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
    cutrow AS (
      SELECT max(CASE WHEN rn = CAST(floor((nn.n * 1 + 2) / 3) AS BIGINT)
                      THEN ppl_micro END) AS c0,
             max(CASE WHEN rn = CAST(floor((nn.n * 2 + 2) / 3) AS BIGINT)
                      THEN ppl_micro END) AS c1
      FROM rk CROSS JOIN nn
    )
    SELECT sc.doc_id, sc.n_tokens, sc.ppl_micro,
           CASE WHEN sc.ppl_micro <= c.c0 THEN 'head'
                WHEN sc.ppl_micro <= c.c1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sc CROSS JOIN cutrow c
    """,
)
def pipeline_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (`ppl_buckets`, Wenzek et al. 2020):
    every document's per-token cross-entropy under a unigram LM
    trained on the lang='en' REFERENCE slice (CCNet trains on
    Wikipedia and scores Common Crawl — the same cross-domain shape),
    OOV tokens floored 1e6 micro-nats below the model's rarest token,
    then the corpus split into head/middle/tail at tertile ORDER
    STATISTICS of the integer ppl_micro scores (rational cut ranks
    ceil(n*k/3) — exact integer arithmetic, no float-percentile
    interpolation for engines to disagree on). CCNet's head is what
    quality-focused pipelines keep; keeping all three labeled is the
    published design. The oracle replays model -> OOV floor ->
    fixed-point sums -> rank cutoffs -> bucket CASE value-for-value.
    Scale shape: the scorer is the unigram plan (hash-aggs + broadcast
    model); cutoffs come from a bounded sample at corpus scale
    (`sample_fraction`), here the exact full-corpus form."""
    from postgresql_topn_spark.operators.lm import ppl_buckets

    docs = load_table(spark, sf_dir, "documents")
    return ppl_buckets(
        docs,
        "doc_id",
        "text",
        reference=docs.where(F.col("lang") == "en"),
    )


_LR_SIGMOID = (
    "1.0 / (1.0 + exp(-greatest(-30.0, least(30.0, "
    "CAST({z} AS DOUBLE) / 1000000.0))))"
)


def _lr_oracle_iteration(i: int) -> str:
    """One unrolled iteration of the classifier oracle: z from
    (w{i-1}, b{i-1}) -> residual -> mass-preconditioned gradient step
    -> (w{i}, b{i}). Exact mirror of lr_train's integer fixed-point
    loop (lr = 1.0, the gate's setting)."""
    p = i - 1
    sig = _LR_SIGMOID.format(z="z")
    return f"""
    z{i} AS MATERIALIZED (
      SELECT ex.tid, ex.y,
             b{p}.b + CAST(round(CAST(COALESCE(s.z0, 0) AS DOUBLE)
                                 / 1000000.0, 0) AS BIGINT) AS z
      FROM ex LEFT JOIN (
        SELECT tf.tid, sum(tf.m * COALESCE(w{p}.w, 0)) AS z0
        FROM trfeat tf LEFT JOIN w{p} USING (bucket) GROUP BY tf.tid
      ) s USING (tid)
      CROSS JOIN b{p}
    ),
    r{i} AS MATERIALIZED (
      SELECT tid,
             CAST(round(({sig} - CAST(y AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS r
      FROM z{i}
    ),
    g{i} AS MATERIALIZED (
      SELECT bucket,
             sum(CAST(round(CAST(tf.m * r{i}.r AS DOUBLE) / 1000000.0, 0)
                      AS BIGINT)) AS g,
             sum(tf.m) AS mm
      FROM trfeat tf JOIN r{i} USING (tid) GROUP BY bucket
    ),
    w{i} AS MATERIALIZED (
      SELECT g{i}.bucket,
             COALESCE(w{p}.w, 0)
             - CASE WHEN mm > 0
                    THEN CAST(round(1.0 * CAST(g AS DOUBLE)
                                    / CAST(mm AS DOUBLE) * 1000000.0, 0)
                              AS BIGINT)
                    ELSE 0 END AS w
      FROM g{i} LEFT JOIN w{p} USING (bucket)
    ),
    b{i} AS MATERIALIZED (
      SELECT b{p}.b
             - CAST(round(1.0 * CAST((SELECT sum(r) FROM r{i}) AS DOUBLE)
                          / n.n, 0) AS BIGINT) AS b
      FROM b{p} CROSS JOIN n
    )"""


# The classifier training + scoring CTE chain (through `sc` =
# (doc_id, z_micro)), shared verbatim by the standalone classifier
# gate and the recipe composition gate below.
_LR_CTES = (
    """tr AS (
      SELECT concat(CASE WHEN lang = 'en' THEN '1' ELSE '0' END, ':',
                    CAST(doc_id AS VARCHAR)) AS tid,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             text
      FROM documents
    ),
    ex AS MATERIALIZED (SELECT tid, y FROM tr),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
    trtok AS (
      SELECT tid, toks,
             len(toks) + greatest(len(toks) - 1, 0) AS nf
      FROM (SELECT tid, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks FROM tr)
    ),
    trfeat AS MATERIALIZED (
      SELECT tid, bucket,
             CAST(round(CAST(count(*) AS DOUBLE) * 1000000.0 / nf, 0)
                  AS BIGINT) AS m
      FROM (
        SELECT tid, nf,
               CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 512 AS bucket
        FROM (
          SELECT tid, nf,
                 unnest(list_concat(toks,
                   list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                  i -> toks[i] || ' ' || toks[i+1]))) AS f
          FROM trtok)
      ) GROUP BY tid, bucket, nf
    ),
    w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS w WHERE FALSE),
    b0 AS (SELECT CAST(0 AS BIGINT) AS b),"""
    + ",".join(_lr_oracle_iteration(i) for i in (1, 2, 3))
    + """,
    dtok AS (
      SELECT doc_id, toks,
             len(toks) + greatest(len(toks) - 1, 0) AS nf
      FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks FROM documents)
    ),
    docfeat AS (
      SELECT doc_id, bucket,
             CAST(round(CAST(count(*) AS DOUBLE) * 1000000.0 / nf, 0)
                  AS BIGINT) AS m
      FROM (
        SELECT doc_id, nf,
               CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 512 AS bucket
        FROM (
          SELECT doc_id, nf,
                 unnest(list_concat(toks,
                   list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                  i -> toks[i] || ' ' || toks[i+1]))) AS f
          FROM dtok)
      ) GROUP BY doc_id, bucket, nf
    ),
    sc AS (
      SELECT d.doc_id,
             b3.b + CAST(round(CAST(COALESCE(s.z0, 0) AS DOUBLE)
                               / 1000000.0, 0) AS BIGINT) AS z_micro
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN (
        SELECT df.doc_id, sum(df.m * w3.w) AS z0
        FROM docfeat df JOIN w3 USING (bucket) GROUP BY df.doc_id
      ) s USING (doc_id)
      CROSS JOIN b3
    )"""
)

_LR_ORACLE = (
    "\n    WITH "
    + _LR_CTES
    + """
    SELECT doc_id, z_micro,
           round("""
    + _LR_SIGMOID.format(z="z_micro")
    + """, 6) AS prob
    FROM sc
    """
)


@_register("pipeline_quality_classifier", _LR_ORACLE)
def pipeline_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier (`lr_train`/`lr_score`,
    operators/classifier.py) — the GPT-3 / LLaMA / RefinedWeb "quality
    filter" stage: logistic regression over mean-normalized
    hashed-ngram features (DSIR's feature space, fastText's
    conditioning), trained IN the engine by mass-preconditioned
    full-batch gradient descent (3 iterations, lr=1, 512 buckets) to
    separate the lang='en' slice from the rest, then scoring EVERY
    document with the exact-integer logit and calibrated probability.
    On THIS corpus the labels are near-independent of the text (every
    synthetic lang shares one vocabulary), so the honest output the
    gate pins is probabilities tightly around the 0.436 positive base
    rate — the bias converging toward ln(218/282) with small
    text-driven spread — which is exactly what the raw-count
    formulation got wrong (every prob < 0.01; see the module
    docstring's stability analysis). The training loop is fixed-point
    deterministic (integer logits/gradients/masses, one clamped
    sigmoid per example per round), so the oracle replays ALL THREE
    unrolled iterations — weights, bias, residuals, preconditioner —
    and the final scores value-for-value: the gate pins the TRAINING
    ALGORITHM, not just an inference pass. Per iteration: one
    doc-keyed hash-agg + one bucket-keyed hash-agg (key space <=
    n_buckets) with the weight table riding broadcasts; model size
    fixed at n_buckets+1 rows at any corpus scale."""
    from postgresql_topn_spark.operators.classifier import lr_score, lr_train

    docs = load_table(spark, sf_dir, "documents")
    # no share_features here: this gate RETURNS the scored frame, whose
    # consumer decides what executes; under a bare count the optimizer
    # prunes the scorer's left-join subtree entirely (the aggregate
    # right side is provably unique), so an eager feature handoff would
    # be one extra materialization for nothing. The recipe/deliver
    # gates, which consume the scores through an inner join, DO share
    # (see _select_recipe_frame).
    model = lr_train(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        n_buckets=512,
        iters=3,
        lr=1.0,
    )
    return lr_score(docs, model, n_buckets=512)


_ROUNDTRIP_ORACLE = (
    "\n    WITH "
    + _LR_CTES
    + """,
    qtoks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS t
      FROM documents
    ),
    qfb AS MATERIALIZED (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 4096 AS bucket
      FROM (
        SELECT doc_id,
               unnest(list_concat(t,
                 list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                i -> t[i] || ' ' || t[i+1]))) AS f
        FROM qtoks)
    ),
    qdocfeat AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM qfb GROUP BY doc_id, bucket
    ),
    qrawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM qfb GROUP BY bucket),
    qtgtc AS (
      SELECT qfb.bucket, CAST(count(*) AS BIGINT) AS ct
      FROM qfb JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY qfb.bucket
    ),
    qtot AS (
      SELECT CAST((SELECT sum(cr) FROM qrawc) AS DOUBLE) AS tr,
             CAST(COALESCE((SELECT sum(ct) FROM qtgtc), 0) AS DOUBLE) AS tt
    ),
    qmodel AS (
      SELECT r.bucket,
             CAST(round(((ln(CAST(COALESCE(t2.ct, 0) AS DOUBLE) + 1.0) - ln(tt + 4096.0))
                         - (ln(CAST(r.cr AS DOUBLE) + 1.0) - ln(tr + 4096.0)))
                        * 1000000.0, 0) AS BIGINT) AS lr_micro
      FROM qrawc r LEFT JOIN qtgtc t2 USING (bucket) CROSS JOIN qtot
    ),
    qw AS (
      SELECT df.doc_id, CAST(sum(df.cnt) AS BIGINT) AS n_feats,
             CAST(sum(df.cnt * m.lr_micro) AS BIGINT) AS logw_micro
      FROM qdocfeat df JOIN qmodel m USING (bucket)
      GROUP BY df.doc_id
    ),
    qallw AS (
      SELECT d.doc_id, COALESCE(qw.n_feats, 0) AS n_feats,
             COALESCE(qw.logw_micro, 0) AS logw_micro
      FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN qw USING (doc_id)
    )
    SELECT sc.doc_id, sc.z_micro,
           round("""
    + _LR_SIGMOID.format(z="z_micro")
    + """, 6) AS prob,
           a.n_feats, a.logw_micro
    FROM sc JOIN qallw a USING (doc_id)
    """
)


@_register("pipeline_model_roundtrip", _ROUNDTRIP_ORACLE)
def pipeline_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION model lifecycle — train once, PERSIST, reload,
    score many ingests — for both in-engine model families, through a
    real parquet store boundary (VERDICT r7 item 5):

      1. classifier: `lr_train` (en vs rest, 512 buckets, 3
         iterations) -> `DataFrame.write.parquet` -> `spark.read`
         -> `lr_score`. The reloaded frame has NO Python-side tag;
         the scorer validates the feature space from the reserved
         negative-bucket parameter rows embedded in the model itself
         (classifier.py:310) — the store-boundary path this gate
         exists to drive.
      2. DSIR: `dsir_model` (raw=documents, target=en slice, 4096
         buckets) -> `save_dsir_model` (model rows + 1-row params
         sidecar) -> `load_dsir_model` (re-tags the frame) ->
         `dsir_importance`. The sidecar re-couples (n_buckets, alpha)
         across the boundary so the unseen-bucket floor stays
         validated.

    Output joins both scorers per document: (doc_id, z_micro, prob,
    n_feats, logw_micro). The oracle replays training AND scoring
    value-for-value, so a green row proves the persisted-and-reloaded
    models score byte-identically to the in-session ones — the
    hash-match the stream-scoring deployment (train nightly, score
    every micro-batch) depends on. Store I/O is two bounded model
    tables (513 and <=4096 rows), never corpus data."""
    import os as _os

    from postgresql_topn_spark.operators.classifier import lr_score, lr_train
    from postgresql_topn_spark.operators.dsir import (
        dsir_importance,
        dsir_model,
        load_dsir_model,
        save_dsir_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = _scratch_dir("topn_models_")

    # no share_features: both scorer subtrees below end in left joins
    # whose aggregate right sides are provably unique, so a count-style
    # consumer prunes them — an eager feature handoff would be one
    # extra materialization with nothing downstream to reuse it
    # (measured +0.2-0.8 s; see OPTIMIZATION_r13.md)
    def _lr_chain() -> DataFrame:
        lr_model = lr_train(
            docs.where(F.col("lang") == "en"),
            docs.where(F.col("lang") != "en"),
            n_buckets=512,
            iters=3,
            lr=1.0,
        )
        lr_path = _os.path.join(base, "lr")
        lr_model.write.mode("overwrite").parquet(lr_path)
        return lr_score(docs, spark.read.parquet(lr_path), n_buckets=512)

    # r13: both model sides from ONE gram scan — the raw corpus is all
    # docs and the target its lang='en' slice, so per-(lang, bucket)
    # rollup counts (dsir_bucket_counts) sum to BOTH count tables, and
    # dsir_model_from_counts(rollups) == dsir_model(raw, target)
    # EXACTLY (the pytest-pinned additivity law). The tiny rollup frame
    # (<= |langs| x n_buckets rows) is lineage-cut so the explode+hash
    # chain runs once instead of twice.
    from postgresql_topn_spark.operators.checkpointing import (
        stage_cut as _cut,
    )
    from postgresql_topn_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_model_from_counts,
    )

    def _dsir_chain() -> DataFrame:
        rolls = _cut(dsir_bucket_counts(docs, ["lang"], n_buckets=4096))
        dm = dsir_model_from_counts(
            rolls.select("bucket", "cnt"),
            rolls.where(F.col("lang") == "en").select("bucket", "cnt"),
            n_buckets=4096,
        )
        dsir_path = _os.path.join(base, "dsir")
        save_dsir_model(dm, dsir_path)
        return dsir_importance(
            docs, load_dsir_model(spark, dsir_path), n_buckets=4096
        )

    # r13: the two train-persist-reload chains are independent until
    # the final join, but each is a string of EAGER driver-side
    # barriers (GD collects, model-store writes), so run serially they
    # leave the cluster idle through every barrier. Overlap them from
    # two driver threads (guide §2.6 — actions are only sequential
    # because driver code calls them sequentially); each chain's jobs
    # back-fill the slack of the other's barriers. Values are
    # scheduling-independent (oracle-verified), and the second lane
    # runs on the calling thread so a failure in either surfaces
    # normally. Paired A/B (one session, alternated, 4 trials): serial
    # best 7.98 / median ~10.0 s vs overlapped best 6.47 / median
    # ~6.75 s at sf0.1.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _scored_f = _pool.submit(_lr_chain)
        w = _dsir_chain()
        scored = _scored_f.result()

    return scored.join(w, "doc_id").select(
        "doc_id", "z_micro", "prob", "n_feats", "logw_micro"
    )


# The recipe's CTE chain (through `pool`/`br`) and its final SELECT are
# kept separable: pipeline_select_recipe's oracle is CTES + SELECT,
# while pipeline_deliver_dataset re-uses the CTES and continues the
# chain (selection -> chunk -> pack -> split).
_RECIPE_CTES = (
    "\n    WITH "
    + _LR_CTES
    + """,
    scp AS (
      SELECT doc_id,
             round("""
    + _LR_SIGMOID.format(z="z_micro")
    + """, 6) AS prob
      FROM sc
    ),
    flt AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN scp USING (doc_id)
      WHERE scp.prob >= 0.40
    ),
    ptokall AS (
      SELECT doc_id, t.tok
      FROM flt,
           LATERAL (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS tok) t
      WHERE t.tok <> ''
    ),
    preftok AS (
      SELECT t.tok
      FROM flt,
           LATERAL (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS tok) t
      WHERE flt.lang = 'en' AND t.tok <> ''
    ),
    pmodel AS (SELECT tok, count(*) AS cnt FROM preftok GROUP BY tok),
    ptotal AS (SELECT sum(cnt) AS t FROM pmodel),
    pmodlp AS (
      SELECT tok,
             CAST(round((ln(CAST(cnt AS DOUBLE)) - ln(CAST(t AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS lpm
      FROM pmodel CROSS JOIN ptotal
    ),
    pfloor AS (SELECT min(lpm) - 1000000 AS fl FROM pmodlp),
    pscored AS (
      SELECT a.doc_id, coalesce(m.lpm, f.fl) AS lpm
      FROM ptokall a LEFT JOIN pmodlp m USING (tok) CROSS JOIN pfloor f
    ),
    psums AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(lpm) AS s
      FROM pscored GROUP BY doc_id
    ),
    psc AS MATERIALIZED (
      SELECT doc_id, n_tokens,
             CAST(round(-CAST(s AS DOUBLE) / n_tokens, 0) AS BIGINT) AS ppl_micro
      FROM psums
    ),
    prk AS (
      SELECT ppl_micro,
             ROW_NUMBER() OVER (ORDER BY ppl_micro ASC, doc_id ASC) AS rn
      FROM psc
    ),
    pnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM psc),
    pcut AS (
      SELECT max(CASE WHEN rn = CAST(floor((pnn.n * 1 + 2) / 3) AS BIGINT)
                      THEN ppl_micro END) AS c0,
             max(CASE WHEN rn = CAST(floor((pnn.n * 2 + 2) / 3) AS BIGINT)
                      THEN ppl_micro END) AS c1
      FROM prk CROSS JOIN pnn
    ),
    keepb AS (
      SELECT psc.doc_id, psc.n_tokens, psc.ppl_micro,
             CASE WHEN psc.ppl_micro <= c.c0 THEN 'head'
                  WHEN psc.ppl_micro <= c.c1 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM psc CROSS JOIN pcut c
    ),
    pool AS MATERIALIZED (
      SELECT k.doc_id, f.lang, k.n_tokens, k.ppl_micro, k.bucket
      FROM keepb k JOIN flt f USING (doc_id)
      WHERE k.bucket <> 'tail'
    ),
    btt AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t FROM pool),
    bts AS (
      SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS t_s
      FROM pool WHERE lang IS NOT NULL GROUP BY lang
    ),
    br AS (
      SELECT lang,
             CASE WHEN t_s <= 0
                  THEN CASE WHEN w2 > 0 THEN 1.0 ELSE 0.0 END
                  ELSE round(least(1.0, ((0.5 * btt.t) * w2) / CAST(t_s AS DOUBLE)), 9)
             END AS rate
      FROM (SELECT lang, t_s,
                   CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15
                             WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                             WHEN 'zh' THEN 0.15 ELSE 0.0 END AS w2
            FROM bts) CROSS JOIN btt
    )"""
)

_RECIPE_SELECT = """
    SELECT p.doc_id, p.lang, p.n_tokens, p.ppl_micro, p.bucket, br.rate
    FROM pool p JOIN br USING (lang)
    WHERE CAST(concat('0x', substr(md5('13:' || CAST(p.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          / 1152921504606846976.0 < br.rate
"""

_RECIPE_ORACLE = _RECIPE_CTES + _RECIPE_SELECT


def _select_recipe_frame(
    spark: SparkSession, sf_dir: str, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """The `pipeline_select_recipe` dataflow as a reusable frame —
    shared by the gate itself and `pipeline_deliver_dataset`, which
    chains the selected set into chunk -> pack -> split. See the gate
    docstring for semantics; `checkpoint_dir` selects reliable
    stage-boundary cuts (operators/checkpointing.py)."""
    from postgresql_topn_spark.operators.checkpointing import stage_cut
    from postgresql_topn_spark.operators.classifier import (
        lr_score,
        lr_shared_features,
        lr_train,
    )
    from postgresql_topn_spark.operators.lm import ppl_buckets
    from postgresql_topn_spark.operators.sampling import token_budget_mix

    docs = load_table(spark, sf_dir, "documents")
    # pos/neg partition `docs` by lang (disjoint, exhaustive), so the
    # scorer reuses the training feature table — one
    # tokenize/explode/hash pass over the corpus instead of two
    model = lr_train(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        n_buckets=512,
        iters=3,
        lr=1.0,
        checkpoint_dir=checkpoint_dir,
        share_features=True,
    )
    scored = lr_score(
        docs, model, n_buckets=512, features=lr_shared_features(model)
    )
    # stage boundaries are lineage cuts (the select_mix discipline):
    # ppl_buckets fans its input into model/score/cutoff branches and
    # the budget stage reads its pool three times; with
    # `checkpoint_dir` the cuts persist to shared storage
    flt = stage_cut(
        docs.join(
            scored.where(F.col("prob") >= 0.40).select("doc_id"), "doc_id"
        ).select("doc_id", "lang", "text"),
        checkpoint_dir,
    )
    ppl = ppl_buckets(
        flt, "doc_id", "text", reference=flt.where(F.col("lang") == "en")
    )
    pool = stage_cut(
        ppl.where(F.col("bucket") != "tail")
        .join(flt.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "ppl_micro", "bucket"),
        checkpoint_dir,
    )
    # lazy budget (r14, §2.4): same rates, one less construction-time
    # job barrier — see token_budget_mix's lazy-scalar contract
    out = token_budget_mix(
        pool,
        "lang",
        "doc_id",
        "n_tokens",
        budget=pool.agg(
            (F.lit(0.5) * F.sum("n_tokens").cast("double")).alias("__b")
        ),
        weights={"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
        seed=13,
        rate_col="rate",
    )
    return out.select(
        "doc_id", "lang", "n_tokens", "ppl_micro", "bucket", "rate"
    )


@_register("pipeline_select_recipe", _RECIPE_ORACLE)
def pipeline_select_recipe(
    spark: SparkSession, sf_dir: str, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """The MODERN quality-selection recipe as one dataflow — the
    classifier-era companion to `pipeline_select_mix` (which chains
    the dedup-era selectors): the three round-7 operators feeding
    each other the way FineWeb / CCNet-style pipelines actually
    compose them:

      1. TRAINED quality filter — `lr_train` (en vs rest, 512
         buckets, 3 preconditioned iterations) scores every doc;
         survivors need prob >= 0.40 (a lenient floor: on this
         corpus the labels are near-text-independent, so the filter
         is honest-but-weak — the COMPOSITION is what the gate pins);
      2. CCNet perplexity bucketing — `ppl_buckets` over the
         survivors (reference = the surviving en slice), DROP the
         'tail' bucket (the published CCNet cut);
      3. mix to budget — `token_budget_mix` assembles 50% of the
         remaining token mass at en 0.4 / de-es-fr-zh 0.15 using the
         stage-2 token counts as the size column.

    The oracle replays ALL stages — the full unrolled 3-iteration
    classifier training, the survivor-set LM + order-statistic
    cutoffs, and the budget rates — each consuming exactly the
    previous stage's survivor set, so the recipe is value-pinned
    end-to-end. Output: (doc_id, lang, n_tokens, ppl_micro, bucket,
    rate) for every selected document.

    `checkpoint_dir=None` cuts stage lineage with executor-local
    blocks; an HDFS/S3 path makes every stage boundary (incl. the
    classifier's per-iteration state) a RELIABLE checkpoint that
    survives executor loss. Same values either way (pytest-pinned)."""
    return _select_recipe_frame(spark, sf_dir, checkpoint_dir)


_DELIVER_ORACLE = (
    _RECIPE_CTES
    + """,
    vsel AS MATERIALIZED (
      SELECT p.doc_id
      FROM pool p JOIN br USING (lang)
      WHERE CAST(concat('0x', substr(md5('13:' || CAST(p.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            / 1152921504606846976.0 < br.rate
    ),
    vtok AS (
      SELECT d.doc_id,
             list_filter(string_split_regex(trim(d.text), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents d JOIN vsel USING (doc_id)
    ),
    vch AS MATERIALIZED (
      SELECT doc_id,
             CAST(start_tok / 48 AS INT) AS chunk_idx,
             CAST(least(64, n - start_tok) AS BIGINT) AS n_tok,
             doc_id * 1048576 + CAST(start_tok / 48 AS BIGINT) AS cid
      FROM (
        SELECT doc_id, n,
               unnest(range(0, greatest(n - 16, 1), 48)) AS start_tok
        FROM (SELECT doc_id, len(toks) AS n FROM vtok WHERE len(toks) > 0)
      )
    ),
    vpk AS (
      SELECT cid,
             CAST(sum(n_tok) OVER (ORDER BY cid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok AS BIGINT) AS start_offset,
             CAST(concat('0x', substr(md5('8:' || CAST(cid AS VARCHAR)), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 AS u
      FROM vch
    )
    SELECT v.doc_id, v.chunk_idx, v.n_tok, k.start_offset,
           CAST(floor(k.start_offset / 512.0) AS BIGINT) AS first_bin,
           CAST(floor((k.start_offset + greatest(v.n_tok - 1, 0)) / 512.0) AS BIGINT) AS last_bin,
           CASE WHEN k.u < 0.75 THEN 'train'
                WHEN k.u < 0.875 THEN 'val'
                ELSE 'test' END AS split
    FROM vch v JOIN vpk k USING (cid)
    """
)


@_register("pipeline_deliver_dataset", _DELIVER_ORACLE)
def pipeline_deliver_dataset(
    spark: SparkSession, sf_dir: str, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """The LAST MILE every curation pipeline ends with (VERDICT r7
    item 4): turn the selected corpus into trainable shards — one
    dataflow, every stage consuming exactly the previous stage's
    survivor set:

      1. SELECT — the full `pipeline_select_recipe` composition
         (trained quality filter -> CCNet ppl buckets -> token-budget
         mix) picks the documents;
      2. CHUNK — `chunk_documents` splits each survivor into 64-token
         windows with 16-token overlap (stride 48), scan-stage
         Catalyst, no shuffle of its own;
      3. PACK — `pack_token_stream` lays the chunks out in the
         concatenated token stream (order-preserving composite
         chunk_id = doc_id * 2^20 + chunk_idx) and bins them into
         512-token training contexts via the scale-safe two-level
         prefix sum;
      4. SPLIT — `train_split` assigns each CHUNK its
         train/val/test bucket (0.75/0.125/0.125, exact binary
         boundaries) as a pure function of (chunk_id, seed), so the
         eval set survives corpus refreshes.

    Output: (doc_id, chunk_idx, n_tok, start_offset, first_bin,
    last_bin, split) — the packed-shard manifest. The oracle replays
    the ENTIRE chain value-for-value: the unrolled classifier
    training, the LM cutoffs, the budget rates and keep-set, then the
    chunk/stride arithmetic, the naive-window pack equivalent and the
    md5 split boundaries. `checkpoint_dir` makes every stage boundary
    a reliable checkpoint (operators/checkpointing.py)."""
    from postgresql_topn_spark.operators.checkpointing import stage_cut
    from postgresql_topn_spark.operators.packing import (
        chunk_documents,
        pack_token_stream,
    )
    from postgresql_topn_spark.operators.sampling import train_split

    sel = _select_recipe_frame(spark, sf_dir, checkpoint_dir)
    docs = load_table(spark, sf_dir, "documents")
    # NOT cut (r13): survivors has exactly ONE consumer — the chunk
    # projection, which is itself cut on the next line — so a cut here
    # was one extra materialization barrier with nothing to reuse it
    survivors = docs.join(sel.select("doc_id"), "doc_id").select(
        "doc_id", "text"
    )
    chunks = stage_cut(
        chunk_documents(
            survivors,
            "doc_id",
            "text",
            chunk_len=64,
            overlap=16,
            chunk_text=False,
        ).withColumn(
            "cid",
            F.col("doc_id") * F.lit(1048576).cast("long")
            + F.col("chunk_idx").cast("long"),
        ),
        checkpoint_dir,
    )
    packed = pack_token_stream(
        chunks,
        "cid",
        "n_tok",
        context_len=512,
        bucket_width=1048576 * 64,
        keep=["doc_id", "chunk_idx"],
    )
    out = train_split(
        packed,
        "cid",
        {"train": 0.75, "val": 0.125, "test": 0.125},
        seed=8,
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.col("n_tokens").alias("n_tok"),
        "start_offset",
        "first_bin",
        "last_bin",
        "split",
    )


@_register(
    "pipeline_sample_mix",
    """
    WITH s0 AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) AS INT) AS en,
        CAST(len(regexp_extract_all(lower(text), '\\b(der|die|und|nicht|das)\\b')) AS INT) AS de,
        CAST(len(regexp_extract_all(lower(text), '\\b(el|la|que|los|una)\\b')) AS INT) AS es,
        CAST(len(regexp_extract_all(lower(text), '\\b(le|les|des|est|une)\\b')) AS INT) AS fr
      FROM documents
    ),
    m AS (
      SELECT doc_id,
        CASE WHEN greatest(en, de, es, fr) <= 0 THEN 'und'
             WHEN en = greatest(en, de, es, fr) THEN 'en'
             WHEN de = greatest(en, de, es, fr) THEN 'de'
             WHEN es = greatest(en, de, es, fr) THEN 'es'
             ELSE 'fr' END AS lang
      FROM s0
    )
    SELECT doc_id, lang FROM m
    WHERE CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          / 1152921504606846976.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'und' THEN 0.2 ELSE 0.0 END
    """,
)
def pipeline_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified data mixing: down-sample each language
    stratum at its own rate (en 0.5, und 0.2) keyed by doc_id — the
    per-source mixing step of a training-data pipeline, reproducible
    across engines/partitionings/retries because the keep decision is a
    pure function of (doc_id, seed, rate). The DuckDB oracle replays the
    identical md5-uniform and rate CASE, so the sampled OUTPUT itself is
    value-checked. The sample is a scan-stage filter: at 100 TB it costs
    one md5 per row and prunes everything downstream."""
    from postgresql_topn_spark.operators.sampling import stratified_sample
    from postgresql_topn_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select("doc_id", lang_id("text").alias("lang"))
    return stratified_sample(
        labeled, "lang", {"en": 0.5, "und": 0.2}, "doc_id", seed=7
    )


@_register(
    "text_quality",
    """
    WITH m AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS DOUBLE) AS n_tok,
        CAST(len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|is|in|it|on|for)\\b')) AS DOUBLE) AS stop_cnt,
        CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS punct_cnt,
        CAST(length(text) AS DOUBLE) AS n_chars
      FROM documents
    )
    SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
      round(least(n_tok / 100.0, 1.0) * 0.5
            + least(stop_cnt / n_tok * 3.0, 1.0) * 0.3
            + (1.0 - least(punct_cnt / n_chars * 10.0, 1.0)) * 0.2, 6) AS score
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_topn_spark.operators.text import quality_score, ws_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ws_token_count("text").alias("n_tokens"),
        quality_score("text").alias("score"),
    )


@_register(
    "multimodal_meta_frames",
    """
    WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes FROM documents),
    m AS (
      SELECT doc_id, n_bytes,
             CAST(16 + n_bytes % 64 AS INT) AS width,
             CAST(16 + (n_bytes * 7) % 48 AS INT) AS height,
             CAST(3 AS INT) AS channels,
             'fake' AS format
      FROM b
    ),
    f AS (SELECT doc_id, unnest(range(0, least(n_bytes // 1024 + 1, 8))) AS frame_idx FROM b),
    offsets_lane AS (
      SELECT 'offsets' AS lane, m.doc_id, CAST(f.frame_idx AS INT) AS frame_idx,
             CAST(f.frame_idx * 1024 AS INT) AS byte_offset,
             m.n_bytes, m.width, m.height, m.channels, m.format,
             CAST(NULL AS BIGINT) AS px_sum
      FROM m JOIN f USING (doc_id)
    ),
    vg AS (SELECT doc_id,
                  8 + doc_id % 9 AS w,
                  8 + (doc_id * 5) % 7 AS h,
                  2 + doc_id % 5 AS nf,
                  6 + doc_id % 7 AS mm
           FROM documents WHERE doc_id IS NOT NULL),
    vf AS (SELECT doc_id, w, h, mm, nf,
                  9 + len(CAST(w AS VARCHAR))
                    + len(CAST(h AS VARCHAR)) + w * h AS fb,
                  unnest(range(0, nf)) AS fi
           FROM vg),
    real_lane AS (
      SELECT 'real' AS lane, doc_id, CAST(fi AS INT) AS frame_idx,
             CAST(fi * fb AS INT) AS byte_offset,
             CAST(nf * fb AS INT) AS n_bytes,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST(1 AS INT) AS channels, 'pgm' AS format,
             CAST(list_sum(list_transform(range(0, w * h),
               i -> ((i % mm) * 41 + fi * 17 + doc_id * 29) % 256))
               AS BIGINT) AS px_sum
      FROM vf
    )
    SELECT * FROM offsets_lane UNION ALL SELECT * FROM real_lane
    """,
)
def multimodal_meta_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode plumbing AND frame-sampling fan-out in one
    gate (round-7 registry consolidation — absorbed the retired
    `multimodal_image_meta` + `multimodal_frame_sample` gates), plus
    the round-9 'real' lane:

    - lane 'offsets': blob table -> mapInPandas metadata extraction
      (decode stubbed deterministically; the REAL header decoder is
      pytest-pinned on PNG/GIF/BMP/JPEG byte literals), frames fanned
      out by offset arithmetic only (`sample_frames` — the stage shape
      when the codec runs elsewhere).
    - lane 'real': multi-frame NetPBM video payloads
      (`make_video_blob_table`) -> `extract_frames` — REAL per-offset
      frame decode (byte slice + raster parse at every sampled frame;
      VERDICT r8 item 4). Each row's `px_sum` is the sum of the
      frame's DECODED pixel values, which the oracle replays from the
      synth formula — the driver value-checks the extraction itself,
      and the full per-pixel parity is pinned in
      test_text_multimodal.py."""
    from postgresql_topn_spark.operators.multimodal import (
        decode_image_meta,
        extract_frames,
        make_blob_table,
        make_video_blob_table,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    blobs = make_blob_table(docs)
    meta = decode_image_meta(blobs, decoder="fake")
    frames = sample_frames(blobs)
    offsets_lane = frames.join(meta, "doc_id").select(
        F.lit("offsets").alias("lane"),
        "doc_id",
        "frame_idx",
        "byte_offset",
        "n_bytes",
        "width",
        "height",
        "channels",
        "format",
        F.lit(None).cast("long").alias("px_sum"),
    )
    real_lane = extract_frames(make_video_blob_table(docs)).select(
        F.lit("real").alias("lane"),
        "doc_id",
        "frame_idx",
        "byte_offset",
        "n_bytes",
        "width",
        "height",
        "channels",
        F.lit("pgm").alias("format"),
        F.aggregate(
            "pixels",
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ).alias("px_sum"),
    )
    return offsets_lane.unionByName(real_lane)


def entry_flagship(spark: SparkSession) -> DataFrame:
    """Driver smoke entry: the flagship pipeline at sf0.001."""
    return topn_overall_products(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Keyword search / term weighting (beyond-reference: corpus auditing)
# ---------------------------------------------------------------------------


@_register(
    "search_bm25",
    """
    WITH base AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS t FROM documents),
    d AS (SELECT doc_id, t, len(t) AS dl FROM base),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d),
    q AS (SELECT unnest(['spark', 'vector', 'window']) AS term),
    hits AS (
      SELECT term, doc_id, dl, len(list_filter(t, x -> x = term)) AS tf
      FROM d CROSS JOIN q
      WHERE len(list_filter(t, x -> x = term)) > 0
    ),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT term, doc_id,
             round(ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                   (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
                   6) AS score
      FROM hits JOIN dft USING (term) CROSS JOIN stats
    )
    SELECT term, doc_id, score, CAST(rn AS INT) AS "rank" FROM (
      SELECT term, doc_id, score,
             row_number() OVER (PARTITION BY term
                                ORDER BY score DESC, doc_id ASC) AS rn
      FROM scored
    ) t WHERE rn <= 10
    """,
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 docs per probe term — keyword retrieval for
    corpus auditing. Zero-shuffle scoring (literal query terms become
    array expressions in the scan stage); both corpus-stat joins are
    broadcast; rank runs over the ROUNDED score so the DuckDB twin
    agrees bit-for-bit."""
    from postgresql_topn_spark.operators.search import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", ["spark", "vector", "window"], k=10
    )


@_register(
    "search_tfidf",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dl),
    scored AS (
      SELECT doc_id, term,
             round((tf / dl) * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dl USING (doc_id) JOIN dft USING (term) CROSS JOIN nn
    )
    SELECT doc_id, term, score, CAST(rn AS INT) AS "rank" FROM (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rn
      FROM scored
    ) t WHERE rn <= 3
    """,
)
def search_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by smoothed TF-IDF. One
    combine-heavy (doc, term) shuffle; dl and df both derive from that
    aggregate (exchange reuse); per-doc rank has no hot partition by
    construction."""
    from postgresql_topn_spark.operators.search import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", top=3)


@_register(
    "text_pii",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.7 call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS emails,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS phones,
           CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS ipv4s,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
                   '\\b\\d{3}-\\d{3}-\\d{4}\\b', '[PII]', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[PII]', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + scrubbing over the documents table. The synthetic
    corpus carries no organic PII, so the query injects a deterministic
    contact line per document (email, IPv4, US phone) and then proves
    the detector counts and the scrubber removes exactly those — the
    honest fixture mode for the oracle; production calls pii_counts /
    scrub_pii on raw text. Pure regexp projections: no shuffle, no
    Python, full scan speed."""
    from postgresql_topn_spark.operators.text import pii_counts, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-867-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    c = pii_counts("t")
    return aug.select(
        "doc_id",
        c["email"].alias("emails"),
        c["phone"].alias("phones"),
        c["ipv4"].alias("ipv4s"),
        F.md5(scrub_pii("t")).alias("scrubbed_md5"),
    )


@_register(
    "distinct_rollup_hll",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS est_ok
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def distinct_rollup_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: per-(event_type, month) HLL
    sketches built once, merged per event_type WITHOUT rescanning raw
    rows, then the merged estimate is checked against the exact
    distinct count. The oracle pins the exact counts and asserts the
    5% accuracy envelope holds (est_ok TRUE for every group — ~3x the
    lg_k=12 relative standard error, so a failure means the sketch
    algebra broke, not bad luck). The estimate itself is
    engine-specific (DataSketches HLL has no DuckDB twin), which is
    why the driver-checked columns are the exact count and the
    envelope verdict rather than the raw estimate."""
    from postgresql_topn_spark.functions.distinct import (
        hll_add_agg,
        hll_estimate_col,
        hll_union_rollup,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    monthly = hll_add_agg(
        ev,
        ["event_type", F.date_trunc("month", "ts").alias("mon")],
        "user_id",
    )
    merged = hll_union_rollup(monthly, ["event_type"], "hll")
    est = merged.select(
        "event_type", hll_estimate_col("hll").alias("est_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("est_ok"),
    )


@_register(
    "dedup_bloom_incremental",
    """
    WITH corpus AS (
      SELECT md5(text) AS ck FROM documents
      WHERE regexp_matches(source, '^src[0-9]$')
    ),
    rows_ AS (SELECT unnest(range(3)) AS i),
    ins AS (
      -- one SHARED bit array: every hash row's slots land in the same
      -- space, so membership ignores which hash set a bit
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(concat(CAST(r.i AS VARCHAR), ':', ck)), 1, 15)) AS BIGINT) % 65536 AS s
      FROM corpus CROSS JOIN rows_ r
    ),
    probes AS (
      SELECT doc_id, r.i,
             CAST(concat('0x', substr(md5(concat(CAST(r.i AS VARCHAR), ':', md5(text))), 1, 15)) AS BIGINT) % 65536 AS s
      FROM documents CROSS JOIN rows_ r
    )
    SELECT p.doc_id,
           CAST(min(CASE WHEN ins.s IS NOT NULL THEN 1 ELSE 0 END) = 1 AS BOOLEAN)
             AS maybe_dup
    FROM probes p LEFT JOIN ins ON ins.s = p.s
    GROUP BY p.doc_id
    """,
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup prescreen: per-source Bloom filters
    over the existing corpus's content keys (sources src0..src9),
    OR-merged to one compact membership sketch WITHOUT rescanning raw
    history, then EVERY document probed against it — corpus docs come
    back maybe_dup=true (no false negatives), incoming batch docs come
    back false unless a (replayable) hash collision fires. At ingest
    scale this filter screens the bulk of a fresh batch away from the
    expensive verify join for d=3 hash probes per row. The md5 slot
    hashes are portable, so the oracle reproduces every membership
    bit — including false positives — via pure set logic."""
    from postgresql_topn_spark.functions.bloom import (
        bloom_add_agg,
        bloom_might_contain,
        bloom_union_rollup,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("source").rlike("^src[0-9]$"))
    per_source = bloom_add_agg(corpus, ["source"], F.md5("text"), m_bits=65536)
    glob = bloom_union_rollup(per_source, [], "bloom")
    probes = docs.select("doc_id", F.md5("text").alias("ck"))
    return probes.crossJoin(F.broadcast(glob)).select(
        "doc_id",
        bloom_might_contain("bloom", "ck", m_bits=65536).alias("maybe_dup"),
    )


@_register(
    "distinct_kmv_modes",
    """
    WITH h AS (
      SELECT DISTINCT date_trunc('day', ts) AS day,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    days AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
      FROM (SELECT DISTINCT day FROM h)
    ),
    win AS (
      SELECT d2.day, h.hv
      FROM days d2
      JOIN days d1 ON d1.rk BETWEEN d2.rk - 6 AND d2.rk
      JOIN h ON h.day = d1.day
      GROUP BY d2.day, h.hv
    ),
    r AS (
      SELECT day, hv,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn
      FROM win
    ),
    stats AS (
      SELECT day, count(*) AS kx, max(hv) AS hk
      FROM r WHERE rn <= 64 GROUP BY day
    ),
    hs AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ),
    kmv AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM hs) t WHERE rn <= 64
    ),
    pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM kmv) a,
           (SELECT DISTINCT event_type FROM kmv) b
      WHERE a.event_type < b.event_type
    ),
    ux AS (
      SELECT DISTINCT p.type_a, p.type_b, k.hv
      FROM pr p JOIN kmv k
        ON k.event_type = p.type_a OR k.event_type = p.type_b
    ),
    x AS (
      SELECT type_a, type_b, hv FROM (
        SELECT type_a, type_b, hv,
               ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
        FROM ux) t WHERE rn <= 64
    ),
    marked AS (
      SELECT x.type_a, x.type_b, x.hv,
             (ka.hv IS NOT NULL) AS ina, (kb.hv IS NOT NULL) AS inb
      FROM x
      LEFT JOIN kmv ka ON ka.event_type = x.type_a AND ka.hv = x.hv
      LEFT JOIN kmv kb ON kb.event_type = x.type_b AND kb.hv = x.hv
    ),
    sstats AS (
      SELECT type_a, type_b, count(*) AS kx, max(hv) AS hk,
             count(*) FILTER (WHERE ina AND inb) AS in_both
      FROM marked GROUP BY type_a, type_b
    )
    SELECT 'window_7d' AS lane, CAST(CAST(day AS DATE) AS VARCHAR) AS key_a,
           CAST(NULL AS VARCHAR) AS key_b,
           round(CASE WHEN kx < 64 THEN CAST(kx AS DOUBLE)
                      ELSE (63.0 * 1152921504606846976) / CAST(hk AS DOUBLE) END,
                 6) AS est_1,
           CAST(NULL AS DOUBLE) AS est_2
    FROM stats
    UNION ALL
    SELECT 'set_algebra' AS lane, type_a AS key_a, type_b AS key_b,
           round(CASE WHEN kx < 64 THEN CAST(kx AS DOUBLE)
                      ELSE (63.0 * 1152921504606846976) / CAST(hk AS DOUBLE) END,
                 6) AS est_1,
           round(CASE WHEN kx = 0 THEN 0.0
                      ELSE (CAST(in_both AS DOUBLE) / CAST(kx AS DOUBLE)) *
                           (CASE WHEN kx < 64 THEN CAST(kx AS DOUBLE)
                                 ELSE (63.0 * 1152921504606846976) / CAST(hk AS DOUBLE) END)
                 END, 6) AS est_2
    FROM sstats
    """,
)
def distinct_kmv_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH KMV distinct-sketch compositions in one gate (round-10
    lane merge — absorbed the retired `distinct_kmv_window_7d` /
    `distinct_kmv_sets` gates verbatim; each lane keeps its own
    oracle branch; this funded the dedup_corpus_lines +
    semantics-changed re-rows under the 50-row freshness budget):

    - lane 'window_7d' (key_a=day, est_1=est_users): rolling distinct
      users per trailing week from PRE-BUILT daily KMV sketches
      (ROWS 6 PRECEDING frame merge — the reference's sliding-frame
      composition carried to the distinct algebra): the frame fold
      touches <= 7 sketches of <= 64 longs per day, never raw events,
      and the lossless bottom-k merge law means the oracle's direct
      per-window computation matches value-for-value.
    - lane 'set_algebra' (key_a/key_b=event types, est_1=union_est,
      est_2=intersect_est): per-(event_type, month) KMV sketches of
      the distinct user population, merged per event_type WITHOUT
      rescanning raw rows, then every pair of event types gets a
      distinct-union AND distinct-INTERSECTION estimate — the question
      HLL union alone cannot answer. The md5-60bit hash is portable,
      so the oracle replays the whole sketch — bottom-64 per type,
      per-pair merge, (k-1)*M/h_(k) estimator, inclusion fraction —
      value-for-value."""
    from postgresql_topn_spark.functions.kmv import (
        kmv_add_agg,
        kmv_estimate,
        kmv_intersect_estimate,
        kmv_merge,
        kmv_union_over_window,
        kmv_union_rollup,
    )

    K = 64
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    daily = kmv_add_agg(
        ev,
        [F.date_trunc("day", F.col("ts")).cast("date").alias("day")],
        F.col("user_id").cast("string"),
        k=K,
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    win_lane = daily.select(
        F.lit("window_7d").alias("lane"),
        F.col("day").cast("string").alias("key_a"),
        F.lit(None).cast("string").alias("key_b"),
        F.round(
            kmv_estimate(kmv_union_over_window("kmv", w, k=K), k=K), 6
        ).alias("est_1"),
        F.lit(None).cast("double").alias("est_2"),
    )

    evt = ev.where(F.col("event_type").isNotNull())
    monthly = kmv_add_agg(
        evt,
        ["event_type", F.date_trunc("month", "ts").alias("mon")],
        F.col("user_id").cast("string"),
        k=K,
    )
    per_type = kmv_union_rollup(monthly, ["event_type"], "kmv", k=K)
    a = per_type.select(
        F.col("event_type").alias("type_a"), F.col("kmv").alias("kmv_a")
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"), F.col("kmv").alias("kmv_b")
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    set_lane = pairs.select(
        F.lit("set_algebra").alias("lane"),
        F.col("type_a").alias("key_a"),
        F.col("type_b").alias("key_b"),
        F.round(
            kmv_estimate(kmv_merge("kmv_a", "kmv_b", k=K), k=K), 6
        ).alias("est_1"),
        F.round(kmv_intersect_estimate("kmv_a", "kmv_b", k=K), 6).alias(
            "est_2"
        ),
    )
    return win_lane.unionByName(set_lane)


@_register(
    "cms_window_7d",
    """
    WITH ev AS (
      SELECT date_trunc('day', ts) AS day, event_type
      FROM events WHERE event_type IS NOT NULL
    ),
    days AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rk
      FROM (SELECT DISTINCT day FROM ev)
    ),
    rows_ AS (SELECT unnest(range(4)) AS i),
    cells AS (
      SELECT day, i, s, count(*) AS c FROM (
        SELECT ev.day, r.i,
               CAST(concat('0x', substr(md5(concat(CAST(r.i AS VARCHAR), ':', event_type)), 1, 15)) AS BIGINT) % 128 AS s
        FROM ev CROSS JOIN rows_ r) t
      GROUP BY day, i, s
    ),
    wcells AS (
      SELECT d2.day, c.i, c.s, sum(c.c) AS c
      FROM days d2
      JOIN days d1 ON d1.rk BETWEEN d2.rk - 6 AND d2.rk
      JOIN cells c ON c.day = d1.day
      GROUP BY d2.day, c.i, c.s
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    slot AS (
      SELECT t.event_type, r.i,
             CAST(concat('0x', substr(md5(concat(CAST(r.i AS VARCHAR), ':', t.event_type)), 1, 15)) AS BIGINT) % 128 AS s
      FROM types t CROSS JOIN rows_ r
    )
    SELECT CAST(d.day AS DATE) AS day, sl.event_type AS item,
           CAST(min(coalesce(w.c, 0)) AS BIGINT) AS est_freq
    FROM (SELECT day FROM days) d
    CROSS JOIN slot sl
    LEFT JOIN wcells w ON w.day = d.day AND w.i = sl.i AND w.s = sl.s
    GROUP BY d.day, sl.event_type
    """,
)
def cms_window_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling point-frequency estimates from PRE-BUILT daily CMS
    sketches: every event type's trailing-7-day count estimated via a
    ROWS-frame element-wise-add fold (the reference's sliding-frame
    composition carried to the counting algebra) — the frame touches
    <= 7 fixed-size arrays per day, never raw events, and associativity
    makes the oracle's direct per-window cell computation match
    value-for-value."""
    from postgresql_topn_spark.functions.cms import (
        cms_add_agg,
        cms_estimate,
        cms_union_over_window,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    daily = cms_add_agg(
        ev,
        [F.date_trunc("day", F.col("ts")).cast("date").alias("day")],
        "event_type",
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    windowed = daily.select(
        "day", cms_union_over_window("cms", w).alias("wcms")
    )
    types = ev.select("event_type").distinct()
    return windowed.crossJoin(F.broadcast(types)).select(
        "day",
        F.col("event_type").alias("item"),
        cms_estimate("wcms", "event_type").alias("est_freq"),
    )


@_register(
    "cms_rollup_events",
    """
    WITH ev AS (
      SELECT event_type FROM events WHERE event_type IS NOT NULL
    ),
    rows_ AS (SELECT unnest(range(4)) AS i),
    cells AS (
      SELECT i, s, count(*) AS c FROM (
        SELECT r.i,
               CAST(concat('0x', substr(md5(concat(CAST(r.i AS VARCHAR), ':', event_type)), 1, 15)) AS BIGINT) % 128 AS s
        FROM ev CROSS JOIN rows_ r) t
      GROUP BY i, s
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    slot AS (
      SELECT t.event_type, r.i,
             CAST(concat('0x', substr(md5(concat(CAST(r.i AS VARCHAR), ':', t.event_type)), 1, 15)) AS BIGINT) % 128 AS s
      FROM types t CROSS JOIN rows_ r
    ),
    est AS (
      SELECT sl.event_type AS item,
             CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est_freq
      FROM slot sl LEFT JOIN cells c ON c.i = sl.i AND c.s = sl.s
      GROUP BY sl.event_type
    ),
    exact AS (
      SELECT event_type AS item, CAST(count(*) AS BIGINT) AS exact_freq
      FROM ev GROUP BY event_type
    )
    SELECT item, est_freq, exact_freq FROM est JOIN exact USING (item)
    """,
)
def cms_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min rollup: per-month 4x128 CMS of the event stream,
    merged to one global sketch WITHOUT rescanning raw rows (CMS merge
    is element-wise addition, so the rollup equals the direct sketch
    exactly), then a point-frequency estimate for every event type
    checked against the exact count. The md5 row-hashes are portable,
    so the oracle rebuilds every cell and every min-of-d estimate
    value-for-value. CMS answers what topn cannot: a frequency
    estimate for ANY item, not just the retained heavy hitters."""
    from postgresql_topn_spark.functions.cms import (
        cms_add_agg,
        cms_estimate,
        cms_union_rollup,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    monthly = cms_add_agg(
        ev, [F.date_trunc("month", "ts").alias("mon")], "event_type"
    )
    glob = cms_union_rollup(monthly, [], "cms")
    types = ev.select("event_type").distinct()
    est = types.crossJoin(F.broadcast(glob)).select(
        F.col("event_type").alias("item"),
        cms_estimate("cms", "event_type").alias("est_freq"),
    )
    exact = ev.groupBy(F.col("event_type").alias("item")).agg(
        F.count(F.lit(1)).alias("exact_freq")
    )
    return est.join(exact, "item")


@_register(
    "text_lm_logprob",
    """
    WITH d AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, u.i AS pos, toks[u.i + 1] AS tok
      FROM d, LATERAL (SELECT unnest(range(len(d.toks))) AS i) u
      WHERE toks[u.i + 1] <> ''
    ),
    uni AS (SELECT tok, count(*) AS u_cnt FROM tok GROUP BY tok),
    tot AS (SELECT sum(u_cnt) AS t FROM uni),
    uniscored AS (
      SELECT doc_id,
             CAST(round((ln(CAST(u_cnt AS DOUBLE)) - ln(CAST(t AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS lpm
      FROM tok JOIN uni USING (tok) CROSS JOIN tot
    ),
    uniagg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(CAST(sum(lpm) AS DOUBLE) / (count(*) * 1000000.0), 6)
               AS uni_logprob
      FROM uniscored GROUP BY doc_id
    ),
    stream AS (
      SELECT doc_id, pos, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM tok
    ),
    bg AS (
      SELECT prev, tok, count(*) AS bg_cnt FROM stream
      WHERE prev IS NOT NULL GROUP BY prev, tok
    ),
    ctx AS (SELECT prev, sum(bg_cnt) AS ctx_cnt FROM bg GROUP BY prev),
    bgscored AS (
      SELECT s.doc_id,
             CAST(round(ln(
               CASE WHEN s.prev IS NULL
                    THEN CAST(u.u_cnt AS DOUBLE) / CAST(tot.t AS DOUBLE)
                    ELSE (0.75 * (CAST(coalesce(b.bg_cnt, 0) AS DOUBLE)
                                  / CAST(c.ctx_cnt AS DOUBLE)))
                         + (0.25 * (CAST(u.u_cnt AS DOUBLE)
                                    / CAST(tot.t AS DOUBLE)))
               END) * 1000000.0, 0) AS BIGINT) AS lpm
      FROM stream s
      LEFT JOIN bg b ON b.prev = s.prev AND b.tok = s.tok
      LEFT JOIN ctx c ON c.prev = s.prev
      JOIN uni u ON u.tok = s.tok
      CROSS JOIN tot
    ),
    bgagg AS (
      SELECT doc_id,
             round(CAST(sum(lpm) AS DOUBLE) / (count(*) * 1000000.0), 6)
               AS bi_logprob
      FROM bgscored GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, uni_logprob, bi_logprob
    FROM uniagg JOIN bgagg USING (doc_id)
    """,
)
def text_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH LM fluency scores in one gate (round-7 registry
    consolidation — absorbed the retired `text_unigram_logprob` +
    `text_bigram_logprob` gates; both scorers stay value-pinned over
    the same token stream):

    - `uni_logprob`: CCNet-style corpus-fluency — a unigram LM built
      over the corpus in one hash-agg exchange, every document scored
      by its mean token log-probability (low = gibberish/boilerplate —
      the filter signal CCNet gets from KenLM perplexity).
    - `bi_logprob`: the Jelinek–Mercer interpolated bigram upgrade
      (lam=0.75 — both interpolation literals exact doubles shared by
      both engines), catching token-salad documents whose words are
      individually common but never co-occur. Per-doc lag windows
      (doc-partitioned), three model joins.

    Per-token log-probs are fixed-pointed to integer micro-nats before
    the per-doc sums, so both aggregations are exact integer
    arithmetic and the oracle hash-matches regardless of float
    summation order. The doc_id join is exact: both scorers count the
    identical token stream, so n_tokens agrees row-for-row."""
    from postgresql_topn_spark.operators.lm import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    uni = unigram_logprob_scores(docs, "doc_id", "text").select(
        "doc_id", "n_tokens", F.col("avg_logprob").alias("uni_logprob")
    )
    bi = bigram_logprob_scores(docs, "doc_id", "text", lam=0.75).select(
        "doc_id", F.col("avg_logprob").alias("bi_logprob")
    )
    return uni.join(bi, "doc_id")


@_register(
    "pipeline_quality_deciles",
    """
    SELECT doc_id, lang,
           CAST(ntile(10) OVER (PARTITION BY lang
                                ORDER BY n_chars ASC, doc_id ASC) AS INT)
             AS decile
    FROM documents
    """,
)
def pipeline_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: every document assigned its within-language
    quality decile (n_chars as the quality proxy; deterministic
    doc_id tie-break) — the bucketing step curriculum-ordered training
    mixes use. ntile semantics are identical across engines; the cost
    is one per-language sort (hash exchange + spill-safe in-partition
    sort — no global order, no single reducer)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "doc_id", "lang", F.ntile(10).over(w).alias("decile")
    )


@_register(
    "pipeline_profile_docs",
    """
    SELECT 'doc_id' AS col_name,
           (SELECT count(*) FROM documents) AS n_rows,
           count(doc_id) AS n_non_null,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_s,
           CAST(max(doc_id) AS VARCHAR) AS max_s
    FROM documents
    UNION ALL
    SELECT 'lang', (SELECT count(*) FROM documents), count(lang),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', (SELECT count(*) FROM documents), count(source),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', (SELECT count(*) FROM documents), count(n_chars),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def pipeline_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profile — the corpus QA gate: per-column row /
    non-null / distinct counts and value ranges from a SINGLE aggregate
    (every stat partial-combines map-side; one scan, one tiny exchange,
    then a stack unpivot to the long report). The suite runs the
    exact-distinct mode so DuckDB pins every value; the 100 TB default
    is HLL approx_count_distinct (bounded agg state per column)."""
    from postgresql_topn_spark.operators.profile import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(
        docs, ["doc_id", "lang", "source", "n_chars"], exact_distinct=True
    )


@_register(
    "pipeline_pack_contexts",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    d2 AS (
      SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
    ),
    ch AS MATERIALIZED (
      SELECT doc_id,
             CAST(start_tok / 224 AS INT) AS chunk_idx,
             start_tok,
             CAST(least(256, n - start_tok) AS BIGINT) AS n_tok,
             array_to_string(list_slice(toks, start_tok + 1, start_tok + 256), ' ')
               AS chunk,
             doc_id * 1048576 + CAST(start_tok / 224 AS BIGINT) AS cid
      FROM (
        SELECT doc_id, toks, n,
               unnest(range(0, greatest(n - 32, 1), 224)) AS start_tok
        FROM d2
      )
    ),
    p AS (
      SELECT cid,
             CAST(sum(n_tok) OVER (ORDER BY cid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok AS BIGINT) AS start_offset
      FROM ch
    )
    SELECT ch.doc_id, ch.chunk_idx, ch.start_tok, ch.n_tok, ch.chunk,
           p.start_offset,
           CAST(floor(p.start_offset / 2048.0) AS BIGINT) AS first_bin,
           CAST(floor((p.start_offset + greatest(ch.n_tok - 1, 0)) / 2048.0) AS BIGINT) AS last_bin
    FROM ch JOIN p USING (cid)
    """,
)
def pipeline_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-then-pack: every document split into 256-token chunks with
    32-token overlap (stride 224, the RAG/long-doc splitter, chunk text
    re-joined on single spaces), then every CHUNK assigned its byte-
    exact position in the concatenated token stream and the 2048-token
    training contexts it straddles. Chunk identity is the order-
    preserving composite chunk_id = doc_id * 2^20 + chunk_idx (chunk
    counts are bounded far below 2^20), so the pack order is exactly
    (doc_id, chunk_idx) — the layout a packed training shard uses.

    Chunking is pure scan-stage Catalyst (sequence -> explode ->
    slice, zero shuffles of its own); the pack oracle is the naive
    single-window cumsum while the Spark side runs the scale-safe
    two-level prefix sum (bucket-local cumsums in parallel + a
    #buckets-row bucket prefix broadcast back) — same numbers by
    associativity, no corpus-wide single-reducer window
    (plan-asserted in tests/test_plans.py). Round-8 lane-preserving
    merge of the former pipeline_chunk_docs gate (funding the round's
    two additions under the registry's 98-gate budget)."""
    from postgresql_topn_spark.operators.packing import (
        chunk_documents,
        pack_token_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_len=256, overlap=32
    ).withColumn(
        "cid",
        F.col("doc_id") * F.lit(1048576).cast("long")
        + F.col("chunk_idx").cast("long"),
    )
    # the chunk payload rides the pack's bucket-local window via
    # `keep` — zero extra shuffles vs a post-pack join back on cid
    return pack_token_stream(
        chunks,
        "cid",
        "n_tok",
        context_len=2048,
        bucket_width=1048576 * 64,
        keep=["doc_id", "chunk_idx", "start_tok", "chunk"],
    ).select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.col("n_tokens").alias("n_tok"),
        "chunk",
        "start_offset",
        "first_bin",
        "last_bin",
    )


# (pipeline_chunk_docs folded into pipeline_pack_contexts in round 8 —
# the chunker now feeds the packer inside one gate, chunk text and
# slice bounds still value-pinned, so both lanes keep one fresh driver
# row under the 98-gate budget.)


@_register(
    "topn_session_pairs",
    """
    WITH s AS (
      SELECT user_id, event_type,
             CAST(sum(CASE WHEN prev_ts IS NULL
                           OR ts - prev_ts > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts)
                  AS BIGINT) AS session_idx
      FROM (
        SELECT user_id, ts, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      ) t
    ),
    st AS (
      SELECT DISTINCT user_id, session_idx, event_type FROM s
    ),
    pr AS (
      SELECT a.user_id, a.session_idx,
             a.event_type AS ta, b.event_type AS tb
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_idx = b.session_idx
       AND a.event_type < b.event_type
    )
    SELECT item, frequency FROM (
      SELECT concat(ta, '+', tb) AS item, COUNT(*) AS frequency,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                concat(ta, '+', tb) ASC) AS rn
      FROM pr GROUP BY concat(ta, '+', tb)
    ) t WHERE rn <= 5
    """,
)
def topn_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-occurrence mining over sessions: which event types
    happen TOGETHER within a user session (the market-basket question,
    sessions as baskets) — gap-sessionize, collapse each session to
    its distinct-type set, explode unordered pairs with an in-array
    nested transform (no self-join: the session row is evaluated
    once), count pairs into a sketch, extract the global top-5. The
    composition stacks three of the repo's operators (sessionize ->
    pair explode -> topn_add_agg) in one declarative plan."""
    from postgresql_topn_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    sess = sessionize(ev, "user_id", "ts", gap_minutes=30)
    types = sess.groupBy("user_id", "session_idx").agg(
        F.array_sort(F.collect_set("event_type")).alias("tt")
    )
    # unordered pairs from the sorted distinct-type array: for index i,
    # pair with every later index j (nested transform + flatten)
    pairs = types.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("tt"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("tt"), i + 2, F.greatest(F.size("tt") - i - 1, F.lit(0))
                        ),
                        lambda y: F.concat(x, F.lit("+"), y),
                    ),
                )
            )
        ).alias("it")
    )
    sk = topn_add_agg(
        pairs.select(F.lit(1).alias("g"), "it"), ["g"], "it", counters=C
    )
    return explode_topn(sk, "topn", 5, counters=C)


@_register(
    "topn_with_others",
    """
    WITH c AS (
      SELECT CAST(year(ts) AS INT) AS yr, event_type AS item,
             COUNT(event_type) AS frequency
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), event_type
    ),
    r AS (
      SELECT yr, item, frequency,
             ROW_NUMBER() OVER (PARTITION BY yr
                                ORDER BY frequency DESC, item ASC) AS rn
      FROM c
    )
    SELECT yr, item, frequency FROM r WHERE rn <= 2
    UNION ALL
    SELECT yr, '(others)' AS item,
           CAST(sum(frequency) AS BIGINT) AS frequency
    FROM r WHERE rn > 2 GROUP BY yr
    """,
)
def topn_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n plus the '(others)' bucket — the dashboard presentation
    the reference's users build around topn(): per year, the top-2
    event types AND the exact total mass of everything else, both read
    from ONE per-year sketch (total-minus-head folds over the sorted
    entry array; no second aggregation over raw rows)."""
    from postgresql_topn_spark.functions.sketch import topn_others_count

    ev = load_table(spark, sf_dir, "events")
    sk = topn_add_agg(
        ev, [F.year("ts").alias("yr")], "event_type", counters=C
    )
    top = explode_topn(sk, "topn", 2, keep=["yr"], counters=C)
    others = sk.select(
        "yr",
        F.lit("(others)").alias("item"),
        topn_others_count("topn", 2, counters=C).alias("frequency"),
    ).where(F.col("frequency") > 0)
    return top.unionByName(others)


@_register(
    "events_rate_anomaly",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type IS NOT NULL
      GROUP BY event_type, date_trunc('hour', ts)
    ),
    base AS (
      SELECT event_type, hr, n,
             CAST(sum(n) OVER w AS BIGINT) AS base_sum,
             CAST(count(*) OVER w AS BIGINT) AS base_cnt
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hr, n,
           round(CAST(n AS DOUBLE)
                 / (CAST(base_sum AS DOUBLE) / CAST(base_cnt AS DOUBLE)), 6)
             AS rate_ratio,
           (CAST(n AS DOUBLE)
            > 2.0 * (CAST(base_sum AS DOUBLE) / CAST(base_cnt AS DOUBLE)))
             AS is_spike
    FROM base WHERE base_cnt >= 12
    """,
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection — the monitoring pass a pipeline
    runs over its ingest stream: hourly counts per event type, each
    hour compared to its trailing-24h baseline mean (a ROWS frame —
    integer sums, so the baseline is summation-order exact), spikes
    flagged at 2x. Warm-up hours (fewer than 12 baseline points) are
    suppressed. One (type) exchange serves the hourly agg AND the
    frame; everything else is per-row arithmetic."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    base = hourly.select(
        "event_type",
        "hr",
        "n",
        F.sum("n").over(w).alias("base_sum"),
        F.count(F.lit(1)).over(w).alias("base_cnt"),
    ).where(F.col("base_cnt") >= 12)
    mean = F.col("base_sum").cast("double") / F.col("base_cnt").cast("double")
    return base.select(
        "event_type",
        "hr",
        "n",
        F.round(F.col("n").cast("double") / mean, 6).alias("rate_ratio"),
        (F.col("n").cast("double") > F.lit(2.0) * mean).alias("is_spike"),
    )


@_register(
    "topn_exact_heavy",
    """
    SELECT event_type AS item, COUNT(*) AS frequency
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    HAVING COUNT(*) * 8 > (SELECT COUNT(event_type) FROM events)
    """,
)
def topn_exact_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass EXACT heavy hitters (Misra-Gries candidates + exact
    recount): every event type with frequency > total/8, with its
    exact count — the bounded-memory EXACT complement to the
    approximate sketches (no false positives, no false negatives, k
    counters per task in pass 1 regardless of cardinality or skew).
    The oracle is the plain HAVING form the operator provably equals."""
    from postgresql_topn_spark.operators.heavy_hitters import (
        exact_heavy_hitters,
    )

    ev = load_table(spark, sf_dir, "events")
    return exact_heavy_hitters(ev, "event_type", k=8)


@_register(
    "topn_composite_key",
    """
    WITH e AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS yr,
             concat(o.o_orderpriority, '|', l.l_returnflag) AS item
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    c AS (
      SELECT CAST(GROUPING(yr) AS BIGINT) AS gid, yr, item,
             COUNT(item) AS frequency
      FROM e GROUP BY GROUPING SETS ((yr, item), (item))
    )
    SELECT gid, yr, item, frequency FROM (
      SELECT gid, yr, item, frequency,
             row_number() OVER (PARTITION BY gid, yr
                                ORDER BY frequency DESC, item ASC) AS rn
      FROM c
    ) t WHERE rn <= 5
    """,
)
def topn_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-item sketch over a fact-fact join, built at TWO GRAINS
    in one scan: top-5 (orderpriority, returnflag) pairs per order year
    AND all-time, via topn_add_agg under GROUPING SETS. Composite keys
    are the encode-into-one-string idiom reference users need (the
    extension's items are text); GROUPING SETS is the rollup-table
    builder's one-pass grain expansion (a composition the reference's
    host engine offers but its tests never exercise; SURVEY.md §2.2).
    Exercises join -> expression item -> multi-grain sketch ->
    extraction in one plan. Round-8 lane-preserving merge of the
    former topn_grouping_sets gate (funding the deliver-dataset +
    model-roundtrip additions under the registry's 98-gate budget)."""
    from postgresql_topn_spark.functions.aggregates import (
        topn_add_agg_grouping_sets,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    e = j.select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.concat(
            F.col("o_orderpriority"), F.lit("|"), F.col("l_returnflag")
        ).alias("item"),
    )
    sk = topn_add_agg_grouping_sets(e, [["yr"], []], "item", counters=C)
    return explode_topn(sk, "topn", 5, keep=["gid", "yr"], counters=C)


# (topn_grouping_sets folded into topn_composite_key in round 8 — the
# lane-preserving merge VERDICT r7 item 8 prescribed: the composite-key
# gate now builds its sketch at two grains under GROUPING SETS, so both
# lanes keep one fresh driver row under the 98-gate budget.)


@_register(
    "pipeline_temperature_mix",
    """
    WITH c AS (SELECT source AS s, count(*) AS n FROM documents GROUP BY source),
    z AS (
      SELECT list_reduce(list(pow(CAST(n AS DOUBLE), 0.5) ORDER BY s),
                         (a, b) -> a + b) AS z
      FROM c
    ),
    r AS (
      SELECT s, round(least(1.0,
               200.0 * pow(CAST(n AS DOUBLE), 0.5) / z / CAST(n AS DOUBLE)),
               9) AS rate
      FROM c CROSS JOIN z
    )
    SELECT d.doc_id, d.source FROM documents d JOIN r ON d.source = r.s
    WHERE CAST(concat('0x', substr(md5('11:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          / 1152921504606846976.0 < rate
    """,
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (T=2, target 200 rows):
    per-source rates ~ n^(1/T), normalizer folded in sorted-source
    order so the DuckDB twin reproduces every rate bit-for-bit; per-row
    keep decisions ride the portable md5 key-uniform. The mixing rule
    every multilingual/ multi-source LLM corpus assembly uses."""
    from postgresql_topn_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(
        docs.select("doc_id", "source"),
        "source",
        "doc_id",
        temperature=2.0,
        target_rows=200,
        seed=11,
    ).select("doc_id", "source")


@_register(
    "pipeline_weighted_sample",
    """
    WITH s AS (
      SELECT lang, doc_id,
             ln(CAST(concat('0x', substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS score
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT lang, doc_id, CAST(rn AS INT) AS rank FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id ASC) AS rn
      FROM s) t WHERE rn <= 20
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis A-ES): 20
    documents per language, selection probability proportional to
    n_chars — the 'sample longer/higher-quality docs more often'
    mixing primitive. Scores are ln(u)/w over the portable md5
    key-uniform, so the same rows come back on any partitioning and
    the oracle replays the ranking exactly; the top-k itself runs the
    lossless two-level salted rank (no task sorts a whole group)."""
    from postgresql_topn_spark.operators.sampling import weighted_sample_k

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_k(
        docs.select("lang", "doc_id", "n_chars"),
        ["lang"],
        "doc_id",
        "n_chars",
        20,
        seed=7,
    ).select("lang", "doc_id", "rank")


@_register(
    "pipeline_dsir_resample",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             unnest(list_concat(t,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                              i -> t[i] || ' ' || t[i+1]))) AS f
      FROM toks
    ),
    fb AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 4096 AS bucket
      FROM feats
    ),
    docfeat AS (
      SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM fb GROUP BY doc_id, bucket
    ),
    rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY bucket),
    tgtc AS (
      SELECT fb.bucket, CAST(count(*) AS BIGINT) AS ct
      FROM fb JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY fb.bucket
    ),
    tot AS (
      SELECT CAST((SELECT sum(cr) FROM rawc) AS DOUBLE) AS tr,
             CAST(COALESCE((SELECT sum(ct) FROM tgtc), 0) AS DOUBLE) AS tt
    ),
    model AS (
      SELECT r.bucket,
             CAST(round(((ln(CAST(COALESCE(t2.ct, 0) AS DOUBLE) + 1.0) - ln(tt + 4096.0))
                         - (ln(CAST(r.cr AS DOUBLE) + 1.0) - ln(tr + 4096.0)))
                        * 1000000.0, 0) AS BIGINT) AS lr_micro
      FROM rawc r LEFT JOIN tgtc t2 USING (bucket) CROSS JOIN tot
    ),
    w AS (
      SELECT df.doc_id, CAST(sum(df.cnt) AS BIGINT) AS n_feats,
             CAST(sum(df.cnt * m.lr_micro) AS BIGINT) AS logw_micro
      FROM docfeat df JOIN model m USING (bucket)
      GROUP BY df.doc_id
    ),
    allw AS (
      SELECT d.doc_id, COALESCE(w.n_feats, 0) AS n_feats,
             COALESCE(w.logw_micro, 0) AS logw_micro
      FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN w USING (doc_id)
    ),
    keyed AS (
      SELECT doc_id, n_feats, logw_micro,
             CAST(round(CAST(logw_micro AS DOUBLE) / 1.0, 0) AS BIGINT)
             + CAST(round(-ln(-ln((CAST(CAST(concat('0x',
                     substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     AS DOUBLE) + 0.5) / 1152921504606846976.0))
                    * 1000000.0, 0) AS BIGINT) AS key_micro
      FROM allw
    )
    SELECT doc_id, n_feats, logw_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id ASC LIMIT 50
    """,
)
def pipeline_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): estimate hashed-bigram
    multinomials for the raw corpus and an in-corpus target slice
    (lang='en' — 'make the mix look like the English slice'), weight
    every document by its fixed-point log importance ratio, and draw
    50 documents by Gumbel top-k (md5-uniform noise). The importance
    weights are exact integer sums of per-bucket micro-nat ratios and
    the Gumbel keys are integer micro-nats from the portable
    key-uniform, so the DuckDB oracle replays model, weights, noise
    and the selected set value-for-value."""
    from postgresql_topn_spark.operators.dsir import dsir_resample

    docs = load_table(spark, sf_dir, "documents")
    return dsir_resample(
        docs,
        docs.where(F.col("lang") == "en"),
        k=50,
        n_buckets=4096,
        seed=0,
    )


@_register(
    "pipeline_dsir_rollup",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             unnest(list_concat(t,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                              i -> t[i] || ' ' || t[i+1]))) AS f
      FROM toks
    ),
    fb AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) % 512 AS bucket
      FROM feats
    ),
    rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY bucket),
    tgtc AS (
      SELECT fb.bucket, CAST(count(*) AS BIGINT) AS ct
      FROM fb JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY fb.bucket
    ),
    m AS (
      SELECT COALESCE(r.bucket, t2.bucket) AS bucket,
             COALESCE(t2.ct, 0) AS ct, COALESCE(r.cr, 0) AS cr
      FROM rawc r FULL OUTER JOIN tgtc t2 ON r.bucket = t2.bucket
    ),
    tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS tt,
                   CAST(sum(cr) AS DOUBLE) AS tr FROM m)
    SELECT bucket, ct, cr,
           CAST(round(((ln(CAST(ct AS DOUBLE) + 1.0) - ln(tt + 512.0))
                       - (ln(CAST(cr AS DOUBLE) + 1.0) - ln(tr + 512.0)))
                      * 1000000.0, 0) AS BIGINT) AS lr_micro
    FROM m CROSS JOIN tot
    """,
)
def pipeline_dsir_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's MERGEABLE production form behind the gate (VERDICT r6
    item 5): `dsir_bucket_counts` builds per-(lang, source) hashed-
    feature rollup rows ONCE (one bounded hash-agg — the same
    build-per-bucket / merge-at-read algebra as the topn/HLL/KMV
    rollup families), then `dsir_model_from_counts` models ANY slice
    by summing rollup rows without rescanning text: here raw = all 10
    (lang, source) slices summed, target = the lang='en' slices
    summed. The ORACLE computes the model DIRECTLY from the text — so
    a green hash proves model-from-merged-rollups == model-from-scan
    exactly (counts are additive; lr_micro is the fixed-point
    micro-nat log ratio, bit-stable across engines)."""
    from postgresql_topn_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_model_from_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    roll = dsir_bucket_counts(
        docs, ["lang", "source"], text_col="text", n_buckets=512
    )
    return dsir_model_from_counts(
        roll.select("bucket", "cnt"),
        roll.where(F.col("lang") == "en").select("bucket", "cnt"),
        n_buckets=512,
        alpha=1.0,
    )


@_register(
    "topn_native_approx",
    """
    SELECT yr, item, frequency FROM (
      SELECT CAST(year(ts) AS INT) AS yr, event_type AS item,
             COUNT(event_type) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY year(ts)
                                ORDER BY COUNT(event_type) DESC,
                                         event_type ASC) AS rn
      FROM events WHERE event_type IS NOT NULL
      GROUP BY year(ts), event_type
    ) t WHERE rn <= 3
    """,
)
def topn_native_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE DataSketches frequent-items family run in the
    repo's rollup shape: accumulate per (year, month), combine to
    per-year states (rollup merge, raw rows untouched), estimate with
    k >= tracked items, then deterministic rank over the exploded
    entries. max_items_tracked far exceeds the distinct event types,
    so the sketch never evicts and every count is exact — the same
    no-eviction regime the reference's own tests run in, which is what
    lets this engine-approximate path carry a plain COUNT oracle."""
    from postgresql_topn_spark.functions.native_topk import (
        accumulate,
        combine,
        estimate_entries,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    monthly = ev.groupBy(
        F.year("ts").cast("int").alias("yr"), F.month("ts").alias("mon")
    ).agg(accumulate("event_type", 10_000).alias("st"))
    yearly = monthly.groupBy("yr").agg(
        combine("st", 10_000).alias("cst")
    )
    entries = yearly.select(
        "yr", F.explode(estimate_entries("cst", 10_000)).alias("e")
    ).select(
        "yr",
        F.col("e.item").alias("item"),
        F.col("e.count").alias("frequency"),
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("frequency").desc(), F.col("item").asc()
    )
    return (
        entries.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("yr", "item", "frequency")
    )


@_register(
    "quantile_rollup_kll",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_values,
           TRUE AS median_ok, TRUE AS p90_ok
    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY event_type
    """,
)
def quantile_rollup_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup: per-(event_type, month) KLL sketches
    of `value`, folded per event_type WITHOUT rescanning raw rows,
    then the merged median/p90 estimates are checked against the true
    ranks of those estimates in the raw data. Driver-checked columns:
    the exact value count (KLL tracks n losslessly — a merge bug shows
    here immediately) and the rank-error envelope (|rank(est_q) - q|
    <= 0.05 = ~3x the k=200 error bound), the same honest contract as
    distinct_rollup_hll: the raw estimate is engine-internal (KLL
    compaction is randomized), the property it must satisfy is not."""
    from postgresql_topn_spark.functions.quantiles import (
        kll_add_agg,
        kll_n,
        kll_quantile,
        kll_union_rollup,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    monthly = kll_add_agg(
        ev,
        ["event_type", F.date_trunc("month", "ts").alias("mon")],
        "value",
    )
    merged = kll_union_rollup(monthly, ["event_type"], "kll")
    est = merged.select(
        "event_type",
        kll_n("kll").cast("long").alias("n_est"),
        kll_quantile("kll", 0.5).alias("med"),
        kll_quantile("kll", 0.9).alias("p90"),
    )
    checked = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("value").alias("n_values"),
            F.first("n_est").alias("n_est"),
            (
                F.sum((F.col("value") <= F.col("med")).cast("long"))
                / F.count("value")
            ).alias("med_rank"),
            (
                F.sum((F.col("value") <= F.col("p90")).cast("long"))
                / F.count("value")
            ).alias("p90_rank"),
        )
    )
    return checked.select(
        "event_type",
        "n_values",
        (
            (F.col("n_est") == F.col("n_values"))
            & (F.abs(F.col("med_rank") - 0.5) <= 0.05)
        ).alias("median_ok"),
        (F.abs(F.col("p90_rank") - 0.9) <= 0.05).alias("p90_ok"),
    )


# ---------------------------------------------------------------------------
# Audio multimodal: real WAV encode -> parse -> PCM windowed energy
# ---------------------------------------------------------------------------


@_register(
    "multimodal_audio_energy",
    """
    WITH n AS (
      SELECT doc_id, CAST(512 + (doc_id % 7) * 256 AS INT) AS ns
      FROM documents
    ),
    s AS (
      SELECT doc_id, i, ((doc_id * 31 + i * 17) % 2048) - 1024 AS v
      FROM (SELECT doc_id, unnest(generate_series(0, ns - 1)) AS i FROM n)
    )
    SELECT doc_id, CAST(i // 256 AS INT) AS window_idx,
           CAST(count(*) AS INT) AS win_samples,
           CAST(sum(v * v) AS BIGINT) AS sum_sq,
           CAST(max(abs(v)) AS INT) AS peak
    FROM s GROUP BY doc_id, i // 256
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column pipeline, END TO END REAL: synthesize genuine
    RIFF/WAVE PCM16 payloads (stdlib-wave-verified), parse the chunk
    list back (parse_wav_meta — the audio twin of the image header
    parser), decode PCM16 with numpy and emit per-256-sample windowed
    energy (exact integer sum of squares + absolute peak — the
    loudness/silence profile speech pipelines filter on). The samples
    are a pure integer function of doc_id, so the oracle replays every
    metric value-for-value while the Spark side exercises real WAV
    encode -> parse -> decode (operators/multimodal.py)."""
    from postgresql_topn_spark.operators.multimodal import (
        audio_energy_windows,
        make_audio_blob_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_energy_windows(make_audio_blob_table(docs), window=256)


@_register(
    "multimodal_png_pixels",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 17 AS INT) AS width,
             CAST(8 + (doc_id * 3) % 13 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT) AS channels
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height, channels,
             unnest(generate_series(0, width * height * channels - 1)) AS i
      FROM dims
    ),
    rp AS (
      SELECT doc_id, c, i,
             ((((2 * ((i // c) // 8) + 1) * h) // 16) * w
              + (((2 * ((i // c) % 8) + 1) * w) // 16)) * c + (i % c) AS src
      FROM (SELECT doc_id, width AS w, height AS h, channels AS c,
                   unnest(generate_series(0, 8 * 8 * channels - 1)) AS i
            FROM dims)
    )
    SELECT 'decode' AS stage, doc_id, width, height, channels,
           CAST(count(*) AS INT) AS n_px,
           CAST(sum(((i % (8 + doc_id % 9)) * 37 + doc_id * 31) % 256) AS BIGINT) AS px_sum,
           CAST(sum((((i % (8 + doc_id % 9)) * 37 + doc_id * 31) % 256) * (i + 1)) AS BIGINT)
             AS px_wsum
    FROM px GROUP BY 2, 3, 4, 5
    UNION ALL
    SELECT 'resize8' AS stage, doc_id, CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height, c AS channels,
           CAST(count(*) AS INT) AS n_px,
           CAST(sum(((src % (8 + doc_id % 9)) * 37 + doc_id * 31) % 256) AS BIGINT) AS px_sum,
           CAST(sum((((src % (8 + doc_id % 9)) * 37 + doc_id * 31) % 256) * (i + 1)) AS BIGINT)
             AS px_wsum
    FROM rp GROUP BY 2, 3, 4, 5
    """,
)
def multimodal_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real compressed-codec image path behind the gate (VERDICT r4
    item 7), now carrying the RESIZE stage too (round-7 registry
    consolidation — absorbed the retired `multimodal_png_resize`
    gate): synthesize a REAL PNG per document (zlib-compressed,
    correct CRCs — operators/multimodal.py synth_png), decode it
    through the pluggable ``decoder=`` hook with the pure-stdlib PNG
    decoder (chunk walk -> inflate -> unfilter), then

    - stage 'decode': reduce the full pixel array JVM-side (sum +
      position-weighted sum, so any ordering or off-by-one in decode
      breaks the hash);
    - stage 'resize8': resample every image to 8x8 with the standard
      center-aligned nearest-neighbor grid (src index = (2i+1)*src //
      (2*dst) per axis — resize_pixels' arithmetic, here as a pure
      Catalyst gather over the decoded array so BOTH stages ride ONE
      decode in ONE projection; a union of two branches would re-plan
      the mapInPandas decode twice) and reduce the SAME way — the
      oracle replays the integer sampling arithmetic against the pixel
      formula, position-weighted so any grid or interleave defect
      breaks the hash. The mapInPandas `resize_pixels` operator stays
      the library surface for standalone resizing (pytest-pinned equal
      to this gather on the same images).

    One decode feeds both stages; the Spark side genuinely round-trips
    through the PNG codec."""
    from postgresql_topn_spark.operators.multimodal import (
        decode_image_pixels,
        decode_png_pixels,
        make_png_blob_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    imgs = decode_image_pixels(
        make_png_blob_table(docs), decoder=decode_png_pixels
    )
    one = F.lit(1).cast("long")
    w = F.col("width").cast("long")
    h = F.col("height").cast("long")
    c = F.col("channels").cast("long")

    def _idiv(a: Column, b: Column) -> Column:
        return F.floor(a / b).cast("long")

    def _src(j: Column) -> Column:
        po, ch = _idiv(j, c), j % c
        oy, ox = _idiv(po, F.lit(8)), po % 8
        sy = _idiv((F.lit(2) * oy + 1) * h, F.lit(16))
        sx = _idiv((F.lit(2) * ox + 1) * w, F.lit(16))
        return (sy * w + sx) * c + ch

    rpx = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(64) * c - 1),
        lambda j: F.element_at("pixels", (_src(j) + 1).cast("int")),
    )

    def metrics(stage: str, wid, hei, px: Column) -> Column:
        return F.struct(
            F.lit(stage).alias("stage"),
            F.col("doc_id").alias("doc_id"),
            wid.cast("int").alias("width"),
            hei.cast("int").alias("height"),
            F.col("channels").alias("channels"),
            F.size(px).alias("n_px"),
            F.aggregate(px, F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "px_sum"
            ),
            F.aggregate(
                F.zip_with(
                    px,
                    F.sequence(one, F.size(px).cast("long")),
                    lambda v, i: v * i,
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias("px_wsum"),
        )

    return imgs.select(
        F.explode(
            F.array(
                metrics("decode", F.col("width"), F.col("height"), F.col("pixels")),
                metrics("resize8", F.lit(8), F.lit(8), rpx),
            )
        ).alias("r")
    ).select("r.*")


@_register(
    "multimodal_png_feature_ann",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 17 AS INT) AS width,
             CAST(8 + (doc_id * 3) % 13 AS INT) AS height,
             CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT) AS channels
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             list_transform(range(0, 16),
               j -> CAST(len(list_filter(
                      list_transform(range(0, width * height * channels),
                        i -> ((i % (8 + doc_id % 9)) * 37 + doc_id * 31) % 256),
                      v -> v // 16 = j)) AS DOUBLE)) AS emb
      FROM dims
    ),
    q AS (SELECT doc_id AS qid, emb AS qv FROM feat WHERE doc_id % 100 = 0),
    scored AS (
      SELECT q.qid AS query_id, c.doc_id AS neighbor_id,
             list_reduce(list_transform(range(1, 17),
                         i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE)),
                         (a, b) -> a + b)
             / (sqrt(list_reduce(list_transform(range(1, 17),
                      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(range(1, 17),
                      i -> CAST(c.emb[i] AS DOUBLE) * CAST(c.emb[i] AS DOUBLE)), (a, b) -> a + b)))
             AS sim
      FROM q, feat c WHERE c.doc_id <> q.qid
    )
    SELECT query_id, neighbor_id, "rank", round(sim, 6) AS sim FROM (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS "rank"
      FROM scored
    ) t WHERE "rank" <= 3
    """,
)
def multimodal_png_feature_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode -> featurize -> search pipeline with ZERO
    stand-ins: real PNGs (synth_png) -> real codec decode
    (decode_png_pixels: inflate + unfilter) -> real color-histogram
    features over the DECODED pixels (pixel_histogram_features, pure
    Catalyst, integer counts so the doubles are exact) -> brute-force
    cosine top-3 (cosine_topk, corpus never shuffles). The pixel
    formula gives each document a distinct 8..16-value intensity
    profile, so the similarity structure is real (top-3 ~0.95, median
    ~0.43) — unlike a flat formula where every histogram is uniform.
    Replaces the last fake in the multimodal story (the retired
    byte-histogram-stub gate's featurizer stays in the library as the
    raw-bytes variant, pytest-covered)."""
    from postgresql_topn_spark.operators.multimodal import (
        decode_image_pixels,
        decode_png_pixels,
        make_png_blob_table,
        pixel_histogram_features,
    )
    from postgresql_topn_spark.operators.similarity import cosine_topk

    from postgresql_topn_spark.operators.checkpointing import stage_cut

    docs = load_table(spark, sf_dir, "documents")
    imgs = decode_image_pixels(
        make_png_blob_table(docs), decoder=decode_png_pixels
    )
    # decode-once discipline (r14, the multimodal_semantic_dedup
    # precedent): cosine_topk COLLECTS the query side (the explicit
    # broadcast-smallness contract), and the %100 filter cannot push
    # below the opaque decode mapInPandas — so without a cut the full
    # synth+decode+featurize chain ran TWICE (stage dissection: two
    # 32-task Python stages of ~20 s runTime each, one per consumer).
    # The feature frame is one 16-double row per doc — checkpoint it.
    feats = stage_cut(pixel_histogram_features(imgs, bins=16))
    queries = feats.where(F.col("doc_id") % 100 == 0)
    return cosine_topk(
        feats, queries, id_col="doc_id", vec_col="embedding", k=3
    )


@_register(
    "multimodal_semantic_dedup",
    """
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 17 AS INT) AS w,
             CAST(8 + (doc_id * 3) % 13 AS INT) AS h,
             CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT) AS c
      FROM documents
    ),
    px AS (
      SELECT doc_id,
             ((i % (8 + doc_id % 9)) * 37 + doc_id * 31) % 256 AS v,
             ((((i // c) // w) * 4) // h) * 4 + ((((i // c) % w) * 4) // w) AS b
      FROM (SELECT doc_id, w, h, c,
                   unnest(generate_series(0, w * h * c - 1)) AS i
            FROM dims)
    ),
    feat AS (
      SELECT doc_id, array_agg(CAST(s AS DOUBLE) / cnt ORDER BY b) AS embedding
      FROM (SELECT doc_id, b, sum(v) AS s, count(*) AS cnt
            FROM px GROUP BY 1, 2)
      GROUP BY doc_id
    ),
    nsem AS (
      SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) / 200.0) AS BIGINT)) AS k
      FROM feat
    ),
    cent AS (
      SELECT cell, cv FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS cell,
               embedding AS cv
        FROM feat
      ) c CROSS JOIN nsem WHERE c.cell < nsem.k
    ),
    d AS (
      SELECT e.doc_id, e.embedding, c.cell,
             -2 * list_reduce(list_transform(range(1, 17),
                  i -> e.embedding[i] * c.cv[i]), (x, y) -> x + y)
             + list_reduce(list_transform(range(1, 17),
                  i -> c.cv[i] * c.cv[i]), (x, y) -> x + y) AS d2,
             list_reduce(list_transform(range(1, 17),
                 i -> e.embedding[i] * c.cv[i]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(range(1, 17),
                  i -> e.embedding[i] * e.embedding[i]), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(range(1, 17),
                  i -> c.cv[i] * c.cv[i]), (x, y) -> x + y)))
             AS csim
      FROM feat e, cent c
    ),
    ranked AS (
      SELECT doc_id, embedding, cluster, csim,
             CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                                     ORDER BY csim ASC, doc_id ASC) AS INT) AS rnk
      FROM (
        SELECT doc_id, embedding, CAST(cell AS INT) AS cluster, csim,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM d) t WHERE rn = 1
    ),
    kills AS (
      SELECT b.doc_id AS idb, arg_min(a.doc_id, a.rnk) AS dup_of
      FROM ranked a JOIN ranked b ON a.cluster = b.cluster AND a.rnk < b.rnk
      WHERE list_reduce(list_transform(range(1, 17),
                i -> a.embedding[i] * b.embedding[i]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(range(1, 17),
                 i -> a.embedding[i] * a.embedding[i]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(range(1, 17),
                 i -> b.embedding[i] * b.embedding[i]), (x, y) -> x + y)))
            >= 0.9999
      GROUP BY b.doc_id
    )
    SELECT r.doc_id, r.cluster, round(r.csim, 6) AS centroid_sim,
           r.rnk AS "rank", k.idb IS NULL AS keep, k.dup_of
    FROM ranked r LEFT JOIN kills k ON k.idb = r.doc_id
    """,
)
def multimodal_semantic_dedup(
    spark: SparkSession, sf_dir: str, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """The multimodal SEMANTIC-dedup story end-to-end with zero
    stand-ins (VERDICT r6 item 4): real PNGs (synth_png) -> real codec
    decode (decode_png_pixels: inflate + unfilter) -> REAL pixel-domain
    embedding (pixel_block_features: 4x4 block means over the decoded
    plane — spatial signal, not a byte histogram; one scan-stage
    projection, zero exchanges) -> SemDeDup keep/drop decisions
    (semantic_dedup: seeded centroids, rank by centroid-sim, greedy
    earliest-witness sweep at cosine >= 0.9999 — the synthetic pixel
    formula makes many images' block profiles exactly proportional, so
    the high threshold collapses genuine layout-duplicates while
    keeping each pattern class's keeper). The oracle replays pixel
    formula -> block means -> centroid pick -> assignment -> rank ->
    pairwise cosine -> sweep value-for-value."""
    from postgresql_topn_spark.operators.multimodal import (
        decode_image_pixels,
        decode_png_pixels,
        make_png_blob_table,
        pixel_block_features,
    )
    from postgresql_topn_spark.operators.semdedup import semantic_dedup

    from postgresql_topn_spark.operators.checkpointing import stage_cut

    docs = load_table(spark, sf_dir, "documents")
    imgs = decode_image_pixels(
        make_png_blob_table(docs), decoder=decode_png_pixels
    )
    # semantic_dedup fans its corpus into three branches (rank window,
    # pair self-join a/b); without a lineage cut each branch re-plans
    # the synth+decode mapInPandas chain. The feature frame is tiny
    # (one 16-double row per doc), so checkpoint it — the same
    # decode-once discipline a production pipeline would use (and the
    # bpe.py precedent; checkpoint_dir makes the cut reliable).
    # Plan-audited in tests/test_plans.py.
    feat = stage_cut(pixel_block_features(imgs, grid=4), checkpoint_dir)
    # round 10: seeded-auto sizing here too (the feature corpus is one
    # row per DOCUMENT, so it grows with the corpus — a fixed 8-cell
    # quantizer is the same ~n^2 in-cluster trap the text gates
    # retired); the oracle replays ceil(n/200)
    return semantic_dedup(
        feat,
        id_col="doc_id",
        vec_col="embedding",
        n_clusters="auto",
        target_cluster_size=200,
        threshold=0.9999,
    )




@_register(
    "docs_jsonl_roundtrip",
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents GROUP BY 1, 2
    """,
)
def docs_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-JSONL corpus sink/source end-to-end behind the gate
    (sources/jsonl.py, previously pytest-only): write the documents
    table as a sharded JSONL corpus (deterministic md5 shard
    membership + manifest), read it back WITH manifest verification
    (per-shard row counts + order-independent checksums), and
    aggregate per (lang, source). The oracle reads the parquet fixture
    directly — any JSON escaping, sharding or manifest defect breaks
    the round trip."""
    import os
    import tempfile

    from postgresql_topn_spark.sources.jsonl import (
        read_jsonl_corpus,
        write_jsonl_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = os.path.join(_scratch_dir("topn_jsonl_"), "corpus")
    write_jsonl_corpus(docs, base, n_shards=8)
    back = read_jsonl_corpus(
        spark,
        base,
        schema="doc_id bigint, text string, lang string, source string, n_chars int",
        verify_manifest=True,
    )
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("chars"),
    )


@_register(
    "topn_orc_roundtrip",
    """
    SELECT o_orderpriority, item, frequency FROM (
      SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS item,
             COUNT(*) AS frequency,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY COUNT(*) DESC,
                                         CAST(o_custkey AS VARCHAR) ASC) AS rn
      FROM orders GROUP BY 1, 2
    ) t WHERE rn <= 5
    """,
)
def topn_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a source format (the columnar interchange sibling of the
    parquet/CSV/JSONL lanes): the orders table round-trips through an
    ORC write + read, then the flagship rollup runs on the re-read
    frame — top-5 customers per order priority. The oracle computes the
    same exact counts from the parquet fixture, so any ORC
    type-mapping or value defect breaks the hash."""
    import os
    import tempfile

    from postgresql_topn_spark.functions.aggregates import topn_add_agg

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(_scratch_dir("topn_orc_"), "orders.orc")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    sk = topn_add_agg(
        back, ["o_orderpriority"], "o_custkey", counters=C
    )
    return explode_topn(sk, "topn", 5, keep=["o_orderpriority"], counters=C)


# ---------------------------------------------------------------------------
# Substring dedup (Lee et al. 2022 — token-granular shared-run detection)
# ---------------------------------------------------------------------------


@_register(
    "dedup_substring_runs",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, i AS p,
             CAST(concat('0x', substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
            FROM toks)
    ),
    hot AS (
      SELECT h FROM sh GROUP BY h
      HAVING count(*) > greatest(1000, CAST(ceil(
          0.005 * (SELECT count(*) FROM documents)) AS BIGINT))
    ),
    shf AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
      FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, a_start, b_start, run_tokens FROM (
      SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
             CAST(count(*) + 7 AS INT) AS run_tokens
      FROM (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
                   pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                           ORDER BY pa) AS isl
            FROM m)
      GROUP BY doc_a, doc_b, diag, isl
    ) WHERE run_tokens >= 16
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-granular substring dedup (Lee et al. 2022's ExactSubstr as
    relational algebra — operators/dedup.py substring_run_pairs): every
    maximal run of >= 16 consecutive tokens shared verbatim by two
    documents, with 1-based start offsets. Positional 8-token md5-60bit
    grams -> inverted-index self-join -> diagonal gaps-and-islands
    coalescing; the oracle replays all three stages value-for-value."""
    from postgresql_topn_spark.operators.dedup import substring_run_pairs

    docs = load_table(spark, sf_dir, "documents")
    return substring_run_pairs(
        docs, "doc_id", "text", min_run_tokens=16, shingle_k=8
    )


@_register(
    "pipeline_substring_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id, i AS p,
             CAST(concat('0x', substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
            FROM toks)
    ),
    hot AS (
      SELECT h FROM sh GROUP BY h
      HAVING count(*) > greatest(1000, CAST(ceil(
          0.005 * (SELECT count(*) FROM documents)) AS BIGINT))
    ),
    shf AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
      FROM shf a JOIN shf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, a_start, b_start, run_tokens FROM (
        SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
               CAST(count(*) + 7 AS INT) AS run_tokens
        FROM (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
                     pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                             ORDER BY pa) AS isl
              FROM m)
        GROUP BY doc_a, doc_b, diag, isl
      ) WHERE run_tokens >= 16
    ),
    iv AS (
      SELECT doc_b AS id, b_start AS s, b_start + run_tokens - 1 AS e
      FROM runs
    ),
    isl AS (
      SELECT id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS g
      FROM (SELECT id, s, e,
                   MAX(e) OVER (PARTITION BY id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
            FROM iv)
    ),
    cov AS (
      SELECT id, SUM(len) AS covered FROM (
        SELECT id, g, MAX(e) - MIN(s) + 1 AS len FROM isl GROUP BY id, g)
      GROUP BY id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS INT) AS n_tokens,
           CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
           round(CASE WHEN len(t.tk) > 0
                 THEN coalesce(cov.covered, 0) / CAST(len(t.tk) AS DOUBLE)
                 ELSE 0 END, 6) AS coverage,
           (CASE WHEN len(t.tk) > 0
            THEN coalesce(cov.covered, 0) / CAST(len(t.tk) AS DOUBLE)
            ELSE 0 END) <= 0.2 AS keep
    FROM toks t LEFT JOIN cov ON t.doc_id = cov.id
    """,
)
def pipeline_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup as a DECISION, not just a pair list (VERDICT r4
    item 5): per document, the fraction of tokens covered by the UNION
    of >= 16-token runs shared with earlier-id documents, and the
    keep/drop verdict at theta = 0.2 (operators/dedup.py
    substring_dedup). The oracle replays all FIVE stages — grams,
    inverted-index join, diagonal islands, per-doc interval union,
    coverage policy — value-for-value."""
    from postgresql_topn_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(
        docs, "doc_id", "text", min_run_tokens=16, shingle_k=8, theta=0.2
    )


def _stream_event_time(src: DataFrame, raw: DataFrame) -> DataFrame:
    """Normalize the staged events stream's `ts` to a proper TIMESTAMP:
    nanos-as-long fixtures convert via floor-to-micros (load_table's
    rule — keep the two lanes identical), NTZ casts to LTZ (required by
    withWatermark). ONE definition so the streaming lanes can never
    drift from the batch lane."""
    from pyspark.sql.types import LongType

    if isinstance(raw.schema["ts"].dataType, LongType):
        return src.withColumn(
            "ts",
            F.timestamp_micros(
                F.floor(F.col("ts") / F.lit(1000)).cast("long")
            ),
        )
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


def _stream_drain_parts(spark: SparkSession, src_dir: str):
    """Scoped shuffle-partition override for a streaming drain (r13):
    streaming queries get no AQE (state partition counts freeze at
    start; foreachBatch inner aggs and sink writes run at the raw
    conf), so the three stream gates size the count from the staged
    source's bytes via `adaptive_stream_partitions` and restore the
    session conf after the drain. Contents are partition-count
    invariant (hostile-partitioning probe).

    CONCURRENCY CONTRACT (r14, ADVICE r13): the override is
    session-GLOBAL for the drain window, so stream gates must never
    run inside the driver-thread overlap pattern
    (pipeline_model_roundtrip's two-chain submit) — a concurrently
    PLANNING query would bind the shrunken toy count into its own
    shuffles. All three stream gates are single-threaded straight-line
    dataflows today; keep it that way, or scope the width per-query
    (writeStream option / repartition) before overlapping one."""
    from contextlib import contextmanager

    from postgresql_topn_spark.streaming.topn_stream import (
        adaptive_stream_partitions,
    )

    @contextmanager
    def _scope():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(adaptive_stream_partitions(spark, src_dir)),
        )
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _scope()


def _stage_stream_source(sf_dir: str, name: str, base: str) -> str:
    """Stage a fixture parquet into a fresh directory the FILE STREAM
    source can watch. The fixture may be a single .parquet FILE (the
    driver's testdata) or a Spark-written DIRECTORY of part files
    (scale_bench's derived corpora) — symlinking a directory as one
    entry makes the stream source list ZERO files (its part files sit
    one level below the monitored glob), so directories get their part
    files linked individually."""
    import os

    src_dir = os.path.join(base, "in")
    os.makedirs(src_dir)
    src = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(src):
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                os.symlink(
                    os.path.join(src, f), os.path.join(src_dir, f"p{i}.parquet")
                )
    else:
        os.symlink(src, os.path.join(src_dir, f"{name}.parquet"))
    return src_dir


# ---------------------------------------------------------------------------
# CSV ingestion end-to-end (VERDICT r3 item 8: the copy_data.sql loop)
# ---------------------------------------------------------------------------


@_register(
    "topn_csv_reviews",
    """
    SELECT item, frequency FROM (
      SELECT CAST(l_partkey AS VARCHAR) AS item,
             COUNT(*) AS frequency,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC,
                                CAST(l_partkey AS VARCHAR) ASC) AS rn
      FROM lineitem WHERE CAST(l_quantity AS INT) >= 25
      GROUP BY CAST(l_partkey AS VARCHAR)
    ) t WHERE rn <= 10
    """,
)
def topn_csv_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's COPY pipeline end-to-end (sql/copy_data.sql:1-17,
    README.md:54-96): a reviews-shaped 12-column CSV — including the PG
    array-literal ``{A,B}`` column — is WRITTEN from the lineitem
    fixture, ingested back through read_customer_reviews_csv, and the
    top products by review count are extracted from a topn sketch. The
    CSV round trip is lossless, so the DuckDB oracle computes the same
    top-10 straight from the parquet fixture: any quoting/typing/array
    parsing defect in the CSV lane breaks the hash match."""
    import os
    import tempfile

    from postgresql_topn_spark.functions.aggregates import topn_add_agg
    from postgresql_topn_spark.sources.tables import read_customer_reviews_csv

    from postgresql_topn_spark.operators.dedup import spread_small_scan

    li = load_table(spark, sf_dir, "lineitem")
    # spread the starved scan so the CSV WRITE (and the read-back's
    # ingest) runs at cluster parallelism instead of the fixture file's
    # 3 splits; no-op at scale, where the scan already splits
    li = spread_small_scan(li, li)
    pid = F.col("l_partkey").cast("string")
    reviews = li.select(
        F.col("l_orderkey").cast("string").alias("customer_id"),
        F.to_date("l_shipdate").alias("review_date"),
        ((F.col("l_linenumber") % 5) + 1).cast("int").alias("review_rating"),
        F.col("l_quantity").cast("int").alias("review_votes"),
        (F.col("l_quantity") / 2).cast("int").alias("review_helpful_votes"),
        pid.alias("product_id"),
        F.concat(F.lit("title-"), pid).alias("product_title"),
        F.col("l_partkey").cast("long").alias("product_sales_rank"),
        F.lit("Book").alias("product_group"),
        F.lit("Cat").alias("product_category"),
        F.lit("Sub").alias("product_subcategory"),
        F.concat(
            F.lit("{"),
            (F.col("l_partkey") + 1).cast("string"),
            F.lit(","),
            (F.col("l_partkey") + 2).cast("string"),
            F.lit("}"),
        ).alias("similar_product_ids"),
    )
    base = _scratch_dir("topn_csv_reviews_")
    csv_dir = os.path.join(base, "reviews_csv")
    reviews.write.mode("overwrite").option("header", "false").csv(csv_dir)
    back = read_customer_reviews_csv(spark, csv_dir)
    hot = back.where(F.col("review_votes") >= 25)
    sk = topn_add_agg(hot, [], "product_id", counters=C)
    return explode_topn(sk, "topn", 10, counters=C)


# ---------------------------------------------------------------------------
# Streaming sketch-rollup (second streaming gate query, VERDICT r3 item 6)
# ---------------------------------------------------------------------------


@_register(
    "stream_kmv_rollup",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ),
    kmv AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    stats AS (
      SELECT event_type, count(*) AS kx, max(hv) AS hk
      FROM kmv WHERE rn <= 64 GROUP BY event_type
    )
    SELECT event_type,
           round(CASE WHEN kx < 64 THEN CAST(kx AS DOUBLE)
                      ELSE (63.0 * 1152921504606846976) / CAST(hk AS DOUBLE) END,
                 6) AS distinct_users_est
    FROM stats
    """,
)
def stream_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-EXECUTED distinct-count rollup: the events fixture
    replayed through a file stream (Trigger.AvailableNow); every
    micro-batch appends per-event_type KMV sketches to a parquet rollup
    (stream_sketch_rollup — the generic mergeable-family sink), then
    the read side folds the appended deltas with kmv_union_rollup and
    estimates distinct users per event type. Bottom-k union is
    idempotent AND lossless, so the merged streaming sketch equals the
    batch sketch over the whole history regardless of how availableNow
    split the input — which is why the oracle can replay the ENTIRE
    estimator (bottom-64 of the md5-60bit user hashes, (k-1)*M/h_(k))
    value-for-value against a stream-built artifact."""
    import os
    import tempfile

    from postgresql_topn_spark.functions.kmv import (
        kmv_add_agg,
        kmv_estimate,
        kmv_union_rollup,
    )
    from postgresql_topn_spark.streaming.topn_stream import (
        stream_sketch_rollup,
    )

    K = 64
    load_table(spark, sf_dir, "events")  # sets the nanos-as-long conf
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = _scratch_dir("topn_stream_kmv_")
    src_dir = _stage_stream_source(sf_dir, "events", base)
    src = (
        spark.readStream.schema(raw.schema)
        .parquet(src_dir)
        .where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )

    def build(batch_df: DataFrame) -> DataFrame:
        return kmv_add_agg(
            batch_df,
            ["event_type"],
            F.col("user_id").cast("string"),
            k=K,
        )

    rollup = os.path.join(base, "rollup")
    # r13: same drain-sized partition scope as the other stream gates
    with _stream_drain_parts(spark, src_dir):
        q = (
            stream_sketch_rollup(
                src, rollup, build, checkpoint=os.path.join(base, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("streaming KMV rollup did not drain in 600s")
    merged = kmv_union_rollup(
        spark.read.parquet(rollup), ["event_type"], "kmv", k=K
    )
    return merged.select(
        "event_type",
        F.round(kmv_estimate("kmv", k=K), 6).alias("distinct_users_est"),
    )


@_register(
    "stream_session_windows",
    """
    WITH e AS (
      SELECT user_id, ts FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    x AS (SELECT user_id, ts,
                 SUM(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM s),
    g AS (
      SELECT user_id,
             min(ts) AS win_start,
             max(ts) + INTERVAL 30 MINUTE AS win_end,
             count(*) AS n_events,
             min(ts) AS first_event, max(ts) AS last_event
      FROM x GROUP BY user_id, sid
    )
    SELECT user_id, win_start, win_end, n_events, first_event, last_event
    FROM g WHERE win_end <= (SELECT max(ts) FROM e)
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE streaming session_window behind the gate
    (streaming/topn_stream.py stream_session_stats): 30-minute dynamic
    session windows merged by the streaming state store, drained with
    availableNow into an append parquet sink. Append mode emits exactly
    the sessions the final watermark closed — win_end (last event +
    gap) <= max event time — so the oracle gap-sessionizes in DuckDB
    (new session iff gap >= 30min: session_window's half-open windows
    merge only on strict overlap) and filters to that flushable subset.
    Makes the watermark/late-data lane driver-visible, not just
    pytest-pinned."""
    import os
    import tempfile

    from postgresql_topn_spark.streaming.topn_stream import (
        stream_session_stats,
    )

    load_table(spark, sf_dir, "events")  # sets the nanos-as-long conf
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = _scratch_dir("topn_stream_sess_")
    src_dir = _stage_stream_source(sf_dir, "events", base)
    src = _stream_event_time(
        spark.readStream.schema(raw.schema).parquet(src_dir), raw
    )
    src = src.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "ts")
    out = stream_session_stats(
        src, gap="30 minutes", watermark="0 seconds"
    )
    sink = os.path.join(base, "sessions")
    # r13: the stateful gate sizes its state-partition count from the
    # staged source's bytes (_stream_drain_parts — the count freezes
    # into the checkpoint at start, one state store per partition).
    with _stream_drain_parts(spark, src_dir):
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "streaming sessionization did not drain in 600s"
            )
    return spark.read.parquet(sink)


# ---------------------------------------------------------------------------
# BPE tokenizer training (gate form)
# ---------------------------------------------------------------------------


def _bpe_oracle_sql(k: int) -> str:
    """DuckDB twin of train_bpe for k merge rounds. Words are encoded
    as delimiter-bracketed symbol strings (chr(28) sym chr(29) …), so
    applying a merge is a plain non-overlapping left-to-right
    ``replace`` — exactly the left fold semantics of _merge_pair_expr
    (aaa + merge(a,a) -> [aa, a] on both engines). Each round: extract
    symbols, count adjacent pairs weighted by word frequency, take the
    (count DESC, a, b) argmax with the >= 2 support floor, rewrite.
    The delimiters cannot appear in tokens (\\s+ split keeps control
    chars, but the synthetic corpus — and any sane corpus — carries
    none; the Spark side never relies on the encoding)."""
    fs, gs = "chr(28)", "chr(29)"
    sym_re = f"{fs}||'([^'||{gs}||']*)'||{gs}"
    parts = [
        f"""
    words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                      t -> t <> '')) AS w
        FROM documents) GROUP BY w
    ),
    w0 AS (
      SELECT array_to_string(list_transform(
               list_append(regexp_extract_all(w, '.'), '</w>'),
               c -> {fs} || c || {gs}), '') AS s, cnt
      FROM words
    )"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""",
    p{r} AS (
      SELECT a, b FROM (
        SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt) AS n FROM (
          SELECT syms, cnt, unnest(generate_series(1, len(syms)-1)) AS i
          FROM (SELECT regexp_extract_all(s, {sym_re}, 1) AS syms, cnt
                FROM w{r-1}))
        GROUP BY 1, 2) WHERE n >= 2
      ORDER BY n DESC, a ASC, b ASC LIMIT 1
    ),
    w{r} AS (
      SELECT CASE WHEN p.a IS NULL THEN s
             ELSE replace(s, {fs}||p.a||{gs}||{fs}||p.b||{gs},
                          {fs}||p.a||p.b||{gs}) END AS s, cnt
      FROM w{r-1} LEFT JOIN p{r} p ON TRUE
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a, b, a||b AS merged FROM p{r}"
        for r in range(1, k + 1)
    )
    return (
        "WITH "
        + "".join(parts)
        + f" SELECT CAST(merge_rank AS INT) AS merge_rank, a, b, merged"
        f" FROM ({finals})"
    )


@_register("bpe_train_merges", _bpe_oracle_sql(8))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training behind the gate: the first 8
    merge rules learned from the documents corpus (operators/bpe.py;
    VERDICT r3 item 3). Runs the batched selector (batch_m=4 — up to 4
    merges per Spark job via the provably-order-equivalent prefix rule,
    pinned equal to sequential in tests/test_bpe.py), so the gate also
    exercises the scheduler-round-trip optimization. The oracle replays
    the full iterative training in DuckDB via the bracketed-string
    encoding (merge application == non-overlapping replace)."""
    from postgresql_topn_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", n_merges=8, batch_m=4)
    rows = [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank int, a string, b string, merged string"
    )


def _bpe_encode_oracle_sql(k: int) -> str:
    """DuckDB twin of train_bpe(k) + bpe_encode over the same corpus:
    the training CTE chain of _bpe_oracle_sql, then every document's
    words re-encoded by applying the k learned merges IN LEARN ORDER
    (replace-all left-to-right per merge — the canonical equivalence
    with bpe_encode's greedy lowest-rank-first loop, pytest-pinned in
    test_encode_matches_sequential_merge_application), EOW suffixes
    stripped, standalone-EOW symbols dropped, tokens re-joined in
    document order."""
    fs, gs = "chr(28)", "chr(29)"
    sym_re = f"{fs}||'([^'||{gs}||']*)'||{gs}"
    # training prefix (identical chain to _bpe_oracle_sql)
    train = _bpe_oracle_sql(k)
    with_prefix = train[: train.rindex(" SELECT CAST(merge_rank")]
    # drop the final-select; keep "WITH words AS (...) ... w{k} AS (...)"
    parts = [with_prefix]
    parts.append(
        f""",
    docw AS (
      SELECT doc_id, i AS wp,
             array_to_string(list_transform(
               list_append(regexp_extract_all(tk[i], '.'), '</w>'),
               c -> {fs} || c || {gs}), '') AS s
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     t -> t <> '') AS tk
                  FROM documents))
    )"""
    )
    prev = "docw"
    for r in range(1, k + 1):
        parts.append(
            f""",
    e{r} AS (
      SELECT doc_id, wp,
             CASE WHEN p.a IS NULL THEN s
             ELSE replace(s, {fs}||p.a||{gs}||{fs}||p.b||{gs},
                          {fs}||p.a||p.b||{gs}) END AS s
      FROM {prev} LEFT JOIN p{r} p ON TRUE
    )"""
        )
        prev = f"e{r}"
    parts.append(
        f"""
    SELECT d.doc_id,
           CAST(coalesce(len(e.toks), 0) AS INT) AS n_bpe,
           coalesce(array_to_string(e.toks, ' '), '') AS bpe_text
    FROM documents d LEFT JOIN (
      SELECT doc_id,
             flatten(list(syms ORDER BY wp)) AS toks
      FROM (
        SELECT doc_id, wp,
               list_filter(
                 list_transform(regexp_extract_all(s, {sym_re}, 1),
                                x -> regexp_replace(x, '</w>$', '')),
                 x -> x <> '') AS syms
        FROM {prev})
      GROUP BY doc_id) e ON d.doc_id = e.doc_id
    """
    )
    return "".join(parts)


@_register("bpe_encode_tokens", _bpe_encode_oracle_sql(8))
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer LIFECYCLE behind the gate: train 8 merges on
    the corpus (batched selector), then ENCODE every document with the
    learned rules (operators/bpe.py bpe_encode — the Arrow-batched
    greedy apply loop) and emit per-doc token count + the re-joined
    token stream. The oracle independently re-trains in DuckDB and
    re-applies the merges in learn order, so a defect in either
    training or application breaks the hash."""
    from postgresql_topn_spark.operators.bpe import bpe_encode, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", n_merges=8, batch_m=4)
    enc = bpe_encode(docs, merges, "doc_id", "text")
    # NULL/empty-text docs still get a row: n_bpe 0, bpe_text '' —
    # matching the oracle's LEFT JOIN + coalesce (a doc the word
    # unnest never reaches)
    return enc.select(
        "doc_id",
        F.coalesce(F.size("bpe_tokens"), F.lit(0)).alias("n_bpe"),
        F.concat_ws(" ", F.coalesce("bpe_tokens", F.array())).alias(
            "bpe_text"
        ),
    )


def _sparse_cfg(ev: DataFrame) -> DataFrame:
    """The shared sparse "config" subset for the as-of gates: 1-in-97
    events, deduplicated per (event_type, ts) keeping the max event_id
    (exact-timestamp ties otherwise hit DuckDB ASOF's
    implementation-defined pick)."""
    w = Window.partitionBy("event_type", "ts").orderBy(
        F.col("event_id").desc()
    )
    return (
        ev.where(F.col("event_id") % 97 == 0)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("ts").alias("cts"),
            F.col("value").alias("cfg_value"),
            F.col("event_id").alias("cfg_event_id"),
        )
    )


# ---------------------------------------------------------------------------
# AS-OF join (gate form)
# ---------------------------------------------------------------------------


@_register(
    "dedup_tfidf_cosine",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
      FROM documents
    ),
    tk AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
        SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS term
        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
              FROM toks))
      GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM tk),
    dfs AS (SELECT term, count(*) AS df FROM tk GROUP BY 1
            HAVING count(*) <= greatest(1000, CAST(ceil(
                0.005 * (SELECT nd FROM n)) AS BIGINT))),
    w AS (
      SELECT tk.doc_id, tk.term, tk.tf * ln(nd / CAST(df AS DOUBLE)) AS w
      FROM tk JOIN dfs USING (term), n
      WHERE tk.tf * ln(nd / CAST(df AS DOUBLE)) > 0
    ),
    nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w GROUP BY 1),
    sims AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cos_sim FROM (
      SELECT doc_a, doc_b, round(dot / (x.nn * y.nn), 6) AS cos_sim
      FROM sims JOIN nrm x ON doc_a = x.doc_id JOIN nrm y ON doc_b = y.doc_id
    ) WHERE cos_sim >= 0.5
    """,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs over 3-token shingles
    (operators/dedup.py tfidf_cosine_pairs) — the weighted complement
    of dedup_jaccard_pairs: shingle rarity weights the overlap, so
    boilerplate-heavy pairs score low and true near-dups separate
    cleanly (this corpus: 25 pairs >= 0.85, next pair at 0.15).
    Inverted-index self-join on shared shingles, zero-idf terms dropped
    from index and measure alike; threshold on the rounded value for
    engine-portable boundaries."""
    from postgresql_topn_spark.operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "doc_id", "text", shingle_k=3, min_sim=0.5
    )


@_register(
    "events_interval_join",
    """
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events WHERE ts IS NOT NULL
    ),
    win AS (
      SELECT d, CAST(d AS TIMESTAMP) + INTERVAL 6 HOUR AS ws,
             CAST(d AS TIMESTAMP) + INTERVAL 18 HOUR AS we
      FROM days
    )
    SELECT w.d AS day, e.event_type, count(*) AS n
    FROM events e JOIN win w ON e.ts >= w.ws AND e.ts < w.we
    WHERE e.event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval (range) join behind the gate
    (operators/joins.py interval_join): events against derived daily
    06:00-18:00 "business windows", counted per (window day, type).
    The bucketize-and-split plan — grid equi-join for normal intervals,
    broadcast range join for the rare long tail — replaces the naive
    cross-join-plus-filter; the oracle runs DuckDB's native range
    predicate join."""
    from postgresql_topn_spark.operators.joins import interval_join

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    win = (
        ev.select(F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
        .select(
            "d",
            (F.col("d").cast("timestamp") + F.expr("INTERVAL 6 HOURS")).alias("ws"),
            (F.col("d").cast("timestamp") + F.expr("INTERVAL 18 HOURS")).alias("we"),
        )
    )
    joined = interval_join(
        ev.select("event_id", "ts", "event_type"),
        win,
        point_time="ts",
        start="ws",
        end="we",
        bucket_width=6 * 3600.0,
    )
    return joined.groupBy(
        F.col("d").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


@_register(
    "pipeline_train_split",
    """
    SELECT doc_id,
           CASE WHEN u < 0.75 THEN 'train'
                WHEN u < 0.875 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 AS u
      FROM documents)
    """,
)
def pipeline_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sampling.py
    train_split): bucket = cumulative ranges of the portable md5
    key-uniform, so assignment is a pure function of (doc_id, seed) —
    stable across runs, engines, partitionings and corpus refreshes.
    Gate uses exact binary weights (0.75/0.125/0.125) so the range
    boundaries are digit-for-digit identical in the SQL replay.
    Map-side only: a projection on the scan stage, no shuffle."""
    from postgresql_topn_spark.operators.sampling import train_split

    docs = load_table(spark, sf_dir, "documents")
    return train_split(
        docs,
        "doc_id",
        {"train": 0.75, "val": 0.125, "test": 0.125},
        seed=0,
    ).select("doc_id", "split")


@_register(
    "dedup_levenshtein_pairs",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             lower(array_to_string(string_split_regex(text, '\s+')[1:2], ' ')) AS b
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.text, c.text) AS INT) AS dist
    FROM t a JOIN t c ON a.b = c.b AND a.doc_id < c.doc_id
    WHERE abs(length(a.text) - length(c.text)) <= 20
      AND levenshtein(a.text, c.text) <= 20
    """,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (operators/dedup.py
    levenshtein_pairs) — the record-linkage flavor token-set dedup
    can't express ("colour"/"color" is one deletion, two unrelated
    tokens to Jaccard). Equality blocking on the lower-cased first TWO
    tokens (this corpus draws from a 31-word vocabulary, so one token
    blocks far too coarsely — 31 blocks of ~160 docs each at sf0.1),
    length-gap pre-filter, then the BANDED JVM-side verify (Spark's
    threshold levenshtein, exact when <= max_dist, == DuckDB's
    levenshtein there); never all-pairs."""
    from postgresql_topn_spark.operators.dedup import levenshtein_pairs

    docs = load_table(spark, sf_dir, "documents")
    block = F.lower(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 2))
    )
    return levenshtein_pairs(
        docs, "doc_id", "text", max_dist=20, block=block
    )


@_register(
    "events_retention_cohorts",
    """
    WITH up AS (
      SELECT DISTINCT user_id AS u, CAST(date_trunc('day', ts) AS DATE) AS p
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    f AS (SELECT u, min(p) AS cohort FROM up GROUP BY u)
    SELECT f.cohort, CAST(date_diff('day', f.cohort, up.p) AS INT) AS period_offset,
           count(*) AS n_users
    FROM up JOIN f ON up.u = f.u
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention matrix (operators/sessions.py retention_cohorts):
    users cohorted by the day of their first event; per (cohort,
    day-offset), exact distinct active users. Two map-side-combinable
    hash aggs — the distinct-(user, day) projection makes the final
    count exact without a count-distinct shuffle of raw events."""
    from postgresql_topn_spark.operators.sessions import retention_cohorts

    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts(ev, "user_id", "ts", period="day")


@_register(
    "events_asof_modes",
    """
    WITH cfg AS (
      SELECT event_type, cts, cfg_value, cfg_event_id FROM (
        SELECT event_type, ts AS cts, value AS cfg_value,
               event_id AS cfg_event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type IS NOT NULL AND event_id % 97 = 0
      ) WHERE rn = 1
    ),
    bwd AS (
      SELECT e.event_id, e.event_type,
             round(cfg.cfg_value, 6) AS cfg_value, cfg.cfg_event_id
      FROM (SELECT event_id, event_type, ts FROM events
            WHERE event_type IS NOT NULL) e
      ASOF LEFT JOIN cfg
        ON e.event_type = cfg.event_type AND e.ts >= cfg.cts
    ),
    fwd AS (
      SELECT e.event_id, e.event_type,
             round(cfg.cfg_value, 6) AS cfg_value, cfg.cfg_event_id
      FROM (SELECT event_id, event_type, ts FROM events
            WHERE event_type IS NOT NULL) e
      ASOF LEFT JOIN cfg
        ON e.event_type = cfg.event_type AND e.ts <= cfg.cts
    ),
    cand AS (
      SELECT e.event_id, c.cfg_value, c.cfg_event_id,
             CASE WHEN c.cts <= e.ts
                  THEN date_diff('microsecond', c.cts, e.ts)
                  ELSE date_diff('microsecond', e.ts, c.cts) END AS adist,
             CASE WHEN c.cts <= e.ts THEN 0 ELSE 1 END AS side
      FROM events e JOIN cfg c ON e.event_type = c.event_type
      WHERE e.event_type IS NOT NULL
    ),
    ranked AS (
      SELECT event_id, cfg_value, cfg_event_id,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY adist, side) AS rn
      FROM cand
    ),
    near AS (
      SELECT e.event_id, e.event_type,
             round(r.cfg_value, 6) AS cfg_value, r.cfg_event_id
      FROM (SELECT event_id, event_type FROM events
            WHERE event_type IS NOT NULL) e
      LEFT JOIN ranked r ON e.event_id = r.event_id AND r.rn = 1
    )
    SELECT 'backward' AS mode, * FROM bwd
    UNION ALL
    SELECT 'forward' AS mode, * FROM fwd
    UNION ALL
    SELECT 'nearest' AS mode, * FROM near
    """,
)
def events_asof_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL THREE as-of directions in one gate (round-7 consolidation
    absorbed the retired `events_asof_next` + `events_asof_nearest`;
    round-12 absorbed `events_asof_latest` verbatim as the 'backward'
    lane — the documented lane-merge that funds the r13 rotation):

    - mode 'backward' (VERDICT r4 item 1): every event picks up the
      LATEST config row of its type at-or-before its time ("the config
      in effect when this event happened"); oracle is DuckDB's NATIVE
      ASOF LEFT JOIN with >=, so the struct-based forward fill
      (matched row's values come back intact, NULL fields included) is
      value-checked against the engine that defines the semantics.
      Early events (before the first config of their type) exercise
      the all-NULL path; config rows themselves exercise the inclusive
      equal-time tie.
    - mode 'forward': every event picks up the EARLIEST config row of
      its type at-or-after its time ("the next deploy after this
      alert"); oracle is DuckDB's native ASOF LEFT JOIN with <=. Late
      events (after the last config of their type) exercise the
      all-NULL path.
    - mode 'nearest': whichever config row of the event's type is
      closer in time, equal distance tying to the backward row; the
      oracle brute-forces every (event, config) candidate and ranks by
      (|distance|, backward-first) — microsecond-exact integers, so
      the hash pins both the distance math and the tie rule.

    All modes share ONE deduplicated sparse config subset (a 1-in-97
    deterministic event subset) and, on the Spark side, the same
    union+window plan shape (one key exchange + one sort per mode)."""
    from postgresql_topn_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    cfg = _sparse_cfg(ev)
    outs = []
    for mode in ("backward", "forward", "nearest"):
        out = asof_join(
            ev.select("event_id", "event_type", "ts"),
            cfg,
            "event_type",
            left_time="ts",
            right_time="cts",
            payload=["cfg_value", "cfg_event_id"],
            direction=mode,
        )
        outs.append(
            out.select(
                F.lit(mode).alias("mode"),
                "event_id",
                "event_type",
                F.round("cfg_value", 6).alias("cfg_value"),
                "cfg_event_id",
            )
        )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged


@_register(
    "dedup_corpus_lines",
    r"""
    WITH base AS (
      SELECT doc_id,
             regexp_replace(text, '(\S+ \S+ \S+ \S+ \S+) ',
                            '\1' || chr(10), 'g') AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)),
                         l -> len(trim(l)) > 0) AS lines
      FROM base
    ),
    occ AS (
      SELECT doc_id, generate_subscripts(lines, 1) - 1 AS idx,
             unnest(lines) AS line
      FROM t
    ),
    occ2 AS (
      SELECT *, count(*) OVER (PARTITION BY line) AS n,
             ROW_NUMBER() OVER (PARTITION BY line
                                ORDER BY doc_id, idx) AS rn
      FROM occ
    ),
    rebuilt_first AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS ct,
             CAST(count(*) AS BIGINT) AS nk
      FROM occ2 WHERE rn = 1 GROUP BY doc_id
    ),
    rebuilt_freq AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS ct,
             CAST(count(*) AS BIGINT) AS nk
      FROM occ2 WHERE n < 2 GROUP BY doc_id
    ),
    rebuilt_freq3 AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS ct,
             CAST(count(*) AS BIGINT) AS nk
      FROM occ2 WHERE n < 3 GROUP BY doc_id
    ),
    pbase AS (
      SELECT doc_id,
             regexp_replace(text, '(([^' || chr(10) || ']+' || chr(10)
                            || '){2}[^' || chr(10) || ']+)' || chr(10),
                            '\1' || chr(10) || chr(10), 'g') AS text
      FROM base
    ),
    pt AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(10) || chr(10)),
                         p -> len(trim(p)) > 0) AS paras
      FROM pbase
    ),
    pocc AS (
      SELECT doc_id, generate_subscripts(paras, 1) - 1 AS idx,
             unnest(paras) AS para
      FROM pt
    ),
    pocc2 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY para
                                   ORDER BY doc_id, idx) AS rn
      FROM pocc
    ),
    rebuilt_pfirst AS (
      SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS ct,
             CAST(count(*) AS BIGINT) AS nk
      FROM pocc2 WHERE rn = 1 GROUP BY doc_id
    )
    SELECT 'keep_first' AS lane, b.doc_id,
           md5(COALESCE(r.ct, '')) AS clean_md5,
           CAST(COALESCE(len(t.lines), 0) AS BIGINT) AS n_lines,
           COALESCE(r.nk, 0) AS n_lines_kept
    FROM base b LEFT JOIN t USING (doc_id)
    LEFT JOIN rebuilt_first r ON r.doc_id = b.doc_id
    UNION ALL
    SELECT 'drop_frequent' AS lane, b.doc_id,
           md5(COALESCE(r.ct, '')) AS clean_md5,
           CAST(COALESCE(len(t.lines), 0) AS BIGINT) AS n_lines,
           COALESCE(r.nk, 0) AS n_lines_kept
    FROM base b LEFT JOIN t USING (doc_id)
    LEFT JOIN rebuilt_freq r ON r.doc_id = b.doc_id
    UNION ALL
    SELECT 'drop_df3' AS lane, b.doc_id,
           md5(COALESCE(r.ct, '')) AS clean_md5,
           CAST(COALESCE(len(t.lines), 0) AS BIGINT) AS n_lines,
           COALESCE(r.nk, 0) AS n_lines_kept
    FROM base b LEFT JOIN t USING (doc_id)
    LEFT JOIN rebuilt_freq3 r ON r.doc_id = b.doc_id
    UNION ALL
    SELECT 'para_first' AS lane, b.doc_id,
           md5(COALESCE(r.ct, '')) AS clean_md5,
           CAST(COALESCE(len(pt.paras), 0) AS BIGINT) AS n_lines,
           COALESCE(r.nk, 0) AS n_lines_kept
    FROM pbase b LEFT JOIN pt USING (doc_id)
    LEFT JOIN rebuilt_pfirst r ON r.doc_id = b.doc_id
    """,
)
def dedup_corpus_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet §3.1 / RefinedWeb cross-document line dedup — the REWRITER
    pass every production curation stack runs (PIPELINE.md boilerplate
    stage): repeated lines collapse to one canonical occurrence
    (keep_first) or vanish corpus-wide (drop_frequent); documents are
    rewritten, never dropped. FOUR lanes ride one gate (round-11 adds
    'para_first' and 'drop_df3' — VERDICT r10 item 4); the oracle
    replays the full split → per-element window stats → regroup →
    spine rebuild relationally, value-pinning clean_text via md5
    (round-10 addition, funded by the topn_scalar_ops merge):

    - keep_first / drop_frequent: line granularity, max_df=2 (the
      round-10 lanes, unchanged).
    - drop_df3: line granularity, max_df=3 — the max_df knob off its
      default (only lines occurring >= 3x corpus-wide vanish).
    - para_first: granularity='paragraph', keep_first — CCNet's
      actual unit (§3.1 deduplicates PARAGRAPHS across shards);
      paragraphs keep their inner newlines through the rewrite.

    The fixture is single-line word soup, so the gate first derives a
    deterministic multi-line corpus (newline after every 5th word —
    identical regex rewrite on both engines); at sf0.01 that yields
    ~5.6k lines of which ~600 occurrences are corpus-wide duplicates
    (~130 at df>=3). The paragraph corpus groups every 3 lines with a
    blank line (second regex, also engine-identical); ~80 of ~2k
    paragraph occurrences are corpus-wide duplicates at sf0.01 (~100
    at sf0.001, ~1k at sf0.1), so every lane rewrites real text.

    Scale shape (dedup.py corpus_line_dedup): per-line stats are a
    map-side-combinable hash aggregate pruned to duplicated keys, NOT
    a line_key window — a hot boilerplate line cannot become an
    unsplittable straggler task (hot_line_probe.py measures the two
    forms)."""
    from postgresql_topn_spark.operators.dedup import corpus_line_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            "text", r"(\S+ \S+ \S+ \S+ \S+) ", "$1\n"
        ).alias("text"),
    )
    pdocs = docs.select(
        "doc_id",
        F.regexp_replace(
            "text", "(([^\n]+\n){2}[^\n]+)\n", "$1\n\n"
        ).alias("text"),
    )

    def _lane(name, src, **kw):
        out = corpus_line_dedup(src, **kw)
        return out.select(
            F.lit(name).alias("lane"),
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_lines",
            "n_lines_kept",
        )

    lanes = [
        _lane("keep_first", docs, policy="keep_first", max_df=2),
        _lane("drop_frequent", docs, policy="drop_frequent", max_df=2),
        _lane("drop_df3", docs, policy="drop_frequent", max_df=3),
        _lane("para_first", pdocs, policy="keep_first",
              granularity="paragraph"),
    ]
    out = lanes[0]
    for ln in lanes[1:]:
        out = out.unionByName(ln)
    return out


# ---------------------------------------------------------------------------
# Registry ordering: driver-verification priority (self-rotating)
# ---------------------------------------------------------------------------
# The driver correctness run stops after ~50 registry entries
# (registration order), so the registry must be re-rotated EVERY round
# (VERDICT r3/r4; memory: driver-correctness-cap). Rounds 4/5 kept a
# hand-maintained priority list; this derives the rotation from the
# committed CORRECTNESS_r*.json artifacts instead, so it can never go
# stale:
#
# - a query with no GREEN driver row in ANY round sorts first (new
#   queries, and queries whose last run FAILED — both need a fresh row
#   most urgently);
# - then ascending by the round of the latest green row (two-rounds-
#   stale before one-round-stale — the previous round's complement);
# - registration order breaks ties.
#
# After the driver writes CORRECTNESS_r05.json, the next import
# automatically fronts the 50 queries without an r05 row — no manual
# re-rotation.
#
# SATURATION (round-5 continuation): the registry holds 100 queries —
# exactly 2 x the 50-row cap, the most the 2-round staleness bar
# admits. Before REGISTERING any new query, retire or merge an
# existing one (e.g. fold two single-operator checks into one combined
# oracled query), or every addition pushes an owed query to
# two-rounds-stale.


def _latest_green_round(root: "str | None" = None) -> "dict[str, int]":
    """name -> highest round with a fully-green CORRECTNESS row.

    A row that ran but FAILED (mismatch or err) does not count — such a
    query must re-front next round so the fix gets a fresh row."""
    import glob
    import json as _json
    import os
    import re as _re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.fullmatch(
            r"CORRECTNESS_r(\d+)\.json", os.path.basename(path)
        )
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if not (
                row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
            ):
                continue
            if rnd > latest.get(name, -1):
                latest[name] = rnd
    return latest


# Gates whose SEMANTICS changed in a given round: a green row from an
# earlier round proves the OLD behavior, so the gate must re-front the
# rotation exactly like a failed or never-run one (r9's three
# semantics-changed gates happened to already be owed; this makes the
# rule explicit).  name -> first round whose green row counts.  Entries
# self-expire: once the driver writes a green row at/after that round,
# the gate sorts by recency again — stale entries are harmless, but
# prune them when touching a gate anyway.
_SEMANTICS_CHANGED: dict[str, int] = {
    # r10: semdedup stage moved from fixed 12 cells to seeded-auto
    "pipeline_select_mix": 10,
    # r12: fixed (16, 4) -> seeded-auto n_lists/n_probe via
    # auto_ivf_params, oracle-replayed params CTE (VERDICT r11 item 2)
    "ann_ivf_topk": 12,
    "ann_ivfpq_topk": 12,
    # r10: fixed 16-cell quantizer -> seeded-auto (already r8-stale, so
    # this entry documents intent without changing the owed set)
    "dedup_semantic_clusters": 10,
    # r10: fixed 8-cell quantizer -> seeded-auto (the last fixed-cell
    # semdedup gate; r9-green, so this re-row takes the owed set to
    # exactly 50 — the cap, covered in full by the r9 driver run too)
    "multimodal_semantic_dedup": 10,
    # r11: two new lanes (para_first, drop_df3) — VERDICT r10 item 4;
    # r10's green row proves only the two-lane form. Takes the r11
    # owed set to exactly 50 (47 r9-complement + the two new tier2
    # gates + this).
    "dedup_corpus_lines": 11,
    # r11: gate moved from the fixed 16x4 band config to seeded-auto
    # banding (VERDICT r10 item 7). Already owed (r9-green), so this
    # entry documents intent without changing the owed set.
    "dedup_embedding_near": 11,
    # r12: three UNION-path lanes (u_entries/u_violations/u_exact) put
    # MergeTopn's per-merged-key prune (topn.c:984-988) behind the
    # driver — VERDICT r11 item 1. r11's green row proves only the
    # add-path lane set.
    "topn_tier2_eviction": 12,
    # r12: four new lanes — scalar-path insert-only prune regime
    # (prune_insert/prune_update, VERDICT r11 item 4) and the
    # unicode/JSON-fidelity VALUES corpus (unicode/unicode_order,
    # VERDICT r11 item 3). Already owed (r10-green), so these entries
    # document intent without changing the owed set.
    "topn_scalar_ops": 12,
    # r12: absorbed the retired events_asof_latest verbatim as the
    # 'backward' lane (the documented lane-merge funding the r13
    # rotation: registry 97 -> 96). r11's green row proves only the
    # two-lane form; this re-front fills r12's one slack slot exactly.
    "events_asof_modes": 12,
    # r13: error-contract verdict lane (n>counters extraction error +
    # GUC range validation as sentinel rows — VERDICT r12 item 3).
    # Host chosen from the OWED set (r11-green), so this entry
    # documents intent without changing the owed set.
    "topn_monthly_event_types": 13,
}


def _effective_round(name: str, latest: "dict[str, int]") -> int:
    rnd = latest.get(name, -1)
    if rnd < _SEMANTICS_CHANGED.get(name, -1):
        return -1
    return rnd


def _reorder_registry(root: "str | None" = None) -> None:
    latest = _latest_green_round(root)
    reg_pos = {n: i for i, n in enumerate(QUERIES)}
    order = sorted(
        QUERIES, key=lambda n: (_effective_round(n, latest), reg_pos[n])
    )
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in order if n in snapshot})


_reorder_registry()
