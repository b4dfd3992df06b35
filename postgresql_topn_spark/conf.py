"""Session configuration — every ``spark.topn.*`` knob, in one table.

The reference declares its one GUC, ``topn.number_of_counters``, once with
type, default and range 1 .. JSONB_MAX_PAIRS (= 14,913,080 on the reference
test build), and a bad value fails naming it (topn.c:159-179,
expected/add_agg.out:47-53). :data:`KNOBS` declares every knob of this
engine the same way; :func:`knob` reads one at operator-construction time.
README.md "Configuration" documents each knob.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import SparkSession

# int64 saturation bound for frequencies (topn.c:48, 997-1009).
INT64_MAX = 9223372036854775807

CONF_KEY = "spark.topn.numberOfCounters"
DEFAULT_COUNTERS = 1000
MAX_COUNTERS = 14_913_080
SPREAD_ENABLED = "spark.topn.spread.enabled"
CC_LOCAL_EDGE_THRESHOLD = "spark.topn.cc.localEdgeThreshold"
LR_PARTITION_BYTES = "spark.topn.lr.partitionBytes"
LM_SAMPLE_TARGET_BYTES = "spark.topn.lm.sampleTargetBytes"
STREAM_PARTITION_BYTES = "spark.topn.stream.partitionBytes"


class Knob(NamedTuple):
    kind: str  # "int", "size" (bytes, '128m'-style suffixes) or "bool"
    default: int | bool
    lo: int = 1
    hi: int = INT64_MAX


KNOBS = {
    CONF_KEY: Knob("int", DEFAULT_COUNTERS, 1, MAX_COUNTERS),
    SPREAD_ENABLED: Knob("bool", True),
    # the driver probe is a limit(threshold + 1): a Java int
    CC_LOCAL_EDGE_THRESHOLD: Knob("int", 200_000, 0, 2**31 - 2),
    LR_PARTITION_BYTES: Knob("size", 128 << 10),
    LM_SAMPLE_TARGET_BYTES: Knob("size", 1 << 30),
    STREAM_PARTITION_BYTES: Knob("size", 1 << 20),
}

_EXPECTED = {
    "int": "an integer",
    "size": "a positive size (bytes, or a number with a k/m/g/t suffix)",
    "bool": "true or false",
}


def size_bytes(v: object) -> int:
    """Parse a Spark size value ('134217728', '128m', '1g', '1b')."""
    s = str(v).strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def check(key: str, raw: object) -> int | bool:
    """`raw` parsed as knob `key`; a ValueError names the key and value."""
    kind, _, lo, hi = KNOBS[key]
    try:
        if kind == "bool":
            return {"true": True, "false": False}[str(raw).strip().lower()]
        value = int(raw) if kind == "int" else size_bytes(raw)
    except (KeyError, TypeError, ValueError):
        raise ValueError(f"{key}={raw!r} is not {_EXPECTED[kind]}") from None
    if not lo <= value <= hi:
        raise ValueError(
            f"{key}={raw!r} is outside the valid range [{lo}, {hi}]: "
            f"expected {_EXPECTED[kind]}"
        )
    return value


def knob(spark: SparkSession, key: str) -> int | bool:
    """The session's value of knob `key` (its default when unset)."""
    return check(key, spark.conf.get(key, str(KNOBS[key].default).lower()))


def number_of_counters(spark: SparkSession | None = None) -> int:
    """Current counter budget; validates like the reference GUC."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        return DEFAULT_COUNTERS
    return knob(spark, CONF_KEY)


def set_number_of_counters(spark: SparkSession, value: int) -> None:
    """Set the counter budget — ``SET topn.number_of_counters`` parity.

    Like PostgreSQL's GUC assign hook, the setter also refreshes any
    SQL-function registration that follows the conf
    (functions/sql_api.py), so the next ``spark.sql()`` call sees the
    new budget — the reference reads its GUC per call (topn.c:229-233).
    """
    spark.conf.set(CONF_KEY, str(check(CONF_KEY, value)))
    # Only reach into the SQL registration module if it was ever
    # imported: a Column-API-only deployment (no pandas installed) must
    # be able to call this setter, and no session can be in the
    # follow-the-conf set unless sql_api was imported to register it.
    import sys

    sql_api = sys.modules.get("postgresql_topn_spark.functions.sql_api")
    if sql_api is not None:
        sql_api.refresh_sql_registration(spark)


def resolve_counters(counters: int | None, spark: SparkSession | None = None) -> int:
    """Explicit argument wins; falls back to the session conf."""
    if counters is None:
        return number_of_counters(spark)
    if type(counters) is int and 1 <= counters <= MAX_COUNTERS:
        return counters  # the common case, without the table lookup
    return check(CONF_KEY, counters)
