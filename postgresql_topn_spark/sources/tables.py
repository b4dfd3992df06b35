"""Table loaders for the driver's synthetic star schema (TESTDATA.md) and
the reference's CSV ingestion surface (sql/copy_data.sql:1-17).

Loading is plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown / column pruning / partition pruning on the scan for free — the
reference relies on PostgreSQL for the same (SURVEY.md §2.2).
"""

from __future__ import annotations

import functools
import os
from urllib.parse import urlparse

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DateType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Per-session DataFrame cache. The fixture tables are immutable, so the
# only staleness risk is a stopped SparkSession — hence the cache is
# keyed by the live session object (weakly, so a replaced session's
# entries vanish with it rather than aliasing a new one). A cached
# DataFrame is just a reusable logical plan; this saves the ~0.1s
# file-listing/schema round-trip every suite query was paying per
# load_table call.
import weakref

_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark refuses to
        # read natively; read it as int64 nanos and rebuild a
        # microsecond timestamp column. NOTE: the legacy conf is
        # SESSION-WIDE and must stay set while this (lazy) DataFrame can
        # still execute — a later read of an unrelated nanos-timestamp
        # parquet in the same session will also surface int64 nanos
        # instead of erroring; re-type such columns explicitly.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if isinstance(df.schema["ts"].dataType, LongType):
            # floor division: `div` truncates toward zero, shifting
            # pre-epoch (negative-nanos) events forward by 1us
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.floor(F.col("ts") / F.lit(1000)).cast("long")
                ),
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


@functools.lru_cache(maxsize=None)
def _jclass(jvm, name: str):
    # py4j resolves a dotted class name in ~0.8 ms of round trips
    return functools.reduce(getattr, name.split("."), jvm)


def input_bytes(
    source: "DataFrame | str | list[str]", spark: SparkSession | None = None
) -> int | None:
    """How big an input is: the bytes of a DataFrame's scan files (or of
    a list of file URIs), or of everything under a path. None when
    unknown — no file scan behind the frame (in-memory, cut, cached) or
    an unreadable file — and each caller keeps its scale-safe fallback.

    Sizes are read through the Hadoop FileSystem API, so any scheme
    works. A local ``file:`` URI takes an os.stat shortcut (the same
    bytes, no py4j round trip); one os.stat cannot resolve (a
    percent-encoded name) goes through Hadoop too."""
    if isinstance(source, DataFrame):
        spark = source.sparkSession
        try:
            source = source.inputFiles()
        except (Py4JError, PySparkException):  # no analyzable scan
            return None
    spark = spark or SparkSession.active()
    Path = _jclass(spark._jvm, "org.apache.hadoop.fs.Path")
    try:
        if isinstance(source, str):
            path = Path(source)
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            return int(fs.getContentSummary(path).getLength())
        total = 0
        for name in source:
            uri = urlparse(name)
            try:
                if uri.scheme in ("file", ""):
                    total += os.path.getsize(uri.path)
                    continue
            except OSError:
                pass
            path = Path(_jclass(spark._jvm, "java.net.URI")(name))
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            total += int(fs.getFileStatus(path).getLen())
        return total if source else None
    except (Py4JError, PySparkException):  # unreadable file or path
        return None


def child_dirs(spark: SparkSession, path: str) -> dict[str, int]:
    """The directories directly under *path*, name -> modification time
    (epoch ms, as the filesystem reports it): one Hadoop ``listStatus``,
    so any scheme works. Raises FileNotFoundError naming *path* when it
    does not exist."""
    jpath = _jclass(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        statuses = fs.listStatus(jpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            raise FileNotFoundError(f"no directory at {path}") from None
        raise
    return {
        st.getPath().getName(): st.getModificationTime() for st in statuses if st.isDirectory()
    }


# The reference's flagship CSV schema — 12-column Amazon customer reviews
# (sql/copy_data.sql:1-16, README.md:54-68). PG CHAR(10) maps to plain
# strings; CHAR(10)[] to array<string>.
CUSTOMER_REVIEWS_SCHEMA = StructType(
    [
        StructField("customer_id", StringType()),
        StructField("review_date", DateType()),
        StructField("review_rating", IntegerType()),
        StructField("review_votes", IntegerType()),
        StructField("review_helpful_votes", IntegerType()),
        StructField("product_id", StringType()),
        StructField("product_title", StringType()),
        StructField("product_sales_rank", LongType()),
        StructField("product_group", StringType()),
        StructField("product_category", StringType()),
        StructField("product_subcategory", StringType()),
        StructField("similar_product_ids", ArrayType(StringType())),
    ]
)


def read_customer_reviews_csv(spark: SparkSession, path: str) -> DataFrame:
    """COPY customer_reviews FROM csv (sql/copy_data.sql) — the array
    column arrives as PG array literal text ``{A,B}`` and is split."""
    from pyspark.sql import functions as F

    raw_fields = [
        StructField(f.name, StringType() if f.name == "similar_product_ids" else f.dataType)
        for f in CUSTOMER_REVIEWS_SCHEMA.fields
    ]
    df = spark.read.csv(path, schema=StructType(raw_fields), header=False)
    cleaned = F.regexp_replace("similar_product_ids", r"[{}]", "")
    return df.withColumn(
        "similar_product_ids",
        F.when(F.length(cleaned) == 0, F.expr("array()").cast("array<string>"))
        .otherwise(F.split(cleaned, ",")),
    )
