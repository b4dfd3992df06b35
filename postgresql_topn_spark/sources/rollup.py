"""Materialized rollup tables — the reference's core usage pattern
(README.md:73-116: ``popular_products(review_date date UNIQUE, agg_data
jsonb)``): pre-aggregate sketches per time bucket, persist them, answer
dashboard top-n by merging only the requested interval's rows.

Spark-first materialization: a parquet table **partitioned by the time
bucket**, sketch stored as JSON text (engine-portable, like the
reference's at-rest JSONB). The readers resolve a rollup path to an
external table of the session catalog (``CREATE TABLE … USING parquet
LOCATION``, then ``RECOVER PARTITIONS``), the reference's
``UNIQUE(review_date)`` index: an interval filter prunes buckets in the
catalog before any file is listed, so a read costs the interval, not the
history (a path read rediscovers every bucket, as a listing job above 32).

Freshness: a read sees the files on disk at call time, whoever wrote
them. Each read lists the bucket directories once, with their
modification times, as deep as the registered table's partitioning (on
the first read, as deep as the caller expects: one level for a topn
rollup, the partition names for a sketch rollup). Then:

- if every bucket and its mtime match what this session saw at its last
  REFRESH, REPAIR or registration of the table, nothing it has cached
  can be stale: the read keeps Spark's cached file listings (and any
  persisted frame built on an earlier read), so an interval it read
  before is not listed again;
- otherwise it reads the parquet footer of one data file. New partition
  column names or a new data schema (a changed depth shows as one or
  the other), or no bucket left of those registered (an overwrite),
  registers the table again: DROP, CREATE (which re-infers the schema,
  the partition columns and their types), RECOVER;
- other added or removed buckets run ``REPAIR TABLE … SYNC PARTITIONS``,
  so the table and its other buckets stay visible to frames that
  earlier reads returned while they run;
- otherwise ``REFRESH TABLE``, so the query lists only the buckets it
  prunes to.

The first branch trusts mtimes only where a change must show as a new
one: a path stored on ``file:`` or ``hdfs:`` (an object store's
directory mtimes are synthesized; a ``viewfs:`` path is judged by the
target of its mount link, so a link to an object store is not
trusted, nor is an internal directory of the mount table), every
mtime set, and the newest at least ``_SETTLE_S`` older than a clock
reading taken before the listing that saw it (a change in the same timestamp tick keeps its mtime; the
window also covers that much skew between the driver's clock and the
filesystem's). Any other listing refreshes. A file rewritten in place
under its old name changes no directory mtime, so it is not seen until
its bucket changes otherwise; Spark's writers and this package's
compaction only add, rename and delete files. The saved state is per
``SparkSession``, since each caches its own relation. So the first read
after any bucket change re-lists its interval once, as does a read
within ``_SETTLE_S`` of a write; later reads of an unchanged rollup pay
the listing of the bucket directories and no more.

Writers need no hook. Appended buckets take the registered partition
column type. The tables live in the reserved database ``topn_rollups``,
one per qualified path; dropping one never deletes data (EXTERNAL).
Under a Hive catalog that database persists. The first read in an
application creates that database, so the warehouse directory
(``spark.sql.warehouse.dir``) must be writable. A read that refreshes
or repairs the table also drops the cached data of any persisted frame
built on an earlier read of the same rollup; it is recomputed on its
next use.
"""

from __future__ import annotations

import hashlib
import threading
import time
import weakref
from collections.abc import Sequence

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.aggregates import topn_add_agg, topn_union_agg
from postgresql_topn_spark.functions.sketch import sketch_to_json
from postgresql_topn_spark.sources.tables import _jclass, child_dirs

_DB = "spark_catalog.topn_rollups"
_LOCK = threading.Lock()
# per SparkContext (one catalog each): table -> (depth, bucket dirs, data schema) registered
_Registration = tuple[int, frozenset[str], "str | None"]
_REGISTERED: "weakref.WeakKeyDictionary[SparkContext, dict[str, _Registration]]" = (
    weakref.WeakKeyDictionary()
)
# per SparkSession (one relation cache each): table -> (bucket dir -> mtime, data
# schema) at its last REFRESH, REPAIR or registration, kept while trusted
_Snapshot = tuple[dict[str, int], "str | None"]
_SEEN: "weakref.WeakKeyDictionary[SparkSession, dict[str, _Snapshot]]" = (
    weakref.WeakKeyDictionary()
)
# schemes whose directory mtimes change with every file added or removed
_TRUSTED_SCHEMES = ("file", "hdfs")
# a change this close to a listing may keep the mtime the listing saw
_SETTLE_S = 2.0


def _bucket_dirs(spark: SparkSession, root: str, depth: int) -> dict[str, int]:
    """The partition directories *depth* levels under *root*, as relative
    paths (``k=v/…/``) -> modification time (epoch ms): one listing per
    directory above that level."""
    level = {"": 0}
    for _ in range(depth):
        level = {
            f"{rel}{n}/": mtime
            for rel in level
            for n, mtime in child_dirs(spark, root + "/" + rel).items()
            if "=" in n and not n.startswith(".")
        }
    return level


def _storage(fs, qualified) -> str:
    """The URI of the storage behind the *qualified* Hadoop path: a
    ``viewfs:`` mount link resolves to its target, which may be any
    filesystem; an internal directory of the mount table stays
    ``viewfs:``."""
    if qualified.toUri().getScheme() == "viewfs":
        return fs.resolvePath(qualified).toString()
    return qualified.toString()


def _trusted(target: str, mtimes: dict[str, int], clock: float) -> bool:
    """Whether any later change to a bucket of this listing of a rollup
    stored at *target* (see :func:`_storage`) must show as a new mtime:
    a scheme with real directory mtimes, every mtime set, and the newest
    at least ``_SETTLE_S`` older than *clock*, read before the listing."""
    return (
        target.split(":", 1)[0] in _TRUSTED_SCHEMES
        and bool(mtimes)
        and min(mtimes.values()) > 0
        and max(mtimes.values()) <= (clock - _SETTLE_S) * 1000
    )


def _grain(dirs: frozenset[str]) -> frozenset[tuple[str, ...]]:
    # the partition column names along each bucket directory
    return frozenset(tuple(p.split("=", 1)[0] for p in d.split("/")[:-1]) for d in dirs)


def _data_schema(spark: SparkSession, root: str, dirs: frozenset[str]) -> str | None:
    """The parquet schema in the footer of the first data file of the
    first bucket: the data columns, which ``REFRESH TABLE`` does not
    infer again."""
    if not dirs:
        return None
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    leaf = _jclass(jvm, "org.apache.hadoop.fs.Path")(root + "/" + min(dirs))
    for st in leaf.getFileSystem(conf).listStatus(leaf):
        f = st.getPath()
        if st.isFile() and not f.getName().startswith((".", "_")):
            footer = _jclass(jvm, "org.apache.parquet.hadoop.ParquetFileReader").readFooter(conf, f)
            return footer.getFileMetaData().getSchema().toString()
    return None


def _rollup_table(spark: SparkSession, path: str, depth: int) -> DataFrame:
    """*path* as an external table of the session catalog, as fresh as
    the files on disk (see the module docstring). *depth* is the number
    of partition levels the caller expects; the catalog's own inference
    overrides it, since a stream rollup read as a topn rollup is
    partitioned by ``run_id``/``batch_id``. Fails with FileNotFoundError
    naming the qualified *path* when it does not exist."""
    jpath = _jclass(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(jpath)
    where = qualified.toString()
    name = f"{_DB}.r{hashlib.sha256(where.encode()).hexdigest()[:32]}"
    with _LOCK:
        registered = _REGISTERED.setdefault(spark.sparkContext, {})
        seen = _SEEN.setdefault(spark, {})
        depth, old_dirs, old_schema = registered.pop(name, (depth, frozenset(), None))
        clock = time.time()
        mtimes = _bucket_dirs(spark, where, depth)
        dirs = frozenset(mtimes)
        if seen.pop(name, None) == (mtimes, old_schema) and old_dirs == dirs:
            schema = old_schema
        else:
            schema = _data_schema(spark, where, dirs)
            if (_grain(old_dirs), old_schema) != (_grain(dirs), schema) or not old_dirs & dirs:
                spark.sql(f"CREATE DATABASE IF NOT EXISTS {_DB}")
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                spark.catalog.createTable(name, path=where, source="parquet")
                spark.catalog.recoverPartitions(name)
                # the catalog's metadata: Catalog.listColumns runs two Spark jobs
                state = spark._jsparkSession.sessionState()
                ident = state.sqlParser().parseTableIdentifier(name.split(".", 1)[1])
                parts = state.catalog().getTableMetadata(ident).partitionColumnNames().size()
                if parts != depth:
                    depth = parts
                    mtimes = _bucket_dirs(spark, where, depth)
                    dirs = frozenset(mtimes)
                    schema = _data_schema(spark, where, dirs)
            elif old_dirs != dirs:
                spark.sql(f"REPAIR TABLE {name} SYNC PARTITIONS")
            else:
                spark.catalog.refreshTable(name)
        if _trusted(_storage(fs, qualified), mtimes, clock):
            seen[name] = (mtimes, schema)
        registered[name] = (depth, dirs, schema)
        return spark.table(name)


def write_topn_rollup(
    df: DataFrame,
    path: str,
    bucket: Column | str,
    item: Column | str,
    *,
    bucket_name: str = "bucket",
    extra_group_cols: Sequence[Column | str] = (),
    counters: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Build per-bucket sketches and persist them partitioned by bucket.

    ``mode="append"`` adds new buckets incrementally (sketch deltas are
    associative — merging at read time makes appended same-bucket rows
    equivalent to one big aggregation, the reference's incremental
    rollup contract)."""
    b = bucket if isinstance(bucket, Column) else F.col(bucket)
    sk = topn_add_agg(
        df,
        [b.alias(bucket_name), *extra_group_cols],
        item,
        counters=counters,
    )
    sk.withColumn("topn", sketch_to_json(F.col("topn"))).write.mode(
        mode
    ).partitionBy(bucket_name).parquet(path)


def read_topn_rollup(
    spark: SparkSession,
    path: str,
    *,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Load a rollup table with the sketch column re-typed. The path
    resolves to a catalog table (module docstring: freshness rule,
    reserved database), so a filter on the bucket column prunes buckets
    before any file is listed: the plan reads
    ``InMemoryFileIndex(1 paths)`` for a one-bucket interval. While the
    rollup is unchanged (trusted, settled bucket mtimes), later reads in
    the same session keep Spark's file listings: an interval read
    before lists nothing again, however many buckets it spans.

    ``bucket_name`` must match the name the rollup was written with —
    it is validated against the on-disk partition column so a mismatch
    fails here, at load, instead of as a missing-column error in the
    first downstream interval filter."""
    df = _rollup_table(spark, path, 1)
    if bucket_name not in df.columns:
        raise ValueError(
            f"rollup at {path} has no bucket column {bucket_name!r}; "
            f"found columns {df.columns}"
        )
    return df.withColumn("topn", F.from_json("topn", "map<string,bigint>"))


def query_topn_rollup(
    rollup: DataFrame,
    group_cols: Sequence[Column | str],
    *,
    counters: int | None = None,
) -> DataFrame:
    """Merge rollup rows per *group_cols* (e.g. month from daily buckets,
    or a constant for a grand total) — the read-side topn_union_agg."""
    return topn_union_agg(rollup, list(group_cols), "topn", counters=counters)


def write_sketch_rollup(
    df: DataFrame,
    path: str,
    partition_names: Sequence[str],
    *,
    mode: str = "overwrite",
) -> None:
    """Persist ANY mergeable-family rollup (KMV/CMS/Bloom array<bigint>
    rows, HLL/KLL binary rows, topn JSON rows) partitioned by its time/
    shard grain — the same layout contract as write_topn_rollup:
    appends add delta rows (each family's merge law makes them
    equivalent to one big build), interval reads prune partitions, and
    sources/maintenance-style compaction folds deltas back down."""
    if not partition_names:
        raise ValueError("partition_names must be non-empty")
    df.write.mode(mode).partitionBy(*list(partition_names)).parquet(path)


def read_sketch_rollup(
    spark: SparkSession,
    path: str,
    partition_names: Sequence[str],
) -> DataFrame:
    """Load a sketch rollup; validates the partition grain so a
    mismatch fails at load, not in the first downstream filter. The
    path resolves to a catalog table as in :func:`read_topn_rollup`, so
    filters on the partition columns prune in the catalog before any
    file is listed; a new partition at any level of a multi-level grain
    is visible on the next read."""
    df = _rollup_table(spark, path, len(partition_names))
    missing = [c for c in partition_names if c not in df.columns]
    if missing:
        raise ValueError(
            f"rollup at {path} lacks partition columns {missing}; "
            f"found {df.columns}"
        )
    return df
