"""Rollup reads through the session catalog: a rollup path resolves to an
external table, so an interval filter prunes buckets before any file is
listed, and every read still sees the files on disk at call time."""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from postgresql_topn_spark.sources.maintenance import compact_topn_rollup
from postgresql_topn_spark.sources.rollup import (
    read_sketch_rollup,
    read_topn_rollup,
    write_sketch_rollup,
    write_topn_rollup,
)
from postgresql_topn_spark.sources.tables import child_dirs

DB = "spark_catalog.topn_rollups"


def _write_days(spark, path, days, *, per_day=3, mode="overwrite"):
    """Day d holds item "a" per_day times and item "b" d % 5 + 1 times."""
    rows = [(d, "a") for d in days for _ in range(per_day)]
    rows += [(d, "b") for d in days for _ in range(d % 5 + 1)]
    df = spark.createDataFrame(rows, "d int, item string")
    write_topn_rollup(df, path, "d", "item", bucket_name="day", mode=mode)


def _by_day(spark, path):
    rows = read_topn_rollup(spark, path, bucket_name="day").collect()
    out: dict[int, dict[str, int]] = {}
    for r in rows:
        for k, v in r["topn"].items():
            out.setdefault(r["day"], {}).setdefault(k, 0)
            out[r["day"]][k] += v
    return out


def _table_of(df) -> str:
    return re.search(r"topn_rollups\.(r[0-9a-f]+)", df._jdf.queryExecution().analyzed().toString())[1]


@contextlib.contextmanager
def _job_group(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, group) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_day_read_of_720_buckets_lists_one_partition(spark, tmp_path):
    path = str(tmp_path / "r720")
    _write_days(spark, path, range(720), per_day=1)
    day = read_topn_rollup(spark, path, bucket_name="day").where(F.col("day") == 3)
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryFileIndex(1 paths)" in plan
    files = day.inputFiles()
    assert files and all("/r720/day=3/" in f for f in files)
    assert [r["topn"] for r in day.collect()] == [{"b": 4, "a": 1}]


def test_interval_read_launches_no_listing_job(spark, tmp_path):
    """40 buckets is above Spark's 32-directory threshold for a parallel
    listing job: a path read pays that job and a schema job before the
    scan, a catalog read runs only the scan's jobs."""
    path = str(tmp_path / "r40")
    _write_days(spark, path, range(40))
    built = read_topn_rollup(spark, path, bucket_name="day").where(F.col("day") == 3)
    with _job_group(spark, "rollup-scan"):
        built.collect()
    with _job_group(spark, "rollup-read"):
        read_topn_rollup(spark, path, bucket_name="day").where(F.col("day") == 3).collect()
    assert _jobs(spark, "rollup-read") == _jobs(spark, "rollup-scan") >= 1


def test_reads_see_every_writer(spark, tmp_path):
    path = str(tmp_path / "fresh")
    _write_days(spark, path, [1, 2])
    assert _by_day(spark, path) == {1: {"a": 3, "b": 2}, 2: {"a": 3, "b": 3}}

    # a same-session append: a new bucket and a delta in an old one
    _write_days(spark, path, [2, 3], mode="append")
    assert _by_day(spark, path) == {1: {"a": 3, "b": 2}, 2: {"a": 6, "b": 6}, 3: {"a": 3, "b": 4}}

    # a compaction rewrites every file: the next read lists the new ones
    assert compact_topn_rollup(spark, path, bucket_name="day") == 3
    assert _by_day(spark, path) == {1: {"a": 3, "b": 2}, 2: {"a": 6, "b": 6}, 3: {"a": 3, "b": 4}}
    assert all(len(os.listdir(os.path.join(path, f"day={d}"))) <= 2 for d in (1, 2, 3))

    # a bucket directory copied in from outside the library
    shutil.copytree(os.path.join(path, "day=1"), os.path.join(path, "day=9"))
    assert _by_day(spark, path)[9] == {"a": 3, "b": 2}

    # another writer adds a file to an existing bucket
    part = next(f for f in os.listdir(os.path.join(path, "day=1")) if f.endswith(".parquet"))
    shutil.copy(os.path.join(path, "day=1", part), os.path.join(path, "day=1", "part-other.parquet"))
    assert _by_day(spark, path)[1] == {"a": 6, "b": 4}

    # an overwrite that removes buckets
    _write_days(spark, path, [4])
    assert _by_day(spark, path) == {4: {"a": 3, "b": 5}}


def test_table_is_external_and_data_survives_reregistration(spark, tmp_path):
    path = str(tmp_path / "ext")
    _write_days(spark, path, [1])
    name = _table_of(read_topn_rollup(spark, path, bucket_name="day"))
    assert spark.catalog.getTable(f"{DB}.{name}").tableType == "EXTERNAL"
    # no registered bucket is left: DROP, CREATE, RECOVER
    os.rename(os.path.join(path, "day=1"), os.path.join(path, "day=5"))
    assert _by_day(spark, path) == {5: {"a": 3, "b": 2}}
    assert sorted(child_dirs(spark, path)) == ["day=5"]
    assert any(f.endswith(".parquet") for f in os.listdir(os.path.join(path, "day=5")))


def test_table_names_follow_the_qualified_path(spark, tmp_path):
    base = tmp_path / "it's a `q` dir"
    path = str(base / "rollup")
    _write_days(spark, path, [1])
    other = str(base / "rollup2")
    _write_days(spark, other, [2])
    before = spark.sql("SHOW TABLES").collect()

    jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
    spellings = [path, f"file:{path}", f"file://{path}", path + "/", os.path.relpath(path, jvm_cwd)]
    names = {_table_of(read_topn_rollup(spark, p, bucket_name="day")) for p in spellings}
    assert len(names) == 1
    assert _table_of(read_topn_rollup(spark, other, bucket_name="day")) not in names
    assert _by_day(spark, path) == {1: {"a": 3, "b": 2}}
    assert _by_day(spark, other) == {2: {"a": 3, "b": 3}}
    assert spark.sql("SHOW TABLES").collect() == before


def test_schema_and_partition_types_match_a_path_read(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-01", "x", 7, [1, 2]), ("2024-02-01", "y", 8, [3])],
        "dt string, src string, n int, kmv array<bigint>",
    )
    path = str(tmp_path / "typed")
    write_sketch_rollup(df, path, ["dt", "src"])
    got = read_sketch_rollup(spark, path, ["dt", "src"])
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(path).collect())


@pytest.mark.parametrize("grain", [["mon", "shard"], ["mon"]])
def test_multi_level_grain_new_inner_partition(spark, tmp_path, grain):
    """Reads list as deep as the catalog partitions the table, also when
    the caller names only the outer level."""
    path = str(tmp_path / "grain")
    df = spark.createDataFrame([("2024-01", 0, [1])], "mon string, shard int, kmv array<bigint>")
    write_sketch_rollup(df, path, ["mon", "shard"])
    assert read_sketch_rollup(spark, path, grain).count() == 1
    more = spark.createDataFrame([("2024-01", 1, [2])], "mon string, shard int, kmv array<bigint>")
    write_sketch_rollup(more, path, ["mon", "shard"], mode="append")
    got = read_sketch_rollup(spark, path, grain)
    assert sorted((r["shard"], list(r["kmv"])) for r in got.collect()) == [(0, [1]), (1, [2])]


def test_empty_first_read_then_append(spark, tmp_path):
    """A read before any bucket exists fails as a path read does, and
    registers nothing: the read after an append sees the buckets."""
    ahead = str(tmp_path / "ahead")
    os.makedirs(ahead)
    empty = str(tmp_path / "empty")
    write_topn_rollup(
        spark.createDataFrame([], "d int, item string"), empty, "d", "item", bucket_name="day"
    )
    for path in (ahead, empty):
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            read_topn_rollup(spark, path, bucket_name="day")
        _write_days(spark, path, [1, 2], mode="append")
        assert _by_day(spark, path) == {1: {"a": 3, "b": 2}, 2: {"a": 3, "b": 3}}


def test_overwrites_over_the_same_buckets_register_again(spark, tmp_path):
    """REFRESH keeps the registered schema, so a changed grain, data
    schema or bucket type registers the table again."""
    path = str(tmp_path / "regrain")
    df = spark.createDataFrame([("2024-01", 0, [1])], "mon string, shard int, kmv array<bigint>")
    write_sketch_rollup(df.drop("shard"), path, ["mon"])
    assert read_sketch_rollup(spark, path, ["mon"]).columns == ["kmv", "mon"]

    write_sketch_rollup(df, path, ["mon", "shard"])
    got = read_sketch_rollup(spark, path, ["mon", "shard"])
    assert [(r["mon"], r["shard"], list(r["kmv"])) for r in got.collect()] == [("2024-01", 0, [1])]

    write_sketch_rollup(df.withColumn("n", F.lit(7)), path, ["mon", "shard"])
    assert read_sketch_rollup(spark, path, ["mon", "shard"]).first()["n"] == 7

    # back to one level over the same months
    write_sketch_rollup(df.drop("shard"), path, ["mon"])
    assert read_sketch_rollup(spark, path, ["mon"]).columns == ["kmv", "mon"]

    days = str(tmp_path / "retyped")
    _write_days(spark, days, [1])
    assert _by_day(spark, days) == {1: {"a": 3, "b": 2}}
    dated = spark.createDataFrame([("2024-01-01", "a")], "d string, item string")
    write_topn_rollup(dated, days, F.to_date("d"), "item", bucket_name="day")
    got = read_topn_rollup(spark, days, bucket_name="day")
    assert dict(got.dtypes)["day"] == "date" and got.count() == 1


def test_missing_rollup_fails_naming_the_path(spark, tmp_path):
    path = str(tmp_path / "nowhere")
    with pytest.raises(FileNotFoundError, match="nowhere"):
        read_topn_rollup(spark, path)
    with pytest.raises(FileNotFoundError, match="nowhere"):
        read_sketch_rollup(spark, path, ["day"])


def test_concurrent_first_reads(spark, tmp_path):
    """Threads racing to register the same new paths each get the whole
    rollup: registration (DROP, CREATE, RECOVER) holds one lock."""
    paths = [str(tmp_path / f"c{i}") for i in range(2)]
    for i, p in enumerate(paths):
        _write_days(spark, p, range(i, i + 3))
    want = [{d: {"a": 3, "b": d % 5 + 1} for d in range(i, i + 3)} for i in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(_by_day, spark, paths[i % 2]) for i in range(16)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert got == [want[i % 2] for i in range(16)]


def test_earlier_frame_plans_while_another_thread_appends(spark, tmp_path):
    """Interval frames of an earlier read keep planning while another
    thread appends buckets and reads: a changed bucket set repairs the
    table's partitions (SYNC PARTITIONS) instead of dropping the table."""
    path = str(tmp_path / "live")
    _write_days(spark, path, [1])
    rollup = read_topn_rollup(spark, path, bucket_name="day")
    done = threading.Event()

    def append_and_read():
        try:
            for d in range(2, 8):
                _write_days(spark, path, [d], mode="append")
                read_topn_rollup(spark, path, bucket_name="day")
        finally:
            done.set()

    seen = []
    with ThreadPoolExecutor(max_workers=1) as pool:
        writer = pool.submit(append_and_read)
        while not done.is_set():
            seen.append([r["topn"] for r in rollup.where(F.col("day") == 1).collect()])
        writer.result(timeout=300)
    assert len(seen) > 1 and all(s == [{"a": 3, "b": 2}] for s in seen)
    assert sorted(_by_day(spark, path)) == list(range(1, 8))


def test_child_dirs_lists_directories(spark, tmp_path):
    (tmp_path / "d=1").mkdir()
    (tmp_path / "d=2").mkdir()
    (tmp_path / "f.txt").write_text("x")
    root = str(tmp_path)
    for p in (root, f"file:{root}", f"file://{root}"):
        assert sorted(child_dirs(spark, p)) == ["d=1", "d=2"]
        with pytest.raises(FileNotFoundError, match="missing"):
            child_dirs(spark, f"{p}/missing")
