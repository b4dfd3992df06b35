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
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from postgresql_topn_spark.sources import rollup
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


def _settle(path):
    """Move each bucket directory modified within the settle window back
    past it, so the next read trusts its listing; a later change still
    shows as a new mtime."""
    recent = time.time() - rollup._SETTLE_S - 1
    for entry in os.scandir(path):
        st = entry.stat()
        if entry.is_dir() and "=" in entry.name and st.st_mtime > recent:
            back = st.st_mtime_ns - int((rollup._SETTLE_S + 5) * 1e9)
            os.utime(entry.path, ns=(st.st_atime_ns, back))


def _add_file(path, bucket):
    """Another writer adds a copy of a data file to *bucket*."""
    part = next(f for f in os.listdir(os.path.join(path, bucket)) if f.endswith(".parquet"))
    shutil.copy(os.path.join(path, bucket, part), os.path.join(path, bucket, "part-other.parquet"))


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


def test_interval_read_launches_no_listing_job(spark, tmp_path, monkeypatch):
    """40 buckets is above Spark's 32-directory threshold for a parallel
    listing job: a path read pays that job and a schema job before the
    scan. A catalog read runs only the scan's jobs: a read that refreshes
    lists one bucket on the driver, and a second read of an unchanged
    40-day interval keeps the session's file listings."""
    path = str(tmp_path / "r40")
    _write_days(spark, path, range(40))
    with monkeypatch.context() as m:
        # no listing is trusted: every read refreshes the table
        m.setattr(rollup, "_TRUSTED_SCHEMES", ())
        built = read_topn_rollup(spark, path, bucket_name="day").where(F.col("day") == 3)
        with _job_group(spark, "rollup-scan"):
            built.collect()
        with _job_group(spark, "rollup-read"):
            read_topn_rollup(spark, path, bucket_name="day").where(F.col("day") == 3).collect()
        assert _jobs(spark, "rollup-read") == _jobs(spark, "rollup-scan") >= 1

    _settle(path)
    interval = F.col("day") < 40
    built = read_topn_rollup(spark, path, bucket_name="day").where(interval)
    built.collect()
    with _job_group(spark, "rollup-scan-40"):
        built.collect()
    with _job_group(spark, "rollup-read-40"):
        got = read_topn_rollup(spark, path, bucket_name="day").where(interval).collect()
    assert len(got) == 40
    assert _jobs(spark, "rollup-read-40") == _jobs(spark, "rollup-scan-40") >= 1


def test_reads_see_every_writer(spark, tmp_path, monkeypatch):
    """Once with every read refreshing, and once with settled bucket
    mtimes, where each read may keep its session's file listings, so the
    mtimes alone must show every writer."""
    with monkeypatch.context() as m:
        m.setattr(rollup, "_TRUSTED_SCHEMES", ())
        _reads_see_every_writer(spark, str(tmp_path / "fresh"), settled=False)
    _reads_see_every_writer(spark, str(tmp_path / "fresh-settled"), settled=True)


def _reads_see_every_writer(spark, path, settled):
    def by_day():
        if settled:
            _settle(path)
        return _by_day(spark, path)

    _write_days(spark, path, [1, 2])
    assert by_day() == {1: {"a": 3, "b": 2}, 2: {"a": 3, "b": 3}}

    # a same-session append: a new bucket and a delta in an old one
    _write_days(spark, path, [2, 3], mode="append")
    assert by_day() == {1: {"a": 3, "b": 2}, 2: {"a": 6, "b": 6}, 3: {"a": 3, "b": 4}}

    # a compaction rewrites every file: the next read lists the new ones
    assert compact_topn_rollup(spark, path, bucket_name="day") == 3
    assert by_day() == {1: {"a": 3, "b": 2}, 2: {"a": 6, "b": 6}, 3: {"a": 3, "b": 4}}
    assert all(len(os.listdir(os.path.join(path, f"day={d}"))) <= 2 for d in (1, 2, 3))

    # a bucket directory copied in from outside the library
    shutil.copytree(os.path.join(path, "day=1"), os.path.join(path, "day=9"))
    assert by_day()[9] == {"a": 3, "b": 2}

    # another writer adds a file to an existing bucket
    _add_file(path, "day=1")
    assert by_day()[1] == {"a": 6, "b": 4}

    # an overwrite that removes buckets
    _write_days(spark, path, [4])
    assert by_day() == {4: {"a": 3, "b": 5}}


def test_other_session_reads_a_compaction(spark, tmp_path):
    """Each session caches its own relation: a session that read before
    another compacted lists the new files, even after the compacting
    session saw them."""
    path = str(tmp_path / "sessions")
    _write_days(spark, path, [1, 2])
    _write_days(spark, path, [2], mode="append")
    want = {1: {"a": 3, "b": 2}, 2: {"a": 6, "b": 6}}
    _settle(path)
    other = spark.newSession()
    assert _by_day(other, path) == want
    assert compact_topn_rollup(spark, path, bucket_name="day") == 2
    _settle(path)
    assert _by_day(spark, path) == want
    assert _by_day(other, path) == want


def test_unchanged_session_repairs_a_bucket_another_session_saw_go(spark, tmp_path):
    """The catalog's partitions are shared: a session whose own listing
    is unchanged still repairs a bucket that another session registered
    and that is gone."""
    path = str(tmp_path / "gone")
    _write_days(spark, path, [1, 2])
    want = {1: {"a": 3, "b": 2}, 2: {"a": 3, "b": 3}}
    _settle(path)
    other = spark.newSession()
    assert _by_day(other, path) == want
    shutil.copytree(os.path.join(path, "day=1"), os.path.join(path, "day=9"))
    assert _by_day(spark, path)[9] == {"a": 3, "b": 2}
    shutil.rmtree(os.path.join(path, "day=9"))
    name = _table_of(read_topn_rollup(other, path, bucket_name="day"))
    assert [r[0] for r in other.sql(f"SHOW PARTITIONS {DB}.{name}").collect()] == ["day=1", "day=2"]
    assert _by_day(other, path) == want


@pytest.mark.parametrize("case", ["settled", "in_window", "zero_mtime", "other_scheme"])
def test_only_trusted_listings_keep_file_listings(spark, tmp_path, monkeypatch, case):
    """The listing is pinned to one mtime while another writer adds a
    file to the bucket. Only a trusted listing (settled nonzero mtimes
    of a file: or hdfs: path) keeps the cached file listing and misses
    the file; a bucket inside the settle window, an mtime of 0, or
    another scheme refresh."""
    path = str(tmp_path / "pinned")
    _write_days(spark, path, [1])
    now_ms = int(time.time() * 1000)
    mtime = {"in_window": now_ms - 1000, "zero_mtime": 0}.get(case, now_ms - 60_000)
    listing = rollup.child_dirs
    monkeypatch.setattr(rollup, "child_dirs", lambda s, p: dict.fromkeys(listing(s, p), mtime))
    if case == "other_scheme":
        monkeypatch.setattr(rollup, "_TRUSTED_SCHEMES", ("hdfs",))
    assert _by_day(spark, path) == {1: {"a": 3, "b": 2}}
    _add_file(path, "day=1")
    want = {"a": 3, "b": 2} if case == "settled" else {"a": 6, "b": 4}
    assert _by_day(spark, path) == {1: want}


def test_trusted_listings(spark, tmp_path):
    clock = 1_000_000.0
    old = (clock - rollup._SETTLE_S) * 1000
    assert rollup._trusted("file:/r", {"d=1/": old, "d=2/": 1}, clock)
    assert rollup._trusted("hdfs://nn:8020/r", {"d=1/": old}, clock)
    assert not rollup._trusted("file:/r", {"d=1/": old + 1}, clock)
    assert not rollup._trusted("file:/r", {"d=1/": old, "d=2/": 0}, clock)
    assert not rollup._trusted("s3a://b/r", {"d=1/": old}, clock)
    assert not rollup._trusted("file:/r", {}, clock)
    # a viewfs mount link may point at any filesystem: the scheme that
    # counts is its target's; the mount table's own directories stay
    # viewfs: and are not trusted
    assert not rollup._trusted("viewfs://c/r", {"d=1/": old}, clock)
    os.makedirs(tmp_path / "r" / "day=1")
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    conf.set("fs.viewfs.impl.disable.cache", "true")
    conf.set("fs.viewfs.mounttable.topntest.link./data/r", (tmp_path / "r").as_uri())
    link = jvm.org.apache.hadoop.fs.Path("viewfs://topntest/data/r")
    fs = link.getFileSystem(conf)
    assert rollup._storage(fs, fs.makeQualified(link)) == f"file:{tmp_path / 'r'}"
    mount_dir = fs.makeQualified(jvm.org.apache.hadoop.fs.Path("viewfs://topntest/data"))
    assert rollup._storage(fs, mount_dir) == "viewfs://topntest/data"


def test_persisted_frame_stays_cached_across_an_unchanged_read(spark, tmp_path):
    path = str(tmp_path / "kept")
    _write_days(spark, path, [1, 2])
    _settle(path)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    frame = read_topn_rollup(spark, path, bucket_name="day").persist()
    try:
        assert frame.count() == 2
        cached = set(jsc.getPersistentRDDs().keys())
        assert cached - before
        assert read_topn_rollup(spark, path, bucket_name="day").count() == 2
        assert set(jsc.getPersistentRDDs().keys()) == cached
    finally:
        frame.unpersist()


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
