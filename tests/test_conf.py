"""The `spark.topn.*` knob table (conf.KNOBS), the one input-size helper
(sources.tables.input_bytes), and source pins that keep both single."""

import ast
import glob
import os
import re

import pytest

from postgresql_topn_spark import conf
from postgresql_topn_spark.conf import KNOBS, knob
from postgresql_topn_spark.sources.tables import input_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "postgresql_topn_spark")


@pytest.fixture
def conf_key(spark, request):
    key = request.param
    yield key
    spark.conf.unset(key)


# one malformed value per knob type; out-of-range values per knob
_MALFORMED = {"int": "12x", "size": "lots", "bool": "yes"}
_OUT_OF_RANGE = [
    (conf.CONF_KEY, "0"),
    (conf.CONF_KEY, str(conf.MAX_COUNTERS + 1)),
    (conf.CC_LOCAL_EDGE_THRESHOLD, "-1"),
    (conf.CC_LOCAL_EDGE_THRESHOLD, str(2**31 - 1)),
    (conf.LR_PARTITION_BYTES, "0"),
    (conf.LM_SAMPLE_TARGET_BYTES, "-1k"),
    (conf.STREAM_PARTITION_BYTES, "0"),
]
# today's effective values: unset -> the pre-table defaults
_VALID = [
    (conf.CONF_KEY, None, 1000),
    (conf.CONF_KEY, " 25 ", 25),
    (conf.SPREAD_ENABLED, None, True),
    (conf.SPREAD_ENABLED, "FALSE", False),
    (conf.SPREAD_ENABLED, "true", True),
    (conf.CC_LOCAL_EDGE_THRESHOLD, None, 200_000),
    (conf.CC_LOCAL_EDGE_THRESHOLD, "0", 0),
    (conf.LR_PARTITION_BYTES, None, 131072),
    (conf.LR_PARTITION_BYTES, "128m", 128 << 20),
    (conf.LR_PARTITION_BYTES, "1g", 1 << 30),
    (conf.LM_SAMPLE_TARGET_BYTES, None, 1 << 30),
    (conf.LM_SAMPLE_TARGET_BYTES, "1b", 1),
    (conf.LM_SAMPLE_TARGET_BYTES, "1.5k", 1536),
    (conf.STREAM_PARTITION_BYTES, None, 1 << 20),
    (conf.STREAM_PARTITION_BYTES, "2000", 2000),
    (conf.STREAM_PARTITION_BYTES, "128m", 128 << 20),
]


@pytest.mark.parametrize("conf_key", sorted(KNOBS), indirect=True)
def test_malformed_value_names_key(spark, conf_key):
    bad = _MALFORMED[KNOBS[conf_key].kind]
    spark.conf.set(conf_key, bad)
    with pytest.raises(ValueError, match=re.escape(f"{conf_key}={bad!r}")):
        knob(spark, conf_key)


@pytest.mark.parametrize("conf_key,bad", _OUT_OF_RANGE, indirect=["conf_key"])
def test_out_of_range_value_names_key(spark, conf_key, bad):
    spark.conf.set(conf_key, bad)
    with pytest.raises(ValueError, match="outside the valid range") as e:
        knob(spark, conf_key)
    assert f"{conf_key}={bad!r}" in str(e.value)


def test_every_ranged_knob_has_an_out_of_range_case():
    ranged = {k for k, v in KNOBS.items() if v.kind != "bool"}
    assert ranged == {k for k, _ in _OUT_OF_RANGE}


@pytest.mark.parametrize("conf_key,raw,want", _VALID, indirect=["conf_key"])
def test_valid_values_keep_effective_values(spark, conf_key, raw, want):
    if raw is not None:
        spark.conf.set(conf_key, raw)
    got = knob(spark, conf_key)
    assert got == want and type(got) is type(want)


def test_explicit_counters_validate_like_the_conf():
    assert conf.resolve_counters(7) == 7
    with pytest.raises(ValueError, match=re.escape(f"{conf.CONF_KEY}=0 ")):
        conf.resolve_counters(0)


def test_readme_configuration_lists_exactly_the_table():
    text = open(os.path.join(REPO, "README.md")).read()
    section = text.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    rows = re.findall(r"^\| `(spark\.topn\.[^`]+)` \|", section, re.M)
    assert sorted(rows) == sorted(KNOBS)


def _package_trees():
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        yield os.path.relpath(path, PKG), ast.parse(open(path).read())


def test_knob_keys_and_size_parsing_live_in_one_place():
    """A `"spark.topn.` literal anywhere but conf.py, or a size parse
    (os.path.getsize, a k/m/g suffix table) anywhere but conf.py and
    input_bytes, is a second knob table or size definition."""
    stray = []
    for rel, tree in _package_trees():
        if rel == "conf.py":
            continue
        allowed = set()
        if rel == os.path.join("sources", "tables.py"):
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "input_bytes":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            where = f"{rel}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("spark.topn.")
            ):
                stray.append(f"{where} knob key {node.value!r}")
            if id(node) in allowed:
                continue
            if isinstance(node, ast.Attribute) and node.attr == "getsize":
                stray.append(f"{where} os.path.getsize")
            if isinstance(node, ast.Dict) and {"k", "m", "g"} <= {
                k.value for k in node.keys if isinstance(k, ast.Constant)
            }:
                stray.append(f"{where} size-suffix table")
    assert stray == []


class TestInputBytes:
    def test_file_scan_totals_match_os_stat(self, spark, tmp_path):
        path = str(tmp_path / "docs")
        spark.range(500).selectExpr("id", "repeat('x', id % 50) AS t").repartition(
            3
        ).write.parquet(path)
        want = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
        )
        df = spark.read.parquet(path)
        assert input_bytes(df) == want
        # a derived frame sizes the same scan files
        assert input_bytes(df.where("id > 3").select("t")) == want

    def test_unknown_sizes_are_none(self, spark, tmp_path):
        assert input_bytes(spark.range(3)) is None
        assert input_bytes(str(tmp_path / "missing"), spark) is None

    def test_path_is_everything_under_it(self, spark, tmp_path):
        (tmp_path / "a.bin").write_bytes(b"x" * 300)
        (tmp_path / "b.bin").write_bytes(b"x" * 200)
        assert input_bytes(str(tmp_path), spark) == 500

    def test_sizes_do_not_need_os_stat(self, spark, tmp_path, monkeypatch):
        """With os.stat unavailable (as on hdfs:/s3a:) the Hadoop
        FileSystem path gives the same totals; a percent-encoded local
        name is sized through it too."""
        path = str(tmp_path / "with space")
        spark.range(100).write.parquet(path)
        df = spark.read.parquet(path)
        assert any("%20" in f for f in df.inputFiles())
        want = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
        )
        assert input_bytes(df) == want

        def no_stat(p):
            raise OSError("no local stat")

        monkeypatch.setattr(os.path, "getsize", no_stat)
        assert input_bytes(df) == want
