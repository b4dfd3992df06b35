"""measure.py, the measurement harness, driven in-process on the test
session: its job tags cover every job a gate launches, its plan dumps
are stable under masking, and its A/B alternates the arm order."""

from __future__ import annotations

import measure

GATE = "topn_monthly_event_types"


def test_layers_tags_every_job_build_or_exec(spark, sf_dir):
    row = measure.layers(spark, sf_dir, GATE, runs=1)
    jobs = row["jobs"]
    assert jobs["exec"] >= 1
    assert jobs["other"] == 0 and jobs["untagged"] == 0, jobs
    assert row["runs"][0][2] == jobs["build"] + jobs["exec"]
    assert row["tasks"] >= row["stages"] >= 1
    assert row["python_tasks"] == 0  # Tier 1 runs in the JVM
    assert set(row["task_s_by_phase"]) <= set(measure.PHASES)
    lines = measure.job_lines(row["_events"])
    assert sum(line.lstrip().startswith("job ") for line in lines) == jobs["exec"] + jobs["build"]
    # the tags are cleared once the gate has run
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_layers_counts_python_tasks(spark, sf_dir):
    # each Tier-2 lane runs a MapInPandas partial and an
    # applyInPandas (FlatMapGroupsInPandas) merge
    row = measure.layers(spark, sf_dir, "topn_tier2_modes", runs=1)
    assert 0 < row["python_tasks"] <= row["tasks"]


def test_plans_dump_is_stable_after_masking(spark, sf_dir, tmp_path):
    from postgresql_topn_spark.plans.audit import plan_str
    from postgresql_topn_spark.suite import QUERIES

    # a second build renumbers expression ids: the raw plans differ
    assert plan_str(QUERIES[GATE](spark, sf_dir)) != plan_str(QUERIES[GATE](spark, sf_dir))
    a, b = tmp_path / "a", tmp_path / "b"
    measure.write_plans(spark, sf_dir, [GATE], str(a))
    measure.write_plans(spark, sf_dir, [GATE], str(b))
    first = (a / f"{GATE}.txt").read_bytes()
    assert b"#N" in first and b"Exchange" in first
    assert first == (b / f"{GATE}.txt").read_bytes()


def test_ab_alternates_arm_order(spark, sf_dir):
    key = "spark.topn.cc.localEdgeThreshold"
    assert spark.conf.get(key, None) is None
    res, orders = measure.ab(spark, sf_dir, [GATE], key, ["200000", "0"], trials=3)
    assert orders == [("200000", "0"), ("0", "200000"), ("200000", "0")]
    for runs in res[GATE].values():
        assert len(runs) == 3 and all(secs > 0 and jobs >= 1 for secs, jobs in runs)
    assert spark.conf.get(key, None) is None
