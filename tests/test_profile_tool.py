"""tools/profile_queries.py attributes a query's jobs, task time and
shuffle bytes to that query, through perfbench/eventlog.py's fold,
charges a query only for the persisted RDDs it leaves itself, and
every kept tool still compiles. The fold tests need no Spark session:
the event log is a small synthetic one."""

from __future__ import annotations

import glob
import json
import os
import py_compile
import sys

import pytest

from perfbench.eventlog import Span
from tools.profile_queries import fold_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MB = 2**20


def _job(job_id: int, t: float, stage: int, desc: str) -> dict:
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": t,
        "Stage IDs": [stage],
        "Properties": {"spark.job.description": desc},
    }


def _task(stage: int, run_ms: float, shuffle_write: int = 0, shuffle_read: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Accumulables": []},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1e6,
            "JVM GC Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
        },
    }


@pytest.fixture()
def profiled(tmp_path):
    """Two passes of q1 around one of q2, and one job after every window."""
    events = [
        # q1, pass 1: build [1000, 1100], exec [1100, 1300]
        _job(0, 1050, 1, "queries.q1/build"), _task(1, 40),
        _job(1, 1150, 2, "queries.q1/exec"), _task(2, 100, shuffle_write=MB), _task(2, 300, shuffle_write=MB),
        # q2: build [2000, 2100] runs two jobs, exec [2100, 2500]
        _job(2, 2010, 3, "queries.q2/build"), _task(3, 20),
        _job(3, 2020, 4, "queries.q2/build"), _task(4, 30),
        _job(4, 2200, 5, "queries.q2/exec"), _task(5, 50, shuffle_read=2 * MB),
        # q1, pass 2: build [3000, 3300], exec [3300, 3400]
        _job(5, 3100, 7, "queries.q1/build"), _task(7, 60),
        _job(6, 3350, 8, "queries.q1/exec"), _task(8, 200),
        # tagged like q1 but submitted outside every window: nobody's
        _job(7, 5000, 6, "queries.q1/exec"), _task(6, 9999, shuffle_write=64 * MB),
    ]
    log = tmp_path / "events"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    runs = [
        (Span("queries", "q1", "build", 1000, 1100), Span("queries", "q1", "exec", 1100, 1300)),
        (Span("queries", "q2", "build", 2000, 2100), Span("queries", "q2", "exec", 2100, 2500)),
        (Span("queries", "q1", "build", 3000, 3300), Span("queries", "q1", "exec", 3300, 3400)),
    ]
    return fold_queries(str(log), runs, cores=4)


def test_fold_attributes_jobs_to_their_query(profiled):
    q1, q2 = profiled["q1"], profiled["q2"]
    assert q1["queries.build_jobs"] == 1
    assert q2["queries.build_jobs"] == 2
    # analysis and planning: from the exec call to its first job
    assert q1["queries.plan_s"] == pytest.approx(0.05)
    assert q2["queries.plan_s"] == pytest.approx(0.1)


def test_fold_attributes_task_time_and_shuffle_per_query(profiled):
    q1, q2 = profiled["q1"], profiled["q2"]
    # medians over q1's two passes: exec 0.4 s and 0.2 s of task time
    assert q1["queries.exec.task_run_s"] == pytest.approx(0.3)
    assert q1["queries.build.task_run_s"] == pytest.approx(0.05)
    assert q1["queries.exec.shuffle_write_mb"] == pytest.approx(1.0)  # 2 MiB, then 0
    assert q1["queries.exec.shuffle_read_mb"] == 0
    assert q1["queries.exec.skew"] == pytest.approx(0.75)  # median of 300/200 and 0 (one task)
    assert q2["queries.build.task_run_s"] == pytest.approx(0.05)
    assert q2["queries.exec.task_run_s"] == pytest.approx(0.05)
    assert q2["queries.exec.shuffle_read_mb"] == pytest.approx(2.0)
    assert q2["queries.exec.shuffle_write_mb"] == 0


def test_wall_times_are_per_pass_samples_and_their_median(profiled):
    q1, q2 = profiled["q1"], profiled["q2"]
    assert q1["build_samples"] == [0.1, 0.3] and q1["exec_samples"] == [0.2, 0.1]
    assert q1["build_s"] == pytest.approx(0.2)
    assert q1["exec_s"] == pytest.approx(0.15)
    assert q2["build_samples"] == [0.1] and q2["exec_s"] == pytest.approx(0.4)
    # only the query layer: the fold's operators.* groups are not a query's
    assert not [k for k in q1 if k.startswith("operators.")]


def test_every_tool_compiles_and_shadows_no_stdlib_module(tmp_path):
    """A script's directory heads sys.path when it runs, so a tool named
    like a standard-library module (``profile.py``) would shadow it for
    every other tool: cProfile, which pyspark imports, needs ``profile``."""
    tools = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    assert tools
    for path in tools:
        py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
    stems = {os.path.splitext(os.path.basename(p))[0] for p in tools}
    assert not stems & set(sys.stdlib_module_names)


def test_persisted_rdds_counts_only_what_the_query_leaves(spark, monkeypatch):
    """``clearCache`` does not release a localCheckpoint's blocks, so a
    query run after one that leaves a checkpoint must not be charged
    for it: each query counts the persisted RDD ids that are new since
    its own build began."""
    from types import SimpleNamespace

    from namegraph_collections_spark.queries import REGISTRY
    from tools.profile_queries import persisted_rdd_ids, profile

    kept = []  # hold the checkpoints so no cleaner releases them mid-test

    def leaves_a_checkpoint(spark, sf_dir):
        kept.append(spark.range(100).localCheckpoint(eager=True))
        return kept[-1]

    monkeypatch.setitem(REGISTRY, "_leaves_one", SimpleNamespace(fn=leaves_a_checkpoint))
    monkeypatch.setitem(REGISTRY, "_leaves_none", SimpleNamespace(fn=lambda spark, sf_dir: spark.range(100)))
    sc = spark.sparkContext
    start = persisted_rdd_ids(sc)
    try:
        runs, persisted, errors = profile(spark, ["_leaves_one", "_leaves_none"], "unused", passes=2)
    finally:
        # profile() tags this thread's jobs; release what the test left
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        rdds = sc._jsc.getPersistentRDDs()
        for rdd_id in persisted_rdd_ids(sc) - start:
            rdds.get(rdd_id).unpersist()
    assert errors == {}
    assert len(runs) == 4
    assert persisted == {"_leaves_one": [1, 1], "_leaves_none": [0, 0]}
