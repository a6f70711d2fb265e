"""CDC bulk-operation tests: snapshot diff → ES-bulk-shaped ops →
JSONL sink round-trip (SURVEY §2.8 D2/D4/D5, S14), plus observe()
row-count anchors (§5 — the reference's printed counts as metrics)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from namegraph_collections_spark.operators.cdc import (
    bulk_operations,
    snapshot_diff,
    write_operations_jsonl,
)


def _snap(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, rank bigint")


def test_bulk_operations_taxonomy(spark):
    prev = _snap(spark, [("a", "alpha", 1), ("b", "beta", 2), ("c", "gamma", 3)])
    curr = _snap(spark, [("a", "alpha", 1), ("b", "beta2", 2), ("d", "delta", 4)])
    diff = snapshot_diff(prev, curr, "id", ["name", "rank"])
    ops = {r["_id"]: r.asDict() for r in bulk_operations(diff, curr, "id", "idx-1").collect()}
    assert set(ops) == {"b", "c", "d"}  # 'a' is a noop — absent
    assert ops["d"]["_op_type"] == "create" and json.loads(ops["d"]["_source"]) == {
        "name": "delta", "rank": 4,
    }
    assert ops["b"]["_op_type"] == "update" and json.loads(ops["b"]["doc"])["name"] == "beta2"
    assert ops["c"]["_op_type"] == "delete" and json.loads(ops["c"]["doc"]) == {"archived": True}
    assert all(r["_index"] == "idx-1" for r in ops.values())


def test_write_operations_jsonl_roundtrip(spark, tmp_path):
    prev = _snap(spark, [("a", "alpha", 1)])
    curr = _snap(spark, [("a", "alpha", 9), ("b", "beta", 2)])
    diff = snapshot_diff(prev, curr, "id", ["name", "rank"])
    out = str(tmp_path / "ops")
    write_operations_jsonl(bulk_operations(diff, curr, "id", "idx-1"), out)
    back = spark.read.json(out)
    got = {r["_id"]: r["_op_type"] for r in back.collect()}
    assert got == {"a": "update", "b": "create"}


def test_observe_row_count_anchors(spark):
    """observe() metrics replace the reference's printed per-stage
    counts (Makefile:177-261) as queryable regression anchors."""
    prev = _snap(spark, [("a", "alpha", 1), ("b", "beta", 2)])
    curr = _snap(spark, [("a", "alpha", 1), ("b", "beta2", 2), ("c", "new", 3)])
    obs = Observation("cdc_anchors")
    diff = snapshot_diff(prev, curr, "id", ["name", "rank"]).observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("op") == "create").cast("long")).alias("creates"),
        F.sum((F.col("op") == "update").cast("long")).alias("updates"),
        F.sum((F.col("op") == "noop").cast("long")).alias("noops"),
    )
    diff.collect()
    assert obs.get == {"total": 3, "creates": 1, "updates": 1, "noops": 1}


def test_sync_index_rotation(spark, tmp_path):
    """Two sync runs: everything creates on the first, only the delta
    on the second, and the marker follows the latest snapshot."""
    from namegraph_collections_spark.operators.cdc import latest_snapshot, sync_index

    base = str(tmp_path / "snaps")
    v1 = _snap(spark, [("a", "alpha", 1), ("b", "beta", 2)])
    ops1 = {r["_id"]: r["_op_type"] for r in
            sync_index(v1, base, "2026-08-13", "id", ["name", "rank"]).collect()}
    assert ops1 == {"a": "create", "b": "create"}
    v2 = _snap(spark, [("a", "alpha", 9), ("b", "beta", 2), ("c", "new", 3)])
    ops2 = {r["_id"]: r["_op_type"] for r in
            sync_index(v2, base, "2026-09-10", "id", ["name", "rank"]).collect()}
    assert ops2 == {"a": "update", "c": "create"}  # b unchanged → noop
    latest = latest_snapshot(spark, base)
    assert {r["id"] for r in latest.collect()} == {"a", "b", "c"}


_SYNC_SCHEMA = "id string, name string, note string, rank bigint"


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# Every generation touches a case the one-pass plan must classify
# exactly like snapshot_diff: NULLs in compare columns, a NULL that
# becomes the hash's NULL sentinel text, and values containing the
# hash's \x01 separator — both where the joined string is unchanged
# (md5 equal → noop, as snapshot_diff says) and where it really moved.
_GENERATIONS = [
    ("s1", [("a", "alpha", None, 1), ("b", "b\x01c", "d", 2), ("c", None, None, None),
            ("d", "delta", "x", 4), ("e", "eps", "\x00<null>", 5)]),
    ("s2", [("a", "alpha", None, 1), ("b", "b", "c\x01d", 2), ("c", "gamma", None, None),
            ("e", "eps", None, 5), ("f", "f\x01", "new", 6)]),
    ("s2", [("a", "alpha", "n", 1), ("b", "b", "c\x01d", 2), ("c", "gamma", None, 3),
            ("g", None, None, None)]),
    ("s3", [("a", "alpha", "n", 1), ("c", "gamma", None, 3), ("g", "g", None, None),
            ("h", "eta", "\x01", 8)]),
]


@pytest.mark.parametrize(
    "compare_cols",
    [["name", "note", "rank"], ["id", "name", "note", "rank"]],
    ids=["payload_cols", "key_in_compare_cols"],
)
def test_sync_index_matches_diff_then_bulk_operations(spark, tmp_path, compare_cols):
    """sync_index's one-join ops equal bulk_operations(snapshot_diff())
    step by step: a first run with no previous snapshot, rotations to
    new stamps (the overlapped write) and a re-sync under the latest
    stamp (checkpoint first, then the write)."""
    from namegraph_collections_spark.operators.cdc import latest_snapshot, sync_index

    base = str(tmp_path / "snaps")
    steps = []
    for stamp, rows in _GENERATIONS:
        current = spark.createDataFrame(rows, _SYNC_SCHEMA)
        previous = latest_snapshot(spark, base)
        if previous is None:
            previous = spark.createDataFrame([], _SYNC_SCHEMA)
        want = _sorted_rows(
            bulk_operations(snapshot_diff(previous, current, "id", compare_cols), current, "id", "idx-1")
        )
        got = _sorted_rows(sync_index(current, base, stamp, "id", compare_cols, "idx-1"))
        assert got == want, stamp
        assert _sorted_rows(latest_snapshot(spark, base)) == _sorted_rows(current), stamp
        steps.append({r[2]: r[0] for r in got})
    # s1 → s2: 'b' moved its \x01 across a column boundary and 'e'
    # swapped the sentinel text for a NULL — the same hash input, so
    # both are noops, exactly as snapshot_diff classifies them
    assert steps[1] == {"c": "update", "d": "delete", "f": "create"}


def test_sync_index_failure_leaves_marker(spark, tmp_path):
    """A sync whose current snapshot fails at execution raises, the
    marker still names the previous stamp, and a good rerun under the
    failed stamp succeeds."""
    from namegraph_collections_spark.operators.cdc import (
        _read_marker,
        latest_snapshot,
        sync_index,
    )

    base = str(tmp_path / "snaps")
    cols = ["name", "rank"]
    v1 = _snap(spark, [("a", "alpha", 1), ("b", "beta", 2)])
    sync_index(v1, base, "t1", "id", cols)
    v2 = _snap(spark, [("a", "alpha", 9), ("b", "beta", 2), ("c", "new", 3)])
    broken = v2.withColumn(
        "name", F.when(F.col("id") == "b", F.raise_error(F.lit("boom"))).otherwise(F.col("name"))
    )
    with pytest.raises(Exception, match="boom"):
        sync_index(broken, base, "t2", "id", cols)
    assert _read_marker(spark, base) == "t1"
    assert _sorted_rows(latest_snapshot(spark, base)) == _sorted_rows(v1)

    ops = {r["_id"]: r["_op_type"] for r in sync_index(v2, base, "t2", "id", cols).collect()}
    assert ops == {"a": "update", "c": "create"}
    assert _read_marker(spark, base) == "t2"
    assert _sorted_rows(latest_snapshot(spark, base)) == _sorted_rows(v2)


def test_sync_index_jobs_keep_callers_job_group(spark, tmp_path):
    """Both driver threads of a sync (ops checkpoint, snapshot write)
    run their jobs under the caller's job group: no job of the sync
    lands outside it."""
    from namegraph_collections_spark.operators.cdc import sync_index

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    base = str(tmp_path / "snaps")
    sync_index(_snap(spark, [("a", "alpha", 1)]), base, "t1", "id", ["name", "rank"])
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("sync-group-test", "operators.sync_index/exec")
    try:
        sync_index(_snap(spark, [("a", "alpha", 2), ("b", "beta", 3)]), base, "t2", "id", ["name", "rank"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker only evicts old jobs, so any new ungrouped id is the sync's
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup("sync-group-test")) >= 2  # checkpoint + write


# --- three-way CDC (D2 full form + F12 gate + count adjustments) -----------

def _snap3(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, members_count bigint")


def _idx(spark, rows):
    return spark.createDataFrame(rows, "id string, es_id string")


def test_three_way_all_five_classes(spark):
    from namegraph_collections_spark.operators.cdc import snapshot_diff_three_way

    prev = _snap3(spark, [("upd", "old", 1), ("noop", "same", 1), ("gone", "x", 1),
                          ("prev_only", "y", 1)])
    curr = _snap3(spark, [("upd", "new", 1), ("noop", "same", 1),
                          ("fresh", "z", 1), ("refill", "w", 1)])
    # index: everything except 'fresh' (→ create) and 'prev_only'
    idx = _idx(spark, [("upd", "e1"), ("noop", "e2"), ("gone", "e3"), ("refill", "e4")])
    diff = snapshot_diff_three_way(prev, curr, idx, "id", ["name", "members_count"])
    got = {r["id"]: (r["op"], r["es_id"]) for r in diff.collect()}
    assert got == {
        "fresh": ("create", None),        # ∉ index, even though ∉ prev too
        "refill": ("full_update", "e4"),  # ∈ index, ∉ prev
        "upd": ("update", "e1"),          # ∈ both, hash differs
        "noop": ("noop", "e2"),           # ∈ both, hash equal
        "gone": ("archive", "e3"),        # ∈ index, ∉ current
        # 'prev_only' emits nothing — in neither current nor index
    }


def test_three_way_operations_gate_and_adjust(spark):
    from namegraph_collections_spark.operators.cdc import (
        snapshot_diff_three_way,
        three_way_operations,
    )

    prev = _snap3(spark, [("upd", "old", 5), ("big_upd", "old", 5)])
    curr = _snap3(spark, [("upd", "new", 5), ("big_upd", "new", 10001),
                          ("fresh", "z", 7), ("big_new", "w", 20000)])
    idx = _idx(spark, [("upd", "e1"), ("big_upd", "e2"), ("gone", "e3")])
    diff = snapshot_diff_three_way(prev, curr, idx, "id", ["name", "members_count"])
    ops = {
        r["_id"]: r.asDict()
        for r in three_way_operations(
            diff, curr, "id", "idx-1", members_count_col="members_count",
            adjust_cols=["members_count"],
        ).collect()
    }
    # F12: oversized create and update dropped; archive always passes
    assert set(ops) == {"e1", "fresh", "e3"}
    assert ops["fresh"]["_op_type"] == "create"
    src = json.loads(ops["fresh"]["_source"])
    assert src["members_count"] == 8  # +1 adjustment (populate.py extra member)
    assert json.loads(ops["e1"]["doc"])["members_count"] == 6
    assert json.loads(ops["e3"]["doc"]) == {"archived": True}


# ---------------------------------------------------------------------------
# CDC-driven IVM loop through the D4 storage path: the stored
# aggregate advances across TWO rotations, with the delta computed by
# snapshot_diff against the snapshot rotate_snapshot/latest_snapshot
# persisted — never a declared split.
# ---------------------------------------------------------------------------
def _recompute(df):
    return {
        (r["g"],): (r["n"], r["s"])
        for r in df.groupBy(F.col("name").substr(1, 1).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rank").alias("s"))
        .collect()
    }


def _maintained_state(state_df):
    return {(r["g"],): (r["n"], r["sum_rank"]) for r in state_df.collect()}


def test_ivm_loop_across_rotations(spark, tmp_path):
    from namegraph_collections_spark.operators.cdc import (
        cdc_maintain_aggregate,
        latest_snapshot,
        partial_state,
        rotate_snapshot,
    )

    base = str(tmp_path / "snaps")
    v1 = _snap(spark, [("a", "alpha", 1), ("b", "beta", 2), ("c", "alga", 3)])
    # group col derived from data so an UPDATE can move a key between
    # groups (the retract-then-insert correctness case)
    with_g = lambda df: df.withColumn("g", F.col("name").substr(1, 1))  # noqa: E731

    rotate_snapshot(v1, base, "v1")
    state = partial_state(with_g(v1), ["g"], ["rank"])
    assert _maintained_state(state) == _recompute(v1)

    # v2: 'a' re-ranked (update), 'c' renamed across groups (update,
    # group move a→g), 'b' deleted, 'd' created
    v2 = _snap(spark, [("a", "alpha", 9), ("c", "gamma", 3), ("d", "delta", 4)])
    prev = latest_snapshot(spark, base)
    state = cdc_maintain_aggregate(
        state, with_g(prev), with_g(v2), "id", ["name", "rank"], ["g"], ["rank"]
    )
    assert _maintained_state(state) == _recompute(v2)
    rotate_snapshot(v2, base, "v2")

    # v3: everything churns again, incl. emptying group 'd'
    v3 = _snap(spark, [("a", "omega", 1), ("c", "gamma", 7), ("e", "eta", 5)])
    prev = latest_snapshot(spark, base)
    assert prev.count() == 3  # the marker now points at v2
    state = cdc_maintain_aggregate(
        state, with_g(prev), with_g(v3), "id", ["name", "rank"], ["g"], ["rank"]
    )
    assert _maintained_state(state) == _recompute(v3)
    # groups that emptied ('b' after v2, 'd' after v3) are gone, not zero
    assert ("d",) not in _maintained_state(state)
