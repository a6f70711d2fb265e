"""Distinct-count IVM for the domain gate (``GATE_STATE``):
maintaining the page-grain state over two batch rotations must
re-derive EXACTLY the gate the one-shot rollup computes over the full
corpus — including domains whose pages arrive split across the two
batches (the case where summing per-batch gate tables would
double-count distinct URLs).
"""

from __future__ import annotations

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.web_rollup import GATE_STATE, gate_from_state
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_two_rotations_rederive_the_one_shot_gate(spark, tmp_path):
    base = str(tmp_path / "gate_state")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # doc_id % 2 split: every domain (doc_id % 20 keys the source) has
    # documents in BOTH waves, and canonical URLs repeat across waves
    # (the path key is doc_id % 300), so the distinct count genuinely
    # cannot be summed per batch.
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    state1 = maintain_keyed_state(spark, base, GATE_STATE, wave1, "t0")
    state2 = maintain_keyed_state(spark, base, GATE_STATE, wave2, "t1")

    got = gate_from_state(state2)
    want = REGISTRY["host_quality_rollup"].fn(spark, SF_DIR)
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)

    # the intermediate state is internally consistent too: wave-1-only
    # state re-derives the wave-1-only rollup
    from namegraph_collections_spark.queries.web_rollup import (
        gate_state_for,
        per_doc_web_frame_of,
    )

    want1 = gate_from_state(
        gate_state_for(per_doc_web_frame_of(wave1.select("doc_id", "source", "text")))
    )
    assert _rows(gate_from_state(state1)) == _rows(want1)


def test_streaming_maintenance_rederives_the_one_shot_gate(spark, tmp_path):
    """foreachBatch twin: draining a two-file landing zone through the
    streaming maintenance leaves state whose re-derived gate equals
    the one-shot rollup — same invariant as the batch rotations, now
    with Structured Streaming owning the batch boundaries."""
    import shutil

    from namegraph_collections_spark.streaming.filter_stream import (
        read_documents_stream,
    )
    from namegraph_collections_spark.streaming import run_maintenance_stream
    from namegraph_collections_spark.operators.cdc import latest_snapshot

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    base = str(tmp_path / "gate_state_stream")
    run_maintenance_stream(
        read_documents_stream(spark, str(zone)), GATE_STATE, base, str(tmp_path / "ckpt")
    )

    got = gate_from_state(latest_snapshot(spark, base))
    want = REGISTRY["host_quality_rollup"].fn(spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_replayed_batch_does_not_double_merge(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-merged
    stamp must be a no-op on the state (marker repoint only), not a
    second sum — the exactly-once contract of the maintenance."""
    base = str(tmp_path / "gate_state_replay")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")

    state1 = maintain_keyed_state(spark, base, GATE_STATE, wave1, "t0")
    replayed = maintain_keyed_state(spark, base, GATE_STATE, wave1, "t0")
    assert _rows(replayed) == _rows(state1)
    assert _rows(gate_from_state(replayed)) == _rows(gate_from_state(state1))


def test_partial_snapshot_is_not_treated_as_merged(spark, tmp_path):
    """Crash-window safety: Spark's Parquet writer creates the
    snapshot directory at job start and commits with _SUCCESS last, so
    a directory WITHOUT _SUCCESS is a crashed half-write. A replay of
    that stamp must fall through to the real merge (overwriting the
    partial files), not repoint the marker at corrupt state."""
    base = str(tmp_path / "gate_state_crash")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    maintain_keyed_state(spark, base, GATE_STATE, wave1, "t0")
    # simulate the crash: t1's directory exists with partial data but
    # no _SUCCESS commit marker
    partial = tmp_path / "gate_state_crash" / "snapshot=t1"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"not a parquet footer")

    state2 = maintain_keyed_state(spark, base, GATE_STATE, wave2, "t1")
    got = gate_from_state(state2)
    want = REGISTRY["host_quality_rollup"].fn(spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_out_of_order_batch_replay_raises(spark, tmp_path):
    """Structured Streaming only redelivers the LATEST batch, but the
    batch API has no such guarantee: replaying a stamp OLDER than the
    marker's current one must raise, not silently repoint the gate
    state back past newer merges."""
    import pytest

    base = str(tmp_path / "gate_state_order")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    maintain_keyed_state(spark, base, GATE_STATE, wave1, "t0")
    state2 = maintain_keyed_state(spark, base, GATE_STATE, wave2, "t1")
    with pytest.raises(ValueError, match="out-of-order replay"):
        maintain_keyed_state(spark, base, GATE_STATE, wave1, "t0")
    # the guard left the state untouched
    from namegraph_collections_spark.operators.cdc import latest_snapshot

    assert _rows(latest_snapshot(spark, base)) == _rows(state2)
