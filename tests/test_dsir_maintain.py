"""Additive-count IVM for the DSIR feature distributions
(``DSIR_STATE``): maintaining the bucket state over two
batch rotations must re-derive EXACTLY the weight table the same
state program gives over the full corpus in one batch (the one-shot
fit, whose definition the DuckDB oracle checks), and scoring against
the re-derived table must reproduce the registered query's
per-document weights.
Mirrors tests/test_gate_maintain.py's contract battery (two-wave
parity, streaming twin, replay idempotence, crash window, ordering
guard).
"""

from __future__ import annotations

import pytest

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.data_selection import (
    DSIR_STATE,
    dsir_score_against,
    dsir_state_for,
    dsir_weights_from_state,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_two_rotations_rederive_the_one_shot_weights(spark, tmp_path):
    base = str(tmp_path / "dsir_state")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    maintain_keyed_state(spark, base, DSIR_STATE, wave1, "t0")
    state2 = maintain_keyed_state(spark, base, DSIR_STATE, wave2, "t1")

    got = dsir_weights_from_state(state2)
    want = dsir_weights_from_state(dsir_state_for(docs))
    assert _rows(got) == _rows(want)

    # scoring against the maintained table == the one-shot query
    scored = dsir_score_against(docs, got)
    one_shot = REGISTRY["dsir_importance_weights"].fn(spark, SF_DIR)
    assert _rows(scored) == _rows(one_shot)


def test_state_stays_bucket_bounded(spark, tmp_path):
    from namegraph_collections_spark.queries.data_selection import DSIR_B

    base = str(tmp_path / "dsir_state_bound")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    state = maintain_keyed_state(spark, base, DSIR_STATE, docs, "t0")
    assert state.count() <= DSIR_B
    # and the contribution function agrees with the merged state for a
    # single batch
    assert _rows(state) == _rows(dsir_state_for(docs))


def test_streaming_maintenance_rederives_the_one_shot_weights(spark, tmp_path):
    import shutil

    from namegraph_collections_spark.operators.cdc import latest_snapshot
    from namegraph_collections_spark.streaming import run_maintenance_stream
    from namegraph_collections_spark.streaming.filter_stream import (
        read_documents_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    base = str(tmp_path / "dsir_state_stream")
    run_maintenance_stream(
        read_documents_stream(spark, str(zone)), DSIR_STATE, base, str(tmp_path / "ckpt")
    )

    got = dsir_weights_from_state(latest_snapshot(spark, base))
    want = dsir_weights_from_state(dsir_state_for(docs))
    assert _rows(got) == _rows(want)


def test_streaming_scoring_matches_the_batch_scorer(spark, tmp_path):
    import shutil

    from namegraph_collections_spark.streaming import run_scoring_stream
    from namegraph_collections_spark.streaming.filter_stream import (
        read_documents_stream,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bw = dsir_weights_from_state(dsir_state_for(docs)).localCheckpoint()
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    out = str(tmp_path / "scored")
    run_scoring_stream(
        read_documents_stream(spark, str(zone)),
        lambda b: dsir_score_against(b, bw),
        out,
        str(tmp_path / "ckpt"),
    )
    # drop the sink's provenance partition column to compare against
    # the batch scorer's exact schema
    got = spark.read.parquet(out).drop("ingest_batch")
    want = dsir_score_against(docs, bw)
    assert _rows(got) == _rows(want)


def test_replayed_batch_does_not_double_merge(spark, tmp_path):
    base = str(tmp_path / "dsir_state_replay")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")

    state1 = maintain_keyed_state(spark, base, DSIR_STATE, wave1, "t0")
    replayed = maintain_keyed_state(spark, base, DSIR_STATE, wave1, "t0")
    assert _rows(replayed) == _rows(state1)


def test_partial_snapshot_is_not_treated_as_merged(spark, tmp_path):
    base = str(tmp_path / "dsir_state_crash")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    maintain_keyed_state(spark, base, DSIR_STATE, wave1, "t0")
    partial = tmp_path / "dsir_state_crash" / "snapshot=t1"
    partial.mkdir(parents=True)
    (partial / "part-00000.parquet").write_bytes(b"not a parquet footer")

    state2 = maintain_keyed_state(spark, base, DSIR_STATE, wave2, "t1")
    got = dsir_weights_from_state(state2)
    want = dsir_weights_from_state(
        dsir_state_for(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    )
    assert _rows(got) == _rows(want)


def test_out_of_order_batch_replay_raises(spark, tmp_path):
    base = str(tmp_path / "dsir_state_order")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    maintain_keyed_state(spark, base, DSIR_STATE, wave1, "t0")
    maintain_keyed_state(spark, base, DSIR_STATE, wave2, "t1")
    with pytest.raises(ValueError, match="out-of-order replay"):
        maintain_keyed_state(spark, base, DSIR_STATE, wave1, "t0")
