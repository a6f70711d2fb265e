"""Additive IVM for the IVF centroid-refinement statistics
(operators/ivf_maintain.py): the state merged over any batching must
re-derive EXACTLY the one-shot per-list (count, component-sum)
statistics — and hence the same refreshed centroids and balance
diagnostics — plus the standard contract battery (streaming twin,
replay idempotence)."""

from __future__ import annotations

import shutil

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.operators.cdc import latest_snapshot
from namegraph_collections_spark.operators.ivf_maintain import (
    IVF_STATE,
    centroids_from_state,
    ivf_state_for,
    list_balance_from_state,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_two_rotations_rederive_the_one_shot_statistics(spark, tmp_path):
    base = str(tmp_path / "ivf_state")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # split so every list receives vectors in BOTH waves
    maintain_keyed_state(spark, base, IVF_STATE, emb.filter("vec_id % 2 = 0"), "t0")
    state = maintain_keyed_state(spark, base, IVF_STATE, emb.filter("vec_id % 2 = 1"), "t1")

    want = ivf_state_for(emb)
    assert _rows(state) == _rows(want)
    assert _rows(centroids_from_state(state)) == _rows(centroids_from_state(want))
    assert _rows(list_balance_from_state(state)) == _rows(
        list_balance_from_state(want)
    )


def test_replayed_batch_does_not_remerge(spark, tmp_path):
    base = str(tmp_path / "ivf_replay")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    maintain_keyed_state(spark, base, IVF_STATE, emb, "t0")
    before = _rows(latest_snapshot(spark, base))
    # at-least-once redelivery: committed stamp is re-pointed, never
    # re-summed (a re-merge would double every count and component)
    maintain_keyed_state(spark, base, IVF_STATE, emb, "t0")
    assert _rows(latest_snapshot(spark, base)) == before


def test_balance_row_is_consistent(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    state = ivf_state_for(emb)
    row = list_balance_from_state(state).collect()[0]
    assert row["n_vecs"] == emb.count()
    assert row["min_list"] <= row["max_list"]
    assert row["imbalance_micro"] >= 1_000_000  # max*k/n >= 1 always


def test_streaming_twin_matches_the_one_shot(spark, tmp_path):
    from namegraph_collections_spark.streaming import run_maintenance_stream
    from namegraph_collections_spark.streaming.diversity_stream import (
        read_embeddings_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["vec_id % 2 = 0", "vec_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        emb.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    base = str(tmp_path / "ivf_stream_state")
    run_maintenance_stream(
        read_embeddings_stream(spark, str(zone)), IVF_STATE, base, str(tmp_path / "ckpt")
    )
    got = centroids_from_state(latest_snapshot(spark, base))
    want = centroids_from_state(ivf_state_for(emb))
    assert _rows(got) == _rows(want)
