"""Mixed-monoid IVM for the vocabulary index
(operators/vocab_maintain.py): merging any batching of the corpus
must re-derive EXACTLY the one-shot per-type (min first_doc, total
occurrences) state — the first user of maintain_keyed_state's
min-merge — plus the standard contract battery (streaming twin,
replay idempotence)."""

from __future__ import annotations

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.operators.cdc import latest_snapshot
from namegraph_collections_spark.operators.vocab_maintain import (
    VOCAB_STATE,
    vocab_state_for,
    vocab_stats_from_state,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_two_rotations_rederive_the_one_shot_state(spark, tmp_path):
    base = str(tmp_path / "vocab_state")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # split so many types appear in BOTH waves — the min-merge and
    # sum-merge must both reconcile across the seam
    wave1 = docs.filter("doc_id % 2 = 0")
    wave2 = docs.filter("doc_id % 2 = 1")

    maintain_keyed_state(spark, base, VOCAB_STATE, wave1, "t0")
    state = maintain_keyed_state(spark, base, VOCAB_STATE, wave2, "t1")

    want = vocab_state_for(docs)
    assert _rows(state) == _rows(want)
    assert _rows(vocab_stats_from_state(state)) == _rows(
        vocab_stats_from_state(want)
    )


def test_first_doc_takes_the_min_across_waves(spark, tmp_path):
    base = str(tmp_path / "vocab_minmerge")
    docs = spark.createDataFrame(
        [(10, "alpha beta"), (3, "beta gamma"), (7, "alpha alpha")],
        "doc_id long, text string",
    )
    # deliver the HIGH doc ids first: the min-merge must later lower
    # first_doc when an older id arrives
    maintain_keyed_state(spark, base, VOCAB_STATE, docs.filter("doc_id >= 7"), "t0")
    state = maintain_keyed_state(spark, base, VOCAB_STATE, docs.filter("doc_id < 7"), "t1")
    got = {r.tok: (r.first_doc, r.occ) for r in state.collect()}
    assert got == {"alpha": (7, 3), "beta": (3, 2), "gamma": (3, 1)}


def test_replayed_batch_does_not_remerge(spark, tmp_path):
    base = str(tmp_path / "vocab_replay")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave = docs.filter("doc_id % 2 = 0")
    state1 = maintain_keyed_state(spark, base, VOCAB_STATE, wave, "t0")
    replayed = maintain_keyed_state(spark, base, VOCAB_STATE, wave, "t0")
    assert _rows(replayed) == _rows(state1)


def test_streaming_twin_matches_the_batch_path(spark, tmp_path):
    import shutil

    from namegraph_collections_spark.streaming.filter_stream import (
        read_documents_stream,
    )
    from namegraph_collections_spark.streaming import run_maintenance_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    base = str(tmp_path / "vocab_stream_state")
    run_maintenance_stream(
        read_documents_stream(spark, str(zone)), VOCAB_STATE, base, str(tmp_path / "ckpt")
    )
    got = latest_snapshot(spark, base)
    assert _rows(got) == _rows(vocab_state_for(docs))
