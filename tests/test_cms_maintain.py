"""Additive-cell IVM for the Count-Min sketch
(``CMS_STATE``): the sketch maintained over batch
rotations must equal the one-shot sketch EXACTLY — cell counts are
additive and bigrams never cross documents — and the shared probe
read path over maintained state must reproduce the one-shot query's
estimates for the same candidate tokens."""

from __future__ import annotations

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.registry import spread
from namegraph_collections_spark.queries.rollups import (
    CMS_STATE,
    cms_bigrams_of,
    cms_estimates_from,
    cms_sketch_of,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def _one_shot_sketch(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return cms_sketch_of(cms_bigrams_of(spread(docs, "doc_id")))


def test_three_rotations_equal_the_one_shot_sketch(spark, tmp_path):
    base = str(tmp_path / "cms_state")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    state = None
    for i in range(3):
        state = maintain_keyed_state(
            spark, base, CMS_STATE, docs.filter(f"doc_id % 3 = {i}"), f"t{i}"
        )
    assert _rows(state) == _rows(_one_shot_sketch(spark))


def test_probe_over_maintained_state_matches_one_shot_estimates(spark, tmp_path):
    """cms_estimates_from over the maintained state reproduces the
    cms_estimate column of the one-shot heavy-hitters query for its
    own top-k candidates — the read path a 100 TB consumer uses."""
    base = str(tmp_path / "cms_state_probe")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    state = None
    for i in range(2):
        state = maintain_keyed_state(
            spark, base, CMS_STATE, docs.filter(f"doc_id % 2 = {i}"), f"t{i}"
        )
    hh = REGISTRY["cms_heavy_hitters"].fn(spark, SF_DIR)
    want = {r.token: r.cms_estimate for r in hh.collect()}
    got = {
        r.token: r.cms_estimate
        for r in cms_estimates_from(
            state, spark.createDataFrame([(t,) for t in want], "token string")
        ).collect()
    }
    assert got == want


def test_replayed_batch_does_not_double_merge(spark, tmp_path):
    """The shared additive-state replay contract holds for the CMS
    maintainer: redelivering a committed stamp repoints, never
    re-sums (a double-merge would double every cell)."""
    base = str(tmp_path / "cms_state_replay")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave = docs.filter("doc_id % 2 = 0")
    state1 = maintain_keyed_state(spark, base, CMS_STATE, wave, "t0")
    replayed = maintain_keyed_state(spark, base, CMS_STATE, wave, "t0")
    assert _rows(replayed) == _rows(state1)


def test_streaming_maintenance_equals_the_one_shot_sketch(spark, tmp_path):
    """foreachBatch twin: draining a two-file landing zone through
    the streaming maintenance leaves EXACTLY the one-shot sketch."""
    import shutil

    from namegraph_collections_spark.streaming import run_maintenance_stream
    from namegraph_collections_spark.streaming.filter_stream import (
        read_documents_stream,
    )
    from namegraph_collections_spark.operators.cdc import latest_snapshot

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    base = str(tmp_path / "cms_state_stream")
    run_maintenance_stream(
        read_documents_stream(spark, str(zone)), CMS_STATE, base, str(tmp_path / "ckpt")
    )
    assert _rows(latest_snapshot(spark, base)) == _rows(_one_shot_sketch(spark))
