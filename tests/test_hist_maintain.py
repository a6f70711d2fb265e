"""Additive-grid IVM for the quantile histogram
(``HIST_STATE``): the grid maintained over batch
rotations must equal the one-shot grid EXACTLY (bucketing is
per-row), and the shared quantile read over maintained state must
reproduce the registered ``histogram_quantiles`` output."""

from __future__ import annotations

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.percentiles import (
    HIST_STATE,
    hist_buckets_of,
    hist_quantiles_from_buckets,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_rotations_rederive_the_one_shot_quantiles(spark, tmp_path):
    base = str(tmp_path / "hist_state")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    state = None
    for i in range(3):
        state = maintain_keyed_state(
            spark, base, HIST_STATE, li.filter(f"l_orderkey % 3 = {i}"), f"t{i}"
        )
    assert _rows(state) == _rows(hist_buckets_of(li))
    got = hist_quantiles_from_buckets(state)
    want = REGISTRY["histogram_quantiles"].fn(spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_replayed_batch_does_not_double_merge(spark, tmp_path):
    base = str(tmp_path / "hist_state_replay")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    wave = li.filter("l_orderkey % 2 = 0")
    state1 = maintain_keyed_state(spark, base, HIST_STATE, wave, "t0")
    replayed = maintain_keyed_state(spark, base, HIST_STATE, wave, "t0")
    assert _rows(replayed) == _rows(state1)
