"""Additive-count IVM for the NB quality-filter model
(``NBQ_STATE``): the model maintained over labeled batch
rotations must re-derive EXACTLY the (weights, prior) the one-shot
fit (the same state program over the full corpus in one batch, whose
definition the DuckDB oracle checks) computes, and scoring against
the maintained model must reproduce the registered query's scores."""

from __future__ import annotations

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.quality_classifier import (
    NBQ_STATE,
    nbq_model_from_state,
    nbq_model_of,
    nbq_score_against,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_rotations_rederive_the_one_shot_model_and_scores(spark, tmp_path):
    base = str(tmp_path / "nbq_state")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    state = None
    for i in range(3):
        state = maintain_keyed_state(
            spark, base, NBQ_STATE, docs.filter(f"doc_id % 3 = {i}"), f"t{i}"
        )
    w_got, p_got = nbq_model_from_state(state)
    w_want, p_want = nbq_model_of(docs)
    assert _rows(w_got) == _rows(w_want)
    assert _rows(p_got) == _rows(p_want)
    # end to end: scoring against the maintained model reproduces the
    # registered one-shot query's margins and predictions
    got = nbq_score_against(docs, w_got, p_got)
    want = REGISTRY["nb_quality_scores"].fn(spark, SF_DIR).select(
        "doc_id", "label_hq", "n_grams", "margin_micro", "pred_hq"
    )
    assert _rows(got) == _rows(want)


def test_replayed_batch_does_not_double_merge(spark, tmp_path):
    base = str(tmp_path / "nbq_state_replay")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wave = docs.filter("doc_id % 2 = 0")
    state1 = maintain_keyed_state(spark, base, NBQ_STATE, wave, "t0")
    replayed = maintain_keyed_state(spark, base, NBQ_STATE, wave, "t0")
    assert _rows(replayed) == _rows(state1)


def test_zero_train_batch_contributes_zero_not_null_prior(spark):
    """A batch with no train-split documents must contribute (0, 0)
    prior counts, not (NULL, NULL): a NULL seeded into a fresh state
    would make nbq_model_from_state emit a NULL prior until a
    train-carrying batch heals it (round-9 advisor finding)."""
    from namegraph_collections_spark.queries.quality_classifier import (
        PRIOR_BUCKET,
        nbq_state_for,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # the split is content-addressed on doc_id; find ids that land in
    # the TEST split so the batch carries zero train docs
    from namegraph_collections_spark.queries.quality_classifier import (
        _NBQ_IS_TRAIN_SPARK,
    )

    test_only = docs.filter(
        "NOT (" + _NBQ_IS_TRAIN_SPARK.format(c="doc_id") + ")"
    ).limit(5)
    assert test_only.count() > 0
    state = nbq_state_for(test_only)
    prior = state.filter(state.bucket == PRIOR_BUCKET).collect()
    assert len(prior) == 1
    assert (prior[0].cp, prior[0].cn) == (0, 0)
