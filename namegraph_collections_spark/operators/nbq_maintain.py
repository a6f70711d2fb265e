"""Incremental maintenance of the NB quality-filter model — the
supervised counterpart of the DSIR bucket maintenance, on the shared
additive-state contract (operators/additive_state.py).

A multinomial NB model IS its training counts: per-bucket gram counts
per class plus the two train-document counts behind the priors — all
plain sums, so the fitted model updates by sum-by-key as labeled
batches arrive and re-derives exactly (never approximately) from
state alone. State layout: one row per feature bucket carrying
(cp, cn) gram counts, plus ONE sentinel row ``bucket = -1`` carrying
the train DOC counts (np, nn) in the same two columns — the sentinel
keeps the whole model in a single additive frame so the shared
maintainer handles it unchanged; the read path
(``nbq_model_from_state``, the same read the one-shot fit runs over the
whole corpus) splits it back out. Bounded at NBQ_B + 1 rows forever.

This closes the loop on the filter's deployment story
(queries/quality_classifier.py): fit once -> apply at ingest
(streaming/nbq_stream.py), and now: fold newly-labeled documents into
the standing model nightly (or per micro-batch via the foreachBatch
twin below) without ever re-scanning the labeled corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.quality_classifier import nbq_state_for


def maintain_nbq_state(
    spark: SparkSession, base_dir: str, new_docs: DataFrame, stamp: str
) -> DataFrame:
    """Merge a labeled batch's counts (``nbq_state_for``) into the
    standing model counts and rotate a dated snapshot (sum-by-key
    over <= NBQ_B + 1 rows). Same idempotence/ordering contract as
    every additive maintainer; ``nbq_model_from_state`` reads the
    model back."""
    return maintain_additive_state(
        spark,
        base_dir,
        nbq_state_for(new_docs),
        key_cols=["bucket"],
        sum_cols=["cp", "cn"],
        stamp=stamp,
    )

