"""Ingest-time application of the NB quality filter — the streaming
half of queries/quality_classifier.py, same deployment split as the
DSIR scorer (streaming/dsir_stream.py): fit the model on the standing
corpus once (``nbq_model_of`` — a <= NBQ_B-row weight table and a
1-row prior), then score arriving documents as a plain append-mode
transformation. The model is a small static broadcast side; the
stream side is the same per-doc bucket-count program as the batch
scorer (``nbq_score_against``), so the filter runs at ingest
bandwidth with zero state, and scores are batching-invariant because
the model is fixed (pinned by tests/test_quality_classifier.py's
stream-parity test).

Documents arrive whole (one file carries complete documents), so each
micro-batch is scored by the BATCH function verbatim inside
``foreachBatch`` — the same atomicity note as the DSIR scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from namegraph_collections_spark.queries.quality_classifier import (
    nbq_score_against,
)
from namegraph_collections_spark.streaming import drain_batches
from namegraph_collections_spark.streaming.idempotent_sink import (
    write_scored_batch,
)


def run_nbq_scoring_stream(
    docs_stream: DataFrame,
    w: DataFrame,
    prior: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Score a documents STREAM against a fitted (weights, prior)
    model, landing scored rows batch-stamp-keyed under ``out_dir``
    (``ingest_batch=`` partitions, dynamic overwrite) so an
    at-least-once redelivery overwrites its own partition instead of
    appending a duplicate copy — see streaming/idempotent_sink.py."""
    drain_batches(
        docs_stream,
        lambda batch_df, batch_id: write_scored_batch(nbq_score_against(batch_df, w, prior), out_dir, batch_id),
        checkpoint_dir,
    )
