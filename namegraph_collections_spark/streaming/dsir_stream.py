"""Continuous DSIR scoring — the ingest half of the importance-weight
pipeline (operators/dsir_maintain.py), whose state half runs as
``run_maintenance_stream(stream, maintain_dsir_state, ...)``
(streaming/__init__.py).

New documents are scored against a FITTED weight-table snapshot as a
plain append-mode transformation — the weight table is a small static
broadcast side, the stream side is the same per-doc bucket-count
program as the batch scorer (``dsir_score_against``), so the filter
runs at ingest bandwidth with zero state. This is the deployment
split the DSIR paper implies: fit the distributions on the standing
corpus, apply the ratio at the door.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from namegraph_collections_spark.streaming import drain_batches


def run_dsir_scoring_stream(
    docs_stream: DataFrame,
    bw: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Score a documents STREAM against a static (bucket, lw_micro)
    weight table, appending scored rows to ``out_dir``. The per-doc
    bucket-count aggregation is NOT a streaming-state aggregation —
    documents arrive whole (one file carries complete documents), so
    each micro-batch is scored by the BATCH function verbatim inside
    ``foreachBatch``; scores are batching-invariant because the
    weight table is fixed, which is what the parity test pins.
    Streams that split one document across micro-batches would need a
    stateful variant (out of scope — documents are atomic here).
    Rows land batch-stamp-keyed (``ingest_batch=`` partitions) so an
    at-least-once redelivery overwrites rather than duplicates — see
    streaming/idempotent_sink.py."""
    from namegraph_collections_spark.queries.data_selection import (
        dsir_score_against,
    )
    from namegraph_collections_spark.streaming.idempotent_sink import (
        write_scored_batch,
    )

    drain_batches(
        docs_stream,
        lambda batch_df, batch_id: write_scored_batch(dsir_score_against(batch_df, bw), out_dir, batch_id),
        checkpoint_dir,
    )
