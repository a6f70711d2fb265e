"""Structured Streaming surface of the engine.

The reference has no record-level streaming (SURVEY §2.10) — its
incrementality is 4-weekly DAG re-runs plus the snapshot diff of §2.8.
This package provides the honest Spark restatements: the CDC diff as
an incremental `Trigger.AvailableNow` pipeline, plus the streaming
operators a training-data pipeline needs over the `events` table
(watermarked windowed rollups, streaming dedup, sessionization).

Two recurring shapes, both parity-pinned against their batch twins:

- **Stateless ingest transforms** (filter_stream, and the DSIR and NB
  scorers through ``run_scoring_stream``): the identical column program
  runs on `readStream` sources — per-micro-batch cost proportional to
  new files, zero state.
- **foreachBatch keyed-state maintainers** (``run_maintenance_stream``
  over any ``KeyedState`` declaration — gate, DSIR, NB, CMS, histogram,
  vocabulary, IVF, diversity): each micro-batch merges into a persisted
  keyed state via the BATCH merge verbatim on the shared
  `operators/additive_state.py` contract (stamp-keyed replay
  idempotence, crash-window safety, ordering guard).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from namegraph_collections_spark.operators.additive_state import (
    KeyedState,
    batch_stamp,
    maintain_keyed_state,
)
from namegraph_collections_spark.streaming.idempotent_sink import write_scored_batch


def drain_batches(
    stream: DataFrame, handle: Callable[[DataFrame, int], None], checkpoint_dir: str
) -> None:
    """Drain an available-now stream: ``handle(batch_df, batch_id)`` runs
    on every non-empty micro-batch inside ``foreachBatch``, and the call
    returns once every file available at start has been processed."""

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            handle(batch_df, batch_id)

    (
        stream.writeStream.foreachBatch(_each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_maintenance_stream(
    stream: DataFrame,
    state: KeyedState,
    base_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain a stream into a keyed state: every micro-batch merges into
    the standing state under ``base_dir`` through
    ``maintain_keyed_state`` verbatim (one code path, no drift), stamped
    with the zero-padded batch id.

    foreachBatch is at-least-once: a crash between the snapshot
    rotation and the streaming checkpoint commit redelivers the same
    batch id on restart. The merge is idempotent per stamp — an
    already-written ``snapshot=b<id>`` only repoints the marker — so a
    redelivery never merges twice (the replay tests in
    tests/test_*_maintain.py merge one stamp twice). Per micro-batch
    the cost is the state program's: a scan of the new files, a
    partial-aggregated shuffle of the batch, and a merge-by-key against
    a state bounded by its key space."""
    drain_batches(
        stream,
        lambda batch_df, batch_id: maintain_keyed_state(
            batch_df.sparkSession, base_dir, state, batch_df, batch_stamp(batch_id)
        ),
        checkpoint_dir,
    )


def run_scoring_stream(
    stream: DataFrame,
    score: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Score a documents stream against an already-fitted model, e.g.
    ``lambda b: dsir_score_against(b, bw)``: each micro-batch is scored
    by the BATCH function verbatim and lands batch-stamp-keyed under
    ``out_dir`` (``ingest_batch=`` partitions, dynamic overwrite), so an
    at-least-once redelivery overwrites its own partition instead of
    appending a duplicate (streaming/idempotent_sink.py). The model is
    a small static broadcast side and documents arrive whole (one file
    carries complete documents), so scores are batching-invariant and
    the stream keeps no state; a stream that split a document across
    micro-batches would need a stateful variant."""
    drain_batches(
        stream,
        lambda batch_df, batch_id: write_scored_batch(score(batch_df), out_dir, batch_id),
        checkpoint_dir,
    )
