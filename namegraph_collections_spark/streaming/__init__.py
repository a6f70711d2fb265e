"""Structured Streaming surface of the engine.

The reference has no record-level streaming (SURVEY §2.10) — its
incrementality is 4-weekly DAG re-runs plus the snapshot diff of §2.8.
This package provides the honest Spark restatements: the CDC diff as
an incremental `Trigger.AvailableNow` pipeline, plus the streaming
operators a training-data pipeline needs over the `events` table
(watermarked windowed rollups, streaming dedup, sessionization).

Two recurring shapes, both parity-pinned against their batch twins:

- **Stateless ingest transforms** (filter_stream, nbq_stream, the
  DSIR scorer): the identical column program runs on `readStream`
  sources in append mode — per-micro-batch cost proportional to new
  files, zero state.
- **foreachBatch additive-state maintainers**
  (``run_maintenance_stream`` over the gate, DSIR, CMS, vocabulary,
  IVF and diversity maintainers): each micro-batch merges into a
  persisted keyed state via the BATCH maintenance function verbatim
  on the shared `operators/additive_state.py` contract (stamp-keyed
  replay idempotence, crash-window safety, ordering guard).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import batch_stamp


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
    maintain: Callable[[SparkSession, str, DataFrame, str], DataFrame],
    base_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain a stream through a keyed-state maintainer
    (``maintain_*_state(spark, base_dir, batch, stamp)``): every
    micro-batch merges into the standing state under ``base_dir`` via
    the batch function verbatim (one code path, no drift), stamped with
    the zero-padded batch id.

    foreachBatch is at-least-once: a crash between the snapshot
    rotation and the streaming checkpoint commit redelivers the same
    batch id on restart. The maintainers are idempotent per stamp — an
    already-written ``snapshot=b<id>`` only repoints the marker — so a
    redelivery never merges twice (the replay tests in
    tests/test_*_maintain.py merge one stamp twice). Per
    micro-batch the cost is the maintainer's: a scan of the new files,
    a partial-aggregated shuffle of the batch, and a merge-by-key
    against a state bounded by its key space."""
    drain_batches(
        stream,
        lambda batch_df, batch_id: maintain(batch_df.sparkSession, base_dir, batch_df, batch_stamp(batch_id)),
        checkpoint_dir,
    )
