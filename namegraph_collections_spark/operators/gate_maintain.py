"""Incremental maintenance of the per-domain quality gate —
distinct-count IVM, the case the engine's additive rollup IVM
(queries/rollups.py::incremental_hourly_rollup) cannot cover.

The gate (queries/web_rollup.py::host_quality_rollup) needs
``n_pages = COUNT(DISTINCT norm_url)`` per domain, and a distinct
count is not additive across batches: two batches can contribute the
same canonical URL, so per-batch gate tables cannot simply be summed.
The standard IVM answer is to maintain state at the DISTINCT KEY's
grain — one row per (domain, norm_url) carrying the additive measures
— because at that grain everything IS additive: merging a batch is a
sum-by-key, distinct pages per domain is a row count, and the gate
re-derives exactly. The state program and its read
(``gate_state_for`` / ``gate_from_state``) live next to the one-shot
rollup, which is exactly that read over the whole corpus's state;
this module merges batches. Same dated-snapshot rotation as the
MinHash band index (operators/dedup_index.py); day N+1's batch
merges into day N's state.

Scale shape: per batch, the fused per-doc program (scan bandwidth) +
one (domain, norm_url)-keyed partial-aggregated shuffle of the batch
+ a sum-by-key merge against state that a production deployment
bucket-joins on the same key (co-located, no corpus-wide shuffle);
state size is bounded by the number of distinct canonical URLs, the
same asymptotics as the URL-dedup index a web pipeline already keeps.
The gate re-derivation aggregates state rows — |pages| → |domains|,
a reduction, never a re-scan of any document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.web_rollup import (
    gate_state_for,
    per_doc_web_frame_of,
)


def maintain_gate_state(
    spark: SparkSession, base_dir: str, new_docs: DataFrame, stamp: str
) -> DataFrame:
    """Merge a batch into the standing page-grain state and rotate a
    dated snapshot; returns the rotated state as read back from
    storage (``gate_from_state`` reads the gate from it). The batch's
    contribution is ``gate_state_for`` over its fused per-doc frame.
    The merge, the per-stamp replay idempotence (committed
    ``_SUCCESS`` snapshots only repoint; crashed half-writes fall
    through to a safe overwrite merge), and the out-of-order replay
    guard are the shared additive-state contract —
    operators/additive_state.py holds the single implementation and
    the full durability docstring. Callers key the stamp to the batch
    identity (the streaming twin stamps with the zero-padded
    micro-batch id) and keep stamps lexicographically monotonic."""
    return maintain_additive_state(
        spark,
        base_dir,
        gate_state_for(per_doc_web_frame_of(new_docs.select("doc_id", "source", "text"))),
        key_cols=["domain", "norm_url"],
        sum_cols=["n_docs", "n_keep", "sum_words"],
        stamp=stamp,
    )

