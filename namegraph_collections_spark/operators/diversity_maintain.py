"""Incremental maintenance of the embedding-diversity state — the
sum-identity metric (queries/corpus_stats.py::embedding_diversity) is
ADDITIVE at (label, dim) grain, because every quantity it needs is a
plain sum of per-row integers: the per-dim component sums S_ld, the
per-row self-squares, and the row counts. So the corpus-level
diversity of a GROWING embedding store maintains by sum-by-key on the
shared additive-state core and re-derives exactly from state alone —
new vectors fold in at batch cost, the store is never rescanned.

The state program (``diversity_state_for``) and its read
(``diversity_from_state``) live next to the one-shot query, which is
exactly that read over the whole table's state; this module merges
batches. Bounded at labels x (DIM + 1) rows forever.

Deployment story this closes: SemDeDup-style redundancy monitoring at
ingest — each embedding micro-batch updates the state, and the read
path answers "which clusters are going redundant" without touching
the corpus (streaming twin: ``streaming.run_maintenance_stream``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.corpus_stats import diversity_state_for


def maintain_diversity_state(
    spark: SparkSession, base_dir: str, new_emb: DataFrame, stamp: str
) -> DataFrame:
    """Merge an embedding batch into the standing diversity state and
    rotate a dated snapshot (sum-by-key over <= labels x (DIM + 1)
    rows). Same idempotence/ordering contract as every keyed-state
    maintainer (operators/additive_state.py)."""
    return maintain_additive_state(
        spark,
        base_dir,
        diversity_state_for(new_emb),
        key_cols=["label", "dim"],
        sum_cols=["s", "self2", "n"],
        stamp=stamp,
    )
