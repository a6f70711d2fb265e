"""Incremental maintenance of the DSIR feature distributions —
additive-count IVM, the textbook-easy case the domain gate's
distinct-count state (operators/gate_maintain.py) is the hard
counterpart of.

DSIR's two hashed-ngram distributions (queries/data_selection.py) are
plain occurrence counts per bucket, so the state IS the aggregate:
one row per bucket carrying (ct, cr), merged by sum-by-key, bounded
at DSIR_B rows FOREVER regardless of corpus size. A nightly batch (or
a micro-batch) folds its gram counts in (``dsir_state_for``), and
``dsir_weights_from_state`` — the same read the one-shot
``dsir_importance_weights`` runs over the whole corpus — re-derives
the importance-weight table from state alone; the raw corpus is never
re-scanned. Scoring new documents is a broadcast join against the
(tiny) re-derived weight table, so the ingest path
(streaming/dsir_stream.py) touches no state at all.

Same dated-snapshot rotation + replay contract as the gate
maintenance: a stamp whose snapshot is COMMITTED (_SUCCESS present)
only repoints the marker; a bare crashed directory falls through to
the overwrite merge; an out-of-order batch replay raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.data_selection import dsir_state_for


def maintain_dsir_state(
    spark: SparkSession, base_dir: str, new_docs: DataFrame, stamp: str
) -> DataFrame:
    """Merge a batch's bucket counts (``dsir_state_for``) into the
    standing state and rotate a dated snapshot (sum-by-key over
    <= DSIR_B rows — the merge itself costs one tiny shuffle whatever
    the batch size).
    Same idempotence/ordering contract as every additive maintainer —
    operators/additive_state.py holds the single implementation:
    committed stamp -> repoint only; crashed partial directory ->
    safe overwrite merge; out-of-order batch replay -> raise."""
    return maintain_additive_state(
        spark,
        base_dir,
        dsir_state_for(new_docs),
        key_cols=["bucket"],
        sum_cols=["ct", "cr"],
        stamp=stamp,
    )

