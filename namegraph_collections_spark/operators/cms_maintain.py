"""Incremental maintenance of the Count-Min frequency sketch —
additive-cell IVM over the shared machinery of
operators/additive_state.py.

A CMS is the ideal incremental summary: its state is the (d, bucket)
cell-count table — at most CMS_D x CMS_W rows FOREVER — and cell
counts are plain sums, so merging a batch is a sum-by-key against a
state that never grows (Cormode & Muthukrishnan 2005 §4.1: sketches
of two streams combine by cell-wise addition). The token stream is
per-document bigrams (queries/rollups.py::cms_bigrams_of), which
never cross documents, so ANY batching of the corpus partitions the
stream and the maintained sketch equals the one-shot sketch EXACTLY —
not approximately — after any number of merges (pinned by
tests/test_cms_maintain.py).

Read path: ``cms_estimates_from`` (shared with the one-shot query)
probes the maintained state for any candidate set as a broadcast
join; at 100 TB the standing 2k-row state answers per-token frequency
probes for every downstream consumer (stopword discovery, hot-key
diagnostics, dedup shingle weighting) without any corpus re-scan.

Heavy-hitter note, deliberate scope: the maintained object is the
SKETCH, whose exactness under merge is unconditional. A streaming
top-k candidate ledger (the Misra-Gries-style heap the literature
bolts on) is approximate under merges by nature; the engine's exact
heavy-hitter query stays the one-shot ``cms_heavy_hitters`` (which
also carries exact counts for error measurement), and callers who
need a rolling candidate list probe the maintained state with their
own candidate set — the read path above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.rollups import cms_state_for


def maintain_cms_state(
    spark: SparkSession, base_dir: str, new_docs: DataFrame, stamp: str
) -> DataFrame:
    """Merge a batch's cell counts (``cms_state_for``) into the
    standing sketch and rotate a dated snapshot (sum-by-key over
    <= CMS_D x CMS_W rows — the merge costs one tiny shuffle whatever
    the batch size). Same
    idempotence/ordering contract as every additive maintainer —
    operators/additive_state.py holds the single implementation:
    committed stamp -> repoint only; crashed partial directory ->
    safe overwrite merge; out-of-order batch replay -> raise."""
    return maintain_additive_state(
        spark,
        base_dir,
        cms_state_for(new_docs),
        key_cols=["d", "bucket"],
        sum_cols=["c"],
        stamp=stamp,
    )
