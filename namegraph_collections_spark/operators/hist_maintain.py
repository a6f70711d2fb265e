"""Incremental maintenance of the fixed-grid histogram — the third
instance of the shared additive-state contract
(operators/additive_state.py), completing the sketch family: gate
pages (distinct-count IVM at key grain), DSIR buckets and CMS cells
(additive counts), and now the quantile histogram.

Grid bucket counts are plain sums, so the state is the (bucket, c)
table itself — clamped to HIST_MAX_B rows by construction — and a
batch merge is a sum-by-key. Because bucketing is a per-ROW function
of l_extendedprice, ANY batching of the table partitions the counts,
and the maintained histogram equals the one-shot histogram EXACTLY;
the quantile read (``hist_quantiles_from_buckets``, which the
one-shot query runs over ``hist_buckets_of``) therefore re-derives
exactly the registered ``histogram_quantiles`` output from state
alone — no re-scan (pinned by tests/test_hist_maintain.py).

This is the production shape for percentile monitoring over a
100 TB fact stream: each day folds its <= 2048-row grid in, and
p50/p90/p99 re-derive from the standing grid in milliseconds —
the exact-vs-mergeable trade the one-shot query's docstring
documents, now with the mergeable half implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.percentiles import hist_buckets_of


def maintain_hist_state(
    spark: SparkSession, base_dir: str, new_rows: DataFrame, stamp: str
) -> DataFrame:
    """Merge a batch's grid counts (``hist_buckets_of``) into the
    standing histogram and rotate a dated snapshot. Same
    idempotence/ordering contract as every additive maintainer —
    operators/additive_state.py holds the single implementation."""
    return maintain_additive_state(
        spark,
        base_dir,
        hist_buckets_of(new_rows),
        key_cols=["bucket"],
        sum_cols=["c"],
        stamp=stamp,
    )

