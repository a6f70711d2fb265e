"""Incremental maintenance of the embedding-diversity state — the
sum-identity metric (queries/corpus_stats.py::embedding_diversity) is
ADDITIVE at (label, dim) grain, because every quantity it needs is a
plain sum of per-row integers: the per-dim component sums S_ld, the
per-row self-squares, and the row counts. So the corpus-level
diversity of a GROWING embedding store maintains by sum-by-key on the
shared additive-state core and re-derives exactly from state alone —
new vectors fold in at batch cost, the store is never rescanned.

State layout (one frame, all-BIGINT, all-sum — the nbq sentinel
precedent): rows with ``dim >= 0`` carry the per-(label, dim)
component sum in ``s``; ONE sentinel row per label (``dim = -1``)
carries the label's vector count in ``n`` and self-square sum in
``self2``. Bounded at labels x (DIM + 1) rows forever.

Deployment story this closes: SemDeDup-style redundancy monitoring at
ingest — each embedding micro-batch updates the state, and the read
path answers "which clusters are going redundant" without touching
the corpus (streaming twin: ``streaming.run_maintenance_stream``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.operators.additive_state import (
    maintain_additive_state,
)
from namegraph_collections_spark.queries.corpus_stats import (
    assert_diversity_bound,
    quantized_unit_vectors,
)
from namegraph_collections_spark.queries.similarity import DIM

#: State schema: (label, dim, s, self2, n) — see module docstring.
STATE_COLS = ["label", "dim", "s", "self2", "n"]

#: Sentinel dim id for the per-label (count, self-square) row.
SENTINEL_DIM = -1


def _assert_dim_width(per: DataFrame) -> DataFrame:
    """Plan-level guard for the DIM-width invariant: every embedding
    explodes into exactly ``DIM`` component rows, so a group's
    component count ``cnt`` is ``DIM`` times its vector count ``vecs``.
    A short, long, empty or NULL embedding breaks that (a NULL one
    explodes to no component at all, and would silently drop out of
    the state), so raise instead. Spelled as a filter, like
    ``assert_diversity_bound``, so no projection can prune it."""
    bad = (F.col("_gid") == 1) & (F.col("cnt") != F.lit(int(DIM)) * F.col("vecs"))
    return per.filter(
        F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit("embedding diversity: DIM-width invariant violated — label "),
                    F.col("label").cast("string"),
                    F.lit(" has "),
                    F.col("cnt").cast("string"),
                    F.lit(" embedding components over "),
                    F.col("vecs").cast("string"),
                    F.lit(f" vectors, not DIM={int(DIM)} per vector"),
                )
            ),
        ).isNull()
    )


def diversity_state_for(emb: DataFrame, extra: str | None = None) -> DataFrame:
    """A batch's additive contribution: per-(label, dim) component
    sums plus the per-label sentinel row — the IDENTICAL quantization
    program as the one-shot query (``quantized_unit_vectors``).

    ``extra`` names a pass-through grouping column (the single-pass
    fold fixture's batch tag — see ivf_state_for's docstring)."""
    grp = [extra] if extra is not None else []
    # Single-pass shape (optimization round 13): the sentinel row's
    # (self2, n) used to be a SECOND aggregation over the shared
    # quantized vectors, which forced a persist() of qv that outlived
    # the caller's query (the r12 verdict's unpersist-hygiene item) —
    # and a second corpus pass at scale. Both granularities come out
    # of ONE rollup aggregation instead (grouping sets (label[,tag],
    # dim) and (label[,tag])): the sentinel's self2 is the same
    # exact-integer Σ qc² in a coarser grouping (long sums are
    # associative — bit-identical), and n counts the input vectors:
    # the outer explode gives every vector one row at dim 0, or one
    # row with a NULL dim when it has no components, so a NULL
    # embedding is counted instead of vanishing. ``cnt`` counts the
    # components, and ``_assert_dim_width`` raises unless each vector
    # has exactly DIM of them. A single projection then shapes each
    # grouping-set row into its state row — one scan, one
    # aggregation, no union, no cache entry.
    qv = quantized_unit_vectors(emb, extra=extra)
    per = (
        qv.select("label", *grp, F.posexplode_outer("qv").alias("dim", "qc"))
        .rollup("label", *grp, "dim")
        .agg(
            F.sum("qc").cast("long").alias("s"),
            F.sum(F.col("qc") * F.col("qc")).cast("long").alias("q2"),
            F.count("dim").cast("long").alias("cnt"),
            F.count_if(F.coalesce(F.col("dim"), F.lit(0)) == 0).cast("long").alias("vecs"),
            F.grouping_id().alias("_gid"),
        )
    )
    # _gid: last bit = dim rolled up. 0 → per-(label[,tag], dim)
    # detail row; 1 → per-(label[,tag]) sentinel source. Coarser
    # prefixes (label-only under a tag, grand total) are dropped.
    zero = F.lit(0).cast("long")
    return _assert_dim_width(per.filter(F.col("_gid") <= 1)).select(
        "label",
        F.when(F.col("_gid") == 0, F.col("dim").cast("long"))
        .otherwise(F.lit(SENTINEL_DIM).cast("long"))
        .alias("dim"),
        *grp,
        F.when(F.col("_gid") == 0, F.col("s")).otherwise(zero).alias("s"),
        F.when(F.col("_gid") == 1, F.col("q2")).otherwise(zero).alias("self2"),
        F.when(F.col("_gid") == 1, F.col("vecs")).otherwise(zero).alias("n"),
    )


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


def diversity_from_state(state: DataFrame) -> DataFrame:
    """Re-derive the diversity table — (label, n_vecs, self_sq,
    pair_num, pair_den) per label plus the label = -1 corpus row —
    from the keyed state alone; equal by construction to the one-shot
    ``embedding_diversity`` over the union of every merged batch
    (pinned by tests/test_diversity_maintain.py)."""
    dims = state.filter(F.col("dim") != SENTINEL_DIM)
    # same signed-64 exactness bound as the one-shot query: the
    # aligned-group worst case overflows sum(s*s) near 3e6 vectors
    # (corpus_stats.DIVERSITY_MAX_VECS) — raise, never wrap
    per_label = assert_diversity_bound(
        state.filter(F.col("dim") == SENTINEL_DIM).select(
            "label", F.col("n").alias("n_vecs"), F.col("self2").alias("self_sq")
        ),
        "n_vecs",
    )
    a_label = dims.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("sum_sq")
    )
    rows_l = per_label.join(a_label, "label").selectExpr(
        "label",
        "n_vecs",
        "self_sq",
        "CAST(sum_sq - self_sq AS BIGINT) AS pair_num",
        "CAST(n_vecs * (n_vecs - 1) AS BIGINT) AS pair_den",
    )
    a_all = (
        dims.groupBy("dim")
        .agg(F.sum("s").cast("long").alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).cast("long").alias("sum_sq"))
    )
    tot = assert_diversity_bound(
        per_label.agg(
            F.sum("n_vecs").cast("long").alias("n_vecs"),
            F.sum("self_sq").cast("long").alias("self_sq"),
        ),
        "n_vecs",
    )
    row_all = tot.crossJoin(F.broadcast(a_all)).selectExpr(
        "CAST(-1 AS BIGINT) AS label",
        "n_vecs",
        "self_sq",
        "CAST(sum_sq - self_sq AS BIGINT) AS pair_num",
        "CAST(n_vecs * (n_vecs - 1) AS BIGINT) AS pair_den",
    )
    return rows_l.unionByName(row_all)
