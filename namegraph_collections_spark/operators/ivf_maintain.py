"""Incremental maintenance of IVF centroid-refinement statistics —
the ANN-index analogue of the diversity maintainer: the expensive,
corpus-grain part of (re)building an IVF index is the per-list
sufficient statistics for a spherical-k-means refinement step — per
inverted list the vector COUNT and the per-dimension SUM of unit
vectors — and both are plain sums, so a GROWING embedding store
maintains them by sum-by-key on the shared additive-state core
(operators/additive_state.py) and re-derives refreshed centroids and
list-balance diagnostics from state alone. New vectors fold in at
batch cost; the store is never rescanned to refresh the index.

List assignment is the engine's deterministic IVF seeding,
``vec_id % KMEANS_K`` (queries/similarity.py:229 uses the same init
for its Lloyd rounds) — fixed across batches by construction, so the
merged state over ANY batching equals the one-shot statistics over
the union (pinned by tests/test_ivf_maintain.py). A deployment that
re-seeds with real centroids swaps the assignment expression; the
maintenance contract is unchanged because assignment stays
batch-order-independent either way.

State layout (one frame, all-BIGINT, all-sum — the diversity-state
precedent): rows with ``dim >= 0`` carry the per-(cluster, dim)
quantized-component sum in ``s``; ONE sentinel row per cluster
(``dim = -1``) carries the list's vector count in ``n``. Bounded at
KMEANS_K x (DIM + 1) rows forever. Quantization is the SHARED
``quantized_unit_vectors`` program (queries/corpus_stats.py), so the
feature path cannot drift from the diversity operators'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from namegraph_collections_spark.functions.det_round import micro_spark
from namegraph_collections_spark.operators.additive_state import KeyedState
from namegraph_collections_spark.queries.corpus_stats import (
    quantized_unit_vectors,
)
from namegraph_collections_spark.queries.similarity import KMEANS_K

#: Sentinel dim id for the per-cluster count row.
SENTINEL_DIM = -1


def ivf_state_for(emb: DataFrame, extra: str | None = None) -> DataFrame:
    """A batch's additive contribution: per-(cluster, dim) quantized
    unit-vector component sums plus the per-cluster sentinel count
    row, under the deterministic ``vec_id % KMEANS_K`` assignment.

    ``extra`` names a pass-through grouping column: the single-pass
    fold fixture (queries/maintainer_reads.py) tags every row with
    its batch id and computes ALL batches' contributions in one scan
    by grouping on (state keys, tag) — row-disjoint batches make the
    per-(keys, tag) groups exactly the per-batch contributions."""
    grp = [extra] if extra is not None else []
    qv = quantized_unit_vectors(
        emb.withColumn("cluster", (F.col("vec_id") % KMEANS_K).cast("long")),
        key="cluster",
        extra=extra,
    )
    dims = (
        qv.select("cluster", *grp, F.posexplode("qv").alias("dim", "qc"))
        .groupBy("cluster", "dim", *grp)
        .agg(F.sum("qc").cast("long").alias("s"))
        .select(
            "cluster",
            F.col("dim").cast("long").alias("dim"),
            *grp,
            "s",
            F.lit(0).cast("long").alias("n"),
        )
    )
    sentinel = qv.groupBy("cluster", *grp).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(
        "cluster",
        F.lit(SENTINEL_DIM).cast("long").alias("dim"),
        *grp,
        F.lit(0).cast("long").alias("s"),
        "n",
    )
    return dims.unionByName(sentinel)


#: The IVF statistics' maintained state (layout and bound in the module
#: docstring): all sums, exact under any batching because list
#: assignment is fixed per vector.
IVF_STATE = KeyedState(ivf_state_for, ("cluster", "dim"), {"s": "sum", "n": "sum"})


def centroids_from_state(state: DataFrame) -> DataFrame:
    """Refreshed spherical-refinement centroids from state alone:
    per (cluster, dim) the mean quantized component as a DOUBLE
    (c = s / n — both sides of the parity tests compute it from the
    IDENTICAL integer state, so the doubles agree bitwise), plus the
    list size. Equal by construction to the same derivation over the
    one-shot ``ivf_state_for`` of the full store."""
    sizes = state.filter(F.col("dim") == SENTINEL_DIM).select(
        "cluster", F.col("n").alias("n_vecs")
    )
    return (
        state.filter(F.col("dim") != SENTINEL_DIM)
        .join(F.broadcast(sizes), "cluster")
        .select(
            "cluster",
            "dim",
            "s",
            "n_vecs",
            (F.col("s").cast("double") / F.col("n_vecs")).alias("c_milli"),
        )
    )


def list_balance_from_state(state: DataFrame) -> DataFrame:
    """IVF list-balance diagnostics from the sentinel rows — one row:
    (n_lists, n_vecs, max_list, min_list, imbalance_micro) where
    imbalance = max_list * n_lists / n_vecs (1e6 = perfectly even).
    The skew monitor an ANN serving tier reads before it decides to
    re-seed: one hot list turns nprobe into a scan."""
    return (
        state.filter(F.col("dim") == SENTINEL_DIM)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.sum("n").cast("long").alias("n_vecs"),
            F.max("n").cast("long").alias("max_list"),
            F.min("n").cast("long").alias("min_list"),
        )
        .selectExpr(
            "n_lists",
            "n_vecs",
            "max_list",
            "min_list",
            f"CAST({micro_spark('max_list * n_lists', 'n_vecs')} AS BIGINT)"
            " AS imbalance_micro",
        )
    )
