"""Iterative transitive closure over an edge DataFrame (SURVEY §2.3 J14 ★).

Reference analogue: ``has_path_rocksdb`` does a per-member DFS over
``subclass_of`` edges with an lru_cache
(/root/reference/airflow/dags/create_collections.py:545-606). At scale
that is O(members × DFS); the Spark-first treatment precomputes
``reachable(node, ancestor)`` once with a driver loop of self-joins —
turning every subsequent reachability probe into a plain equi-join.

Scale notes:
- the frontier is deduplicated every iteration (the closure of a DAG
  is the fixpoint; duplicates only re-derive known pairs);
- ``localCheckpoint`` truncates the lineage so the plan doesn't grow
  exponentially with depth (classic iterative-join pitfall);
- cycles terminate naturally because the frontier ∖ known set goes
  empty (same role as the DFS visited-set guard at
  create_collections.py:560-590);
- a ``same_as`` redirect table is folded in by the caller as an edge
  rewrite (edges ∪ same_as∘edges) before iterating
  (plans/collections_core.py::subclass_reachability), mirroring the
  per-node fallback at create_collections.py:566-575.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from namegraph_collections_spark.operators.iterative import (
    checkpoint_rdd_id,
    unpersist_rdd_ids,
)


def transitive_closure(
    edges: DataFrame,
    max_iterations: int = 25,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Compute all (src, dst) pairs where dst is reachable from src.

    Semi-naive evaluation: only the last-round frontier is joined
    against the edge relation each step, and already-known pairs are
    anti-joined away, so work is proportional to *new* pairs per
    round, not the whole closure.

    Returns DataFrame[src, dst] including the 1-step edges.
    """
    spark = edges.sparkSession
    # Constraint propagation must be off while the frontier-union plans
    # are optimized: a checkpointed LogicalRDD re-exposes fresh output
    # attributes but carries constraints referencing its ORIGIN plan's
    # attribute ids, and a Union over such children throws
    # NoSuchElementException in UnionBase.rewriteConstraints once the
    # union is deep (reproduced at ~40 rounds; tests/test_iterative.py
    # drives it). Constraint propagation only adds derived filters the
    # semi-naive loop doesn't benefit from, so the toggle costs nothing
    # here. Saved/restored so the session's other queries keep it.
    _CONSTRAINT_CONF = "spark.sql.constraintPropagation.enabled"
    prev_constraint = spark.conf.get(_CONSTRAINT_CONF, "true")
    spark.conf.set(_CONSTRAINT_CONF, "false")
    try:
        return _transitive_closure_loop(spark, edges, max_iterations, checkpoint_every)
    finally:
        spark.conf.set(_CONSTRAINT_CONF, prev_constraint)


def _transitive_closure_loop(
    spark, edges: DataFrame, max_iterations: int, checkpoint_every: int
) -> DataFrame:
    edges = edges.select("src", "dst").distinct()
    # Hot relation reused every iteration — cache it once.
    edges.persist()
    closure = edges
    frontier = edges
    round_ids: set[int] = set()  # checkpoint storage of per-round frontiers
    for i in range(max_iterations):
        # frontier ∘ edges: new candidate pairs one step deeper.
        stepped = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
            .select(F.col("f.src").alias("src"), F.col("e.dst").alias("dst"))
            .distinct()
        )
        # Semi-naive: drop pairs we already know (also terminates cycles).
        # ONLY the frontier is checkpointed — never the accumulated
        # closure. The closure stays a lazy union over the materialized
        # frontier RDDs, so each pair is stored exactly ONCE across the
        # loop; re-checkpointing the union each round would write an
        # O(rounds × closure) cascade of copies. Plan depth grows one
        # union leaf per round — shallow, and every leaf is already
        # materialized. The checkpoint is lazy and the count() probe is
        # the materializing action (count is a FULL action, so the
        # checkpoint is complete when it returns — unlike isEmpty,
        # whose early-exit leaves materialization to a backfill job).
        new_pairs = stepped.join(closure, ["src", "dst"], "left_anti")
        if checkpoint_every and (i % checkpoint_every == 0):
            new_pairs = new_pairs.localCheckpoint(eager=False)
            # exact id off the plan node — never a persistent-map diff,
            # which could swallow caller-owned cache blocks that
            # materialize inside this round's job
            round_ids.add(checkpoint_rdd_id(new_pairs))
        n_new = new_pairs.count()
        if n_new == 0:
            break
        closure = closure.unionByName(new_pairs)
        frontier = new_pairs
    # Compact the result to ONE checkpointed relation and free every
    # per-round frontier block: the loop's storage would otherwise stay
    # pinned for the session (PySpark has no unpersist for checkpoints;
    # see operators/iterative.py). One extra pass over the closure.
    result = closure.localCheckpoint(eager=True)
    edges.unpersist()
    unpersist_rdd_ids(spark, round_ids)
    return result
