"""ANN quality evaluation: recall@k of the approximate indexes
against the exact baseline, as an oracle-checked registry row.

The ANN operators' parity rows prove *determinism* (both engines
compute the same approximate result); this row checks *usefulness* —
how much of the true top-k the IVF and PQ→re-rank paths actually
retrieve — the analogue of the reference's NDCG/recall eval for its
search stack (research/learning-to-rank/compare_window_sizes.py:191-211,
which scores LTR rescoring against judgment lists the same way).

All three inputs are the unchanged registry queries / oracle CTEs, so
the reported recall is the recall of exactly what ships. One row per
(method, query) plus a macro row per method (q_id = -1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.queries.registry import REGISTRY, register, run_parallel
from namegraph_collections_spark.queries.similarity import (
    TOP_K,
    cosine_topk_bruteforce,
    ivf_topk,
)
from namegraph_collections_spark.queries.similarity_pq import pq_rerank_topk

#: method label → the query whose top-k we score
_METHODS = {"ivf": "ivf_topk", "pq_rerank": "pq_rerank_topk"}


def _oracle() -> str:
    truth = REGISTRY["cosine_topk_bruteforce"].oracle
    ivf = REGISTRY["ivf_topk"].oracle
    pq = REGISTRY["pq_rerank_topk"].oracle
    return f"""
    WITH truth AS (SELECT q_id, c_id FROM ({truth})),
    m_ivf AS (SELECT q_id, c_id FROM ({ivf})),
    m_pq AS (SELECT q_id, c_id FROM ({pq})),
    methods AS (
      SELECT 'ivf' AS method, q_id, c_id FROM m_ivf
      UNION ALL
      SELECT 'pq_rerank' AS method, q_id, c_id FROM m_pq
    ),
    grid AS (
      SELECT m.method, q.q_id
      FROM (SELECT DISTINCT q_id FROM truth) q,
           (SELECT 'ivf' AS method UNION ALL SELECT 'pq_rerank') m
    ),
    hit AS (
      SELECT me.method, me.q_id, COUNT(*) AS hits
      FROM methods me JOIN truth t ON t.q_id = me.q_id AND t.c_id = me.c_id
      GROUP BY me.method, me.q_id
    ),
    perq AS (
      SELECT g.method, g.q_id,
             CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
             ((COALESCE(h.hits, 0) * 1000000 + {TOP_K} // 2) // {TOP_K}) / 1000000.0 AS recall
      FROM grid g LEFT JOIN hit h ON h.method = g.method AND h.q_id = g.q_id
    )
    SELECT method, q_id, hits, recall FROM perq
    UNION ALL
    SELECT method, CAST(-1 AS BIGINT) AS q_id, SUM(hits) AS hits,
           ((SUM(hits) * 1000000 + (COUNT(*) * {TOP_K}) // 2) // (COUNT(*) * {TOP_K})) / 1000000.0
             AS recall
    FROM perq GROUP BY method
    """


def recall_eval_from(truth: DataFrame, ivf: DataFrame, pq: DataFrame) -> DataFrame:
    """The eval body over ALREADY-BUILT result frames (each carrying
    q_id/c_id): callers that have the three searches materialized
    (e.g. similarity_battery, which also unions them as legs) pass
    them in so the searches execute once, not once per reference.
    ``ann_recall_eval`` below is the standalone composition."""
    truth = truth.select("q_id", "c_id")
    methods = (
        ivf.select(F.lit("ivf").alias("method"), "q_id", "c_id")
        .unionByName(
            pq.select(F.lit("pq_rerank").alias("method"), "q_id", "c_id")
        )
    )
    grid = (
        truth.select("q_id")
        .distinct()
        .select(
            "q_id",
            F.explode(F.array(F.lit("ivf"), F.lit("pq_rerank"))).alias("method"),
        )
    )
    hit = (
        methods.join(truth, ["q_id", "c_id"])
        .groupBy("method", "q_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    # Recall in exact integer micro-units (text_analysis.py convention):
    # hits/k is an exact rational that can land on a 6-decimal half
    # (1/128-class), where engine ROUND(double) half-way rules differ.
    perq = grid.join(F.broadcast(hit), ["method", "q_id"], "left").select(
        "method",
        "q_id",
        F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hits"),
    ).select(
        "method",
        "q_id",
        "hits",
        (
            F.expr(f"(hits * 1000000 + {TOP_K} div 2) div {TOP_K}") / F.lit(1000000.0)
        ).alias("recall"),
    )
    macro = perq.groupBy("method").agg(
        F.lit(-1).cast("long").alias("q_id"),
        F.sum("hits").alias("hits"),
        (
            F.expr(
                f"(SUM(hits) * 1000000 + (COUNT(1) * {TOP_K}) div 2)"
                f" div (COUNT(1) * {TOP_K})"
            )
            / F.lit(1000000.0)
        ).alias("recall"),
    ).select("method", "q_id", "hits", "recall")
    return perq.unionByName(macro)


@register("ann_recall_eval", oracle=_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{TOP_K} of ivf_topk and pq_rerank_topk against
    cosine_topk_bruteforce as ground truth.

    Composition-only: runs the three registry queries verbatim and
    joins their (q_id, c_id) sets — the per-query rows report the hit
    count and recall, the q_id = -1 row the macro recall per method.
    Every (method, query) pair is present even at zero hits (grid ×
    left join), so a collapsed index reads 0.0, not absent.
    """
    # truth is referenced twice inside the eval (the query grid and
    # the hit join) but stays checkpoint-free ON MEASUREMENT: an
    # interleaved A/B read plain vs checkpointed equal within noise
    # (numbers in MEASUREMENTS.md — the duplicated subtree dedups
    # via ReusedExchange inside a single plan), unlike
    # neardup_triangles' five-reference edge list where the same
    # experiment showed 1.5x. similarity_battery, whose references
    # span a UNION (where ReusedExchange does NOT dedup), passes
    # checkpointed frames into recall_eval_from instead.
    #
    # The ivf and pq arms each run a Lloyd chain whose per-round
    # eager k-row checkpoints make their BUILDS job-running (round-13
    # lineage-cut change), so composing them serially left the driver
    # running one chain while the other's executor work sat idle.
    # Building the two independent chains from the §2.6 thread pool
    # overlaps them (guide §2.6; same plans, same results — only the
    # submission schedule changes). The cosine truth arm stays inline:
    # its build is a pure lazy plan, no jobs to overlap. Interleaved
    # in-process A/B at sf0.1: serial 5.0–6.2s vs 3.7–4.3s, 1.37x,
    # 4/4 wins.
    ivf, pq = run_parallel(
        spark,
        lambda: ivf_topk(spark, sf_dir),
        lambda: pq_rerank_topk(spark, sf_dir),
    )
    return recall_eval_from(cosine_topk_bruteforce(spark, sf_dir), ivf, pq)
