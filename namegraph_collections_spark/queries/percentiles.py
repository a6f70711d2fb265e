"""Exact grouped percentiles + outlier trimming (registry 58+, behind
the driver window — locally parity-checked).

Corpus-cleaning use-case: "drop documents outside the per-source
[p10, p99] length band" needs percentiles that are EXACT and
engine-independent. Both ``percentile_approx`` (Spark) and
``quantile_disc`` (DuckDB) are out: the first is approximate by
contract, and the two engines' discrete-quantile index conventions
differ at the edges. Instead the percentile is defined once,
explicitly — the value at row ``ceil(q*n)`` of the (value, id)-sorted
group — and BOTH engines compute that same window program, so the
driver's value hash matches bit for bit.

Scale shape: one shuffle on source for the window pass (row_number +
count over the same partition spec share a single sort+exchange),
then a partial-agg rollup per source. The trim decision reuses the
window columns — no second scan, no join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from namegraph_collections_spark.operators.additive_state import KeyedState
from namegraph_collections_spark.queries.registry import register, tbl

#: (label, quantile) pairs reported per source.
PCTS = [("p50", "0.50"), ("p90", "0.90"), ("p99", "0.99")]

#: Trim band: docs with length outside [p10, p99] are outliers.
TRIM_LO, TRIM_HI = "0.10", "0.99"


@register(
    "length_percentile_trim",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT source,
           {",".join(
               f"MAX(CASE WHEN rn = CAST(ceil({q} * n) AS BIGINT) THEN n_chars END)"
               f" AS {label}"
               for label, q in PCTS
           )},
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (
             WHERE rn >= CAST(ceil({TRIM_LO} * n) AS BIGINT)
               AND rn <= CAST(ceil({TRIM_HI} * n) AS BIGINT)
           ) AS n_kept
    FROM ranked
    GROUP BY source
    """,
)
def length_percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact length percentiles (p50/p90/p99) plus the
    document count surviving a [p10, p99] trim — the corpus-cleaning
    summary a 100 TB pipeline computes before dropping outliers.

    The rank-based trim predicate (``rn`` within the quantile index
    band) is equivalent to the value-based band but needs no self-join
    of percentiles back onto documents — the decision happens inside
    the same window pass that computed them.
    """
    docs = tbl(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w.orderBy("n_chars", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    pct_aggs = [
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(float(q)) * F.col("n")).cast("long"),
                F.col("n_chars"),
            )
        ).alias(label)
        for label, q in PCTS
    ]
    kept = (
        F.col("rn") >= F.ceil(F.lit(float(TRIM_LO)) * F.col("n")).cast("long")
    ) & (F.col("rn") <= F.ceil(F.lit(float(TRIM_HI)) * F.col("n")).cast("long"))
    return ranked.groupBy("source").agg(
        *pct_aggs,
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(kept, F.lit(1))).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles: the sketch-shaped sibling of the
# exact window percentiles above. A fixed-grid histogram is the
# simplest mergeable quantile summary there is (counts add across
# partitions, shards, days); the estimate is the lower edge of the
# bucket where the cumulative count crosses the target rank —
# deterministic, so exactly oracle-checkable, unlike t-digest/KLL
# whose buffers are order-dependent.
# ---------------------------------------------------------------------------
HIST_BIN = 100  # grid step over l_extendedprice
HIST_MAX_B = 2048  # bucket domain is CLAMPED to [0, HIST_MAX_B) — the
# overflow bucket makes the table bounded BY CONSTRUCTION, which the
# plan states with a no-op .limit(HIST_MAX_B) so the registry-wide
# unbounded-window guard can see the bound under the cumsum window.

#: (label, rank numerator, denominator): target rank = ceil(q * n) in
#: pure integer arithmetic, (n*num + den - 1) // den.
HIST_QS = [("p50", 50, 100), ("p90", 90, 100), ("p99", 99, 100)]


@register(
    "histogram_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT least(CAST(floor(l_extendedprice / {HIST_BIN}) AS BIGINT),
                   {HIST_MAX_B - 1}) AS bucket,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             SUM(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(c) OVER () AS total
      FROM b
    ),
    targets AS (
      {" UNION ALL ".join(
        f"SELECT '{label}' AS quantile, {num} AS num, {den} AS den"
        for label, num, den in HIST_QS
      )}
    )
    SELECT t.quantile,
           MIN(cum.bucket) AS bucket,
           CAST(MIN(cum.bucket) * {HIST_BIN} AS DECIMAL(18,2)) AS est_lo,
           CAST(MIN(cum.bucket) * {HIST_BIN} + {HIST_BIN} AS DECIMAL(18,2)) AS est_hi,
           CAST(MAX(cum.total) AS BIGINT) AS n_rows
    FROM targets t JOIN cum
      ON cum.cum_c >= (cum.total * t.num + t.den - 1) // t.den
    GROUP BY t.quantile
    """,
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of l_extendedprice from a fixed-grid
    histogram: per quantile, the first bucket whose cumulative count
    reaches ceil(q*n) (integer rank arithmetic — no float thresholds),
    reported as the [est_lo, est_hi) bucket interval.

    Scale shape: the ONLY pass over the data is the bucket groupBy
    (partial-aggregated; the shuffle carries <= {HIST_MAX_B} rows per
    task). Everything after operates on the <= {HIST_MAX_B}-row
    bucket table: the cumsum window runs single-partition over a
    BOUNDED input (the clamp + the plan-visible limit make that a
    checked invariant, the same bounded-merge shape as the KMV
    sketch), and the quantile probe is a broadcast join of 3 target
    rows. Histograms from different shards/days merge by adding
    bucket counts — the incremental-rollup property the exact window
    percentile can never have.
    """
    return hist_quantiles_from_buckets(
        hist_buckets_of(tbl(spark, sf_dir, "lineitem"))
    )


def hist_buckets_of(li: DataFrame, extra: str | None = None) -> DataFrame:
    """The ONE data pass as a pure transformation — (bucket, c) grid
    counts of a lineitem frame, clamped to [0, {HIST_MAX_B}). Shared
    by the one-shot query and the incremental maintenance
    (``HIST_STATE``): grid counts are plain sums, so histograms from
    different shards/days merge by adding bucket counts — the property
    the maintainer exploits.

    ``extra`` names a pass-through grouping column (the single-pass
    fold fixture's batch tag — queries/maintainer_reads.py). The
    no-op row bound is only stated in the un-tagged shape (where the
    quantile window consumes it directly); the tagged shape's row
    count is bounded by tag cardinality x {HIST_MAX_B} instead, and
    its consumer re-states the bound after the merge — a limit sized
    to the un-tagged grid would TRUNCATE tagged rows."""
    grp = [extra] if extra is not None else []
    out = (
        li.select(
            *grp,
            F.least(
                F.floor(F.col("l_extendedprice") / HIST_BIN).cast("long"),
                F.lit(HIST_MAX_B - 1),
            ).alias("bucket"),
        )
        .groupBy("bucket", *grp)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if extra is None:
        out = out.limit(HIST_MAX_B)  # no-op by construction; states the bound
    return out


#: The histogram's maintained state. Bucketing is a per-ROW function of
#: l_extendedprice, so ANY batching of the table partitions the grid
#: counts: the state merged by sum equals the one-shot grid exactly, and
#: the quantiles re-derive from it with no re-scan. At most HIST_MAX_B
#: rows — each day folds its grid in, and p50/p90/p99 re-derive from
#: the standing grid (the mergeable half of the exact-vs-mergeable
#: trade in ``histogram_quantiles``' docstring).
HIST_STATE = KeyedState(hist_buckets_of, ("bucket",), {"c": "sum"})


def hist_quantiles_from_buckets(b: DataFrame) -> DataFrame:
    """The quantile read over an ALREADY-BUILT (bucket, c) table —
    one-shot or maintained state, identical read path. Operates on
    <= {HIST_MAX_B} rows: bounded cumsum window + a 3-row broadcast
    probe."""
    spark = b.sparkSession
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = b.select(
        "bucket",
        "c",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_tot).alias("total"),
    )
    targets = spark.createDataFrame(
        [(label, num, den) for label, num, den in HIST_QS],
        "quantile string, num long, den long",
    )
    tgt = F.floor(
        (F.col("total") * F.col("num") + F.col("den") - 1) / F.col("den")
    )
    return (
        cum.join(F.broadcast(targets), F.col("cum_c") >= tgt)
        .groupBy("quantile")
        .agg(
            F.min("bucket").alias("bucket"),
            # DECIMAL, not DOUBLE: these are integer-derived
            # (bucket * bin step), and raw doubles are the one output
            # class whose engine-version formatting can diverge in a
            # value hash — the whole battery's hash surface is kept
            # integer/decimal-only by convention.
            (F.min("bucket") * HIST_BIN).cast("decimal(18,2)").alias("est_lo"),
            (F.min("bucket") * HIST_BIN + HIST_BIN).cast("decimal(18,2)").alias("est_hi"),
            F.max("total").alias("n_rows"),
        )
    )
