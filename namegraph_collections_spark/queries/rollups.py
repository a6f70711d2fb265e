"""Cascading time rollups and mergeable distinct sketches.

Registry entries 54+ (behind the driver's 50-row window; locally
parity-checked like the temporal joins — see queries/__init__.py).

Two more operators a 100 TB event/corpus pipeline needs that the
reference (snapshot batch jobs, SURVEY §2.10) never did:

- ``cascading_time_rollup`` — the hypertable/continuous-aggregate
  pattern: aggregate raw events ONCE at the finest grain, then derive
  every coarser grain from the next finer aggregate, never re-reading
  raw data. Correct because the measures are decomposable (counts and
  decimal sums re-aggregate losslessly; means are derived at the end).
  The reuse is real, not aspirational: the FINAL adaptive plan shows
  the minute and hour exchanges consumed as ReusedExchange stages by
  the coarser legs (AQE dedupes identical shuffle subtrees at runtime).
- ``kmv_distinct_sketch`` — distinct counting via a k-minimum-values
  sketch. Unlike HLL (whose estimates differ per implementation, so no
  cross-engine oracle could check them), KMV over a SHARED hash
  function is fully deterministic: both engines take the k smallest
  distinct md5-derived values and apply the same (k-1)/h_k estimator,
  so the driver's value-hash comparison holds bit-for-bit. KMV is also
  mergeable — the union of per-partition k-smallest sets contains the
  global k-smallest — which is the property that makes it a one-shuffle
  distributed sketch; the '__all__' row is computed exactly that way,
  from the per-source sketches, never from the raw stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from namegraph_collections_spark.functions.det_round import round6_det
from namegraph_collections_spark.operators.additive_state import KeyedState
from namegraph_collections_spark.queries.registry import (
    events_tbl,
    ranked_topk,
    register,
    spread,
    tbl,
)

MIN_US = 60_000_000
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US


@register(
    "cascading_time_rollup",
    oracle=f"""
    WITH minute AS (
      SELECT (epoch_us(ts) // {MIN_US}) * {MIN_US} AS bucket_us,
             event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS tv
      FROM events
      GROUP BY 1, 2
    ),
    hour AS (
      SELECT (bucket_us // {HOUR_US}) * {HOUR_US} AS bucket_us,
             event_type,
             CAST(SUM(n) AS BIGINT) AS n,
             SUM(tv) AS tv
      FROM minute GROUP BY 1, 2
    ),
    day AS (
      SELECT (bucket_us // {DAY_US}) * {DAY_US} AS bucket_us,
             event_type,
             CAST(SUM(n) AS BIGINT) AS n,
             SUM(tv) AS tv
      FROM hour GROUP BY 1, 2
    )
    SELECT grain, bucket_us, event_type, n,
           CAST(tv AS DOUBLE) AS total_value
    FROM (
      SELECT 'minute' AS grain, * FROM minute
      UNION ALL SELECT 'hour' AS grain, * FROM hour
      UNION ALL SELECT 'day' AS grain, * FROM day
    )
    """,
)
def cascading_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute → hour → day continuous-aggregate cascade in one plan.

    The scale property: raw events are scanned and shuffled ONCE (the
    minute grain); the hour grain re-aggregates minute rows and the day
    grain re-aggregates hour rows — each coarser level costs
    O(#finer buckets), which at 100 TB is orders of magnitude below the
    raw stream. Catalyst additionally reuses the minute aggregate's
    exchange for the cascade (same subtree feeds both its own output
    leg and the hour leg). Counts and DECIMAL sums are decomposable, so
    the cascade is lossless; doubles are only produced at the output
    edge.
    """
    minute = (
        events_tbl(spark, sf_dir)
        .groupBy(
            F.expr(f"(ts_us div {MIN_US}) * {MIN_US}").alias("bucket_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("tv"),
        )
    )

    def coarsen(df: DataFrame, width: int) -> DataFrame:
        return df.groupBy(
            F.expr(f"(bucket_us div {width}) * {width}").alias("bucket_us"),
            "event_type",
        ).agg(F.sum("n").alias("n"), F.sum("tv").alias("tv"))

    hour = coarsen(minute, HOUR_US)
    day = coarsen(hour, DAY_US)

    def leg(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket_us",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("tv").cast("double").alias("total_value"),
        )

    return leg(minute, "minute").unionByName(leg(hour, "hour")).unionByName(leg(day, "day"))


#: Sketch size. 256 minima ⇒ ~6% relative error — and byte-identical
#: across engines, unlike an HLL register array.
KMV_K = 256

#: 2^60 as a double (exact): hashes are 15 hex chars = 60 bits, so the
#: estimator maps h_k into (0,1) against this range.
_KMV_RANGE = float(1 << 60)


def _h60(col):
    """Deterministic 60-bit positive BIGINT from md5 — the shared hash
    both engines sketch over (same convention as training_data's
    _bucket16, widened to sketch precision)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_H60_SQL = "CAST('0x' || substr(md5({c}), 1, 15) AS BIGINT)"


#: The sketched universe is word TRIGRAMS, not tokens: the synthetic
#: corpus has only ~31 distinct tokens (every scope would fall back to
#: the exact small-set rule and the estimator would never run), while
#: trigrams give thousands of distinct values per source — a real
#: estimation regime. Same trigram definition as dedup._shingles.
_TRIGRAMS_SQL = """
    SELECT source, unnest(list_distinct(
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           )) AS token
    FROM (SELECT source, string_split(lower(text), ' ') AS toks FROM documents)
"""


@register(
    "kmv_distinct_sketch",
    oracle=f"""
    WITH hashes AS (
      SELECT DISTINCT source, {_H60_SQL.format(c='token')} AS h
      FROM ({_TRIGRAMS_SQL})
    ),
    ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_exact
      FROM hashes
    ),
    per_source AS (
      SELECT source AS scope,
             CAST(MAX(n_exact) AS BIGINT) AS n_exact,
             CAST(MAX(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT) AS h_k
      FROM ranked WHERE rn <= {KMV_K}
      GROUP BY source
    ),
    merged_ranked AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM ranked WHERE rn <= {KMV_K})
    ),
    global_exact AS (SELECT COUNT(DISTINCT h) AS n FROM hashes),
    merged AS (
      SELECT '__all__' AS scope,
             CAST((SELECT n FROM global_exact) AS BIGINT) AS n_exact,
             CAST(MAX(CASE WHEN rn = {KMV_K} THEN h END) AS BIGINT) AS h_k
      FROM merged_ranked WHERE rn <= {KMV_K}
    )
    SELECT scope, n_exact,
           CASE WHEN h_k IS NULL THEN CAST(n_exact AS DOUBLE)
                ELSE floor((({KMV_K} - 1) * {_KMV_RANGE!r} / CAST(h_k AS DOUBLE))
                           * 1000000 + 0.5) / 1000000.0
           END AS kmv_estimate
    FROM (SELECT * FROM per_source UNION ALL SELECT * FROM merged)
    """,
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source + merged distinct-token counts via a KMV sketch,
    with the exact count alongside for error inspection.

    Scale shape: the raw token stream is hashed and deduped in one
    shuffle; everything after runs on ≤ k rows per source. The
    '__all__' scope demonstrates the merge property — it is computed
    from the UNION OF THE PER-SOURCE SKETCHES (k smallest of the
    candidate minima), exactly how a 1000-partition job would combine
    per-partition sketches without touching raw data again. Sources
    with fewer than k distinct values fall back to their exact count
    (h_k undefined), the standard KMV small-set rule.
    """
    docs = tbl(spark, sf_dir, "documents")
    # Trigram generation follows dedup._shingles to the letter: the
    # token array is a NAMED column before the higher-order transform
    # (subexpression elimination does not reach inside lambda bodies —
    # referencing split() there re-splits per element, O(tokens²)).
    toked = spread(docs, "doc_id").select(
        "source", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda t, i: F.concat_ws(
            " ", t, F.element_at(toks, i + 2), F.element_at(toks, i + 3)
        ),
    )
    hashes = (
        toked.select("source", F.explode(F.array_distinct(grams)).alias("token"))
        .select("source", _h60(F.col("token")).alias("h"))
        .distinct()
    )
    # The bottom-k rank MUST be the only window function in this
    # projection: with a bare row_number + rn <= k filter, Spark
    # rewrites the window to WindowGroupLimit(Partial) BELOW the
    # exchange — every mapper keeps only its local k smallest per
    # source, so the shuffle carries <= k rows per source per task and
    # no sort is ever unbounded (verified live and pinned by
    # tests/test_plans.py). Adding any non-rank window to the same
    # projection (n_exact as count().over(...) previously lived here)
    # BLOCKS that rewrite and degrades to a full per-source sort —
    # which is why exact counts are a separate groupBy (full map-side
    # combine) joined in after.
    w = Window.partitionBy("source").orderBy("h")
    ranked = hashes.select(
        "source", "h", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= KMV_K)
    n_exact_df = hashes.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    per_source = (
        ranked.groupBy("source")
        .agg(F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).cast("long").alias("h_k"))
        .join(n_exact_df, "source")
        .select(
            F.col("source").alias("scope"),
            F.col("n_exact").cast("long").alias("n_exact"),
            "h_k",
        )
    )
    # Merge: k smallest across the union of per-source minima — the
    # candidate set provably contains the global k smallest.
    merged_ranked = (
        ranked.select("h")
        .distinct()
        .select("h", F.row_number().over(Window.orderBy("h")).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
    )
    global_exact = hashes.select("h").distinct().agg(F.count(F.lit(1)).alias("n"))
    merged = merged_ranked.agg(
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).cast("long").alias("h_k")
    ).crossJoin(F.broadcast(global_exact)).select(
        F.lit("__all__").alias("scope"),
        F.col("n").cast("long").alias("n_exact"),
        "h_k",
    )
    est = F.when(F.col("h_k").isNull(), F.col("n_exact").cast("double")).otherwise(
        round6_det(F.lit(float(KMV_K - 1)) * F.lit(_KMV_RANGE) / F.col("h_k").cast("double"))
    )
    return (
        per_source.unionByName(merged)
        .select("scope", "n_exact", est.alias("kmv_estimate"))
    )


#: Incremental-maintenance split instant: 2024-01-24T12:30:00Z in epoch
#: micros — deliberately NOT on an hour boundary, so the 12:00 bucket
#: has partial state on BOTH sides and the merge path actually merges.
INC_SPLIT_US = 1_706_099_400_000_000


@register(
    "incremental_hourly_rollup",
    oracle=f"""
    SELECT (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS bucket_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           ((CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) + COUNT(*) // 2)
              // COUNT(*)) / 1000000.0
             AS mean_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the hourly rollup is produced by
    MERGING two independently-computed partial aggregates — "history"
    (events before the split instant) and "delta" (events at/after it)
    — and the oracle is the full recompute over all events, proving
    the merge is lossless.

    This is the only-reprocess-the-delta pattern a 100 TB event store
    lives by: yesterday's aggregate is never recomputed from raw
    history; the day's delta is aggregated alone and its partial state
    (decomposable measures: counts + exact DECIMAL sums) is merged
    into the stored aggregate by a second, much smaller aggregation.
    Derived measures (the mean) are computed only AFTER the merge —
    deriving them per-partial and averaging would be wrong, which is
    why the partial schema carries (n, sum), never (mean). The split
    instant is intentionally mid-hour so the straddled bucket proves
    the combine step (same key present in both partials).
    """
    ev = events_tbl(spark, sf_dir).select("ts_us", "event_type", "value")

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "bucket_us", (F.expr(f"ts_us div {HOUR_US}") * HOUR_US).cast("long")
            )
            .groupBy("bucket_us", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("tv"),
            )
        )

    base = partial(ev.filter(F.col("ts_us") < INC_SPLIT_US))
    delta = partial(ev.filter(F.col("ts_us") >= INC_SPLIT_US))
    merged = (
        base.unionByName(delta)
        .groupBy("bucket_us", "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("tv").alias("tv"))
    )
    # Mean in exact integer micro-units (the bigram-LM convention,
    # text_analysis.py): tv is an exact DECIMAL, so the half-up rounding
    # happens in integer space and both engines agree bit-for-bit.
    # ROUND(double, 6) diverged here at sf1 — 13911.3/320 = 43.4728125
    # is an exact half at 6 decimals, and the engines' half-way rules
    # differ (caught by the sf1 oracle-parity sweep, README).
    return merged.select(
        "bucket_us",
        "event_type",
        "n_events",
        F.col("tv").cast("double").alias("total_value"),
        (
            F.expr("(CAST(tv * 1000000 AS BIGINT) + n_events div 2) div n_events")
            / F.lit(1000000.0)
        ).alias("mean_value"),
    )


# ---------------------------------------------------------------------------
# Count-Min heavy hitters: the frequency sketch counterpart of the
# KMV distinct sketch above (Cormode & Muthukrishnan, "An improved
# data stream summary: the count-min sketch and its applications",
# J. Algorithms 2005). Deterministic cross-engine for the same reason
# KMV is: the hash rows are md5-derived (_h60), not JVM-private.
# ---------------------------------------------------------------------------
CMS_D = 4      # hash rows
CMS_W = 64     # buckets per row — deliberately small so the
               # synthetic corpus (~1k distinct bigrams) actually
               # collides and the min-over-rows estimator is
               # exercised, not vacuous
CMS_TOP = 25   # exact heavy hitters reported with their estimates


def _cms_bucket(col, d: int):
    """Row-d bucket of a token: shared 60-bit md5 hash of the token
    salted with the row index, mod W."""
    return F.pmod(_h60(F.concat_ws("#", col, F.lit(str(d)))), F.lit(CMS_W))


_CMS_BUCKET_SQL = "(" + _H60_SQL.format(c="{c} || '#' || '{d}'") + ") % " + str(CMS_W)

_BIGRAMS_SQL = """
    SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                 i -> toks[i] || ' ' || toks[i+1])) AS token
    FROM (SELECT string_split(lower(text), ' ') AS toks FROM documents)
"""


def cms_bigrams_of(docs: DataFrame, extra: str | None = None) -> DataFrame:
    """The token stream the sketch summarizes — one (token) row per
    bigram occurrence, per document. A pure transformation so the
    one-shot query and the incremental maintenance (``CMS_STATE``)
    share one program and cannot drift.
    Bigrams never cross documents, so ANY partition of the corpus
    into batches partitions this stream too — the property that makes
    the CMS state exactly additive across batches. ``extra`` names
    one pass-through column (the single-pass fold fixture's batch
    tag — queries/maintainer_reads.py)."""
    grp = [extra] if extra is not None else []
    toked = docs.select(
        *grp, F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    toks = F.col("toks")
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
    )
    return toked.select(*grp, F.explode(bigrams).alias("token"))


def cms_sketch_of(occ: DataFrame, extra: str | None = None) -> DataFrame:
    """(d, bucket, c) cell counts of a token stream — the CMS itself,
    at most CMS_D x CMS_W rows whatever the input size (times the tag
    cardinality when ``extra`` groups per fold batch)."""
    grp = [extra] if extra is not None else []
    return (
        occ.select(
            *grp,
            F.explode(
                F.array(*[
                    F.struct(F.lit(d).alias("d"), _cms_bucket(F.col("token"), d).alias("bucket"))
                    for d in range(CMS_D)
                ])
            ).alias("db"),
        )
        .select(*grp, F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
        .groupBy("d", "bucket", *grp)
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_state_for(docs: DataFrame, extra: str | None = None) -> DataFrame:
    """The sketch's state program over a documents frame: the bigram
    stream's cell counts — a batch's additive contribution to the
    maintained sketch (``CMS_STATE``).

    ``extra`` names a pass-through grouping column (the single-pass
    fold fixture's batch tag — queries/maintainer_reads.py)."""
    cols = ["text"] if extra is None else [extra, "text"]
    return cms_sketch_of(
        cms_bigrams_of(docs.select(*cols), extra=extra), extra=extra
    )


#: The Count-Min sketch's maintained state: cell counts are plain sums,
#: so sketches of two streams combine by cell-wise addition (Cormode &
#: Muthukrishnan 2005 §4.1), and because bigrams never cross documents
#: the merged sketch equals the one-shot sketch EXACTLY under any
#: batching. At most CMS_D x CMS_W rows forever. Only the sketch is
#: maintained: a streaming top-k candidate ledger is approximate under
#: merges, so exact heavy hitters stay the one-shot ``cms_heavy_hitters``
#: and a rolling candidate list probes this state with
#: ``cms_estimates_from``.
CMS_STATE = KeyedState(cms_state_for, ("d", "bucket"), {"c": "sum"})


def cms_estimates_from(state: DataFrame, tokens: DataFrame) -> DataFrame:
    """Probe a (d, bucket, c) sketch — one-shot or maintained state,
    identical read path — with a frame of distinct ``token`` rows:
    the estimate is min over the CMS_D row-hashes' cells. The sketch
    side is broadcast (<= CMS_D x CMS_W rows), so probing any batch
    is a map-side join."""
    probes = tokens.select(
        "token",
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), _cms_bucket(F.col("token"), d).alias("bucket"))
                for d in range(CMS_D)
            ])
        ).alias("db"),
    ).select("token", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(state), ["d", "bucket"])
        .groupBy("token")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH occ AS ({_BIGRAMS_SQL}),
    sketch AS (
      {" UNION ALL ".join(
        f'''SELECT {d} AS d, {_CMS_BUCKET_SQL.format(c="token", d=d)} AS bucket,
                   COUNT(*) AS c FROM occ GROUP BY 2'''
        for d in range(CMS_D)
      )}
    ),
    exact AS (
      SELECT token, COUNT(*) AS n_exact,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rnk
      FROM occ GROUP BY token
    ),
    cand AS (SELECT token, n_exact, rnk FROM exact WHERE rnk <= {CMS_TOP}),
    probes AS (
      {" UNION ALL ".join(
        f'''SELECT token, n_exact, rnk, {d} AS d,
                   {_CMS_BUCKET_SQL.format(c="token", d=d)} AS bucket FROM cand'''
        for d in range(CMS_D)
      )}
    )
    SELECT p.token, MAX(p.n_exact) AS n_exact,
           CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(s.c) - MAX(p.n_exact) AS BIGINT) AS overcount,
           MAX(p.rnk) AS rnk
    FROM probes p JOIN sketch s ON s.d = p.d AND s.bucket = p.bucket
    GROUP BY p.token
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus bigram stream, evaluated on
    the exact top-{CMS_TOP} heavy hitters: (token, exact count, CMS
    estimate, overcount). CMS never undercounts, so ``overcount`` >= 0
    by construction — the oracle checks the estimates value-for-value,
    and tests/test_properties.py pins the one-sided-error invariant.

    Scale shape: the sketch build is ONE groupBy over (d, bucket) —
    {CMS_D}x fan-out map-side, but partial aggregation collapses it to
    at most {CMS_D}x{CMS_W} rows per task before the shuffle, and the
    finished sketch is {CMS_D}x{CMS_W} rows total, broadcast to score
    any candidate set without touching the stream again (the point: a
    100 TB stream summarizes into 2k rows that answer any later
    frequency probe). The exact counts exist here because the oracle
    measures sketch error; a production pipeline ships only the
    sketch. The exact top-{CMS_TOP} candidate list is ranked_topk —
    ``orderBy().limit`` compiles to TakeOrderedAndProject (per-partition
    partial top-k, k-row merge), NOT a bare global window, so the
    distinct-bigram table never concentrates on one task.
    """
    occ = cms_bigrams_of(spread(tbl(spark, sf_dir, "documents"), "doc_id"))
    sketch = cms_sketch_of(occ)
    exact = occ.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    cand = ranked_topk(
        exact, CMS_TOP, F.col("n_exact").desc(), F.col("token").asc()
    )
    probes = cand.select(
        "token", "n_exact", "rnk",
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), _cms_bucket(F.col("token"), d).alias("bucket"))
                for d in range(CMS_D)
            ])
        ).alias("db"),
    ).select("token", "n_exact", "rnk", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("token")
        .agg(
            F.max("n_exact").alias("n_exact"),
            F.min("c").cast("long").alias("cms_estimate"),
            (F.min("c") - F.max("n_exact")).cast("long").alias("overcount"),
            F.max("rnk").alias("rnk"),
        )
    )
