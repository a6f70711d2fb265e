"""URL canonicalization + canonical-URL dedup — the C4/RefinedWeb
"deduplicate by URL" ingest stage (Raffel et al. 2020 §2.2 dedup by
page; Penedo et al. 2023 §3.1 URL filtering/dedup), the one
web-pipeline string family the engine didn't yet cover.

The synthetic corpus has no URL column, so (the quality-signals
deterministic-tail precedent) both engines first build the SAME messy
raw URL from (source, doc_id) — uppercase scheme/host, a ``www.``
prefix, an explicit ``:80`` default port, a trailing slash for some
docs, a tracking ``utm_source`` parameter, an ``id`` parameter for
some docs, a fragment for some docs — and then canonicalize it:

- drop the fragment;
- lowercase scheme+host+path, strip ``www.`` and the default port;
- strip trailing slashes;
- drop tracking parameters, keep only the ``id`` parameter.

Two documents whose canonical URLs collide are the same logical page;
``url_keep`` keeps the first (min doc_id) copy per canonical URL —
URL-keyed exact dedup, the cheap stage every web corpus runs BEFORE
content dedup (no text ever has to be compared or shuffled).

Determinism: every normalization expression is ONE SQL string shared
verbatim by the Spark plan and the DuckDB oracle (split_part / lower /
replace semantics are identical on these literals, except split_part
of a NULL, which ``_spark_split`` settles; the one regex uses
a ``[.]`` character class and ``/+$`` only, so no string-literal
escape dialect is involved); outputs are strings/booleans/BIGINTs.

Scale shape: canonicalization is scan+project — zero shuffles, zero
joins, embarrassingly parallel. The dedup is one hash shuffle keyed
on ``norm_url`` (a window min/count per canonical URL) — the
unavoidable and perfectly-partitioned URL-dedup exchange; keys are
near-unique so no skew. At 100 TB the project runs at scan bandwidth
and the shuffle moves one slim (doc_id, norm_url) pair per page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.queries.registry import register, tbl

#: Deterministic messy raw URL from (source, doc_id) — both engines
#: build the identical string (int → string coercion in ``||`` is
#: engine-identical on these values, the quality-tail precedent).
_RAW_URL_SQL = (
    "'HTTP://WWW.Docs.' || source || '.COM:80/Docs/' || (doc_id % 300)"
    " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
    " || '?utm_source=feed'"
    " || CASE WHEN doc_id % 2 = 0 THEN '&id=' || (doc_id % 5) ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN '#sec' || (doc_id % 7) ELSE '' END"
)

#: scheme+host+path, canonicalized: fragment off → query off →
#: lowercase → default port off → ``www.`` off → trailing slash off.
_BASE_URL_SQL = (
    "regexp_replace("
    "  replace(replace(lower(split_part(split_part(raw_url, '#', 1), '?', 1)),"
    "                  ':80/', '/'),"
    "          '://www.', '://'),"
    "  '/+$', '')"
)

#: The retained query parameter (``''`` when absent — split_part
#: returns the empty string for a missing separator on both engines).
_ID_VAL_SQL = (
    "split_part(split_part(split_part(raw_url, '#', 1), '?', 2), '&id=', 2)"
)

_NORM_URL_SQL = (
    "base_url || CASE WHEN id_val <> '' THEN '?id=' || id_val ELSE '' END"
)

_HOST_SQL = "split_part(split_part(base_url, '://', 2), '/', 1)"

#: Registrable-domain heuristic: the last two host labels. ``[.]`` is
#: a literal dot in both regex dialects with no escape involved.
_DOMAIN_SQL = f"regexp_extract({_HOST_SQL}, '([^.]+[.][^.]+)$', 1)"


def _spark_split(sql: str) -> str:
    """The Spark spelling of a step over ``raw_url``: DuckDB's
    ``split_part`` maps a NULL string to ``''`` where Spark's keeps
    NULL, so Spark splits ``COALESCE(raw_url, '')``, and a document
    without a source gets the oracle's ``''`` URL, host and domain (its
    ``raw_url`` stays NULL on both engines)."""
    return sql.replace("split_part(raw_url,", "split_part(COALESCE(raw_url, ''),")


@register(
    "url_canonical_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
    ),
    steps AS (
      SELECT doc_id, raw_url,
             {_BASE_URL_SQL} AS base_url,
             {_ID_VAL_SQL} AS id_val
      FROM raw
    ),
    norm AS (
      SELECT doc_id, raw_url,
             {_NORM_URL_SQL} AS norm_url,
             {_DOMAIN_SQL} AS domain
      FROM steps
    )
    SELECT doc_id, raw_url, norm_url, domain,
           CAST(COUNT(*) OVER (PARTITION BY norm_url) AS BIGINT) AS dup_count,
           doc_id = MIN(doc_id) OVER (PARTITION BY norm_url) AS url_keep
    FROM norm
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize a messy raw URL per document and keep the first
    copy per canonical URL (module docstring). One scan+project, one
    ``norm_url``-keyed window for the group min/count.
    """
    norm = url_canonicalize_of(tbl(spark, sf_dir, "documents"))
    return norm.select(
        "doc_id",
        "raw_url",
        "norm_url",
        "domain",
        F.expr("CAST(COUNT(*) OVER (PARTITION BY norm_url) AS BIGINT)").alias(
            "dup_count"
        ),
        F.expr("doc_id = MIN(doc_id) OVER (PARTITION BY norm_url)").alias(
            "url_keep"
        ),
    )


def url_canonicalize_of(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The canonicalization half as a pure DataFrame transformation —
    zero shuffle, zero state, so the SAME column program runs at
    ingest on a streaming ``documents`` source
    (streaming/filter_stream.py); only the first-wins dedup window
    (inherently stateful — it compares against ALL prior arrivals)
    stays batch-side, where the standing dedup-index pattern
    (operators/dedup_index.py) covers the streaming case.
    ``docs`` needs (doc_id, source). ``carry`` names extra input
    columns to pass through unchanged — the single-scan fusion seam
    composites use to attach URL columns without re-reading the table
    (host_quality_rollup)."""
    raw = docs.select("doc_id", *carry, F.expr(_RAW_URL_SQL).alias("raw_url"))
    steps = raw.select(
        "doc_id",
        *carry,
        "raw_url",
        F.expr(_spark_split(_BASE_URL_SQL)).alias("base_url"),
        F.expr(_spark_split(_ID_VAL_SQL)).alias("id_val"),
    )
    return steps.select(
        "doc_id",
        *carry,
        "raw_url",
        F.expr(_NORM_URL_SQL).alias("norm_url"),
        F.expr(_DOMAIN_SQL).alias("domain"),
    )
