"""Per-domain quality rollup + domain gate — the RefinedWeb-style
"filter at the domain level" stage (Penedo et al. 2023 §3.1: URL/domain
filtering happens BEFORE per-document content filtering; C4 likewise
drops whole hosts). A large-scale web pipeline decides to keep or drop
entire domains from aggregate evidence: per-document quality keep
rates, URL-duplication rates, and volume floors.

This operator fuses the engine's two per-document web signals — URL
canonicalization (queries/url_ops.py) and the Gopher/C4 quality keep
flag (queries/quality_signals.py) — into ONE scan via their ``carry``
seams (no second read of the table, no doc_id self-join), then rolls
up per registrable domain:

- ``n_docs``: documents seen on the domain;
- ``n_pages``: distinct canonical URLs (what URL-dedup would keep);
- ``n_keep``: documents passing the per-doc quality gate;
- ``sum_words``: domain word volume;
- ``keep_rate_micro`` / ``dup_rate_micro``: exact integer micro-unit
  ratios (round-8 rule: integers on the wire, decimals internal);
- ``domain_keep``: the gate — keep rate ≥ 25% AND a minimum-evidence
  doc count (a domain with 3 docs has no reliable rate).

Reference parity note: the reference has no web-domain stage (its
corpus is Wikidata); this is a training-data-pipeline extension per
the brief, built from the public RefinedWeb/C4 method descriptions.

Scale shape: one documents scan (the fused per-doc project is
shuffle-free), then the gate's page-grain state — ONE partial-
aggregated groupBy on (domain, norm_url), one exchange of slim keys —
and a second groupBy on ``domain`` over that state, which is where
the distinct page count becomes a row count. The same two steps are
the incremental gate's state program and read (``GATE_STATE``), so
the one-shot rollup and the maintained one share one definition. The
output table (one row per domain) then broadcast-joins back onto the
corpus as the actual drop filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.operators.additive_state import KeyedState
from namegraph_collections_spark.queries.quality_signals import (
    _micro_sql,
    _micro_spark,
    quality_signals_of,
)
from namegraph_collections_spark.queries.registry import REGISTRY, register, tbl
from namegraph_collections_spark.queries.url_ops import url_canonicalize_of

#: Domain gate: ≥25% of the domain's documents must pass the per-doc
#: quality filter (at sf0.01 the observed domain keep rates span
#: 0–48% with a natural gap at 24/28% — the gate rejects a real
#: subset at every scale), and the rate needs a minimum-evidence
#: volume behind it.
DOMAIN_MIN_KEEP_MICRO = 250_000
DOMAIN_MIN_DOCS = 10

_GATE_SQL = (
    f"keep_rate_micro >= {DOMAIN_MIN_KEEP_MICRO} AND n_docs >= {DOMAIN_MIN_DOCS}"
)


# The oracles embed the component oracles verbatim (battery
# construction rule; this module imports after quality_signals and
# url_ops — pinned in queries/__init__.py).
@register(
    "host_quality_rollup",
    oracle=f"""
    WITH q AS ({REGISTRY["doc_quality_signals"].oracle}),
    u AS ({REGISTRY["url_canonical_dedup"].oracle}),
    j AS (
      SELECT u.domain, u.norm_url, q.keep, q.n_words
      FROM q JOIN u USING (doc_id)
    ),
    agg AS (
      SELECT domain,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_pages,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             CAST(SUM(n_words) AS BIGINT) AS sum_words
      FROM j GROUP BY domain
    ),
    m AS (
      SELECT domain, n_docs, n_pages, n_keep, sum_words,
             CAST({_micro_sql("n_keep", "n_docs")} AS BIGINT) AS keep_rate_micro,
             CAST({_micro_sql("n_docs - n_pages", "n_docs")} AS BIGINT)
               AS dup_rate_micro
      FROM agg
    )
    SELECT domain, n_docs, n_pages, n_keep, sum_words,
           keep_rate_micro, dup_rate_micro, {_GATE_SQL} AS domain_keep
    FROM m
    """,
)
def host_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality/duplication rollup + domain keep gate
    (module docstring). One scan: the URL columns and the quality
    signals are fused via the components' ``carry`` seams, then the
    page-grain state (``gate_state_for``) and its domain-keyed read
    (``gate_from_state``). The oracle embeds both component
    oracles verbatim (battery construction rule) and joins them on
    doc_id — oracle-side clarity over oracle-side economy.
    """
    return gate_from_state(gate_state_for(per_doc_web_frame(spark, sf_dir)))


def per_doc_web_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE fused documents scan carrying both web-signal families per
    doc — (doc_id, norm_url, domain, quality signal columns, keep) —
    the shared input of the rollup, the gate-application stage, and
    the battery legs."""
    return per_doc_web_frame_of(
        tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )


def per_doc_web_frame_of(docs: DataFrame) -> DataFrame:
    """The fused per-doc program over any (doc_id, source, text) frame
    — split out so the incremental gate maintenance (``GATE_STATE``)
    and the ingest-time gate
    (streaming/filter_stream.py) run the IDENTICAL arithmetic on a
    batch as the full-corpus rollup runs on the table."""
    url = url_canonicalize_of(docs, carry=("text",))
    return quality_signals_of(url, carry=("norm_url", "domain"))


def gate_state_for(per_doc: DataFrame) -> DataFrame:
    """The gate's state program over a fused per-doc frame
    (``per_doc_web_frame_of``): one (domain, norm_url, n_docs, n_keep,
    sum_words) row per canonical page. ``n_pages`` is a distinct count,
    which is not additive across batches (two batches can carry the
    same URL), but at the distinct key's grain every measure IS
    additive: merging batches is a sum-by-key and distinct pages per
    domain is a row count. The one-shot rollup reads it over the whole
    corpus; the maintainer (``GATE_STATE``) folds it batch by batch."""
    return per_doc.groupBy("domain", "norm_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("n_words").cast("long").alias("sum_words"),
    )


#: The domain gate's maintained state. ``n_pages`` is a distinct count,
#: which no per-batch gate table can sum, so the state sits at the
#: distinct key's grain, where every measure IS additive: a batch merges
#: by sum and the gate re-derives exactly (|pages| → |domains|, never a
#: re-scan). Bounded by the number of distinct canonical URLs — the same
#: asymptotics as the URL-dedup index a web pipeline already keeps.
GATE_STATE = KeyedState(
    lambda batch: gate_state_for(
        per_doc_web_frame_of(batch.select("doc_id", "source", "text"))
    ),
    ("domain", "norm_url"),
    {"n_docs": "sum", "n_keep": "sum", "sum_words": "sum"},
)


def gate_from_state(state: DataFrame) -> DataFrame:
    """The gate table from the page-grain state: distinct pages per
    domain is a count of the non-NULL pages at this grain (a NULL
    canonical URL is no page, as in ``COUNT(DISTINCT norm_url)``),
    everything else a sum — then ``finish_rollup`` adds the rates and
    the gate. |pages| → |domains|, a reduction, never a re-scan."""
    agg = state.groupBy("domain").agg(
        # a document count is never NULL; the coalesce tells Spark so,
        # keeping n_docs the non-nullable column a count(*) gives
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        F.count("norm_url").cast("long").alias("n_pages"),
        F.sum("n_keep").alias("n_keep"),
        F.sum("sum_words").alias("sum_words"),
    )
    return finish_rollup(agg)


def finish_rollup(agg: DataFrame) -> DataFrame:
    """Micro-unit rates + the gate over a (domain, n_docs, n_pages,
    n_keep, sum_words) aggregate."""
    m = agg.select(
        "domain",
        "n_docs",
        "n_pages",
        "n_keep",
        "sum_words",
        F.expr(f"CAST({_micro_spark('n_keep', 'n_docs')} AS BIGINT)").alias(
            "keep_rate_micro"
        ),
        F.expr(
            f"CAST({_micro_spark('n_docs - n_pages', 'n_docs')} AS BIGINT)"
        ).alias("dup_rate_micro"),
    )
    return m.select("*", F.expr(_GATE_SQL).alias("domain_keep"))


@register(
    "domain_gated_corpus",
    oracle=f"""
    WITH u AS ({REGISTRY["url_canonical_dedup"].oracle}),
    q AS ({REGISTRY["doc_quality_signals"].oracle}),
    g AS ({REGISTRY["host_quality_rollup"].oracle})
    SELECT u.doc_id, u.domain,
           g.domain_keep, q.keep AS doc_keep, u.url_keep,
           (g.domain_keep AND q.keep AND u.url_keep) AS final_keep
    FROM u JOIN q USING (doc_id) JOIN g USING (domain)
    """,
)
def domain_gated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the domain gate back onto the corpus — the stage after
    the rollup: every document gets its three web keep verdicts
    (domain gate, per-doc quality, first-copy-per-canonical-URL) and
    the AND of them, the actual row filter a web pipeline ships.

    Scale shape: the aggregate-then-apply pattern is inherently two
    passes — one scan aggregates the per-domain gate (tiny output),
    the second scan applies it via a BROADCAST join on the
    low-cardinality domain key (no shuffle of the corpus side; the
    `url_keep` window is the same norm_url-keyed exchange
    url_canonical_dedup already pays). The oracle embeds all three
    component oracles verbatim.
    """
    return domain_gated_corpus_from(per_doc_web_frame(spark, sf_dir))


def domain_gated_corpus_from(
    per_doc: DataFrame, gate: DataFrame | None = None
) -> DataFrame:
    """Gate application over an ALREADY-BUILT fused per-doc frame —
    the sharing seam string_ops_battery uses to feed its rollup and
    gated legs from one scan. Pass ``gate`` (a (domain, domain_keep)
    frame) when the caller already built the rollup, so the battery
    does not aggregate the same frame twice."""
    if gate is None:
        gate = gate_from_state(gate_state_for(per_doc))
    gate = gate.select("domain", "domain_keep")
    with_url_keep = per_doc.select(
        "doc_id",
        "domain",
        F.col("keep").alias("doc_keep"),
        F.expr("doc_id = MIN(doc_id) OVER (PARTITION BY norm_url)").alias(
            "url_keep"
        ),
    )
    return (
        with_url_keep.join(F.broadcast(gate), "domain")
        .select(
            "doc_id",
            "domain",
            "domain_keep",
            "doc_keep",
            "url_keep",
            F.expr("domain_keep AND doc_keep AND url_keep").alias("final_keep"),
        )
    )
