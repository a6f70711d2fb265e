"""Query registry — every entry is one operator family from SURVEY.md §2.

Importing this package populates ``REGISTRY`` (name → QuerySpec) by
importing each query module. ``__spark_entry__.py`` exposes the
registry to the driver's correctness harness.

The driver value-checks a bounded window from the FRONT of the
registry (the first ``len(DRIVER_WINDOW)`` rows, in order), so which
queries get hard driver-green evidence is a deliberate decision, not
an import-order accident: after all modules register, the registry is
reordered so the explicit ``DRIVER_WINDOW`` list comes first. Rules
for editing the window:

- it holds exactly 50 names (the driver's check budget);
- redundant single-operator rows composite into ONE tagged multi-part
  query rather than dropping any operator's value-hash — the
  single-operator forms stay registered after the window for the
  local sweep. Write a new composite as a ``registry.Battery`` spec
  (queries/batteries.py): one leg table generates both its Spark union
  and its oracle, which embeds each component's oracle verbatim, and
  tests/test_batteries.py's ``BATTERIES`` map lists its components;
- freed slots go to the operator families with the hardest / most
  novel semantics (round 5: the skew-proof chunked as-of join, the
  iterative-numeric PageRank, and the KMV distinct sketch — round 4's
  flagship additions, previously local-sweep-only);
- every change updates tests/test_registry_window.py's pin in the
  same commit.

Entries after the window are checked by the local full-registry
parity sweep (tests/test_oracle_parity.py) with the same DuckDB
value-hash comparison.
"""

from namegraph_collections_spark.queries.registry import REGISTRY, QuerySpec, register  # noqa: F401

# Import for registration side effects (order within a module is kept;
# cross-module order no longer matters — DRIVER_WINDOW decides).
from namegraph_collections_spark.queries import wiki_slice  # noqa: E402,F401
from namegraph_collections_spark.queries import training_data  # noqa: E402,F401
from namegraph_collections_spark.queries import multimodal  # noqa: E402,F401
from namegraph_collections_spark.queries import relational  # noqa: E402,F401
from namegraph_collections_spark.queries import closure  # noqa: E402,F401
from namegraph_collections_spark.queries import strings  # noqa: E402,F401
from namegraph_collections_spark.queries import text_analysis  # noqa: E402,F401
from namegraph_collections_spark.queries import dedup  # noqa: E402,F401
from namegraph_collections_spark.queries import similarity  # noqa: E402,F401
from namegraph_collections_spark.queries import search  # noqa: E402,F401
from namegraph_collections_spark.queries import cdc  # noqa: E402,F401
from namegraph_collections_spark.queries import pipeline_demo  # noqa: E402,F401
from namegraph_collections_spark.queries import collections_ops  # noqa: E402,F401
from namegraph_collections_spark.queries import temporal  # noqa: E402,F401
from namegraph_collections_spark.queries import rollups  # noqa: E402,F401
from namegraph_collections_spark.queries import similarity_pq  # noqa: E402,F401
from namegraph_collections_spark.queries import graph_metrics  # noqa: E402,F401
from namegraph_collections_spark.queries import scale_ops  # noqa: E402,F401
from namegraph_collections_spark.queries import centrality  # noqa: E402,F401
from namegraph_collections_spark.queries import olap  # noqa: E402,F401
from namegraph_collections_spark.queries import percentiles  # noqa: E402,F401
from namegraph_collections_spark.queries import event_analytics  # noqa: E402,F401
from namegraph_collections_spark.queries import ann_eval  # noqa: E402,F401
from namegraph_collections_spark.queries import bpe  # noqa: E402,F401
from namegraph_collections_spark.queries import profiling  # noqa: E402,F401
from namegraph_collections_spark.queries import quality_signals  # noqa: E402,F401
from namegraph_collections_spark.queries import semantic_dedup  # noqa: E402,F401
from namegraph_collections_spark.queries import dedup_select  # noqa: E402,F401  (after quality_signals: embeds its oracle)
from namegraph_collections_spark.queries import pii  # noqa: E402,F401
from namegraph_collections_spark.queries import url_ops  # noqa: E402,F401
from namegraph_collections_spark.queries import c4_clean  # noqa: E402,F401
from namegraph_collections_spark.queries import web_rollup  # noqa: E402,F401  (after quality_signals/url_ops: embeds their oracles)
from namegraph_collections_spark.queries import data_selection  # noqa: E402,F401  (after text_analysis: embeds its oracles)
from namegraph_collections_spark.queries import span_dedup  # noqa: E402,F401
from namegraph_collections_spark.queries import quality_classifier  # noqa: E402,F401  (after data_selection: shares its target-source constant)
from namegraph_collections_spark.queries import corpus_stats  # noqa: E402,F401  (after similarity: reuses its dot-product convention)
from namegraph_collections_spark.queries import overlap_audit  # noqa: E402,F401  (after dedup/training_data: shares shingle + split rules)
from namegraph_collections_spark.queries import chunking  # noqa: E402,F401  (after training_data: shares the bucket16 rule)
from namegraph_collections_spark.queries import pipeline_e2e  # noqa: E402,F401  (after dedup_select/quality_signals: embeds their oracles)
from namegraph_collections_spark.queries import maintainer_reads  # noqa: E402,F401  (after percentiles/rollups/corpus_stats/quality_classifier: embeds their oracles)
from namegraph_collections_spark.queries import batteries  # noqa: E402,F401  (must import last: wraps other modules' oracles)

#: The 50 rows the external driver value-hashes, in check order.
#: Rounds 1–4 carried this set implicitly via import order; round 5
#: composited curate_names + name_regex_filters + strip_suffix_and_extract
#: into string_ops_battery (position 26) and moved status_histogram
#: after the window (its A6 operator already executes inside the
#: wiki_documents composite at position 2), freeing three slots for
#: asof_join_chunked_events, bipartite_pagerank, kmv_distinct_sketch.
#: Round 6 composited harder (queries/batteries.py): the three ANN
#: singles ride similarity_battery, token_frequencies+unigram_logprob
#: ride unigram_text_battery, the three temporal queries ride
#: temporal_join_battery (replacing the lone chunked-as-of row), and
#: funnel/cohort/transition — driver-unchecked until now — ride
#: event_analytics_battery. Net coverage: +6 operators checked, and
#: the two freed slots promote pq_rerank_topk (the ANN rerank
#: representative) and cms_heavy_hitters (the sketch-probe
#: representative, post top-k fix). A second round-6 wave composited
#: further: exact_dedup_groups -> lexical_dedup_battery (+passage
#: dedup, +tf-idf cosine), deterministic_mix_sample ->
#: sampling_battery (+grouped sample, +weighted reservoir, +split),
#: hourly_event_rollup -> rollup_battery (+cascading, +incremental) —
#: +7 more operators driver-checked at zero slot cost. A third wave
#: finished the job: seven more window rows widened into batteries
#: (sketch_stats, text_mining, graph, revenue_olap, cdc, set_prune,
#: pq) and three existing batteries grew a leg (lexical_dedup +=
#: incremental_minhash_dedup, unigram_text += bigram_lm_perplexity,
#: similarity += ann_recall_eval) — after which EVERY registry
#: operator's output is hashed by some driver row (singles stay
#: registered for the local sweep).
#: Round 9 BISECTS the sketch/stats family (VERDICT r8 #1):
#: sketch_stats_battery — the one red driver row for three rounds,
#: with locally bitwise-equal values across three encodings — splits
#: into sketch_probe_battery (cms+hist+stats) and
#: skew_salt_trim_battery (skew+salted+trim) so the driver itself
#: localizes the disagreement to one 3-leg row; the second slot comes
#: from compositing pricing_summary into revenue_olap_battery. Both
#: new rows carry strictly BIGINT/VARCHAR/INTEGER surfaces (bare SUMs
#: CAST so DuckDB never promotes to HUGEINT; skew_ratio_micro emitted
#: directly as BIGINT). The six singles AND the original six-leg
#: battery stay registered post-window.
#: Round 11 BISECTS the lexical-dedup family (VERDICT r10 #2): at
#: 17s median and 13 legs it was the slowest, fastest-growing driver
#: row — a red leg would have cost all 13 components' attribution.
#: lexical_dedup_battery keeps the independent-scan fingerprint/audit
#: legs (exact, passage, tfidf, winnow, spans, novelty, srcover); the
#: new banded_dedup_battery carries the MinHash-band family that
#: shares ONE bands/quality/closure build (incremental, rep, funnel,
#: cstats, fdecon, lshtune). The freed slot comes from compositing
#: the simhash + embedding-LSH singles into
#: neardup_candidates_battery (the pricing_summary precedent); both
#: singles stay registered post-window.
#: Round 12 (VERDICT r11 #2/#3): text_mining_battery — at 12.7s and
#: 11 legs the new slowest row — BISECTS along its shared-build seam
#: into the tokenizer half (text_mining_battery keeps bpe/encode/
#: fertility on one merge loop + langid/lid_eval on one scan) and
#: nbq_mining_battery (nbq/eval/cal on one fit + suffix/pmi/rep); the
#: new maintainer_state_battery gives every keyed-state maintainer's
#: read path (IVF centroids/balance, vocab stats/head, diversity, NB
#: model, histogram quantiles, CMS probes — previously pytest-only) a
#: driver-hashed home from a deterministically-folded state fixture.
#: The two slots come from compositing decontamination_overlap +
#: sequence_packing + domain_mix_plan into training_mix_battery (the
#: singles stay registered post-window).
DRIVER_WINDOW: list[str] = [
    "wiki_all_info",
    "wiki_documents",
    "wiki_validate_members",
    "lexical_dedup_battery",
    "banded_dedup_battery",
    "ngram_jaccard_pairs",
    "neardup_candidates_battery",
    "minhash_lsh_candidates",
    "neardup_clusters",
    "training_mix_battery",
    "maintainer_state_battery",
    "sampling_battery",
    "multimodal_byte_histogram",
    "sketch_probe_battery",
    "revenue_olap_battery",
    "set_prune_battery",
    "fallback_coalesce_join",
    "ordered_dedup_lineitems",
    "topk_orders_per_customer",
    "segment_order_metrics",
    "entity_assembly_users",
    "rollup_battery",
    "session_window_rollup",
    "graph_battery",
    "string_ops_battery",
    "text_features",
    "unigram_text_battery",
    "similarity_battery",
    "search_ltr_rescore",
    "bm25_search",
    "search_eval_metrics",
    "multifield_bm25_variants",
    "stemmed_bm25",
    "cdc_snapshot_ops",
    "cdc_minimal_field_diff",
    "cdc_battery",
    "merge_collections_two_level",
    "letter_range_normalize",
    "text_mining_battery",
    "nbq_mining_battery",
    "command_driven_sorts",
    "related_collections_precompute",
    "sqldump_extract",
    "custom_collections_docs",
    "temporal_join_battery",
    "event_analytics_battery",
    "bipartite_pagerank",
    "kmv_distinct_sketch",
    "pq_battery",
    "skew_salt_trim_battery",
]


def _apply_window_order() -> None:
    """Reorder REGISTRY in place: DRIVER_WINDOW first (in order), then
    every other registered query in module-import order. In-place so
    every ``from ... import REGISTRY`` alias sees the final order."""
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names never registered: {missing}")
    window = set(DRIVER_WINDOW)
    tail = [n for n in REGISTRY if n not in window]
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    for n in [*DRIVER_WINDOW, *tail]:
        REGISTRY[n] = snapshot[n]


_apply_window_order()
