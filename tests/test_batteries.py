"""Battery construction-rule pins.

A battery must wrap its components' ORACLES verbatim — that is the
property that makes one driver row equivalent to checking every
component: if a component's oracle changes, the battery's oracle
changes identically, and the two can never drift. The first test pins
the rule structurally, against a hand-kept component list, so a
future battery (or an edit that inlines a stale copy of a component's
SQL) fails fast. The spec tests at the end check that
``registry.Battery`` generates a Spark union and a DuckDB oracle that
agree, on toy components.
"""

from __future__ import annotations

import duckdb
import pytest

from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.registry import Battery, Melt, QuerySpec
from tests.oracle_harness import canon_rows

#: battery -> components whose oracle text must appear verbatim
BATTERIES = {
    "temporal_join_battery": [
        "asof_join_events",
        "asof_join_chunked_events",
        "interval_range_join",
    ],
    "event_analytics_battery": [
        "funnel_conversion",
        "cohort_retention",
        "event_transition_matrix",
    ],
    "similarity_battery": [
        "cosine_topk_bruteforce",
        "ivf_topk",
        "lsh_bucket_neighbors",
        "ann_recall_eval",
        # round 7: SemDeDup keep/drop list (shares the IVF codebook)
        "semdedup_keep_list",
        # round 10: one-pass mean-pairwise-cosine diversity
        "embedding_diversity",
    ],
    "unigram_text_battery": [
        "token_frequencies",
        "unigram_logprob",
        "bigram_lm_perplexity",
        # round 7: the Gopher/C4 quality-signals leg
        "doc_quality_signals",
        # round 9: CCNet perplexity bucketing (shares the LM frame)
        "ccnet_ppl_buckets",
        # round 10: Heaps-law vocabulary growth + TTR checkpoints
        "heaps_law_curve",
        # round 11: per-source unigram TV drift
        "source_unigram_drift",
    ],
    "rollup_battery": [
        "hourly_event_rollup",
        "cascading_time_rollup",
        "incremental_hourly_rollup",
    ],
    "sampling_battery": [
        "deterministic_mix_sample",
        "grouped_deterministic_sample",
        "weighted_sample_topk",
        "deterministic_split",
        # round 8: the fixed-seed epoch-shuffle shard plan
        "epoch_shuffle_plan",
        # round 9: DSIR importance weights + threshold selection
        "dsir_importance_weights",
        # round 10: sqrt-temperature language sampling plan
        "temperature_sampling_plan",
        # round 10: packing-efficiency eval (rides sequence_packing)
        "packing_efficiency_eval",
        # round 11: length-bucketed batching padding-waste eval
        "padding_waste_eval",
    ],
    # round 11: the lexical-dedup bisect (VERDICT r10 #2) — the
    # independent-scan fingerprint/audit legs stay here...
    "lexical_dedup_battery": [
        "exact_dedup_groups",
        "passage_dedup",
        "tfidf_cosine_pairs",
        # round 7: winnowing local fingerprints
        "winnowing_fingerprints",
        # round 9: ExactSubstr-style duplicated spans
        "dup_span_extract",
        # round 10: n-gram novelty audit + source containment matrix
        "ngram_novelty_audit",
        "source_overlap_matrix",
        # round 11: overlapping passage chunking (content-hash grain)
        "passage_chunking",
    ],
    # ...and the MinHash-band family (one shared bands/quality/closure
    # build) moves to its own driver row
    "banded_dedup_battery": [
        "incremental_minhash_dedup",
        # per-cluster representative selection
        "neardup_representatives",
        # the end-to-end training-pipeline funnel
        "training_pipeline_e2e",
        # cluster-size histogram (shares the closure)
        "dedup_cluster_stats",
        # MinHash-band fuzzy decontamination (shares the bands build)
        "fuzzy_decontamination",
        # LSH banding tuning eval (candidate side rides the bands)
        "lsh_tuning_eval",
    ],
    # round 11: composited to free the window slot for the bisect
    "neardup_candidates_battery": [
        "simhash_neardup_candidates",
        "embedding_neardup_pairs",
    ],
    "pq_battery": ["pq_adc_topk", "pq_rerank_topk"],
    "string_ops_battery": [
        "curate_names",
        "name_regex_filters",
        "strip_suffix_and_extract",
        # round 7: the PII scan/redaction leg
        "pii_scan_redact",
        # round 8: URL canonicalization + canonical-URL dedup
        "url_canonical_dedup",
        # round 8: per-domain quality rollup + domain gate
        "host_quality_rollup",
        # round 8: the gate applied back onto the corpus
        "domain_gated_corpus",
        # round 9: C4 line-level cleaning (the one round-8 operator
        # that shipped without a driver hash)
        "c4_line_filter",
        # round 10: ER-style blocked edit-distance pairs
        # (coverage-closing leg)
        "fuzzy_blocked_pairs",
    ],
    "sketch_stats_battery": [
        "cms_heavy_hitters",
        "histogram_quantiles",
        "table_stats_profile",
        "skew_key_diagnostics",
        "salted_skew_agg",
        "length_percentile_trim",
    ],
    # round 9: the sketch bisect — the six legs split across two
    # driver-window rows so the driver localizes its three-round
    # hash disagreement to one 3-leg row
    "sketch_probe_battery": [
        "cms_heavy_hitters",
        "histogram_quantiles",
        "table_stats_profile",
    ],
    "skew_salt_trim_battery": [
        "skew_key_diagnostics",
        "salted_skew_agg",
        "length_percentile_trim",
    ],
    # round 12: the text-mining bisect (VERDICT r11 #3) — the
    # tokenizer half keeps the name (one BPE merge loop feeds three
    # legs, one classifier scan feeds two)...
    "text_mining_battery": [
        "bpe_merge_table",
        "bpe_encode_tokens",
        "language_id",
        "language_id_eval",
        "tokenizer_fertility",
    ],
    # ...and the NB-classifier/corpus-mining half (one classifier fit
    # feeds three legs) moves to its own driver row
    "nbq_mining_battery": [
        "suffix_mining",
        "bigram_pmi",
        "repetition_signals",
        "nb_quality_scores",
        "nb_quality_eval",
        "nb_quality_calibration",
    ],
    # round 12: composited to free the window slots for the bisect and
    # the maintainer battery
    "training_mix_battery": [
        "decontamination_overlap",
        "sequence_packing",
        "domain_mix_plan",
    ],
    # round 12: the maintainer read-path battery embeds the one-shot
    # component oracles whose outputs its state-derived reads equal
    # by the monoid-fold identity
    "maintainer_state_battery": [
        "embedding_diversity",
        "histogram_quantiles",
        "cms_heavy_hitters",
    ],
    "graph_battery": ["transitive_closure_reachability", "neardup_triangles"],
    "revenue_olap_battery": [
        "regional_revenue",
        "rollup_regional_revenue",
        "cube_status_priority",
        # round 9: composited to free a window slot for the bisect
        "pricing_summary",
        # round 10: coverage-closing legs (COVERAGE.json derivation)
        "status_histogram",
        "status_priority_pivot",
    ],
    "cdc_battery": ["cdc_three_way_ops", "cdc_driven_rollup"],
    "set_prune_battery": ["customer_key_set_algebra", "bloom_pruned_semi_join"],
    # round 8: the decode/frame-sample battery rides the widened
    # byte-histogram composite (the multimodal driver-window row);
    # round 11: + the from-spec PNG/JPEG header-decode leg
    # round 12: + the GIF/WAV header-decode leg
    "multimodal_byte_histogram": ["multimodal_decode_battery"],
    "multimodal_decode_battery": ["image_header_decode", "av_header_decode"],
}


def test_battery_oracles_embed_component_oracles_verbatim():
    for battery, components in BATTERIES.items():
        b_oracle = REGISTRY[battery].oracle
        assert b_oracle, battery
        for comp in components:
            c_oracle = REGISTRY[comp].oracle
            assert c_oracle, comp
            assert c_oracle in b_oracle, (
                f"{battery} does not embed {comp}'s oracle verbatim — "
                "the battery can drift from the single"
            )


def test_battery_components_stay_registered():
    for components in BATTERIES.values():
        for comp in components:
            assert comp in REGISTRY


_DUCK_TYPES = {"bigint": "BIGINT", "int": "INTEGER", "string": "VARCHAR",
               "double": "DOUBLE", "boolean": "BOOLEAN"}


def test_battery_spec_spark_union_equals_its_oracle(spark, tmp_path, monkeypatch):
    """Two toy components over tiny parquet files: the legs cover a
    typed-NULL pad, a tag override, a bare pass-through column, an
    expression, and a melted leg."""
    a = str(tmp_path / "toy_a")
    b = str(tmp_path / "toy_b")
    spark.createDataFrame(
        [(1, "x", 2.5, "up"), (2, "y", None, "down"), (3, None, -1.0, "up")],
        "id BIGINT, name STRING, score DOUBLE, op STRING",
    ).write.parquet(a)
    spark.createDataFrame(
        [(7, True), (8, None)], "k INT, flag BOOLEAN"
    ).write.parquet(b)
    for name, path in (("toy_a", a), ("toy_b", b)):
        monkeypatch.setitem(REGISTRY, name, QuerySpec(
            name=name,
            fn=lambda spark, sf_dir, path=path: spark.read.parquet(path),
            oracle=f"SELECT * FROM '{path}/*.parquet'",
            doc="",
        ))
    battery = Battery(
        slots={"id": "BIGINT", "name": "STRING", "score": "DOUBLE", "k": "INT",
               "flag": "BOOLEAN"},
        legs={
            "a": ("toy_a", {"op": "'skew_' || op", "id": "id", "name": "upper(name)",
                            "score": "score"}),
            "b": ("toy_b", {"id": "CAST(k AS BIGINT)", "k": "k", "flag": "flag"}),
            "melt": ("toy_a", {"id": "id", "name": "metric", "score": "val"},
                     Melt(("id",), ("metric", "val"), {
                         "score": ("score",),
                         "neg": ("-score",),
                     })),
        },
    )
    got = battery.union(spark, "unused")
    con = duckdb.connect()
    try:
        rel = con.sql(battery.oracle())
        d_cols, d_types = list(rel.columns), [str(t) for t in rel.types]
        d_rows = rel.fetchall()
    finally:
        con.close()
    assert got.columns == d_cols == ["op", "id", "name", "score", "k", "flag"]
    assert [_DUCK_TYPES[f.dataType.simpleString()] for f in got.schema.fields] == d_types
    s_rows = [tuple(r) for r in got.collect()]
    assert canon_rows(got.columns, s_rows) == canon_rows(d_cols, d_rows)
    assert {r[0] for r in s_rows} == {"skew_up", "skew_down", "b", "melt"}
    assert len(s_rows) == 3 + 2 + 6


def test_battery_spec_rejects_unknown_slots_and_frames(spark):
    with pytest.raises(KeyError, match="unknown slots"):
        Battery(slots={"id": "BIGINT"}, legs={"a": ("toy_a", {"idd": "id"})})
    battery = Battery(slots={"id": "BIGINT"}, legs={"a": ("toy_a", {"id": "id"})})
    with pytest.raises(KeyError, match="unknown legs"):
        battery.union(spark, "unused", b=spark.range(1))
