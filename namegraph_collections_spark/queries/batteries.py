"""Driver-window composites ("batteries").

The external driver value-hashes only the first 50 registry rows, but
the registry holds more operators than slots. Each battery here unions
SEVERAL unchanged single-operator queries into one ``op``-tagged result,
null-padded to a common schema, so one driver row hash-pins every
component's FULL output. The single-operator forms stay registered
(after the window) for the local parity sweep and for users who want
one operator's plain result.

Every battery is a ``registry.Battery`` spec: its ``slots`` (output
column → SQL type) and, per tag, the component query plus a
``{slot: SQL expression}`` map. The spec generates both sides from the
same text — the DuckDB oracle wraps each component's registered oracle
verbatim, and the Spark union runs the same expressions through
``selectExpr`` — so a battery can drift neither from its components
nor between its two engines. A battery whose legs are all plain
components is a ``register_battery`` call with no function body; one
whose legs share builds (one k-means codebook, one bands build, one
LM fit) builds those once and hands the spec the legs made from them
through the components' ``_from`` seams.

Scale note: a union of k independent plans executes each branch with
its own (already audited) shuffle structure; the union itself is a
zero-shuffle concatenation of partition lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.queries.ann_eval import recall_eval_from
from namegraph_collections_spark.queries.bpe import (
    _encode_from,
    _learn,
    _merge_union,
    tokenizer_fertility_from,
)
from namegraph_collections_spark.queries.closure import transitive_closure_reachability
from namegraph_collections_spark.queries.corpus_stats import (
    heaps_law_curve,
    source_unigram_drift,
)
from namegraph_collections_spark.queries.data_selection import ccnet_ppl_buckets_from
from namegraph_collections_spark.queries.dedup import (
    _minhash_bands,
    _minhash_pairs_from,
    dedup_cluster_stats_from,
    incremental_minhash_dedup_from,
    lsh_tuning_eval_from,
    ngram_jaccard_pairs,
)
from namegraph_collections_spark.queries.dedup_select import neardup_representatives_from
from namegraph_collections_spark.queries.graph_metrics import neardup_triangles
from namegraph_collections_spark.queries.overlap_audit import source_overlap_matrix
from namegraph_collections_spark.queries.pipeline_e2e import training_pipeline_e2e_from
from namegraph_collections_spark.queries.quality_classifier import (
    nb_quality_calibration_from,
    nb_quality_eval_from,
    nb_quality_scores,
)
from namegraph_collections_spark.queries.quality_signals import doc_quality_signals
from namegraph_collections_spark.queries.registry import (
    Battery,
    Melt,
    register,
    register_battery,
    run_parallel,
    spread,
    tbl,
)
from namegraph_collections_spark.queries.semantic_dedup import semdedup_from
from namegraph_collections_spark.queries.similarity import (
    cosine_topk_bruteforce,
    ivf_topk_from,
    kmeans_lists,
)
from namegraph_collections_spark.queries.similarity_pq import (
    _adc_scored,
    pq_adc_topk_from,
    pq_rerank_topk,
    pq_rerank_topk_from,
)
from namegraph_collections_spark.queries.span_dedup import dup_span_extract
from namegraph_collections_spark.queries.text_analysis import (
    bigram_lm_perplexity,
    language_id,
    language_id_eval_from,
)
from namegraph_collections_spark.queries.training_data import fuzzy_decontamination_from


def _micro(col: str) -> str:
    # Decimal outputs stay off the hash surface: every source is a
    # DECIMAL with <= 6 fractional digits, so *1e6 -> BIGINT is exact.
    return f"CAST({col} * 1000000 AS BIGINT)"


# ---------------------------------------------------------------------------
# Temporal battery: plain as-of + chunked as-of + binned interval join.
# The as-of pair shares one oracle by contract (output-identical
# formulations); hashing BOTH under different tags makes the driver
# itself witness that the skew-proof chunked plan equals the one-window
# plan, not just our local tests.
# ---------------------------------------------------------------------------
_ASOF = {
    "event_id": "click_event_id",
    "user_id": "user_id",
    "ts_us": "click_ts_us",
    "match_event_id": "purchase_event_id",
    "match_ts_us": "purchase_ts_us",
    "staleness_us": "staleness_us",
    "val": "purchase_value",
}
register_battery(
    "temporal_join_battery",
    """As-of join + chunked as-of + binned interval range join in one
    tagged result. Components unchanged: queries/temporal.py; operator
    design notes in operators/temporal.py.""",
    slots={
        "event_id": "BIGINT", "user_id": "BIGINT", "ts_us": "BIGINT",
        "match_event_id": "BIGINT", "match_ts_us": "BIGINT",
        "staleness_us": "BIGINT", "val": "DOUBLE", "n_clicks": "BIGINT",
        "first_click_us": "BIGINT",
    },
    legs={
        "asof": ("asof_join_events", _ASOF),
        "asof_chunked": ("asof_join_chunked_events", _ASOF),
        "interval": ("interval_range_join", {
            "event_id": "purchase_event_id", "user_id": "user_id",
            "ts_us": "start_us", "val": "total_click_value",
            "n_clicks": "n_clicks", "first_click_us": "first_click_us",
        }),
    },
)

register_battery(
    "event_analytics_battery",
    """Ordered funnel + cohort-retention triangle + event transition
    matrix in one tagged result. Components unchanged:
    queries/event_analytics.py (single shuffle key end-to-end each).""",
    slots={
        "stage": "INT", "cohort_day": "BIGINT", "offset_days": "BIGINT",
        "prev_type": "STRING", "next_type": "STRING", "n": "BIGINT",
    },
    legs={
        "funnel": ("funnel_conversion", {"stage": "stage", "n": "n_users"}),
        "cohort": ("cohort_retention", {
            "cohort_day": "cohort_day", "offset_days": "offset_days", "n": "n_active",
        }),
        "transition": ("event_transition_matrix", {
            "prev_type": "prev_type", "next_type": "next_type", "n": "n",
        }),
    },
)


# ---------------------------------------------------------------------------
# Similarity battery: brute-force cosine baseline + learned-IVF ANN +
# LSH sign bucketing — the three ANN strategies over `embeddings` —
# plus the recall eval, SemDeDup and the diversity table.
# ---------------------------------------------------------------------------
_SIMILARITY = Battery(
    slots={
        "q_id": "BIGINT", "c_id": "BIGINT", "c_label": "BIGINT",
        "labels": "STRING", "grp": "INT", "cosine": "DOUBLE", "rnk": "INT",
        "n_vecs": "BIGINT", "keep": "BOOLEAN",
    },
    legs={
        "cos": ("cosine_topk_bruteforce", {
            "q_id": "q_id", "c_id": "c_id", "c_label": "CAST(c_label AS BIGINT)",
            "cosine": "cosine", "rnk": "rnk",
        }),
        "ivf": ("ivf_topk", {
            "q_id": "q_id", "c_id": "c_id", "grp": "CAST(c_cluster AS INT)",
            "cosine": "cosine", "rnk": "rnk",
        }),
        "lsh": ("lsh_bucket_neighbors", {
            "labels": "labels", "grp": "CAST(bucket AS INT)", "n_vecs": "n_vecs",
        }),
        "recall": ("ann_recall_eval", {
            "q_id": "q_id", "labels": "method", "cosine": "recall",
            "n_vecs": "CAST(hits AS BIGINT)",
        }),
        "semdedup": ("semdedup_keep_list", {
            "q_id": "vec_id", "grp": "CAST(cluster AS INT)",
            "cosine": "max_earlier_cosine", "n_vecs": "n_dups", "keep": "keep",
        }),
        # one-pass mean-pairwise-cosine rational per label (+ corpus
        # row): pair_num/pair_den ride the two id slots, self_sq rnk
        "diversity": ("embedding_diversity", {
            "q_id": "pair_num", "c_id": "pair_den", "c_label": "label",
            "rnk": "self_sq", "n_vecs": "n_vecs",
        }),
    },
)


@register("similarity_battery", oracle=_SIMILARITY.oracle())
def similarity_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k + IVF (learned lists) top-k + LSH
    bucket census + the ANN recall@k evaluation (per-query and macro
    rows) + the SemDeDup keep/drop list (which shares the IVF k-means
    codebook) in one tagged result. Components unchanged:
    queries/similarity.py, ann_eval.py, semantic_dedup.py.

    The cosine and IVF results are localCheckpointed and feed BOTH
    their battery leg and the recall eval: the eval re-references the
    searches, and across a UNION ReusedExchange does not dedup the
    repeated subtrees (measured in the neardup_triangles commit), so
    without the checkpoint the battery executed its ANN legs ~twice.
    Interleaved in-process A/B at sf0.1/local[32] (4 alternating
    samples each, warmed): plain 2.51/2.36/2.35/2.36s vs checkpointed
    1.58/1.71/1.56/1.66s — ~1.5x. pq_rerank is referenced once (its
    battery leg lives in pq_battery), so it is not checkpointed here.

    The SemDeDup leg shares ONE k-means build with the IVF leg:
    `kmeans_lists` runs once, the assignment is localCheckpointed
    (tiny: one row per vector), and both `ivf_topk_from` and
    `semdedup_from` consume it — the singles each build their own
    codebook, but inside the battery that would be the same
    double-execution this docstring's first paragraph removed.
    """
    emb = spread(tbl(spark, sf_dir, "embeddings"), "vec_id")
    # Three independent job-running roots, built from the thread pool:
    # (a) the k-means chain (per-round eager k-row checkpoints make its
    #     BUILD job-running) → assigned checkpoint → IVF search
    #     checkpoint, chained inside one thread;
    # (b) the brute-force cosine search checkpoint;
    # (c) the PQ Lloyd chain behind pq_rerank_topk (same job-running
    #     build as (a)).
    # Serially, each chain's driver planning idled the others'
    # executor work. Same plans, same checkpoints, same results; only
    # the submission schedule changes.

    def _ann_chain():
        assigned, cents = kmeans_lists(emb)
        assigned = assigned.localCheckpoint(eager=False)
        ivf_full = ivf_topk_from(emb, assigned, cents).localCheckpoint(eager=False)
        return assigned, ivf_full

    (assigned, ivf_full), cos_full, pq_full = run_parallel(
        spark,
        _ann_chain,
        lambda: cosine_topk_bruteforce(spark, sf_dir).localCheckpoint(eager=False),
        lambda: pq_rerank_topk(spark, sf_dir),
    )
    return _SIMILARITY.union(
        spark,
        sf_dir,
        cos=cos_full,
        ivf=ivf_full,
        recall=recall_eval_from(cos_full, ivf_full, pq_full),
        semdedup=semdedup_from(emb, assigned),
    )


# ---------------------------------------------------------------------------
# Unigram text battery: corpus token/document frequencies + per-doc
# unigram-LM log-probability + the LM/quality/vocabulary legs.
# ---------------------------------------------------------------------------
_UNIGRAM = Battery(
    slots={
        "token": "STRING", "doc_id": "BIGINT", "n": "BIGINT", "df": "BIGINT",
        "logp": "DOUBLE", "nll": "DOUBLE", "is_train": "BOOLEAN",
        "keep": "BOOLEAN", "n_stop": "BIGINT", "q_mean_len_micro": "BIGINT",
        "q_symbol_micro": "BIGINT", "q_bullet_micro": "BIGINT",
        "q_ellipsis_micro": "BIGINT", "q_alpha_micro": "BIGINT",
        "q_dup_line_micro": "BIGINT", "q_dup_bigram_micro": "BIGINT",
    },
    legs={
        "freq": ("token_frequencies", {"token": "token", "n": "n", "df": "df"}),
        "logprob": ("unigram_logprob", {"doc_id": "doc_id", "logp": "name_log_probability"}),
        "lm": ("bigram_lm_perplexity", {
            "doc_id": "doc_id", "n": "n_pairs", "nll": "nll",
            "is_train": "is_train", "keep": "keep",
        }),
        "quality": ("doc_quality_signals", {
            "doc_id": "doc_id", "n": "n_words", "df": "n_lines", "keep": "keep",
            "n_stop": "n_stopword_hits", "q_mean_len_micro": "mean_len_micro",
            "q_symbol_micro": "symbol_micro", "q_bullet_micro": "bullet_micro",
            "q_ellipsis_micro": "ellipsis_micro", "q_alpha_micro": "alpha_micro",
            "q_dup_line_micro": "dup_line_micro",
            "q_dup_bigram_micro": "dup_bigram_micro",
        }),
        "ccnet": ("ccnet_ppl_buckets", {
            "token": "lang || ':' || bucket", "doc_id": "doc_id", "n": "lang_n",
            "df": "CAST(rnk AS BIGINT)", "n_stop": "nll_micro",
        }),
        # vocabulary growth + TTR checkpoints: k rides the doc_id slot,
        # vocab the n_stop slot, TTR the first micro slot
        "heaps": ("heaps_law_curve", {
            "doc_id": "k", "n": "cp_docs", "df": "cum_tokens",
            "n_stop": "vocab_size", "q_mean_len_micro": "ttr_micro",
        }),
        # per-source TV drift: the exact rational (num, den) rides the
        # n_stop/first-micro slots, the heaps leg's twin
        "drift": ("source_unigram_drift", {
            "token": "source", "n": "n_tokens", "n_stop": "drift_num",
            "q_mean_len_micro": "drift_den",
        }),
    },
)


@register("unigram_text_battery", oracle=_UNIGRAM.oracle())
def unigram_text_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/document frequencies + unigram-LM per-doc log-probability
    + bigram-LM perplexity quality filter + Gopher/C4 quality signals
    + the CCNet head/middle/tail perplexity bucketing + Heaps-law
    vocabulary growth + per-source unigram drift in one tagged result.
    Components unchanged: queries/text_analysis.py, quality_signals.py,
    data_selection.py, corpus_stats.py. The ccnet leg rides the SAME
    checkpointed bigram-LM frame as the lm leg (the `_from` sharing
    seam), so the LM trains and scores once.
    """
    # Three leg builds run jobs on the driver (the LM checkpoint, the
    # heaps and drift legs' internal checkpoints) and are independent
    # subtrees — build them from the thread pool.
    lm_full, heaps_full, drift_full = run_parallel(
        spark,
        lambda: bigram_lm_perplexity(spark, sf_dir).localCheckpoint(eager=False),
        lambda: heaps_law_curve(spark, sf_dir),
        lambda: source_unigram_drift(spark, sf_dir),
    )
    return _UNIGRAM.union(
        spark,
        sf_dir,
        lm=lm_full,
        ccnet=ccnet_ppl_buckets_from(lm_full, language_id(spark, sf_dir)),
        heaps=heaps_full,
        drift=drift_full,
    )


register_battery(
    "rollup_battery",
    """Hourly rollup + minute→hour→day cascade + split-and-merge
    incremental rollup in one tagged result. Components unchanged:
    queries/relational.py, queries/rollups.py.""",
    slots={
        "grain": "STRING", "bucket_us": "BIGINT", "event_type": "STRING",
        "n": "BIGINT", "total_value": "DOUBLE", "mean_value": "DOUBLE",
    },
    legs={
        "hourly": ("hourly_event_rollup", {
            "bucket_us": "hour_us", "event_type": "event_type", "n": "n",
            "total_value": "total_value",
        }),
        "cascading": ("cascading_time_rollup", {
            "grain": "grain", "bucket_us": "bucket_us", "event_type": "event_type",
            "n": "n", "total_value": "total_value",
        }),
        "incremental": ("incremental_hourly_rollup", {
            "bucket_us": "bucket_us", "event_type": "event_type", "n": "n_events",
            "total_value": "total_value", "mean_value": "mean_value",
        }),
    },
)

register_battery(
    "sampling_battery",
    """The deterministic selection/ordering policies in one tagged
    result: temperature-mix sampling, per-group hash-order sampling,
    weighted reservoir (A-Res) top-k, the content-addressed
    train/val/test split, the fixed-seed epoch-shuffle shard plan, the
    DSIR hashed-ngram importance weights with their threshold
    selection flag, the sqrt-temperature language sampling plan, the
    packing-efficiency eval and the padding-waste eval. Components
    unchanged: queries/training_data.py, scale_ops.py,
    data_selection.py, corpus_stats.py, chunking.py.""",
    slots={
        "doc_id": "BIGINT", "source": "STRING", "split": "STRING", "rk": "INT",
        "w": "BIGINT", "skey": "DOUBLE", "rnk": "INT", "n_docs": "BIGINT",
        "min_doc_id": "BIGINT", "max_doc_id": "BIGINT", "doc_id_sum": "BIGINT",
    },
    legs={
        "mix": ("deterministic_mix_sample", {"doc_id": "doc_id", "source": "source"}),
        "grouped": ("grouped_deterministic_sample", {
            "doc_id": "doc_id", "source": "source", "rk": "rk",
        }),
        "weighted": ("weighted_sample_topk", {
            "doc_id": "doc_id", "w": "w", "skey": "skey", "rnk": "rnk",
        }),
        "split": ("deterministic_split", {
            "source": "source", "split": "split", "n_docs": "n_docs",
            "min_doc_id": "min_doc_id", "max_doc_id": "max_doc_id",
            "doc_id_sum": "doc_id_sum",
        }),
        "epoch": ("epoch_shuffle_plan", {
            "op": "'epoch_' || op", "doc_id": "doc_id", "source": "skey8",
            "split": "CAST(epoch AS STRING)", "rk": "shard", "n_docs": "n_docs",
            "doc_id_sum": "doc_id_sum",
        }),
        # the two booleans ride the 0/1 INT slots (rk: is_target, rnk:
        # selected), the micro-nat weight the BIGINT w slot
        "dsir": ("dsir_importance_weights", {
            "doc_id": "doc_id", "rk": "CAST(IF(is_target, 1, 0) AS INT)",
            "w": "weight_micro", "rnk": "CAST(IF(selected, 1, 0) AS INT)",
            "n_docs": "n_grams",
        }),
        "tempmix": ("temperature_sampling_plan", {
            "source": "lang", "w": "repeat_micro", "n_docs": "n_docs",
            "min_doc_id": "share_micro", "max_doc_id": "q_micro",
            "doc_id_sum": "alloc_docs",
        }),
        "packeff": ("packing_efficiency_eval", {
            "source": "source", "rk": "CAST(n_bins AS INT)", "w": "fill_micro",
            "rnk": "CAST(min_bins AS INT)", "n_docs": "n_docs",
            "min_doc_id": "total_tokens", "max_doc_id": "max_bin_tokens",
            "doc_id_sum": "capacity_tokens",
        }),
        "padwaste": ("padding_waste_eval", {
            "doc_id": "bucket", "rk": "CAST(batch AS INT)", "w": "waste",
            "n_docs": "n_docs", "min_doc_id": "max_words",
            "max_doc_id": "sum_words", "doc_id_sum": "eff_micro",
        }),
    },
)


# ---------------------------------------------------------------------------
# The dedup family, split over two driver rows: the independent-scan
# fingerprint/audit legs (lexical) and the MinHash-band family, whose
# legs share one bands build (banded). A red leg then costs only its
# half's attribution.
# ---------------------------------------------------------------------------
_DEDUP_SLOTS = {
    "fp": "STRING", "s": "STRING", "id_a": "BIGINT", "id_b": "BIGINT",
    "cnt": "BIGINT", "nd": "BIGINT", "cosine": "DOUBLE", "is_dup": "BOOLEAN",
    "n_keep": "BIGINT", "rep_words": "BIGINT",
}
_LEXICAL = Battery(
    slots=_DEDUP_SLOTS,
    legs={
        "exact": ("exact_dedup_groups", {
            "fp": "fingerprint", "id_a": "canonical_doc_id", "cnt": "dup_count",
        }),
        "passage": ("passage_dedup", {
            "fp": "passage_hash", "s": "passage", "id_a": "first_doc_id",
            "cnt": "n_occurrences", "nd": "n_docs",
        }),
        "tfidf": ("tfidf_cosine_pairs", {"id_a": "doc_a", "id_b": "doc_b", "cosine": "cosine"}),
        "winnow": ("winnowing_fingerprints", {
            "fp": "CAST(fp AS STRING)", "id_a": "doc_id", "id_b": "fp_pos",
        }),
        "spans": ("dup_span_extract", {
            "id_a": "doc_id", "id_b": "span_id", "cnt": "start_word",
            "nd": "end_word", "n_keep": "span_words", "rep_words": "n_shingles",
        }),
        "novelty": ("ngram_novelty_audit", {
            "id_a": "doc_id", "cnt": "n_shingles", "nd": "n_seen",
            "n_keep": "novelty_micro",
        }),
        "srcover": ("source_overlap_matrix", {
            "fp": "src_a", "s": "src_b", "cnt": "n_shared", "nd": "n_a",
            "n_keep": "containment_micro",
        }),
        # chunk-grain fingerprinting is the passage_dedup family at a
        # fixed window, so it belongs to this half
        "chunk": ("passage_chunking", {
            "fp": "chunk_hash", "id_a": "doc_id", "id_b": "chunk_id",
            "cnt": "start_word", "nd": "end_word", "n_keep": "n_words",
        }),
    },
)


@register("lexical_dedup_battery", oracle=_LEXICAL.oracle())
def lexical_dedup_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint/shingle-grain dedup legs in one tagged result:
    exact fingerprint groups + cross-document passage dedup +
    idf-weighted cosine pairs + winnowing local fingerprints +
    ExactSubstr-style duplicated spans + the n-gram novelty audit +
    the source containment matrix + overlapping passage chunking.
    Every leg is an independent scan (its own honest shingle/
    fingerprint grain — no sharing seam applies). Components
    unchanged: queries/dedup.py, span_dedup.py, overlap_audit.py,
    chunking.py.
    """
    # The spans and source-overlap legs run jobs during their builds
    # (internal checkpoints) and are independent scans by design —
    # build them from the thread pool.
    spans, srcover = run_parallel(
        spark,
        lambda: dup_span_extract(spark, sf_dir),
        lambda: source_overlap_matrix(spark, sf_dir),
    )
    return _LEXICAL.union(spark, sf_dir, spans=spans, srcover=srcover)


_BANDED = Battery(
    slots=_DEDUP_SLOTS,
    legs={
        "incremental": ("incremental_minhash_dedup", {
            "id_a": "new_doc", "id_b": "old_doc", "cosine": "jaccard", "is_dup": "is_dup",
        }),
        "rep": ("neardup_representatives", {
            "id_a": "cluster_id", "id_b": "rep_doc_id", "cnt": "cluster_size",
            "nd": "n_dropped", "is_dup": "rep_keep", "n_keep": "n_quality_keep",
            "rep_words": "rep_n_words",
        }),
        "funnel": ("training_pipeline_e2e", {
            "fp": "stage", "s": "detail", "id_a": "doc_id_sum", "cnt": "n_docs",
            "nd": "n_words_total",
        }),
        "cstats": ("dedup_cluster_stats", {
            "id_a": "cluster_size", "id_b": "n_clusters", "cnt": "n_docs",
            "nd": "n_removable",
        }),
        "fdecon": ("fuzzy_decontamination", {
            "id_a": "train_doc_id", "id_b": "first_test_doc", "cnt": "n_test_matches",
        }),
        "lshtune": ("lsh_tuning_eval", {
            "fp": "metric", "id_a": "thr_micro", "id_b": "value_micro",
            "cnt": "n_hit", "nd": "n_pairs",
        }),
    },
)


@register("banded_dedup_battery", oracle=_BANDED.oracle())
def banded_dedup_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-band family in one tagged result: incremental
    (batch-vs-corpus) MinHash dedup + per-cluster representative
    selection + the end-to-end training-pipeline funnel + the
    cluster-size histogram + MinHash-band fuzzy decontamination + the
    LSH banding tuning eval. These six legs share ONE bands build /
    ONE quality frame / ONE components closure, so they stay together;
    the independent-scan fingerprint/audit legs form the other half
    (``lexical_dedup_battery``). Components unchanged:
    queries/dedup.py, dedup_select.py, pipeline_e2e.py,
    training_data.py.
    """
    # ONE bands build feeds the incremental probe (which itself
    # references it twice: index side + batch side), the
    # representative closure's pair generation, the fdecon leg, and
    # the lshtune candidate side; localCheckpoint because
    # ReusedExchange does not dedup the repeated subtrees (the
    # measured battery finding; A/B in MEASUREMENTS.md). ONE quality
    # frame and ONE components closure (rep_full) feed the rep leg,
    # the cstats histogram, and the funnel's fuzzy stage. The
    # lshtune legs consume each pair frame twice (recall AND
    # precision), so both pair frames are checkpointed too.
    docs = tbl(spark, sf_dir, "documents")

    def _ck(df):
        return df.localCheckpoint(eager=False)

    # rep_full needs only (bands, quality) and tune_cand only bands, so
    # that chain runs beside the exact-Jaccard truth side, the
    # measured straggler (truth 3.3s vs bands 0.7s + quality 0.4s
    # warm; rep_full 3.3s overlaps truth's shingle pass). Same frames,
    # same checkpoints, same results; only the submission schedule
    # changes.
    def _bands_chain():
        bands, quality = run_parallel(
            spark,
            lambda: _ck(_minhash_bands(docs)),
            lambda: _ck(doc_quality_signals(spark, sf_dir)),
        )
        rep_full, tune_cand = run_parallel(
            spark,
            lambda: _ck(
                neardup_representatives_from(docs, _minhash_pairs_from(bands), quality)
            ),
            lambda: _ck(_minhash_pairs_from(bands).withColumn("hit", F.lit(1))),
        )
        return bands, quality, rep_full, tune_cand

    (bands, quality, rep_full, tune_cand), tune_truth = run_parallel(
        spark,
        _bands_chain,
        lambda: _ck(
            ngram_jaccard_pairs(spark, sf_dir).select(
                "doc_a",
                "doc_b",
                F.expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)").alias("j_micro"),
            )
        ),
    )
    return _BANDED.union(
        spark,
        sf_dir,
        incremental=incremental_minhash_dedup_from(docs, bands),
        rep=rep_full,
        funnel=training_pipeline_e2e_from(docs, rep_full, quality),
        # rep_full is already one row per cluster carrying
        # cluster_size, so the histogram is one tiny groupBy on the
        # shared closure — no second components build
        cstats=dedup_cluster_stats_from(rep_full),
        fdecon=fuzzy_decontamination_from(bands),
        lshtune=lsh_tuning_eval_from(tune_truth, tune_cand),
    )


register_battery(
    "neardup_candidates_battery",
    """SimHash Hamming-ball candidates + embedding sign-bit-LSH cosine
    pairs in one tagged result — composited to free the driver-window
    slot the lexical/banded dedup split needs. The two singles stay
    registered; components unchanged: queries/dedup.py.""",
    slots={
        "id_a": "BIGINT", "id_b": "BIGINT", "a_hi": "BIGINT", "a_lo": "BIGINT",
        "b_hi": "BIGINT", "b_lo": "BIGINT", "hamming": "INT", "cosine": "DOUBLE",
    },
    legs={
        "simhash": ("simhash_neardup_candidates", {
            "id_a": "doc_a", "id_b": "doc_b", "a_hi": "a_hi", "a_lo": "a_lo",
            "b_hi": "b_hi", "b_lo": "b_lo", "hamming": "hamming",
        }),
        "emblsh": ("embedding_neardup_pairs", {
            "id_a": "vec_a", "id_b": "vec_b", "cosine": "cosine",
        }),
    },
)


_PQ = Battery(
    slots={"q_id": "BIGINT", "c_id": "BIGINT", "score": "DOUBLE", "rnk": "INT"},
    legs={
        "adc": ("pq_adc_topk", {"q_id": "q_id", "c_id": "c_id", "score": "approx_l2", "rnk": "rnk"}),
        "rerank": ("pq_rerank_topk", {"q_id": "q_id", "c_id": "c_id", "score": "cosine", "rnk": "rnk"}),
    },
)


@register("pq_battery", oracle=_PQ.oracle())
def pq_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN pair in one tagged result: raw ADC
    (integer-LUT asymmetric distances) top-k and the exact-cosine
    re-rank over the ADC shortlist. Components unchanged:
    queries/similarity_pq.py.
    """
    # ONE codebook training feeds both legs: the singles each run the
    # full PQ Lloyd chain at build time (per-round eager checkpoints),
    # so sharing the scored frame halves the battery's training work
    # while the legs' results stay bit-identical to the singles'.
    scored = _adc_scored(spark, sf_dir)
    return _PQ.union(
        spark,
        sf_dir,
        adc=pq_adc_topk_from(scored),
        rerank=pq_rerank_topk_from(spark, sf_dir, scored),
    )


# ---------------------------------------------------------------------------
# The sketch/statistics family. The six-leg battery stays registered
# after the window; the driver hashes it as two 3-leg rows (probe and
# skew/salt/trim) so a disagreement localizes to one row. Both rows
# carry a strictly BIGINT/VARCHAR/INTEGER surface: every aggregate
# that DuckDB would promote to HUGEINT is CAST to BIGINT, rnk is pinned
# INTEGER on both engines, and no DOUBLE or DECIMAL column exists.
# ---------------------------------------------------------------------------
register_battery(
    "sketch_stats_battery",
    """The sketch/statistics family in one tagged result: count-min
    heavy hitters, fixed-grid histogram quantiles, the one-pass table
    stats profile, shuffle-key skew diagnostics, the salted two-stage
    aggregate, and exact-percentile outlier trim. Components
    unchanged: queries/rollups.py, percentiles.py, profiling.py,
    scale_ops.py.""",
    slots={
        "s": "STRING", "k": "BIGINT", "k2": "BIGINT", "k3": "BIGINT",
        "n1": "BIGINT", "n2": "BIGINT", "n3": "BIGINT", "rnk": "INT",
        "d1_micro": "BIGINT", "d2_micro": "BIGINT", "d3_micro": "BIGINT",
        "s2": "STRING", "s3": "STRING",
    },
    legs={
        "cms": ("cms_heavy_hitters", {
            "s": "token", "n1": "n_exact", "n2": "cms_estimate", "n3": "overcount",
            "rnk": "rnk",
        }),
        "hist": ("histogram_quantiles", {
            "s": "quantile", "k": "bucket", "n1": "n_rows",
            "d1_micro": _micro("est_lo"), "d2_micro": _micro("est_hi"),
        }),
        "stats": ("table_stats_profile", {
            "s": "col", "n1": "n_rows", "n2": "n_nulls", "n3": "n_distinct",
            "d1_micro": _micro("min_num"), "d2_micro": _micro("max_num"),
            "s2": "min_str", "s3": "max_str",
        }),
        "skew": ("skew_key_diagnostics", {
            "op": "'skew_' || op", "k": "key", "n1": "cnt", "n2": "n_keys",
            "n3": "n_rows", "rnk": "rnk", "d1_micro": "skew_ratio_micro",
        }),
        "salted": ("salted_skew_agg", {
            "s": "event_type", "n1": "n_events", "d1_micro": _micro("total_value"),
            "d2_micro": _micro("min_value"), "d3_micro": _micro("max_value"),
        }),
        "trim": ("length_percentile_trim", {
            "s": "source", "k": "p50", "k2": "p90", "k3": "p99", "n1": "n_docs",
            "n2": "n_kept",
        }),
    },
)

register_battery(
    "sketch_probe_battery",
    """Row A of the sketch/stats family: count-min heavy hitters,
    fixed-grid histogram quantiles, and the one-pass table stats
    profile (see the section comment for why the six-leg battery
    split). Components unchanged: queries/rollups.py, percentiles.py,
    profiling.py.""",
    slots={
        "s": "STRING", "k": "BIGINT", "n1": "BIGINT", "n2": "BIGINT",
        "n3": "BIGINT", "rnk": "INT", "d1_micro": "BIGINT", "d2_micro": "BIGINT",
        "s2": "STRING", "s3": "STRING",
    },
    legs={
        "cms": ("cms_heavy_hitters", {
            "s": "token", "n1": "CAST(n_exact AS BIGINT)",
            "n2": "CAST(cms_estimate AS BIGINT)", "n3": "CAST(overcount AS BIGINT)",
            "rnk": "CAST(rnk AS INT)",
        }),
        "hist": ("histogram_quantiles", {
            "s": "quantile", "k": "CAST(bucket AS BIGINT)",
            "n1": "CAST(n_rows AS BIGINT)",
            "d1_micro": _micro("est_lo"), "d2_micro": _micro("est_hi"),
        }),
        "stats": ("table_stats_profile", {
            "s": "col", "n1": "CAST(n_rows AS BIGINT)", "n2": "CAST(n_nulls AS BIGINT)",
            "n3": "CAST(n_distinct AS BIGINT)", "d1_micro": _micro("min_num"),
            "d2_micro": _micro("max_num"), "s2": "min_str", "s3": "max_str",
        }),
    },
)

register_battery(
    "skew_salt_trim_battery",
    """Row B of the sketch/stats family: shuffle-key skew diagnostics
    (skew_ratio_micro is a direct BIGINT — no double or decimal
    round-trip), the salted two-stage aggregate, and the
    exact-percentile outlier trim. Components unchanged:
    queries/scale_ops.py, percentiles.py.""",
    slots={
        "s": "STRING", "k": "BIGINT", "k2": "BIGINT", "k3": "BIGINT",
        "n1": "BIGINT", "n2": "BIGINT", "n3": "BIGINT", "rnk": "INT",
        "d1_micro": "BIGINT", "d2_micro": "BIGINT", "d3_micro": "BIGINT",
    },
    legs={
        "skew": ("skew_key_diagnostics", {
            "op": "'skew_' || op", "k": "key", "n1": "cnt", "n2": "n_keys",
            "n3": "n_rows", "rnk": "CAST(rnk AS INT)", "d1_micro": "skew_ratio_micro",
        }),
        "salted": ("salted_skew_agg", {
            "s": "event_type", "n1": "n_events", "d1_micro": _micro("total_value"),
            "d2_micro": _micro("min_value"), "d3_micro": _micro("max_value"),
        }),
        "trim": ("length_percentile_trim", {
            "s": "source", "k": "p50", "k2": "p90", "k3": "p99", "n1": "n_docs",
            "n2": "n_kept",
        }),
    },
)


# ---------------------------------------------------------------------------
# The text-mining family, split over two driver rows with one schema:
# the tokenizer half (one BPE merge loop feeds three legs, one
# classifier scan two) and the NB-classifier/corpus-mining half (one
# classifier fit feeds three legs). Shared-build groups stay together.
# ---------------------------------------------------------------------------
_TEXT_SLOTS = {
    "s1": "STRING", "s2": "STRING", "s3": "STRING", "n": "BIGINT",
    "n2": "BIGINT", "d": "DOUBLE", "rnk": "INT",
}
_TEXT_MINING = Battery(
    slots=_TEXT_SLOTS,
    legs={
        "bpe": ("bpe_merge_table", {
            "s1": "a", "s2": "b", "s3": "merged", "n": "cnt", "rnk": "CAST(round AS INT)",
        }),
        "bpe_encode": ("bpe_encode_tokens", {
            "s1": "token", "n": "total_count", "n2": "n_words", "rnk": "token_len",
        }),
        "langid": ("language_id", {
            "s1": "lang", "n": "hits", "n2": "doc_id", "d": "CAST(n_words AS DOUBLE)",
            "rnk": "rnk",
        }),
        "lid_eval": ("language_id_eval", {
            "s1": "label_lang", "s2": "pred_lang", "n": "n_docs", "n2": "label_total",
            "rnk": "CAST(share_micro AS INT)",
        }),
        "fertility": (
            "tokenizer_fertility",
            {"s1": "lang", "s2": "metric", "n": "val"},
            Melt(("lang",), ("metric", "val"), {
                "words": ("n_word_occ",), "tokens": ("n_token_occ",),
                "chars": ("n_chars",), "fert": ("fertility_micro",),
                "cpt": ("chars_per_token_micro",),
            }),
        ),
    },
)


@register("text_mining_battery", oracle=_TEXT_MINING.oracle())
def text_mining_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKENIZER half of the text-mining family: BPE merge
    learning + BPE corpus encoding + tokenizer fertility — all three
    riding ONE merge-loop run — plus multi-profile language
    identification and its confusion-matrix eval, fed from the SAME
    classifier scan. The NB-classifier and corpus-mining legs live in
    ``nbq_mining_battery``. Components unchanged: queries/bpe.py,
    text_analysis.py.
    """
    # The BPE merge loop (per-round eager checkpoints, so the union leg
    # and the vocabulary leg read the same materialized loop) and the
    # language-id classifier scan (checkpointed: it feeds two legs)
    # both run jobs during their builds and are independent — build
    # them from the thread pool.
    (winners, d_final), li = run_parallel(
        spark,
        lambda: _learn(spark, sf_dir),
        lambda: language_id(spark, sf_dir).localCheckpoint(eager=False),
    )
    return _TEXT_MINING.union(
        spark,
        sf_dir,
        bpe=_merge_union(winners),
        bpe_encode=_encode_from(d_final),
        langid=li,
        lid_eval=language_id_eval_from(li),
        fertility=tokenizer_fertility_from(
            spread(tbl(spark, sf_dir, "documents"), "doc_id"), d_final
        ),
    )


_NBQ_MINING = Battery(
    slots=_TEXT_SLOTS,
    legs={
        "suffix": ("suffix_mining", {"s1": "suffix", "s3": "examples", "n": "n_names"}),
        "pmi": ("bigram_pmi", {"s1": "a", "s2": "b", "n": "n_pair", "d": "pmi", "rnk": "rnk"}),
        # melted long-form: one row per (doc, metric), the keep flag as 0/1
        "rep": (
            "repetition_signals",
            {"s1": "metric", "n": "doc_id", "n2": "val"},
            Melt(("doc_id",), ("metric", "val"), {
                "top2": ("top2_micro",), "top3": ("top3_micro",),
                "top4": ("top4_micro",), "dup5": ("dup5_micro",),
                "dup8": ("dup8_micro",), "chars": ("total_chars",),
                "keep": ("CAST(IF(rep_keep, 1, 0) AS BIGINT)",),
            }),
        ),
        "nbq": ("nb_quality_scores", {
            "s1": "CASE WHEN label_hq THEN 'hq' ELSE 'lq' END",
            "s2": "CASE WHEN pred_hq THEN 'hq' ELSE 'lq' END",
            "s3": "CASE WHEN is_train THEN 'train' ELSE 'test' END",
            "n": "doc_id", "n2": "margin_micro", "rnk": "CAST(n_grams AS INT)",
        }),
        "nbq_eval": ("nb_quality_eval", {
            "s1": "metric", "n": "num", "n2": "den", "rnk": "CAST(value_micro AS INT)",
        }),
        "nbq_cal": ("nb_quality_calibration", {
            "s1": "metric", "s2": "CAST(thr_micro AS STRING)", "s3": "CAST(k AS STRING)",
            "n": "num", "n2": "den", "rnk": "CAST(value_micro AS INT)",
        }),
    },
)


@register("nbq_mining_battery", oracle=_NBQ_MINING.oracle())
def nbq_mining_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NB-CLASSIFIER/corpus-mining half of the text-mining family:
    the NB quality filter's scores, held-out eval, and threshold-sweep
    calibration — all three riding ONE classifier fit — plus suffix
    mining, bigram PMI collocations, and the Gopher n-gram repetition
    signals. Schema identical to ``text_mining_battery``'s. Components
    unchanged: queries/collections_ops.py, text_analysis.py,
    quality_signals.py, quality_classifier.py.
    """
    nbs = nb_quality_scores(spark, sf_dir).localCheckpoint(eager=False)
    return _NBQ_MINING.union(
        spark,
        sf_dir,
        nbq=nbs,
        nbq_eval=nb_quality_eval_from(nbs),
        nbq_cal=nb_quality_calibration_from(nbs),
    )


register_battery(
    "training_mix_battery",
    """Decontamination overlap + FFD sequence packing + domain mix
    plan in one tagged result — composited to free driver-window slots
    (the singles stay registered post-window for the local sweep).
    Components unchanged: queries/training_data.py.""",
    slots={
        "src": "STRING", "k1": "BIGINT", "v1": "BIGINT", "v2": "BIGINT",
        "v3": "BIGINT", "v4": "BIGINT", "d": "DOUBLE",
    },
    legs={
        "decon": ("decontamination_overlap", {
            "k1": "test_doc_id", "v1": "n_train_docs", "v2": "n_shared_shingles",
        }),
        "pack": ("sequence_packing", {
            "src": "source", "k1": "bin_id", "v1": "n_docs", "v2": "total_tokens",
            "v3": "first_doc_id", "v4": "last_doc_id",
        }),
        "mix": ("domain_mix_plan", {
            "src": "source", "v1": "n_docs", "v2": "expected_docs", "d": "share",
        }),
    },
)


_GRAPH = Battery(
    slots={"src": "STRING", "dst": "STRING", "t1": "BIGINT", "t2": "BIGINT", "t3": "BIGINT"},
    legs={
        "closure": ("transitive_closure_reachability", {"src": "src", "dst": "dst"}),
        "triangle": ("neardup_triangles", {"t1": "t1", "t2": "t2", "t3": "t3"}),
    },
)


@register("graph_battery", oracle=_GRAPH.oracle())
def graph_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-naive transitive closure + degree-ordered triangle
    enumeration in one tagged result. Components unchanged:
    queries/closure.py, graph_metrics.py.

    The two legs both run jobs during their BUILD (the closure's
    per-round lazy checkpoints, the triangle leg's eager edge-list
    checkpoint) and are independent, so they build from the thread
    pool instead of serially on the driver.
    """
    closure, triangle = run_parallel(
        spark,
        lambda: transitive_closure_reachability(spark, sf_dir),
        lambda: neardup_triangles(spark, sf_dir),
    )
    return _GRAPH.union(spark, sf_dir, closure=closure, triangle=triangle)


register_battery(
    "revenue_olap_battery",
    """The revenue aggregation family in one tagged result: the
    dimension-join regional rollup, the ROLLUP hierarchy, the CUBE
    grouping sets, the TPC-H-Q1-style pricing summary, and the A6
    conditional-count histogram and pinned-domain pivot, both melted
    long-form. Components unchanged: queries/relational.py, olap.py.
    The pricing leg's sums are decimal-exact DOUBLEs and its means
    micro-rounded DOUBLEs — the hash-safe double classes.""",
    slots={
        "s1": "STRING", "s2": "STRING", "lvl": "BIGINT", "revenue": "DOUBLE",
        "n": "BIGINT", "d2": "DOUBLE", "d3": "DOUBLE", "d4": "DOUBLE", "d5": "DOUBLE",
    },
    legs={
        "regional": ("regional_revenue", {"s1": "n_name", "revenue": "revenue", "n": "n_items"}),
        "rollup": ("rollup_regional_revenue", {
            "s1": "r_name", "s2": "n_name", "lvl": "lvl", "revenue": "revenue",
            "n": "n_orders",
        }),
        "cube": ("cube_status_priority", {
            "s1": "o_orderstatus", "s2": "o_orderpriority", "lvl": "lvl",
            "revenue": "revenue", "n": "n_orders",
        }),
        "pricing": ("pricing_summary", {
            "s1": "l_returnflag", "s2": "l_linestatus", "revenue": "sum_disc_price",
            "n": "count_order", "d2": "sum_qty", "d3": "sum_base_price",
            "d4": "avg_qty", "d5": "avg_price",
        }),
        "statush": (
            "status_histogram",
            {"s1": "o_orderpriority", "s2": "metric", "n": "cnt"},
            Melt(("o_orderpriority",), ("metric", "cnt"), {
                "open": ("open_count",), "finished": ("finished_count",),
                "pending": ("pending_count",), "cop": ("closed_or_pending",),
            }),
        ),
        "pivot": (
            "status_priority_pivot",
            {"s1": "o_orderstatus", "s2": "pr", "revenue": "rev", "n": "cnt"},
            Melt(("o_orderstatus",), ("pr", "cnt", "rev"), {
                p: (f"n_{p}", f"rev_{p}") for p in "12345"
            }),
        ),
    },
)

register_battery(
    "cdc_battery",
    """Three-way snapshot CDC classification + the CDC-delta-maintained
    incremental rollup in one tagged result. Components unchanged:
    queries/cdc.py, operators/cdc.py.""",
    slots={
        "key": "BIGINT", "cdc_op": "STRING", "doc_id": "STRING",
        "members_out": "BIGINT", "status": "STRING", "n_orders": "BIGINT",
        "total_cents": "BIGINT",
    },
    legs={
        "three_way": ("cdc_three_way_ops", {
            "key": "o_orderkey", "cdc_op": "op", "doc_id": "doc_id",
            "members_out": "members_out",
        }),
        "ivm_rollup": ("cdc_driven_rollup", {
            "status": "o_orderstatus", "n_orders": "n_orders", "total_cents": "total_cents",
        }),
    },
)

register_battery(
    "set_prune_battery",
    """Key-set algebra (union/intersect/except as semi/anti joins) +
    the bloom-pruned semi-join in one tagged result. Components
    unchanged: queries/relational.py, scale_ops.py.""",
    slots={"key": "BIGINT", "key2": "BIGINT", "s1": "STRING", "s2": "STRING", "price": "DOUBLE"},
    legs={
        "set": ("customer_key_set_algebra", {
            "op": "'set_' || op", "key": "c_custkey", "s1": "c_name", "s2": "c_mktsegment",
        }),
        "bloom": ("bloom_pruned_semi_join", {
            "key": "o_orderkey", "key2": "o_custkey", "s1": "o_orderstatus",
            "price": "o_totalprice",
        }),
    },
)
