"""Supervised model-based quality filtering — the classifier stage of
the GPT-3 / LLaMA / RedPajama data recipes (Brown et al. 2020,
Appendix A; Touvron et al. 2023 §2.1): train a cheap linear classifier
to separate a high-quality reference corpus from raw crawl text, score
every raw document, and keep the documents the model thinks look like
the reference.

The engine's instance is a multinomial Naive Bayes over hashed
unigram+bigram features — the same hashing-trick bag the fastText
filters in those papers use, and the exactly-aggregable choice: the
entire "training" step is two bucket-count aggregations (one per
class), so the model fits in one distributed pass with no iterative
optimizer, and every parameter is an exact integer micro-nat that a
SQL oracle can reproduce bit-for-bit. Discriminatively that is the
same family as the papers' logistic regression (a linear score over
the same features with a different fitting rule); NB is the
deterministic member of the family.

Relationship to the neighbouring operators:

- ``dsir_importance_weights`` (data_selection.py) is the UNSUPERVISED
  cousin: same hashed features, but it contrasts two corpora's
  distributions with no train/test split and no priors. This module
  is the supervised loop: labels, a held-out split, class priors, a
  prediction, and an evaluation — the parts a production gate needs
  before anyone trusts the filter.
- The train/test split is the content-addressed bucket16 rule shared
  with ``deterministic_split`` and the bigram LM, so "held out" is
  reproducible on any engine and genuinely unseen by the counts.

Everything stays JVM-side (no Python in the plan) and every
hash-surface column is BIGINT/VARCHAR/BOOLEAN per the round-8 rule.

Precondition (documented, holds for the testdata at every scale): the
train split must contain at least one document and one feature
occurrence of EACH class — priors and smoothed likelihoods take
``ln`` of class counts. A production caller gating on a new label
column checks that once before fitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.functions.det_round import micro_spark, micro_sql
from namegraph_collections_spark.operators.additive_state import KeyedState
from namegraph_collections_spark.queries.data_selection import DSIR_TARGET_SRCS
from namegraph_collections_spark.queries.registry import (
    REGISTRY,
    register,
    spread,
    tbl,
)

#: Feature-space size for the hashing trick. Like DSIR's B the bucket
#: table must stay broadcast-sized at ANY corpus size, so it is a
#: constant; 2048 doubles DSIR's resolution because the supervised
#: weights feed a hard keep/drop decision rather than a soft weight.
NBQ_B = 2048

#: Content-addressed train cutoff — identical to deterministic_split's
#: and the bigram LM's 80% rule (bucket16(doc_id) < 52429 ~ 0.8*65536).
#: Duplicated constant, pinned equal by the shared SQL literal in all
#: three oracles (the _bucket16_col precedent: one definition per
#: module to avoid circular imports).
NBQ_TRAIN_LO = 52429

_NBQ_IS_TRAIN_SQL = (
    "CAST('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 4) AS BIGINT)"
    f" < {NBQ_TRAIN_LO}"
)
#: Spark mirror of the split rule (conv() in place of the hex cast —
#: identical md5 digest, identical integer, pinned by the oracles).
_NBQ_IS_TRAIN_SPARK = (
    "CAST(conv(substr(md5(CAST({c} AS STRING)), 1, 4), 16, 10) AS BIGINT)"
    f" < {NBQ_TRAIN_LO}"
)

#: The positive class: the SAME high-quality reference sources DSIR
#: targets, deliberately — one notion of "the corpus we want more
#: of", two selection methods over it (importance resampling there,
#: a supervised classifier here), so their outputs are comparable.
_NBQ_POS_PRED = "source IN ('" + "', '".join(DSIR_TARGET_SRCS) + "')"

#: 16-bit md5 prefix -> bucket in [0, NBQ_B): the engine's standard
#: portable hash (identical hex digest on both engines).
_NBQ_BUCKET_DUCK = (
    "CAST('0x' || substr(md5(gram), 1, 4) AS BIGINT) % " + str(NBQ_B)
)
_NBQ_BUCKET_SPARK = (
    f"CAST(conv(substr(md5(gram), 1, 4), 16, 10) AS BIGINT) % {NBQ_B}"
)


def _lp_micro_sql(c: str, tot: str) -> str:
    """Integer micro-nat add-1-smoothed log-likelihood of a bucket:
    floor-form micro rounding of ln((c + 1) / (tot + B)) — det_round's
    double-log convention, landed directly as BIGINT."""
    return (
        f"CAST(floor(ln((({c}) + 1.0) / (({tot}) + {NBQ_B}.0))"
        " * 1000000 + 0.5) AS BIGINT)"
    )


def _lnr_micro_sql(num: str, den: str) -> str:
    """Integer micro-nat log of an exact count ratio (class priors):
    floor(ln(num/den)*1e6 + 0.5) as BIGINT — negative-safe (both
    engines round half-way toward +inf identically, det_round note)."""
    return (
        f"CAST(floor(ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
        " * 1000000 + 0.5) AS BIGINT)"
    )


def nbq_hashed_grams_of(
    docs: DataFrame,
    positive_pred: str = _NBQ_POS_PRED,
    extra: str | None = None,
) -> DataFrame:
    """The feature program as a pure transformation — (doc_id,
    label_hq, is_train, bucket), one row per lowercased unigram/bigram
    occurrence. Shared by the one-shot query and any incremental
    maintenance so the paths can never drift (the DSIR seam shape):
    the count state (``nbq_state_for``) and the scorer
    (``nbq_score_against``) both run it.
    ``positive_pred`` parameterizes the label column for callers
    fitting against a different reference corpus (and the closed-form
    tests); ``extra`` names one pass-through column (the single-pass
    fold fixture's batch tag — queries/maintainer_reads.py)."""
    grp = [extra] if extra is not None else []
    toked = docs.selectExpr(
        "doc_id",
        *grp,
        f"{positive_pred} AS label_hq",
        _NBQ_IS_TRAIN_SPARK.format(c="doc_id") + " AS is_train",
        "filter(split(lower(replace(text, chr(10), ' ')), ' '),"
        " x -> x != '') AS words",
    )
    grams = toked.select(
        "doc_id",
        *grp,
        "label_hq",
        "is_train",
        F.explode(
            F.expr(
                "concat(words, transform("
                "  slice(sequence(1, size(words)), 1,"
                "        greatest(size(words) - 1, 0)),"
                "  i -> concat(element_at(words, i), ' ',"
                "              element_at(words, i + 1))))"
            )
        ).alias("gram"),
    )
    return grams.select(
        "doc_id",
        *grp,
        "label_hq",
        "is_train",
        F.expr(_NBQ_BUCKET_SPARK).alias("bucket"),
    )


#: Sentinel bucket id of the NB state's prior row (train DOC counts).
PRIOR_BUCKET = -1


def nbq_state_for(
    docs: DataFrame,
    positive_pred: str = _NBQ_POS_PRED,
    extra: str | None = None,
) -> DataFrame:
    """The fit's state program: a multinomial NB model IS its training
    counts, all plain sums. One (bucket, cp, cn) row per feature bucket
    carries the TRAIN-split gram counts per class, and ONE sentinel row
    ``bucket = PRIOR_BUCKET`` carries the train DOC counts (np, nn) in
    the same two columns — so the whole model is a single additive
    frame. The one-shot fit reads it over the whole corpus
    (``nbq_model_of``); the maintainer (``NBQ_STATE``) folds it batch by
    batch.

    ``extra`` names a pass-through grouping column (the single-pass
    fold fixture's batch tag — queries/maintainer_reads.py). In
    extra mode the prior groups by the tag too, so a batch with zero
    train documents contributes no prior row instead of a (0, 0) row;
    the SUM-merged state is identical whenever the corpus has at
    least one train document (always true of the driver fixtures)."""
    hashed = nbq_hashed_grams_of(docs, positive_pred, extra=extra)
    return _nbq_counts(docs, hashed, positive_pred, extra)


def _nbq_counts(
    docs: DataFrame, hashed: DataFrame, positive_pred: str, extra: str | None
) -> DataFrame:
    grp = [extra] if extra is not None else []
    grams = hashed.filter("is_train").groupBy("bucket", *grp).agg(
        F.sum(F.col("label_hq").cast("long")).alias("cp"),
        F.sum((~F.col("label_hq")).cast("long")).alias("cn"),
    )
    prior = (
        docs.selectExpr(
            *grp,
            f"{positive_pred} AS label_hq",
            _NBQ_IS_TRAIN_SPARK.format(c="doc_id") + " AS is_train",
        )
        .filter("is_train")
        # Coalesce to 0: a batch with ZERO train-split documents
        # aggregates to one (NULL, NULL) row, and a NULL prior count
        # seeded into maintained state would stay NULL until a
        # train-carrying batch merges and F.sum skips it. With 0s the
        # state is well-formed from the first rotation; the model
        # itself still needs at least one train doc PER CLASS before
        # the prior is usable (module docstring precondition).
        .groupBy(*grp)  # empty grp = the global agg (always one row)
        .agg(
            F.coalesce(F.sum(F.col("label_hq").cast("long")), F.lit(0)).alias("cp"),
            F.coalesce(F.sum((~F.col("label_hq")).cast("long")), F.lit(0)).alias("cn"),
        )
        .select(F.lit(PRIOR_BUCKET).cast("long").alias("bucket"), *grp, "cp", "cn")
    )
    return grams.select("bucket", *grp, "cp", "cn").unionByName(prior)


#: The NB model's maintained state: the per-class counts are plain
#: sums, so labeled batches fold in by sum and the model re-derives
#: exactly (never approximately) from state alone. The prior sentinel
#: row keeps the whole model in one additive frame, so the shared merge
#: handles it unchanged; at most NBQ_B + 1 rows.
NBQ_STATE = KeyedState(nbq_state_for, ("bucket",), {"cp": "sum", "cn": "sum"})


def nbq_model_from_state(state: DataFrame):
    """Read the (weights, prior) model from the count state alone:
    the <= {NBQ_B}-row (bucket, w_micro) table — w_micro = lp_hq -
    lp_lq in exact integer micro-nats, with add-1 smoothing giving
    unseen buckets their nonzero weight too (which is why the table
    enumerates range(NBQ_B) instead of only observed buckets) — and
    the 1-row prior_micro frame. The gram totals are state sums, so
    the read never re-reads a document."""
    spark = state.sparkSession
    grams = state.filter(F.col("bucket") != PRIOR_BUCKET)
    # Coalesced: with no train gram the sums run over no rows, and the
    # totals are 0 (the oracle's COUNT(*)), not NULL.
    tots = grams.agg(
        F.coalesce(F.sum("cp"), F.lit(0)).alias("t_pos"),
        F.coalesce(F.sum("cn"), F.lit(0)).alias("t_neg"),
    )
    w = (
        spark.range(NBQ_B)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(grams), "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .selectExpr(
            "bucket",
            f"{_lp_micro_sql('COALESCE(cp, 0)', 't_pos')}"
            f" - {_lp_micro_sql('COALESCE(cn, 0)', 't_neg')} AS w_micro",
        )
    )
    # A global aggregate, so the prior is one row whatever the state
    # holds, as the oracle's `prior` CTE is. A state with no train
    # document has no prior row (a fold of batches without one) or a
    # (0, 0) row (the one-shot program): NULL sums or NULLIF's NULL
    # (0/0 would raise under ANSI) give it a NULL prior, as the
    # oracle's ln of a NULL ratio is, and so every margin is NULL.
    prior = (
        state.filter(F.col("bucket") == PRIOR_BUCKET)
        .agg(F.sum("cp").alias("np"), F.sum("cn").alias("nn"))
        .selectExpr("np", "nn", "NULLIF(np + nn, 0) AS n_train")
        .selectExpr(
            f"{_lnr_micro_sql('np', 'n_train')}"
            f" - {_lnr_micro_sql('nn', 'n_train')} AS prior_micro"
        )
    )
    return w, prior


def nbq_model_of(docs: DataFrame, positive_pred: str = _NBQ_POS_PRED):
    """Fit only: returns (weights, prior) — ``nbq_model_from_state``
    over the whole corpus's state. This is the artifact a production
    gate persists once and applies at the door (the deployment split
    the papers imply: train on the standing corpus, filter new crawl
    as it arrives)."""
    return nbq_model_from_state(nbq_state_for(docs, positive_pred))


def nbq_score_against(
    docs: DataFrame,
    w: DataFrame,
    prior: DataFrame,
    positive_pred: str = _NBQ_POS_PRED,
) -> DataFrame:
    """Score documents against an ALREADY-FITTED (weights, prior)
    model — the ingest-time path: new documents broadcast-join the
    tiny weight table, no training state touched. Emits the same
    (doc_id, label_hq, n_grams, margin_micro, pred_hq) surface as the
    one-shot query minus the split flag (arriving crawl has no split).
    Scores are batching-invariant because the model is fixed — the
    property the streaming parity test pins."""
    return _nbq_score_grams(nbq_hashed_grams_of(docs, positive_pred), w, prior)


def _nbq_score_grams(
    hashed: DataFrame, w: DataFrame, prior: DataFrame, *carry: str
) -> DataFrame:
    """The scorer over a hashed-gram frame; ``carry`` names per-doc
    columns of that frame to keep (the one-shot query's split flag)."""
    db = hashed.groupBy("doc_id", "label_hq", *carry, "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        db.join(F.broadcast(w), "bucket")
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id", "label_hq", *carry, "prior_micro")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("w_micro")).alias("dot_micro"),
        )
        .selectExpr(
            "doc_id",
            "label_hq",
            *carry,
            "n_grams",
            "CAST(prior_micro + dot_micro AS BIGINT) AS margin_micro",
            "(prior_micro + dot_micro) >= 0 AS pred_hq",
        )
    )


#: The fit's CTE chain (feature program -> bucket counts -> smoothed
#: weight table -> prior), shared VERBATIM by the scores oracle below
#: and by maintainer_reads' state-derived model legs (the battery
#: construction rule: one SQL definition, zero drift).
_NBQ_FIT_CTES = f"""toked AS MATERIALIZED (
      SELECT doc_id, {_NBQ_POS_PRED} AS label_hq,
             {_NBQ_IS_TRAIN_SQL.format(c="doc_id")} AS is_train,
             list_filter(string_split(lower(replace(text, chr(10), ' ')), ' '),
                         x -> x <> '') AS words
      FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, label_hq, is_train,
             unnest(words || list_transform(range(1, len(words)),
                    i -> words[i] || ' ' || words[i+1])) AS gram
      FROM toked
    ),
    hashed AS MATERIALIZED (
      SELECT doc_id, label_hq, is_train, {_NBQ_BUCKET_DUCK} AS bucket
      FROM grams
    ),
    cpos AS (
      SELECT bucket, COUNT(*) AS cp FROM hashed
      WHERE is_train AND label_hq GROUP BY 1
    ),
    cneg AS (
      SELECT bucket, COUNT(*) AS cn FROM hashed
      WHERE is_train AND NOT label_hq GROUP BY 1
    ),
    tots AS (
      SELECT (SELECT COUNT(*) FROM hashed WHERE is_train AND label_hq) AS t_pos,
             (SELECT COUNT(*) FROM hashed WHERE is_train AND NOT label_hq) AS t_neg
    ),
    w AS (
      SELECT b.range AS bucket,
             {_lp_micro_sql("COALESCE(p.cp, 0)", "tots.t_pos")}
             - {_lp_micro_sql("COALESCE(n.cn, 0)", "tots.t_neg")} AS w_micro
      FROM range({NBQ_B}) b
      LEFT JOIN cpos p ON p.bucket = b.range
      LEFT JOIN cneg n ON n.bucket = b.range
      CROSS JOIN tots
    ),
    prior AS (
      SELECT {_lnr_micro_sql("np", "np + nn")}
             - {_lnr_micro_sql("nn", "np + nn")} AS prior_micro
      FROM (
        SELECT SUM(CASE WHEN label_hq THEN 1 ELSE 0 END) AS np,
               SUM(CASE WHEN label_hq THEN 0 ELSE 1 END) AS nn
        FROM toked WHERE is_train
      )
    )"""

_NBQ_SCORES_ORACLE = f"""
    WITH {_NBQ_FIT_CTES},
    db AS (
      SELECT doc_id, label_hq, is_train, bucket, COUNT(*) AS c
      FROM hashed GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT db.doc_id, db.label_hq, db.is_train,
             CAST(SUM(db.c) AS BIGINT) AS n_grams,
             CAST(p.prior_micro + SUM(db.c * w.w_micro) AS BIGINT)
               AS margin_micro
      FROM db JOIN w USING (bucket) CROSS JOIN prior p
      GROUP BY db.doc_id, db.label_hq, db.is_train, p.prior_micro
    )
    SELECT doc_id, label_hq, is_train, n_grams, margin_micro,
           margin_micro >= 0 AS pred_hq,
           (margin_micro >= 0) = label_hq AS correct
    FROM scored
"""


@register("nb_quality_scores", oracle=_NBQ_SCORES_ORACLE)
def nb_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter, fit + scored in one plan: a
    multinomial Naive Bayes over {NBQ_B} hashed unigram+bigram buckets
    (add-1 smoothing), trained on the content-addressed 80% split with
    ``label_hq`` = membership in the DSIR target sources, then applied
    to EVERY document (train and held-out, flagged apart).

    ``margin_micro`` is the exact integer micro-nat log-odds
    ``ln p(hq|x) - ln p(lq|x)`` = prior difference + sum of per-bucket
    weight times count; ``pred_hq`` (margin >= 0) is the keep decision
    a production gate would apply to unlabeled crawl, and ``correct``
    makes the held-out rows directly consumable by the eval.

    The fit is the maintainer's own program read over the whole
    corpus (``nbq_model_from_state`` over the counts ``nbq_state_for``
    takes) and the scoring is the ingest-time scorer's
    (``nbq_score_against``), so the one-shot query, the maintained
    model and the streaming scorer share one definition; the pipeline
    only feeds both halves one hashed-gram frame.

    Scale shape (the DSIR audit carries over): the count state is ONE
    partial-aggregated groupBy of the train grams plus a 1-row prior
    aggregate — <= {NBQ_B} + 1 rows REGARDLESS of corpus size — and the
    weight table read from it broadcasts onto the per-(doc, bucket)
    counts, a partial-aggregated shuffle with at most {NBQ_B} keys per
    doc; totals and priors are 1-row broadcast cross joins. The per-doc
    reduce is one groupBy. Fitting is one aggregation — no optimizer
    iterations, no driver-side state — which is the reason NB is the
    family member chosen for the distributed gate. No global sort, no
    window, no Python anywhere.
    """
    return nb_quality_scores_of(spread(tbl(spark, sf_dir, "documents"), "doc_id"))


def nb_quality_scores_of(
    docs: DataFrame, positive_pred: str = _NBQ_POS_PRED
) -> DataFrame:
    """The fit+score pipeline over any (doc_id, source, text) frame —
    the seam the closed-form property tests drive with handcrafted
    corpora (and a caller would point at a different reference
    corpus via ``positive_pred``)."""
    # The pipeline's one cut: the fit (the count state, read three
    # times) and the scoring all read the hashed grams, and without it
    # the md5 gram explode runs once per consumer. Paired at sf0.1 on 4
    # cores, nb_quality_scores build + execute: 2.55 / 3.05 s with the
    # cut against 3.74 / 3.61 s without; task time 5.7 / 6.7 s against
    # 9.2 / 9.1 s.
    hashed = nbq_hashed_grams_of(docs, positive_pred).localCheckpoint(eager=False)
    w, prior = nbq_model_from_state(_nbq_counts(docs, hashed, positive_pred, None))
    # is_train rides the grouping keys, as a stored column of the cut:
    # recomputed from doc_id after the scoring, a NOT is_train filter
    # downstream (nb_quality_eval) is pushed into the gram scan as an md5
    # per gram row (+0.7 s of task time at sf0.1).
    return _nbq_score_grams(hashed, w, prior, "is_train").select(
        "*", (F.col("pred_hq") == F.col("label_hq")).alias("correct")
    )


#: metric -> (numerator SQL over the confusion counts, denominator).
#: One definition drives the melt on BOTH engines so the eval surface
#: cannot drift between them. f1 = 2PR/(P+R) simplified to the exact
#: rational 2tp / (2tp + fp + fn) — no double anywhere.
_NBQ_EVAL_METRICS: list[tuple[str, str, str]] = [
    ("tp", "tp", "n"),
    ("fp", "fp", "n"),
    ("fn", "fn", "n"),
    ("tn", "tn", "n"),
    ("accuracy", "tp + tn", "n"),
    ("precision", "tp", "tp + fp"),
    ("recall", "tp", "tp + fn"),
    ("f1", "2 * tp", "2 * tp + fp + fn"),
]


def _eval_rows_sql(micro) -> str:
    """The 8-row melt as a UNION ALL, parameterized by the engine's
    micro-ratio helper (micro_sql / micro_spark). A zero denominator
    (e.g. precision when nothing was predicted positive) yields NULL,
    identically on both engines — micro's den > 0 precondition."""
    parts = []
    for metric, num, den in _NBQ_EVAL_METRICS:
        parts.append(
            f"SELECT '{metric}' AS metric, CAST({num} AS BIGINT) AS num,"
            f" CAST({den} AS BIGINT) AS den,"
            f" CASE WHEN ({den}) > 0 THEN CAST({micro(num, den)} AS BIGINT)"
            " ELSE CAST(NULL AS BIGINT) END AS value_micro FROM c"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "nb_quality_eval",
    # Embeds the scores oracle verbatim (battery construction rule):
    # the eval can never drift from the classifier it measures.
    oracle=f"""
    WITH s AS MATERIALIZED ({_NBQ_SCORES_ORACLE}),
    c AS MATERIALIZED (
      SELECT
        SUM(CASE WHEN label_hq AND pred_hq THEN 1 ELSE 0 END) AS tp,
        SUM(CASE WHEN NOT label_hq AND pred_hq THEN 1 ELSE 0 END) AS fp,
        SUM(CASE WHEN label_hq AND NOT pred_hq THEN 1 ELSE 0 END) AS fn,
        SUM(CASE WHEN NOT label_hq AND NOT pred_hq THEN 1 ELSE 0 END) AS tn,
        COUNT(*) AS n
      FROM s WHERE NOT is_train
    )
    {_eval_rows_sql(micro_sql)}
    """,
)
def nb_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the NB quality filter: the four
    confusion cells plus accuracy / precision / recall / F1, each as
    (metric, num, den, value_micro) with the ratio in exact round-half-
    up integer micro-units (micro_sql/micro_spark — counts are
    non-negative, satisfying the helpers' precondition; a zero
    denominator yields NULL on both engines).

    This is the go/no-go artifact for a filter gate: the papers ship a
    classifier only with its held-out precision/recall, and at 100 TB
    the eval is the cheap side — one aggregate over the already-scored
    held-out rows (a 1-row frame melted to 8), nothing rescanned.
    """
    return nb_quality_eval_from(nb_quality_scores(spark, sf_dir))


def nb_quality_eval_from(scores: DataFrame) -> DataFrame:
    """The eval over an ALREADY-BUILT scores frame — the sharing seam
    for battery use (one classifier fit feeds both legs)."""
    c = scores.filter("NOT is_train").agg(
        F.sum(F.expr("CASE WHEN label_hq AND pred_hq THEN 1 ELSE 0 END")).alias("tp"),
        F.sum(F.expr("CASE WHEN NOT label_hq AND pred_hq THEN 1 ELSE 0 END")).alias("fp"),
        F.sum(F.expr("CASE WHEN label_hq AND NOT pred_hq THEN 1 ELSE 0 END")).alias("fn"),
        F.sum(F.expr("CASE WHEN NOT label_hq AND NOT pred_hq THEN 1 ELSE 0 END")).alias("tn"),
        F.count(F.lit(1)).alias("n"),
    )
    # stack() melts the ONE aggregate row into the 8 metric rows in a
    # single plan — a union of 8 selects would replay the aggregate
    # (and, uncheckpointed, the whole classifier) 8 times.
    tuples = ", ".join(
        f"'{metric}', CAST({num} AS BIGINT), CAST({den} AS BIGINT),"
        f" CASE WHEN ({den}) > 0 THEN CAST({micro_spark(num, den)} AS BIGINT)"
        " ELSE CAST(NULL AS BIGINT) END"
        for metric, num, den in _NBQ_EVAL_METRICS
    )
    return c.selectExpr(
        f"stack({len(_NBQ_EVAL_METRICS)}, {tuples})"
        " AS (metric, num, den, value_micro)"
    )


# ---------------------------------------------------------------------------
# Calibration curve — the threshold sweep a production filter gate
# actually ships (VERDICT r9 #3). The GPT-3 Appendix A keep rule is
# exactly a threshold choice on this curve: score every document, then
# pick the operating point trading keep-rate against held-out
# precision/recall. The curve reports K operating points at exact
# margin-quantile thresholds plus the threshold-free ranking summary
# (tie-aware Mann-Whitney AUC) — all integer micro-units, no doubles.
# ---------------------------------------------------------------------------

#: Number of operating points on the calibration curve: threshold k
#: keeps (approximately) the top k/K of held-out documents by margin.
NBQ_CAL_K = 8

#: Deterministic cap on the evaluation sample: the curve is computed
#: over the first NBQ_CAL_MAX_EVAL held-out documents by doc_id
#: (content-addressed, so the sample is reproducible on any engine).
#: This makes the sample's boundedness PLAN-VISIBLE — the global rank
#: windows sit above a TakeOrderedAndProject, satisfying the
#: registry-wide no-unbounded-global-window guard — and is also the
#: honest 100 TB design: a gate is calibrated on a bounded eval set,
#: not on billions of held-out documents.
NBQ_CAL_MAX_EVAL = 100_000

_NBQ_CAL_ORACLE = f"""
    WITH s AS MATERIALIZED ({_NBQ_SCORES_ORACLE}),
    h AS MATERIALIZED (
      SELECT doc_id, label_hq, margin_micro FROM s WHERE NOT is_train
      ORDER BY doc_id LIMIT {NBQ_CAL_MAX_EVAL}
    ),
    tot AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tot,
             CAST(SUM(CASE WHEN label_hq THEN 1 ELSE 0 END) AS BIGINT) AS p_tot
      FROM h
    ),
    ranked AS (
      SELECT margin_micro,
             ROW_NUMBER() OVER (ORDER BY margin_micro DESC, doc_id) AS rn
      FROM h
    ),
    ks AS (SELECT unnest(ARRAY{list(range(1, NBQ_CAL_K + 1))}) AS k),
    thr AS (
      SELECT ks.k, r.margin_micro AS thr_micro
      FROM ks CROSS JOIN tot
      JOIN ranked r
        ON r.rn = ((ks.k * tot.n_tot + {NBQ_CAL_K - 1}) // {NBQ_CAL_K})
    ),
    kept AS (
      SELECT t.k, t.thr_micro,
             CAST(COUNT(*) AS BIGINT) AS n_keep,
             CAST(SUM(CASE WHEN h.label_hq THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM thr t JOIN h ON h.margin_micro >= t.thr_micro
      GROUP BY t.k, t.thr_micro
    ),
    curve AS (
      SELECT 'keep_rate' AS metric, k, thr_micro, n_keep AS num, n_tot AS den
      FROM kept CROSS JOIN tot
      UNION ALL
      SELECT 'precision' AS metric, k, thr_micro, tp, n_keep FROM kept
      UNION ALL
      SELECT 'recall' AS metric, k, thr_micro, tp, p_tot
      FROM kept CROSS JOIN tot
    ),
    mr AS (
      SELECT label_hq,
             2 * RANK() OVER (ORDER BY margin_micro ASC)
               + COUNT(*) OVER (PARTITION BY margin_micro) - 1 AS mr2
      FROM h
    ),
    auc AS (
      SELECT 'auc' AS metric, 0 AS k, CAST(NULL AS BIGINT) AS thr_micro,
             CAST(SUM(CASE WHEN label_hq THEN mr2 ELSE 0 END)
                  - p_tot * (p_tot + 1) AS BIGINT) AS num,
             CAST(2 * p_tot * (n_tot - p_tot) AS BIGINT) AS den
      FROM mr CROSS JOIN tot
      GROUP BY p_tot, n_tot
    )
    SELECT metric, CAST(k AS BIGINT) AS k, thr_micro, num, den,
           CASE WHEN den > 0 THEN CAST({micro_sql("num", "den")} AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS value_micro
    FROM (SELECT * FROM curve UNION ALL SELECT * FROM auc)
"""


@register("nb_quality_calibration", oracle=_NBQ_CAL_ORACLE)
def nb_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep calibration of the NB quality gate over the
    held-out split: {NBQ_CAL_K} operating points — threshold k is the
    exact margin at held-out rank ceil(k*N/{NBQ_CAL_K}) (descending,
    doc_id tiebreak) — each reporting keep_rate / precision / recall
    as (metric, k, thr_micro, num, den, value_micro) in exact
    round-half-up micro-units, plus one threshold-free 'auc' row
    (tie-aware Mann-Whitney: midranks via 2*rank + n_eq - 1, so the
    numerator 2*R_pos - P*(P+1) and denominator 2*P*N_neg stay exact
    integers). This is the artifact the GPT-3 App. A Pareto-keep rule
    reads: pick the threshold, get the promised keep-rate and
    precision.

    Scale shape: the curve is computed on the HELD-OUT sample, which
    is bounded by construction at deployment (the gate's eval set,
    not the corpus) — the one global window (rank over margins) runs
    over that sample only; the K-threshold fan-out is a broadcast of
    {NBQ_CAL_K} rows against the sample; everything upstream is the
    already-audited classifier plan. Nothing touches corpus grain.
    """
    return nb_quality_calibration_from(nb_quality_scores(spark, sf_dir))


def nb_quality_calibration_from(scores: DataFrame) -> DataFrame:
    """The calibration sweep over an ALREADY-BUILT scores frame — the
    sharing seam text_mining_battery uses so one classifier fit feeds
    the scores, eval, and calibration legs."""
    from pyspark.sql import Window

    from namegraph_collections_spark.queries.registry import ranked_topk

    spark = scores.sparkSession
    # localCheckpoint the SCORES (not the sample): the held-out slice
    # feeds FIVE consumers (total counts, the rank window, the
    # threshold join, the kept join, the AUC midranks) — each replays
    # only the cheap filter + TakeOrdered from the checkpointed
    # scores. The sample itself stays UNcheckpointed so its
    # TakeOrderedAndProject bound remains visible below the two global
    # rank windows (the plan guard's requirement).
    scores = scores.localCheckpoint(eager=False)
    h = ranked_topk(
        scores.filter("NOT is_train").select(
            "doc_id", "label_hq", "margin_micro"
        ),
        NBQ_CAL_MAX_EVAL,
        F.asc("doc_id"),
    ).drop("rnk")
    tot = h.agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.sum(F.col("label_hq").cast("long")).cast("long").alias("p_tot"),
    )
    ranked = h.select(
        "margin_micro",
        F.row_number()
        .over(Window.orderBy(F.desc("margin_micro"), F.asc("doc_id")))
        .cast("long")
        .alias("rn"),
    )
    ks = spark.range(1, NBQ_CAL_K + 1).select(F.col("id").alias("k"))
    thr = (
        ks.crossJoin(F.broadcast(tot))
        .withColumn(
            "rn",
            F.expr(f"(k * n_tot + {NBQ_CAL_K - 1}) div {NBQ_CAL_K}"),
        )
        .join(ranked, "rn")
        .select("k", F.col("margin_micro").alias("thr_micro"))
    )
    kept = (
        h.join(F.broadcast(thr), F.col("margin_micro") >= F.col("thr_micro"))
        .groupBy("k", "thr_micro")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keep"),
            F.sum(F.col("label_hq").cast("long")).cast("long").alias("tp"),
        )
        .crossJoin(F.broadcast(tot))
    )
    curve = kept.selectExpr(
        "k",
        "thr_micro",
        "stack(3,"
        " 'keep_rate', CAST(n_keep AS BIGINT), CAST(n_tot AS BIGINT),"
        " 'precision', CAST(tp AS BIGINT), CAST(n_keep AS BIGINT),"
        " 'recall', CAST(tp AS BIGINT), CAST(p_tot AS BIGINT))"
        " AS (metric, num, den)",
    ).select("metric", "k", "thr_micro", "num", "den")
    mr = h.select(
        "label_hq",
        (
            F.lit(2) * F.rank().over(Window.orderBy(F.asc("margin_micro")))
            + F.count(F.lit(1)).over(Window.partitionBy("margin_micro"))
            - F.lit(1)
        )
        .cast("long")
        .alias("mr2"),
    )
    auc = (
        mr.agg(
            F.sum(F.expr("CASE WHEN label_hq THEN mr2 ELSE 0 END")).alias(
                "rpos2"
            )
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "'auc' AS metric",
            "CAST(0 AS BIGINT) AS k",
            "CAST(NULL AS BIGINT) AS thr_micro",
            "CAST(rpos2 - p_tot * (p_tot + 1) AS BIGINT) AS num",
            "CAST(2 * p_tot * (n_tot - p_tot) AS BIGINT) AS den",
        )
    )
    return curve.unionByName(auc).selectExpr(
        "metric",
        "k",
        "thr_micro",
        "num",
        "den",
        "CASE WHEN den > 0"
        f" THEN CAST({micro_spark('num', 'den')} AS BIGINT)"
        " ELSE CAST(NULL AS BIGINT) END AS value_micro",
    )
