"""NB quality classifier (queries/quality_classifier.py): a
closed-form Python reference on a handcrafted corpus, plus the
structural invariants of the held-out eval on the real testdata."""

from __future__ import annotations

import hashlib
import math

from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.quality_classifier import (
    NBQ_B,
    NBQ_TRAIN_LO,
    nb_quality_scores_of,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Independent Python reference: the same NB-with-hashed-features math,
# written from the formulas (not from the SQL), so an error in either
# engine expression would break the match.
# ---------------------------------------------------------------------------
def _bucket16(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)


def _micro_ln(x: float) -> int:
    return math.floor(math.log(x) * 1_000_000 + 0.5)


def _ref_nb(corpus: list[tuple[int, str, str]], positive: set[str]):
    """corpus rows: (doc_id, source, text). Returns {doc_id: (label,
    is_train, n_grams, margin_micro)}."""
    feats: dict[int, dict[int, int]] = {}
    meta: dict[int, tuple[bool, bool]] = {}
    for doc_id, source, text in corpus:
        words = [w for w in text.replace("\n", " ").lower().split(" ") if w]
        grams = words + [f"{a} {b}" for a, b in zip(words, words[1:])]
        counts: dict[int, int] = {}
        for g in grams:
            b = _bucket16(g) % NBQ_B
            counts[b] = counts.get(b, 0) + 1
        feats[doc_id] = counts
        meta[doc_id] = (source in positive, _bucket16(str(doc_id)) < NBQ_TRAIN_LO)
    t_pos = sum(c for d, m in feats.items() if meta[d][0] and meta[d][1] for c in m.values())
    t_neg = sum(c for d, m in feats.items() if (not meta[d][0]) and meta[d][1] for c in m.values())
    cpos: dict[int, int] = {}
    cneg: dict[int, int] = {}
    for d, m in feats.items():
        label, train = meta[d]
        if not train:
            continue
        tgt = cpos if label else cneg
        for b, c in m.items():
            tgt[b] = tgt.get(b, 0) + c
    np = sum(1 for d in feats if meta[d] == (True, True))
    nn = sum(1 for d in feats if meta[d][1] and not meta[d][0])
    prior = _micro_ln(np / (np + nn)) - _micro_ln(nn / (np + nn))
    out = {}
    for d, m in feats.items():
        dot = 0
        for b, c in m.items():
            w = _micro_ln((cpos.get(b, 0) + 1) / (t_pos + NBQ_B)) - _micro_ln(
                (cneg.get(b, 0) + 1) / (t_neg + NBQ_B)
            )
            dot += c * w
        out[d] = (meta[d][0], meta[d][1], sum(m.values()), prior + dot)
    return out


def test_scores_match_python_reference_closed_form(spark):
    """Handcrafted 8-doc corpus with signal: positive docs say
    'good prose flows well', negatives say 'spam spam buy now'. The
    doc_ids are arbitrary — the reference derives the same md5 split,
    so every row (train AND held-out) must agree exactly."""
    corpus = [
        (1, "srcA", "good prose flows well today"),
        (2, "srcA", "good prose reads well and flows"),
        (3, "srcA", "prose flows well"),
        (4, "srcB", "spam spam buy now cheap"),
        (5, "srcB", "buy now spam offer cheap deal"),
        (6, "srcB", "spam offer buy cheap"),
        (7, "srcA", "good prose flows"),
        (8, "srcB", "spam buy now now"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, source string, text string")
    got = {
        r.doc_id: (r.label_hq, r.is_train, r.n_grams, r.margin_micro)
        for r in nb_quality_scores_of(docs, positive_pred="source = 'srcA'").collect()
    }
    want = _ref_nb(corpus, {"srcA"})
    assert got == want
    # the handcrafted signal is strong enough that the classifier
    # actually separates the classes on its TRAIN rows (sanity that
    # the margin sign carries information, not just parity)
    for d, (label, train, _n, margin) in want.items():
        if train:
            assert (margin >= 0) == label, (d, margin, label)


def test_split_has_both_classes_both_ways_on_testdata(spark):
    """Documented precondition of the operator on the shipped corpus:
    train split contains both classes (ln of class counts), and the
    held-out side is non-empty for the eval."""
    s = REGISTRY["nb_quality_scores"].fn(spark, SF)
    cells = {
        (r.label_hq, r.is_train): r["count"]
        for r in s.groupBy("label_hq", "is_train").count().collect()
    }
    assert cells.get((True, True), 0) > 0
    assert cells.get((False, True), 0) > 0
    assert cells.get((True, False), 0) + cells.get((False, False), 0) > 0


def test_eval_cells_partition_the_held_out_rows(spark):
    """tp+fp+fn+tn == n == the number of held-out scored docs, and
    every ratio row recomputes from the cells with round-half-up
    micro arithmetic."""
    rows = {r.metric: r for r in REGISTRY["nb_quality_eval"].fn(spark, SF).collect()}
    tp, fp = rows["tp"].num, rows["fp"].num
    fn, tn = rows["fn"].num, rows["tn"].num
    n = rows["tp"].den
    assert tp + fp + fn + tn == n
    held = (
        REGISTRY["nb_quality_scores"].fn(spark, SF).filter("NOT is_train").count()
    )
    assert n == held

    def micro(num: int, den: int) -> int | None:
        return (num * 1_000_000 + den // 2) // den if den > 0 else None

    assert rows["accuracy"].value_micro == micro(tp + tn, n)
    assert rows["precision"].value_micro == micro(tp, tp + fp)
    assert rows["recall"].value_micro == micro(tp, tp + fn)
    assert rows["f1"].value_micro == micro(2 * tp, 2 * tp + fp + fn)


def test_margin_sign_is_the_prediction(spark):
    s = REGISTRY["nb_quality_scores"].fn(spark, SF)
    bad = s.filter("(margin_micro >= 0) != pred_hq OR (pred_hq = label_hq) != correct")
    assert bad.count() == 0


def _scored_rows(df):
    cols = ["doc_id", "label_hq", "n_grams", "margin_micro", "pred_hq"]
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_fit_apply_split_reproduces_the_one_shot_scores(spark):
    """nbq_model_of + nbq_score_against over the same corpus emit
    exactly the one-shot query's scores (minus the split flag) — the
    fit/apply seam cannot drift from the registered query."""
    from namegraph_collections_spark.queries.quality_classifier import (
        nbq_model_of,
        nbq_score_against,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w, prior = nbq_model_of(docs)
    got = _scored_rows(nbq_score_against(docs, w, prior))
    want = _scored_rows(REGISTRY["nb_quality_scores"].fn(spark, SF))
    assert got == want


def test_streaming_scorer_matches_batch_scores(spark, tmp_path):
    """Ingest parity: draining a two-file landing zone through the
    scoring stream against a fitted model appends exactly the rows
    the batch scorer computes over the union — scores are
    batching-invariant because the model is fixed."""
    import shutil

    from namegraph_collections_spark.queries.quality_classifier import (
        nbq_model_of,
        nbq_score_against,
    )
    from namegraph_collections_spark.streaming.filter_stream import (
        read_documents_stream,
    )
    from namegraph_collections_spark.streaming import run_scoring_stream

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w, prior = nbq_model_of(docs)
    # materialize the fitted model the way a deployment would (the
    # broadcast sides must not recompute per micro-batch)
    w = spark.createDataFrame(w.collect(), w.schema)
    prior = spark.createDataFrame(prior.collect(), prior.schema)

    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["doc_id % 2 = 0", "doc_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    out = str(tmp_path / "scored")
    run_scoring_stream(
        read_documents_stream(spark, str(zone)),
        lambda b: nbq_score_against(b, w, prior),
        out,
        str(tmp_path / "ckpt"),
    )
    got = _scored_rows(spark.read.parquet(out))
    want = _scored_rows(nbq_score_against(docs, w, prior))
    assert got == want


def test_calibration_auc_closed_form_with_ties(spark):
    """Tie-aware Mann-Whitney AUC on a handcrafted held-out set:
    margins [10, 5, 5, 1] with labels [T, T, F, F] -> ascending
    midranks 4 and 2.5 for the positives, U = 6.5 - 3 = 3.5,
    AUC = 3.5/4 = 0.875 exactly."""
    from namegraph_collections_spark.queries.quality_classifier import (
        nb_quality_calibration_from,
    )

    scores = spark.createDataFrame(
        [
            (1, True, False, 10),
            (2, True, False, 5),
            (3, False, False, 5),
            (4, False, False, 1),
            # train rows must be excluded from the curve entirely
            (5, True, True, 999),
        ],
        "doc_id long, label_hq boolean, is_train boolean, margin_micro long",
    )
    out = {r.metric: r for r in nb_quality_calibration_from(scores).collect()
           if r.metric == "auc"}
    auc = out["auc"]
    # num = 2*R_pos - P*(P+1) = 13 - 6 = 7; den = 2*P*N = 8
    assert (auc.num, auc.den) == (7, 8)
    assert auc.value_micro == 875000
    assert auc.thr_micro is None


def test_calibration_keep_rate_is_monotone_and_exact(spark):
    """Operating point k keeps the top ~k/K by margin: keep counts are
    nondecreasing in k and the k=K point keeps everything."""
    from namegraph_collections_spark.queries.quality_classifier import (
        NBQ_CAL_K,
        nb_quality_calibration,
    )

    rows = nb_quality_calibration(spark, SF).collect()
    keep = {r.k: r for r in rows if r.metric == "keep_rate"}
    assert sorted(keep) == list(range(1, NBQ_CAL_K + 1))
    counts = [keep[k].num for k in sorted(keep)]
    assert counts == sorted(counts)
    n_tot = keep[1].den
    assert keep[NBQ_CAL_K].num == n_tot
    assert keep[NBQ_CAL_K].value_micro == 1000000
    # precision/recall rows exist for every operating point
    for m in ("precision", "recall"):
        assert {r.k for r in rows if r.metric == m} == set(range(1, NBQ_CAL_K + 1))
