"""Batch BM25 search scoring (SURVEY §2.9 ★) — "search as a Spark query".

The reference serves ranked full-text search from Elasticsearch
(bool{multi_match + rank_feature} — research/learning-to-rank/
measure-times.py:12-105). BM25 is fully expressible relationally. One
scorer, ``_bm25_scored``, computes it for ``bm25_search``,
``stemmed_bm25`` and ``multifield_bm25_variants``: per-field token
stats (doc length, tf) as row-wise array expressions, one broadcast
global aggregate for the corpus stats (n, avgdl, df), the Lucene BM25
formula as SQL text, then a ranked window for top-k.

Determinism: per-term contributions are rounded then summed as
DECIMAL(18,6) so the cross-engine sum is exact; ranking orders by the
rounded score with id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from namegraph_collections_spark.functions.det_round import round6_det, round6_det_sql
from namegraph_collections_spark.functions.porter_sql import porter_ctes
from namegraph_collections_spark.functions.stemmer import porter_stem, porter_stem_tokens_udf
from namegraph_collections_spark.queries.registry import ranked_topk, register, spread, tbl

QUERY_TERMS = ["spark", "join", "merge", "window"]
#: Query terms after the analyzer: what stemmed_bm25 actually matches.
STEMMED_TERMS = [porter_stem(t) for t in QUERY_TERMS]
K1 = 1.2
B = 0.75
TOP_K = 10


RESCORE_WINDOW = 50
FINAL_K = 10
RANK_FEATURE_PIVOT = 500  # ES rank_feature saturation default shape
RANK_FEATURE_BOOST = 100  # collection_rank boost in the reference query

# F13: the public-only filter every reference search carries
# (research/learning-to-rank/measure-times.py:15 — filter
# {'term': {'data.public': True}}). documents has no public column, so
# the flag is a deterministic derivation both engines compute alike.
PUBLIC_SQL = "doc_id % 7 <> 0"


def _public(docs: DataFrame) -> DataFrame:
    return docs.filter(PUBLIC_SQL)


def _bm25_scored(per_doc: DataFrame, fields: dict, terms: list[str], scores: dict) -> DataFrame:
    """BM25 scores of the docs of ``per_doc`` that hold a query term:
    one row of ``doc_id`` and the ``scores`` columns per such doc.

    ``fields`` maps each field ``f`` to (the SQL of its token array over
    ``per_doc``'s columns, its boost, its b). Each ``scores`` entry is a
    SQL sum over the per-(field, term) contributions ``c_<f>_<i>``,
    ``i`` indexing ``terms``; a term absent from a field contributes an
    exact 0.

    Plan shape: a field's ``dl`` is the size of its token array, and
    each term's tf is a size difference over the field's matched tokens
    (one ``filter(isin)`` per field, then ``array_remove`` per term): no
    explode, no token-stream aggregate. One broadcast global aggregate
    gives each field's ``n`` and ``avgdl`` and each (field, term) ``df``;
    a doc whose field has no token (a NULL text, the body of a short
    doc) is left out of that field's stats, as the oracles' unnest
    leaves it out. The build runs no Spark job, and the contributions
    are SQL text: a few py4j calls instead of one per Column operation.
    """
    in_terms = ", ".join(f"'{t}'" for t in terms)
    ix = range(len(terms))
    per_field = per_doc.selectExpr(
        "doc_id",
        *[f"size({s}) AS dl_{f}" for f, (s, _, _) in fields.items()],
        *[f"filter({s}, x -> x IN ({in_terms})) AS m_{f}" for f, (s, _, _) in fields.items()],
    ).selectExpr(
        "doc_id",
        *[f"dl_{f}" for f in fields],
        *[
            f"size(m_{f}) - size(array_remove(m_{f}, '{t}')) AS tf_{f}_{i}"
            for f in fields
            for i, t in enumerate(terms)
        ],
    )
    stats = per_field.selectExpr(
        *[f"count(CASE WHEN dl_{f} > 0 THEN 1 END) AS n_{f}" for f in fields],
        *[f"avg(CASE WHEN dl_{f} > 0 THEN CAST(dl_{f} AS DOUBLE) END) AS avgdl_{f}" for f in fields],
        *[f"sum(CAST(tf_{f}_{i} > 0 AS BIGINT)) AS df_{f}_{i}" for f in fields for i in ix],
    )

    def contrib(f: str, i: int) -> str:
        # idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), boosted, then
        # round6_det, with DOUBLE literals (a bare 0.5 is a DECIMAL in
        # Spark SQL): the same IEEE operations as the oracles'
        _, boost, b = fields[f]
        tf, df = f"tf_{f}_{i}", f"df_{f}_{i}"
        bm25 = (
            f"{boost}D * ln(1 + (n_{f} - {df} + 0.5D) / ({df} + 0.5D)) * ({tf} * {K1 + 1}D)"
            f" / ({tf} + {K1}D * (1 - {b}D + {b}D * dl_{f} / avgdl_{f}))"
        )
        return (
            f"CASE WHEN {tf} > 0 THEN CAST(floor(({bm25}) * 1000000.0D + 0.5D) / 1000000.0D"
            f" AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS c_{f}_{i}"
        )

    tfs = ", ".join(f"tf_{f}_{i}" for f in fields for i in ix)
    row = ", ".join(f"'{c}', CAST({s} AS DOUBLE)" for c, s in scores.items())
    # inline of NULL gives no row, so a doc without a query term is
    # dropped inside the generator. A Filter would be pushed below
    # spread()'s exchange into the single-task scan, and the stats
    # branch could then not reuse that exchange.
    return (
        per_field.crossJoin(F.broadcast(stats))
        .selectExpr(
            "doc_id",
            f"greatest({tfs}) > 0 AS hit",
            *[contrib(f, i) for f in fields for i in ix],
        )
        .selectExpr("doc_id", f"inline(CASE WHEN hit THEN array(named_struct({row})) END)")
    )


#: The one-field rows' score: the sum of the `text` field's terms.
_TEXT_SCORE = {"score": " + ".join(f"c_text_{i}" for i in range(len(QUERY_TERMS)))}


def _bm25_oracle(terms: list[str], ctes: str = "", tokens: str = "toks") -> str:
    """DuckDB oracle of a one-field BM25 top-k over the public
    documents' text, written in DuckDB SQL alone. The term frequencies
    count the (doc_id, token) rows of ``tokens``, which may read the
    extra ``ctes``; doc lengths and corpus averages count the raw
    tokens."""
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE {PUBLIC_SQL}
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclen),{ctes}
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM {tokens}
      WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    contrib AS (
      SELECT tf.doc_id,
        CAST({round6_det_sql(f'''
          ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
          * (tf.tf * ({K1} + 1))
          / (tf.tf + {K1} * (1 - {B} + {B} * doclen.dl / corpus.avgdl))''')}
        AS DECIMAL(18,6)) AS c
      FROM tf
      JOIN df ON tf.token = df.token
      JOIN doclen ON tf.doc_id = doclen.doc_id
      CROSS JOIN corpus
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score, rnk FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """


# --- LTR feature set (configure-ltr.py:92-121) ------------------------------
# The reference's RankLib feature set: 6 keyword-match features, 10
# rank_feature saturations x/(x+pivot), 5 log-scaled variants
# ln(1+x), and names.size() — 22 features total. Restated over
# `documents`: match scores against derived fields, saturation/log
# features over deterministic document statistics, token count as the
# size feature. Spark columns and the DuckDB oracle are generated
# from ONE spec table so the two engines cannot drift.
_LTR_TITLE_TOKENS = 5
_MATCH_FEATURES = ["text", "title", "body", "distinct", "lang", "source"]
_SAT_FEATURES = [  # (name, stat column, saturation pivot)
    ("chars", "s_chars", 500),
    ("tokens", "s_tokens", 100),
    ("distinct", "s_distinct", 80),
    ("avglen", "s_avglen", 8),
    ("maxlen", "s_maxlen", 12),
    ("title_chars", "s_title_chars", 30),
    ("body_chars", "s_body_chars", 400),
    ("digits", "s_digits", 10),
    ("vowels", "s_vowels", 150),
    ("uniq", "s_uniq", 800),
]
_LOG_FEATURES = [  # (name, stat column)
    ("chars", "s_chars"),
    ("tokens", "s_tokens"),
    ("distinct", "s_distinct"),
    ("digits", "s_digits"),
    ("vowels", "s_vowels"),
]
LTR_FEATURE_NAMES = [
    "f_match_text",
    "f_match_title",
    "f_match_body",
    "f_match_distinct",
    "f_match_lang",
    "f_match_source",
    "f_sat_chars",
    "f_sat_tokens",
    "f_sat_distinct",
    "f_sat_avglen",
    "f_sat_maxlen",
    "f_sat_title_chars",
    "f_sat_body_chars",
    "f_sat_digits",
    "f_sat_vowels",
    "f_sat_uniq",
    "f_log_chars",
    "f_log_tokens",
    "f_log_distinct",
    "f_log_digits",
    "f_log_vowels",
    "f_size_names",
]

#: Tree-ensemble rescore model in the trained RankLib LambdaMART's
#: output form (an sltr stored model,
#: research/learning-to-rank/search.py:78-94; LambdaMART emits an
#: additive ensemble of small regression trees). The constants are
#: FIT, not hand-set: tools/fit_ltr.py derives them by deterministic
#: L2 gradient boosting over this query's own 22-feature extraction
#: against graded term-coverage qrels (the configure-ltr.py:92-121
#: role), and writes queries/ltr_model.py, which pytest pins to the
#: refit output. Each entry is one depth-2 tree:
#:   (root_feat, root_thr,
#:    (left_feat, left_thr, leafLL, leafLR),
#:    (right_feat, right_thr, leafRL, leafRR))
#: meaning: if root_feat <= root_thr descend left, else right; each
#: child splits once more and emits a leaf value. The ensemble score
#: is the plain sum of leaf outputs — both engines compile the SAME
#: nested conditionals from this one spec and the float sum is
#: evaluated in the same order.
from namegraph_collections_spark.queries.ltr_model import LTR_TREES  # noqa: E402


def _tree_sql(tree) -> str:
    rf, rt, (lf, lt, ll, lr), (gf, gt, gl, gr) = tree
    return (
        f"(CASE WHEN {rf} <= {rt} "
        f"THEN (CASE WHEN {lf} <= {lt} THEN {ll} ELSE {lr} END) "
        f"ELSE (CASE WHEN {gf} <= {gt} THEN {gl} ELSE {gr} END) END)"
    )


def _ltr_feats_cte() -> str:
    """The shared WITH-body producing `feats` (doc_id, base_score, 22
    feature columns) for the rescore window — used by the LTR oracle
    AND by tools/fit_ltr.py, so the model is fit on EXACTLY the
    features the query computes."""
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    t = _LTR_TITLE_TOKENS
    stats = f"""
      SELECT w.doc_id, w.base_score, w.base_rnk,
        len(list_filter(toks, x -> x IN ({terms}))) AS m_text,
        len(list_filter(toks[1:{t}], x -> x IN ({terms}))) AS m_title,
        len(list_filter(toks[{t} + 1:], x -> x IN ({terms}))) AS m_body,
        {" + ".join(f"(CASE WHEN list_contains(toks, '{q}') THEN 1 ELSE 0 END)" for q in QUERY_TERMS)} AS m_distinct,
        {" + ".join(f"(CASE WHEN lang = '{q}' THEN 1 ELSE 0 END)" for q in QUERY_TERMS)} AS m_lang,
        {" + ".join(f"(CASE WHEN contains(source, '{q}') THEN 1 ELSE 0 END)" for q in QUERY_TERMS)} AS m_source,
        n_chars AS s_chars,
        len(toks) AS s_tokens,
        len(list_distinct(toks)) AS s_distinct,
        CAST(n_chars AS DOUBLE) / len(toks) AS s_avglen,
        list_max(list_transform(toks, x -> len(x))) AS s_maxlen,
        len(array_to_string(toks[1:{t}], ' ')) AS s_title_chars,
        len(array_to_string(toks[{t} + 1:], ' ')) AS s_body_chars,
        len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS s_digits,
        len(lower(text)) - len(regexp_replace(lower(text), '[aeiou]', '', 'g')) AS s_vowels,
        1000.0 * len(list_distinct(toks)) / len(toks) AS s_uniq
      FROM top_window w
      JOIN (SELECT doc_id, text, n_chars, lang, source,
                   string_split(lower(text), ' ') AS toks
            FROM documents WHERE {PUBLIC_SQL}) USING (doc_id)
    """
    feats = (
        [f"CAST(m_{n} AS DOUBLE) AS f_match_{n}" for n in _MATCH_FEATURES]
        + [
            f"{round6_det_sql(f'CAST({s} AS DOUBLE) / ({s} + {p})')} AS f_sat_{n}"
            for n, s, p in _SAT_FEATURES
        ]
        + [f"{round6_det_sql(f'ln(1 + {s})')} AS f_log_{n}" for n, s in _LOG_FEATURES]
        + ["CAST(s_tokens AS DOUBLE) AS f_size_names"]
    )
    return f"""
    toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE {PUBLIC_SQL}
    ),
    base AS (
      SELECT doc_id, COUNT(*) AS base_score FROM toks
      WHERE token IN ({terms})
      GROUP BY doc_id
    ),
    top_window AS (
      SELECT doc_id, base_score,
             ROW_NUMBER() OVER (ORDER BY base_score DESC, doc_id ASC) AS base_rnk
      FROM base
      QUALIFY base_rnk <= {RESCORE_WINDOW}
    ),
    stats AS ({stats}),
    feats AS (
      SELECT doc_id, base_score, {", ".join(feats)}
      FROM stats
    )"""


#: The tree ensemble as one SQL expression, shared by the oracle and
#: the Spark query. Leaf values are ≤3-decimal constants, so the sum is
#: exact in DECIMAL(18,6) on both engines.
_LTR_MODEL_SQL = " + ".join(f"CAST({_tree_sql(t)} AS DECIMAL(18,6))" for t in LTR_TREES)


def _ltr_oracle_sql() -> str:
    feat_cols = ", ".join(LTR_FEATURE_NAMES)
    return f"""
    WITH {_ltr_feats_cte()},
    rescored AS (
      SELECT doc_id, base_score, {feat_cols},
             CAST({_LTR_MODEL_SQL} AS DOUBLE) AS ltr_score
      FROM feats
    )
    SELECT doc_id, base_score, {feat_cols}, ltr_score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY ltr_score DESC, doc_id ASC) AS rnk
      FROM rescored
    ) WHERE rnk <= {FINAL_K}
    """


@register("search_ltr_rescore", oracle=_ltr_oracle_sql())
def search_ltr_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase LTR search: cheap match score → top-50 rescore window
    → 22-feature model → top-10 (W7 ★; the rescore-window shape of
    measure-times.py:86-105 with the feature families of
    configure-ltr.py:92-121 and F13's public filter).

    Phase 1 scores every public matching doc with a term-frequency
    count; only the top ``RESCORE_WINDOW`` rows get feature extraction
    (6 match + 10 saturation + 5 log + size) and the deterministic
    depth-2 tree ensemble standing in for the trained RankLib
    LambdaMART (LTR_TREES — same additive-trees shape, fixed splits).
    At scale the feature pipeline runs on 50 rows regardless of corpus
    size — exactly why the reference extracts features at rescore
    time, not index time.
    """
    docs = _public(tbl(spark, sf_dir, "documents"))
    toks = spread(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    base = (
        toks.filter(F.col("token").isin(QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("base_score"))
    )
    window = ranked_topk(
        base, RESCORE_WINDOW, F.col("base_score").desc(), F.col("doc_id").asc(), rnk="base_rnk"
    )

    t = _LTR_TITLE_TOKENS
    arr = F.split(F.lower("text"), " ")
    enriched = window.join(
        docs.select("doc_id", "text", "n_chars", "lang", "source"), "doc_id"
    ).withColumn("toks", arr)
    toks_c = F.col("toks")
    title = F.slice(toks_c, 1, t)
    body = F.slice(toks_c, t + 1, F.greatest(F.size(toks_c) - t, F.lit(0)))
    in_terms = lambda x: x.isin(QUERY_TERMS)  # noqa: E731
    stats = enriched.select(
        "doc_id",
        "base_score",
        F.size(F.filter(toks_c, in_terms)).alias("m_text"),
        F.size(F.filter(title, in_terms)).alias("m_title"),
        F.size(F.filter(body, in_terms)).alias("m_body"),
        sum(
            (F.array_contains(toks_c, q).cast("int") for q in QUERY_TERMS[1:]),
            F.array_contains(toks_c, QUERY_TERMS[0]).cast("int"),
        ).alias("m_distinct"),
        sum(
            ((F.col("lang") == q).cast("int") for q in QUERY_TERMS[1:]),
            (F.col("lang") == QUERY_TERMS[0]).cast("int"),
        ).alias("m_lang"),
        sum(
            (F.col("source").contains(q).cast("int") for q in QUERY_TERMS[1:]),
            F.col("source").contains(QUERY_TERMS[0]).cast("int"),
        ).alias("m_source"),
        F.col("n_chars").alias("s_chars"),
        F.size(toks_c).alias("s_tokens"),
        F.size(F.array_distinct(toks_c)).alias("s_distinct"),
        (F.col("n_chars").cast("double") / F.size(toks_c)).alias("s_avglen"),
        F.array_max(F.transform(toks_c, F.length)).alias("s_maxlen"),
        F.length(F.array_join(title, " ")).alias("s_title_chars"),
        F.length(F.array_join(body, " ")).alias("s_body_chars"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).alias("s_digits"),
        (
            F.length(F.lower("text"))
            - F.length(F.regexp_replace(F.lower("text"), "[aeiou]", ""))
        ).alias("s_vowels"),
        (1000.0 * F.size(F.array_distinct(toks_c)) / F.size(toks_c)).alias("s_uniq"),
    )
    feat_cols = (
        [F.col(f"m_{n}").cast("double").alias(f"f_match_{n}") for n in _MATCH_FEATURES]
        + [
            round6_det(F.col(s).cast("double") / (F.col(s) + F.lit(p))).alias(f"f_sat_{n}")
            for n, s, p in _SAT_FEATURES
        ]
        + [round6_det(F.log(1 + F.col(s))).alias(f"f_log_{n}") for n, s in _LOG_FEATURES]
        + [F.col("s_tokens").cast("double").alias("f_size_names")]
    )
    feats = stats.select("doc_id", "base_score", *feat_cols)
    # The ensemble is the oracle's own SQL text: the same left-to-right
    # `tree1 + tree2 + …` over the same literals, so the decimal sum is
    # identical across engines. The base score carries weight 0 in the
    # rescore, matching the reference's `"query_weight": 0`
    # (research/learning-to-rank/search.py:88) — inside the window the
    # model alone ranks.
    rescored = feats.withColumn("ltr_score", F.expr(f"CAST({_LTR_MODEL_SQL} AS DOUBLE)"))
    return ranked_topk(
        rescored, FINAL_K, F.col("ltr_score").desc(), F.col("doc_id").asc()
    ).select("doc_id", "base_score", *LTR_FEATURE_NAMES, "ltr_score", "rnk")


@register("bm25_search", oracle=_bm25_oracle(QUERY_TERMS))
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style BM25 top-k over `documents` (SURVEY §2.9 ★).

    idf = ln(1 + (N−df+0.5)/(df+0.5)); score = Σ idf·tf·(k1+1)/(tf +
    k1·(1−b+b·dl/avgdl)).

    Plan shape: ``_bm25_scored`` over one field, the lower-cased text
    split on spaces. spread()'s exchange is the one scan of
    `documents`: the per-doc array expressions run above it, and the
    stats branch reuses it. Past it, the plan shuffles only to the
    one-row stats aggregate and its broadcast, and the top-k runs
    per partition before a k-row rank. Mirrors the ES query at
    research/learning-to-rank/measure-times.py:86-105 with b/k1 from
    populate.py:106-112; F13's public filter applied like every
    reference search (measure-times.py:15).
    """
    docs = spread(_public(tbl(spark, sf_dir, "documents")), "doc_id")
    scored = _bm25_scored(docs, {"text": ("split(lower(text), ' ')", 1.0, B)}, QUERY_TERMS, _TEXT_SCORE)
    return ranked_topk(scored, TOP_K, F.col("score").desc(), F.col("doc_id").asc())


NDCG_K = 10


@register(
    "search_eval_metrics",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, CAST(n_chars % 4 AS INT) AS rel,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rnk
      FROM documents WHERE {PUBLIC_SQL}
    ),
    topk AS (SELECT * FROM ranked WHERE rnk <= {NDCG_K}),
    ideal AS (
      SELECT source, rel,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY rel DESC, doc_id ASC) AS irnk
      FROM topk
    ),
    dcg AS (
      SELECT source,
        SUM(CAST({round6_det_sql('(pow(2, rel) - 1) / log2(rnk + 1)')} AS DECIMAL(18,6))) AS dcg
      FROM topk GROUP BY source
    ),
    idcg AS (
      SELECT source,
        SUM(CAST({round6_det_sql('(pow(2, rel) - 1) / log2(irnk + 1)')} AS DECIMAL(18,6))) AS idcg
      FROM ideal GROUP BY source
    ),
    per_source AS (
      SELECT source,
        CAST(COUNT(*) FILTER (WHERE rel >= 2) AS BIGINT) AS n_relevant,
        CAST(COUNT(*) FILTER (WHERE rel >= 2 AND rnk <= {NDCG_K}) AS BIGINT) AS hits
      FROM ranked GROUP BY source
    )
    SELECT dcg.source,
           CAST(dcg.dcg AS DOUBLE) AS dcg,
           CAST(idcg.idcg AS DOUBLE) AS idcg,
           ((CAST(dcg.dcg * 1000000 AS BIGINT) * 1000000
               + CAST(idcg.idcg * 1000000 AS BIGINT) // 2)
              // nullif(CAST(idcg.idcg * 1000000 AS BIGINT), 0)) / 1000000.0 AS ndcg,
           n_relevant, hits,
           ((hits * 1000000 + n_relevant // 2) // nullif(n_relevant, 0)) / 1000000.0 AS recall
    FROM dcg JOIN idcg USING (source) JOIN per_source USING (source)
    """,
)
def search_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{NDCG_K} + Recall@{NDCG_K} ranking evaluation (SURVEY §2.9;
    compare_window_sizes.py:191-211, evaluate_endpoints.py:450-473 and
    :580-598) — both metrics over one shared ranking fixture.

    Per query group (source): DCG over the ranked top-k with graded
    relevance, IDCG over the ideal reordering of the same k, NDCG =
    DCG/IDCG; recall = share of all relevant docs (rel ≥ 2) the top-k
    retrieves. Per-position contributions round-then-decimal-sum so the
    metric is reproducible under any partitioning — an eval you can
    trust across cluster sizes. Evaluated over public docs only (F13).
    """
    docs = _public(tbl(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = docs.select(
        "source",
        "doc_id",
        (F.col("n_chars") % 4).cast("int").alias("rel"),
        F.row_number().over(w).alias("rnk"),
    )
    topk = ranked.filter(F.col("rnk") <= NDCG_K)
    wi = Window.partitionBy("source").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ideal = topk.select("source", "rel", F.row_number().over(wi).alias("irnk"))

    def contrib(rel, pos):
        return round6_det(
            (F.pow(F.lit(2.0), rel) - 1) / F.log2(pos + 1)
        ).cast("decimal(18,6)")

    dcg = topk.groupBy("source").agg(F.sum(contrib(F.col("rel"), F.col("rnk"))).alias("dcg"))
    idcg = ideal.groupBy("source").agg(F.sum(contrib(F.col("rel"), F.col("irnk"))).alias("idcg"))
    rel = F.col("rel") >= 2
    per_source = ranked.groupBy("source").agg(
        F.count(F.when(rel, 1)).alias("n_relevant"),
        F.count(F.when(rel & (F.col("rnk") <= NDCG_K), 1)).alias("hits"),
    )
    return (
        dcg.join(idcg, "source")
        .join(per_source, "source")
        .select(
            "source",
            F.col("dcg").cast("double").alias("dcg"),
            F.col("idcg").cast("double").alias("idcg"),
            # NDCG/recall in exact integer micro-units: both quotients
            # have exact inputs (DECIMAL sums, integer counts) and can
            # land on 6-decimal halves where engine ROUND rules differ.
            (
                F.expr(
                    "(CAST(dcg * 1000000 AS BIGINT) * 1000000"
                    " + CAST(idcg * 1000000 AS BIGINT) div 2)"
                    " div nullif(CAST(idcg * 1000000 AS BIGINT), 0)"
                )
                / F.lit(1000000.0)
            ).alias("ndcg"),
            "n_relevant",
            "hits",
            (
                F.expr("(hits * 1000000 + n_relevant div 2) div nullif(n_relevant, 0)")
                / F.lit(1000000.0)
            ).alias("recall"),
        )
    )


# Field boosts from the reference's multi_match most_fields query
# (measure-times.py:86-105: collection_name^3, keywords^2, description)
# and per-field BM25 b (populate.py:106-112: b=0 for name fields —
# length-neutral).
FIELD_SPECS = {
    "title": {"boost": 3.0, "b": 0.0},
    "body": {"boost": 1.0, "b": 0.75},
}
TITLE_TOKENS = 5


_FIELD_CONTRIB_SQL = f"""
    fields AS (
      SELECT doc_id, 'title' AS field,
             list_slice(string_split(lower(text), ' '), 1, {TITLE_TOKENS}) AS toks
      FROM documents WHERE {PUBLIC_SQL}
      UNION ALL
      SELECT doc_id, 'body' AS field,
             list_slice(string_split(lower(text), ' '), {TITLE_TOKENS} + 1,
                        len(string_split(text, ' '))) AS toks
      FROM documents WHERE {PUBLIC_SQL}
    ),
    toks AS (SELECT doc_id, field, unnest(toks) AS token FROM fields),
    doclen AS (SELECT doc_id, field, COUNT(*) AS dl FROM toks GROUP BY doc_id, field),
    corpus AS (SELECT field, COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
               FROM doclen GROUP BY field),
    tf AS (
      SELECT doc_id, field, token, COUNT(*) AS tf FROM toks
      WHERE token IN ({", ".join(f"'{t}'" for t in QUERY_TERMS)})
      GROUP BY doc_id, field, token
    ),
    df AS (SELECT field, token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY field, token),
    contrib AS (
      SELECT tf.doc_id, tf.token,
        CAST({round6_det_sql(f'''
          (CASE tf.field WHEN 'title' THEN {FIELD_SPECS["title"]["boost"]}
                         ELSE {FIELD_SPECS["body"]["boost"]} END)
          * ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
          * (tf.tf * ({K1} + 1))
          / (tf.tf + {K1} * (1 - (CASE tf.field WHEN 'title' THEN {FIELD_SPECS["title"]["b"]}
                                                ELSE {FIELD_SPECS["body"]["b"]} END)
                             + (CASE tf.field WHEN 'title' THEN {FIELD_SPECS["title"]["b"]}
                                              ELSE {FIELD_SPECS["body"]["b"]} END)
                               * doclen.dl / corpus.avgdl))''')}
        AS DECIMAL(18,6)) AS c
      FROM tf
      JOIN df ON tf.field = df.field AND tf.token = df.token
      JOIN doclen ON tf.doc_id = doclen.doc_id AND tf.field = doclen.field
      JOIN corpus ON corpus.field = tf.field
    )
"""


@register(
    "multifield_bm25_variants",
    oracle=f"""
    WITH {_FIELD_CONTRIB_SQL},
    most_scored AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score FROM contrib GROUP BY doc_id),
    per_term AS (SELECT doc_id, token, MAX(c) AS c FROM contrib GROUP BY doc_id, token),
    cross_scored AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS score FROM per_term GROUP BY doc_id)
    SELECT 'most_fields' AS variant, doc_id, score, rnk FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
      FROM most_scored
    ) WHERE rnk <= {TOP_K}
    UNION ALL
    SELECT 'cross_fields' AS variant, doc_id, score, rnk FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
      FROM cross_scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def multifield_bm25_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field boosted BM25, both ES variants in one tagged result
    (§2.9 ★: multi_match with collection_name^3-style boosts and
    per-field b — b=0 name fields are length-neutral;
    measure-times.py:86-143, populate.py:106-112).

    Documents split into a title field (first {TITLE_TOKENS} tokens)
    and a body; per-field token stats feed per-field BM25 with the
    field's boost and b. ``most_fields`` SUMS a term's per-field
    scores per doc; ``cross_fields`` treats the fields as one blended
    field — per term the BEST field contribution counts (ES's blended
    term query with tie_breaker=0), then terms sum. Public docs only
    (F13).

    Plan shape: ``_bm25_scored`` over the two fields, with both
    variants as its scores; a row generator stacks the two for each
    doc with a query term, and a window partitioned on the variant
    ranks them.
    """
    toks = "split(lower(text), ' ')"
    slices = {
        "title": f"slice({toks}, 1, {TITLE_TOKENS})",
        "body": f"slice({toks}, {TITLE_TOKENS + 1}, greatest(size({toks}) - {TITLE_TOKENS}, 0))",
    }
    fields = {f: (s, FIELD_SPECS[f]["boost"], FIELD_SPECS[f]["b"]) for f, s in slices.items()}
    ix = range(len(QUERY_TERMS))
    scored = _bm25_scored(
        spread(_public(tbl(spark, sf_dir, "documents")), "doc_id"),
        fields,
        QUERY_TERMS,
        {
            "most_fields": " + ".join(f"c_{f}_{i}" for f in fields for i in ix),
            "cross_fields": " + ".join(f"greatest(c_title_{i}, c_body_{i})" for i in ix),
        },
    )
    return (
        scored.selectExpr(
            "doc_id",
            "inline(array(named_struct('variant', 'most_fields', 'score', most_fields),"
            " named_struct('variant', 'cross_fields', 'score', cross_fields)))",
        )
        .selectExpr(
            "variant",
            "doc_id",
            "score",
            "row_number() OVER (PARTITION BY variant ORDER BY score DESC, doc_id ASC) AS rnk",
        )
        .filter(f"rnk <= {TOP_K}")
    )


#: The stemmed oracle's extra CTEs. An exact pre-filter runs before the
#: (large) SQL stemmer: Porter never alters the first 3 characters of a
#: word whose stem is >= 4 chars (it only strips/replaces suffixes and
#: appends 'e'/'i'; no replacement string can fabricate these terms),
#: so only tokens sharing a query term's 3-char prefix can match.
_STEM_CTES = f"""
    cand AS MATERIALIZED (
      SELECT doc_id, token AS w FROM toks
      WHERE substring(token, 1, 3) IN ({", ".join(f"'{t[:3]}'" for t in STEMMED_TERMS)})
    ),
    {porter_ctes("cand")},"""


@register(
    "stemmed_bm25",
    oracle=_bm25_oracle(STEMMED_TERMS, _STEM_CTES, "(SELECT doc_id, w AS token FROM p_done)"),
)
def stemmed_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the porter-stemmed analyzer (§2.9 — the index's
    analyzed text fields, populate.py:97-105). The analyzer is a
    pandas UDF on the Spark side; the oracle runs a generated
    SQL twin of the stemmer (functions/porter_sql.py, parity-tested
    on 28k adversarial words) so this path gets a full value check.

    Plan shape: ``bm25_search``'s, over the stemmed token array. The
    stemmer maps each document's token array (Arrow-batched, after
    spread()); a second spread() above it puts the stemmed arrays in one
    exchange that the stats and the score branch both read, so the
    analyzer runs once per document, not once per branch. The analyzer
    is 1:1, so stemming changes no document length or corpus average.
    """
    docs = spread(_public(tbl(spark, sf_dir, "documents")), "doc_id")
    stemmed = spread(
        docs.select("doc_id", porter_stem_tokens_udf(F.split(F.lower("text"), " ")).alias("toks")),
        "doc_id",
    )
    scored = _bm25_scored(stemmed, {"text": ("toks", 1.0, B)}, STEMMED_TERMS, _TEXT_SCORE)
    return ranked_topk(scored, TOP_K, F.col("score").desc(), F.col("doc_id").asc())
