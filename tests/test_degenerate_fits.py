"""Degenerate inputs to the fits that read their maintainer's state
program (DSIR, NB, embedding diversity, the domain gate), to the URL
program under the gate and to the BM25 scorer. Each case builds a
variant table with pyarrow next to the unchanged other tables and runs
the REGISTERED query on it: the result equals the DuckDB oracle's, or
the query raises the engine's named guard error."""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.quality_classifier import NBQ_TRAIN_LO
from tests.conftest import SF_DIR
from tests.oracle_harness import TABLES, compare


def _null_first_embedding(t: pa.Table) -> pa.Table:
    col = t["embedding"].to_pylist()
    col[0] = None
    return t.set_column(t.schema.get_field_index("embedding"), "embedding", pa.array(col, t.schema.field("embedding").type))


def _test_split_only(t: pa.Table) -> pa.Table:
    """Only the documents of the held-out split: no train document at all."""
    def is_train(doc_id: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) < NBQ_TRAIN_LO

    return t.filter(pa.array([not is_train(d) for d in t["doc_id"].to_pylist()]))


def _no_rows(t: pa.Table) -> pa.Table:
    return t.slice(0, 0)


def _null_first_sources(t: pa.Table) -> pa.Table:
    """Two documents without a source, hence without a URL or domain."""
    col = t["source"].to_pylist()
    col[0] = col[1] = None
    return t.set_column(t.schema.get_field_index("source"), "source", pa.array(col, t.schema.field("source").type))


def _null_public_texts(t: pa.Table) -> pa.Table:
    """Two public documents (F13: ``doc_id % 7 <> 0``) without a text."""
    col = t["text"].to_pylist()
    for i in [i for i, d in enumerate(t["doc_id"].to_pylist()) if d % 7][:2]:
        col[i] = None
    return t.set_column(t.schema.get_field_index("text"), "text", pa.array(col, t.schema.field("text").type))


def _check_textless_unranked(rows, spark, sf):
    """A document without a text has no token: it is not ranked, and
    the oracle check shows it is not counted in the corpus stats."""
    docs = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    textless = {d for d, t in zip(docs["doc_id"], docs["text"]) if t is None}
    assert len(textless) == 2
    assert rows and not textless & {r.doc_id for r in rows}


def _check_nb_no_train(rows, spark, sf):
    # no train document: the prior, and so every margin, is NULL
    assert rows and all(r.margin_micro is None and r.pred_hq is None for r in rows)
    assert not any(r.is_train for r in rows)


def _check_dsir_empty(rows, spark, sf):
    assert rows == []


def _check_nb_no_train_weights(rows, spark, sf):
    """The battery's NB weight leg equals the oracle's ``w``: with no
    train gram both smoothed class distributions are uniform, so every
    bucket weighs 0, not NULL. The whole battery, its ``nbq_prior``
    leg's one NULL row included, is checked against its oracle too."""
    from namegraph_collections_spark.queries.quality_classifier import _NBQ_FIT_CTES
    from tests.oracle_harness import duck_connection

    con = duck_connection(sf)
    want = sorted(con.sql(f"WITH {_NBQ_FIT_CTES} SELECT bucket, w_micro FROM w").fetchall())
    got = sorted((r.k1, r.v1) for r in rows if r.op == "nbq_w")
    assert got == want
    assert got and all(w == 0 for _, w in got)
    assert [r.v1 for r in rows if r.op == "nbq_prior"] == [None]


def _check_gate_null_url(rows, spark, sf):
    """n_pages is COUNT(DISTINCT norm_url) per domain: the two URL-less
    documents form the '' domain (the oracle's value, see
    ``url_ops._spark_split``), whose one page is the '' URL."""
    from pyspark.sql import functions as F

    from namegraph_collections_spark.queries.web_rollup import per_doc_web_frame

    (r,) = [r for r in rows if r.domain == ""]
    assert (r.n_docs, r.n_pages) == (2, 1)
    assert all(r.domain is not None for r in rows)
    distinct = per_doc_web_frame(spark, sf).groupBy("domain").agg(F.countDistinct("norm_url").alias("n"))
    assert {r.domain: r.n_pages for r in rows} == {d.domain: d.n for d in distinct.collect()}


def _check_url_null_source(rows, spark, sf):
    """A document without a source has no raw URL, and the oracle's ''
    canonical URL and domain."""
    bare = [r for r in rows if r.raw_url is None]
    assert len(bare) == 2
    assert all((r.norm_url, r.domain, r.dup_count) == ("", "", 2) for r in bare)


def _check_gated_null_source(rows, spark, sf):
    # every document keeps its row: the URL-less pair joins the '' domain
    assert sum(r.domain == "" for r in rows) == 2


@pytest.mark.parametrize(
    "query, table, variant, error, check, oracle",
    [
        # A NULL embedding used to be counted silently by the one-shot
        # query; the state program names the broken invariant.
        ("embedding_diversity", "embeddings", _null_first_embedding, "DIM-width invariant", None, False),
        ("nb_quality_scores", "documents", _test_split_only, None, _check_nb_no_train, True),
        ("dsir_importance_weights", "documents", _no_rows, None, _check_dsir_empty, True),
        ("host_quality_rollup", "documents", _null_first_sources, None, _check_gate_null_url, True),
        ("url_canonical_dedup", "documents", _null_first_sources, None, _check_url_null_source, True),
        ("domain_gated_corpus", "documents", _null_first_sources, None, _check_gated_null_source, True),
        ("maintainer_state_battery", "documents", _test_split_only, None, _check_nb_no_train_weights, True),
        # bm25_search used to count a text-less document in n and avgdl,
        # where the oracle's unnest leaves it out.
        ("bm25_search", "documents", _null_public_texts, None, _check_textless_unranked, True),
        ("stemmed_bm25", "documents", _null_public_texts, None, _check_textless_unranked, True),
        ("multifield_bm25_variants", "documents", _null_public_texts, None, _check_textless_unranked, True),
    ],
    ids=[
        "diversity-null-embedding", "nb-no-train-split", "dsir-empty-documents", "gate-null-url",
        "url-null-source", "gated-null-source", "nb-no-train-weights",
        "bm25-null-text", "stemmed-bm25-null-text", "multifield-bm25-null-text",
    ],
)
def test_degenerate_input_gives_oracle_parity_or_a_named_error(
    spark, tmp_path, query, table, variant, error, check, oracle
):
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        if t != table:
            os.symlink(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    pq.write_table(variant(pq.read_table(f"{SF_DIR}/{table}.parquet")), sf / f"{table}.parquet")

    q = REGISTRY[query]
    if error is not None:
        with pytest.raises(Exception, match=error):
            q.fn(spark, str(sf)).collect()
        return
    check(q.fn(spark, str(sf)).collect(), spark, str(sf))
    if oracle:
        r = compare(spark, str(sf), query, q.fn, q.oracle)
        assert r["ok"], r
