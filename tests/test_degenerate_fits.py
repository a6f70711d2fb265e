"""Degenerate inputs to the four fits that read their maintainer's state
program (DSIR, NB, embedding diversity, the domain gate). Each case
builds a variant table with pyarrow next to the unchanged other tables
and runs the REGISTERED query on it: the result equals the DuckDB
oracle's (or, where a component upstream of the fit already differs
from its oracle on that input, the fit's own reference semantics) or
raises the engine's named guard error."""

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


def _check_nb_no_train(rows, spark, sf):
    # no train document: the prior, and so every margin, is NULL
    assert rows and all(r.margin_micro is None and r.pred_hq is None for r in rows)
    assert not any(r.is_train for r in rows)


def _check_dsir_empty(rows, spark, sf):
    assert rows == []


def _check_gate_null_url(rows, spark, sf):
    """n_pages is COUNT(DISTINCT norm_url) per domain: the two URL-less
    documents form the NULL domain, which has no page. (The oracle is
    no reference here: on a NULL source DuckDB's URL program yields ''
    where Spark's yields NULL, upstream of the gate.)"""
    from pyspark.sql import functions as F

    from namegraph_collections_spark.queries.web_rollup import per_doc_web_frame

    (r,) = [r for r in rows if r.domain is None]
    assert (r.n_docs, r.n_pages) == (2, 0)
    distinct = per_doc_web_frame(spark, sf).groupBy("domain").agg(F.countDistinct("norm_url").alias("n"))
    assert {r.domain: r.n_pages for r in rows} == {d.domain: d.n for d in distinct.collect()}


@pytest.mark.parametrize(
    "query, table, variant, error, check, oracle",
    [
        # A NULL embedding used to be counted silently by the one-shot
        # query; the state program names the broken invariant.
        ("embedding_diversity", "embeddings", _null_first_embedding, "DIM-width invariant", None, False),
        ("nb_quality_scores", "documents", _test_split_only, None, _check_nb_no_train, True),
        ("dsir_importance_weights", "documents", _no_rows, None, _check_dsir_empty, True),
        ("host_quality_rollup", "documents", _null_first_sources, None, _check_gate_null_url, False),
    ],
    ids=["diversity-null-embedding", "nb-no-train-split", "dsir-empty-documents", "gate-null-url"],
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
