"""Contract tests for the maintainer read-path battery's state
fixture (queries/maintainer_reads.py): the in-plan 3-batch fold must
equal BOTH the one-shot state program over the full input (the
monoid identity the DuckDB oracles rely on) AND the filesystem
maintainer's merged snapshot over the same batches (so the battery's
fixture is the maintainers' actual merge semantics, not a lookalike).
Value-exactness of the read paths is the oracle sweep's job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from namegraph_collections_spark.operators.additive_state import (
    latest_snapshot,
    maintain_keyed_state,
)
from namegraph_collections_spark.operators.ivf_maintain import (
    IVF_STATE,
    ivf_state_for,
)
from namegraph_collections_spark.operators.vocab_maintain import (
    VOCAB_STATE,
    vocab_head_from_state,
    vocab_state_for,
)
from namegraph_collections_spark.queries.corpus_stats import DIVERSITY_STATE
from namegraph_collections_spark.queries.data_selection import DSIR_STATE
from namegraph_collections_spark.queries.maintainer_reads import (
    FOLD_BATCHES,
    folded_state,
)
from namegraph_collections_spark.queries.percentiles import HIST_STATE
from namegraph_collections_spark.queries.quality_classifier import NBQ_STATE
from namegraph_collections_spark.queries.rollups import CMS_STATE
from namegraph_collections_spark.queries.web_rollup import GATE_STATE
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


#: Every maintained state: its declaration, source table and fold key.
STATES = {
    "dsir": (DSIR_STATE, "documents", "doc_id"),
    "nbq": (NBQ_STATE, "documents", "doc_id"),
    "diversity": (DIVERSITY_STATE, "embeddings", "vec_id"),
    "hist": (HIST_STATE, "lineitem", "l_orderkey"),
    "cms": (CMS_STATE, "documents", "doc_id"),
    "gate": (GATE_STATE, "documents", "doc_id"),
    "vocab": (VOCAB_STATE, "documents", "doc_id"),
    "ivf": (IVF_STATE, "embeddings", "vec_id"),
}


@pytest.mark.parametrize("name", list(STATES))
def test_keyed_state_declaration(spark, tmp_path, name):
    """A declaration's program emits exactly its keys and merge columns;
    and for every foldable state the in-plan fold equals BOTH the
    one-shot program over the union (the monoid identity the DuckDB
    oracles rely on) AND the filesystem merge of the same batches (so
    the battery's fixture is the maintainers' actual merge semantics,
    not a lookalike)."""
    state, table, key = STATES[name]
    src = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    one_shot = state.program(src)
    assert one_shot.columns == state.columns
    if state is GATE_STATE:
        # its program reads (doc_id, source, text) only, so no fold tag
        return
    fold = folded_state(src, key, state)
    assert _rows(fold) == _rows(one_shot)
    base = str(tmp_path / name)
    for i in range(FOLD_BATCHES):
        maintain_keyed_state(
            spark, base, state, src.filter(F.col(key) % FOLD_BATCHES == i), f"t{i}"
        )
    assert _rows(fold) == _rows(latest_snapshot(spark, base))


def test_single_pass_fold_matches_legacy_filter_fold(spark):
    """The optimization-round-12 single-pass fixture (one tagged scan,
    ``extra``-grouped state programs) must produce EXACTLY the legacy
    3-filter fold's per-batch contribution rows — not merely the same
    merged state: per tag t, ``contrib(tagged, extra)`` restricted to
    t equals ``contrib(src.filter(key % B == t))``."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from namegraph_collections_spark.queries.rollups import cms_state_for

    for src, key, contrib in [
        (emb, "vec_id", ivf_state_for),
        (docs, "doc_id", vocab_state_for),
        (docs, "doc_id", cms_state_for),
    ]:
        tagged = src.withColumn(
            "_fold_b", (F.col(key) % FOLD_BATCHES).cast("int")
        )
        one_pass = contrib(tagged, extra="_fold_b")
        for i in range(FOLD_BATCHES):
            legacy_i = contrib(src.filter(F.col(key) % FOLD_BATCHES == i))
            got = _rows(one_pass.filter(F.col("_fold_b") == i).drop("_fold_b"))
            assert got == _rows(legacy_i), (contrib.__name__, i)


def test_vocab_fold_respects_the_min_monoid(spark):
    """first_doc merges by MIN — a sum-style merge would double-count;
    pin the fold's per-column monoid dispatch and the head read."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fold = folded_state(docs, "doc_id", VOCAB_STATE)
    assert _rows(fold) == _rows(vocab_state_for(docs))
    head = vocab_head_from_state(fold, 10).collect()
    assert len(head) == 10
    by_rnk = sorted(head, key=lambda r: r.rnk)
    for a, b in zip(by_rnk, by_rnk[1:]):
        assert (a.occ, b.tok) >= (b.occ, a.tok) or a.occ > b.occ
        assert a.occ >= b.occ
    want = {r.tok: r.first_doc for r in fold.collect()}
    for r in head:
        assert r.first_doc == want[r.tok]


def test_failed_state_build_releases_spread_caches(spark, monkeypatch):
    """A failure inside the battery's parallel state build must not
    leave the corpus-sized emb/docs caches in the CacheManager."""
    from namegraph_collections_spark.queries import maintainer_reads

    def failing_build(spark, *thunks):
        raise RuntimeError("state build failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(maintainer_reads, "run_parallel", failing_build)
    with pytest.raises(RuntimeError, match="state build failed"):
        maintainer_reads.maintainer_state_battery(spark, SF_DIR)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
