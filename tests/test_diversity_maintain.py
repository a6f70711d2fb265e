"""Additive IVM for the embedding-diversity state
(``DIVERSITY_STATE``): the state merged over any batching
must re-derive EXACTLY the one-shot embedding_diversity table —
per-label rows AND the corpus row — plus the standard contract
battery (streaming twin, replay idempotence)."""

from __future__ import annotations

import pytest

from namegraph_collections_spark.operators.additive_state import maintain_keyed_state
from namegraph_collections_spark.operators.cdc import latest_snapshot
from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.corpus_stats import (
    DIVERSITY_STATE,
    diversity_from_state,
    diversity_state_for,
)
from tests.conftest import SF_DIR


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(map(repr, (r[c] for c in cols))) for r in df.collect())


def test_two_rotations_rederive_the_one_shot_diversity(spark, tmp_path):
    base = str(tmp_path / "div_state")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    wave1 = emb.filter("vec_id % 2 = 0")
    wave2 = emb.filter("vec_id % 2 = 1")

    maintain_keyed_state(spark, base, DIVERSITY_STATE, wave1, "t0")
    state = maintain_keyed_state(spark, base, DIVERSITY_STATE, wave2, "t1")

    got = diversity_from_state(state)
    want = REGISTRY["embedding_diversity"].fn(spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_replayed_batch_does_not_remerge(spark, tmp_path):
    base = str(tmp_path / "div_replay")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    wave = emb.filter("vec_id % 2 = 0")
    state1 = maintain_keyed_state(spark, base, DIVERSITY_STATE, wave, "t0")
    replayed = maintain_keyed_state(spark, base, DIVERSITY_STATE, wave, "t0")
    assert _rows(replayed) == _rows(state1)


def test_streaming_twin_matches_the_one_shot(spark, tmp_path):
    import shutil

    from namegraph_collections_spark.streaming import run_maintenance_stream
    from namegraph_collections_spark.streaming.diversity_stream import (
        read_embeddings_stream,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    zone = tmp_path / "zone"
    zone.mkdir()
    for i, pred in enumerate(["vec_id % 2 = 0", "vec_id % 2 = 1"]):
        d = tmp_path / f"_part{i}"
        emb.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(d))
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, zone / f"file-{i}.parquet")

    base = str(tmp_path / "div_stream_state")
    run_maintenance_stream(
        read_embeddings_stream(spark, str(zone)), DIVERSITY_STATE, base, str(tmp_path / "ckpt")
    )
    got = diversity_from_state(latest_snapshot(spark, base))
    want = diversity_from_state(diversity_state_for(emb))
    assert _rows(got) == _rows(want)


def test_rollup_state_matches_legacy_two_pass_shape(spark):
    """Round-13 internals change: diversity_state_for now emits the
    per-(label, dim) rows AND the sentinel row from ONE rollup
    aggregation (no second pass over qv, no persist, no union). Pin it
    against the legacy construction — detail aggregation unioned with
    a separate sentinel aggregation — which must be bit-identical
    (integer sums are associative; n counts vectors either way)."""
    import pyspark.sql.functions as F

    from namegraph_collections_spark.queries.corpus_stats import (
        SENTINEL_DIM,
        quantized_unit_vectors,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = quantized_unit_vectors(emb)
    dims = (
        qv.select("label", F.posexplode("qv").alias("dim", "qc"))
        .groupBy("label", "dim")
        .agg(F.sum("qc").cast("long").alias("s"))
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            "s",
            F.lit(0).cast("long").alias("self2"),
            F.lit(0).cast("long").alias("n"),
        )
    )
    sentinel = qv.groupBy("label").agg(
        F.sum(
            F.aggregate(
                F.transform("qv", lambda v: v * v),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
        )
        .cast("long")
        .alias("self2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        "label",
        F.lit(SENTINEL_DIM).cast("long").alias("dim"),
        F.lit(0).cast("long").alias("s"),
        "self2",
        "n",
    )
    want = dims.unionByName(sentinel)
    got = diversity_state_for(emb)
    assert _rows(got) == _rows(want)


def test_exactness_bound_raises_instead_of_wrapping(spark, monkeypatch):
    """Round-10 ADVICE: the signed-64 exactness bound is the ALIGNED
    worst case (~3e6 vectors/group), and it must RAISE — non-ANSI
    Spark would otherwise wrap sum(s*s) silently. The bound constant
    is monkeypatched down so the guard path is exercised without 3e6
    rows. The assert can fire inside an AQE broadcast-stage
    materialization, where it surfaces as the wrapped Py4J stage error
    rather than a converted SparkRuntimeException — match on the
    message."""
    from namegraph_collections_spark.queries import corpus_stats

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    state = diversity_state_for(emb)
    # sanity: within the real bound nothing trips
    diversity_from_state(state).collect()
    monkeypatch.setattr(corpus_stats, "DIVERSITY_MAX_VECS", 2)
    with pytest.raises(Exception, match="exceeds the signed-64"):
        diversity_from_state(state).collect()


def test_short_embedding_raises_the_dim_width_guard(spark):
    """The sentinel row counts a label's vectors as its exploded
    component rows div DIM. One short embedding would silently
    truncate that count; the guard names the invariant instead."""
    import pyspark.sql.functions as F

    from namegraph_collections_spark.queries.similarity import DIM

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    first = emb.agg(F.min("vec_id")).first()[0]
    short = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == first, F.slice("embedding", 1, DIM - 1)
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match="DIM-width invariant"):
        diversity_state_for(short).collect()


def test_null_embedding_raises_the_dim_width_guard(spark):
    """A NULL embedding explodes to no component rows, so a component
    count alone cannot see it: the vector would drop out of the state
    while the one-shot query still counts it. The guard counts each
    label's vectors next to its components and names the invariant."""
    import pyspark.sql.functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    first = emb.agg(F.min("vec_id")).first()[0]
    nulled = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == first, F.lit(None)).otherwise(F.col("embedding")),
    )
    with pytest.raises(Exception, match="DIM-width invariant"):
        diversity_state_for(nulled).collect()
