"""Contract tests for the registry-level plan helpers added in the
optimization rounds (queries/registry.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from namegraph_collections_spark.queries.registry import run_parallel
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_checkpoint_parallel_matches_serial_checkpoints(spark):
    """Thread-pooled lazy checkpoints must return frames row-equal to
    their inputs (and to serial localCheckpoint), in input order —
    the §2.6 overlap changes only the job submission schedule."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    b = docs.select("doc_id").filter(F.col("doc_id") % 2 == 0)
    ck_a, ck_b = run_parallel(
        spark, lambda: a.localCheckpoint(eager=False), lambda: b.localCheckpoint(eager=False)
    )
    assert _rows(ck_a) == _rows(a)
    assert _rows(ck_b) == _rows(b)
    # lineage really is truncated (the checkpoint happened): the
    # analyzed plan is a LogicalRDD leaf, same as a serial checkpoint
    for ck in (ck_a, ck_b):
        analyzed = ck._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LogicalRDD"


def test_checkpoint_parallel_single_frame_passthrough(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (ck,) = run_parallel(spark, lambda: docs.select("doc_id").localCheckpoint(eager=False))
    assert ck.count() == docs.count()


def test_run_parallel_threads_inherit_session_tags(spark):
    """Jobs a thunk starts carry the caller's ``spark.addTag`` tags, so
    ``spark.interruptTag`` and tag-based attribution reach them."""
    spark.addTag("run_parallel_tag")
    try:
        (tags,) = run_parallel(spark, lambda: spark.getTags())
    finally:
        spark.removeTag("run_parallel_tag")
    assert "run_parallel_tag" in tags
