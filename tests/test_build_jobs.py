"""Query builds that start no Spark job: ``registry.tbl``'s schema memo
and the builds of the benchmark's short queries; and the plan shape
of the BM25 rows."""

from __future__ import annotations

import ast
import itertools
import os
import re
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.registry import tbl
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GROUPS = itertools.count()


def _short_queries() -> list[str]:
    """perfbench/run.py's SHORT_QUERIES, read without importing the script."""
    with open(os.path.join(REPO, "perfbench", "run.py")) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "SHORT_QUERIES" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/run.py defines no SHORT_QUERIES")


def _jobs_of(spark, fn):
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"build-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_memo_hit_starts_no_job_and_reads_the_same_rows(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, _ = _jobs_of(spark, lambda: tbl(spark, str(tmp_path), "t"))
    again, jobs = _jobs_of(spark, lambda: tbl(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2]}), tmp_path / "t.parquet")
    assert tbl(spark, str(tmp_path), "t").schema.simpleString() == "struct<a:bigint>"
    pq.write_table(pa.table({"a": ["x"], "b": [0.5]}), tmp_path / "t.parquet")
    df = tbl(spark, str(tmp_path), "t")
    assert df.schema.simpleString() == "struct<a:string,b:double>"
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]


def _dtype_of_c(spark, sf_dir: str) -> str:
    try:
        return dict(tbl(spark, sf_dir, "t").dtypes)["c"]
    except Exception as e:  # TIMESTAMP(NANOS) is unreadable without nanosAsLong
        assert "NANOS" in str(e)
        return "unreadable"


@pytest.mark.parametrize(
    "key, column, off, on",
    [
        ("spark.sql.parquet.binaryAsString", pa.array([b"x"], pa.binary()), "binary", "string"),
        ("spark.sql.legacy.parquet.nanosAsLong", pa.array([1], pa.timestamp("ns")), "unreadable", "bigint"),
    ],
    ids=["binaryAsString", "nanosAsLong"],
)
def test_a_converter_conf_flip_reinfers_the_schema(spark, tmp_path, key, column, off, on):
    pq.write_table(pa.table({"c": column}), tmp_path / "t.parquet", coerce_timestamps=None)
    for value, want in (("false", off), ("true", on), ("false", off), ("true", on)):
        with _conf(spark, key, value):
            assert _dtype_of_c(spark, str(tmp_path)) == want


def test_a_directory_still_reads(spark, tmp_path):
    spark.range(5).write.parquet(str(tmp_path / "d.parquet"))
    assert sorted(r.id for r in tbl(spark, str(tmp_path), "d").collect()) == list(range(5))


@pytest.mark.parametrize("name", _short_queries())
def test_short_query_build_starts_no_job(spark, name):
    """Once the table schemas are memoized (the first build), building
    a benchmark short query runs no Spark job: no schema inference, no
    eager checkpoint, no build-time collect."""
    build = lambda: REGISTRY[name].fn(spark, SF_DIR)  # noqa: E731
    build()
    _, jobs = _jobs_of(spark, build)
    assert jobs == 0


def test_multifield_bm25_plan_has_no_checkpoint(spark):
    df = REGISTRY["multifield_bm25_variants"].fn(spark, SF_DIR)
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()


_BM25_ROWS = ["bm25_search", "stemmed_bm25", "multifield_bm25_variants"]
#: F13's public predicate as the scan's Filter prints it.
_PUBLIC_FILTER = "Filter (isnotnull(doc_id) AND NOT ((doc_id % 7) = 0))"


def _final_plan(spark, name: str) -> str:
    """The final adaptive plan of the row at SF_DIR, after a noop
    execute of its own query execution, without expression ids."""
    qe = REGISTRY[name].fn(spark, SF_DIR)._jdf.queryExecution()
    qe.toRdd().count()
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return re.sub(r"#\d+L?", "", plan.split("== Initial Plan ==")[0])


def _below(lines: list[str], i: int) -> list[str]:
    """The lines of the subtree under the operator on line ``i``."""
    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for line in lines[i + 1:]:
        if col(line) <= col(lines[i]):
            break
        out.append(line)
    return out


@pytest.mark.parametrize("name", _BM25_ROWS)
def test_bm25_plan_filters_nothing_below_spread(spark, name):
    """Below spread()'s exchange only the public predicate filters: a
    filter on the tokens pushed there runs the token work in the
    single-task scan and gives the stats branch an exchange of its own."""
    lines = _final_plan(spark, name).splitlines()
    spreads = [i for i, line in enumerate(lines)
               if "+- Exchange hashpartitioning(doc_id, " in line and "REPARTITION_BY_NUM" in line]
    assert spreads
    for i in spreads:
        filters = [line.lstrip(" :+-*()0123456789") for line in _below(lines, i) if " Filter " in line]
        assert all(f == _PUBLIC_FILTER for f in filters), filters


def test_stemmed_bm25_runs_its_analyzer_once(spark):
    assert _final_plan(spark, "stemmed_bm25").count("ArrowEvalPython") == 1
