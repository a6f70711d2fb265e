"""Parquet table loaders for the synthetic star schema (TESTDATA.md).

These are the engine's canonical batch sources: columnar Parquet with
filter/projection pushdown handled by Catalyst. At 100 TB these reads
parallelize by file split; nothing here is local-mode specific.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every synthetic table from ``sf_dir`` as a DataFrame, through
    the query registry's schema-memoizing ``tbl``."""
    from namegraph_collections_spark.queries.registry import tbl

    sf_dir = sf_dir or DEFAULT_SF_DIR
    return {name: tbl(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (for the SQL API)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def read_evolving_parquet(
    spark: SparkSession, path: str, expect: dict[str, str] | None = None
) -> DataFrame:
    """Read a parquet directory whose files were written under
    DIFFERENT schema generations — the landing-zone reality at 100 TB,
    where upstream producers add columns over months and nobody
    rewrites old files.

    ``mergeSchema`` makes the footer union the schema (files missing a
    column yield NULLs for it), which costs one footer read per file
    at planning time — acceptable for landing zones, which is why it
    is opt-in here and NOT the default for the hot star-schema loaders
    above. ``expect`` (name -> Spark dtype string) then pins the
    columns downstream code depends on, failing fast with every
    mismatch listed instead of an opaque AnalysisException later in
    some join.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expect:
        from pyspark.sql.types import _parse_datatype_string

        have = {f.name: f.dataType for f in df.schema.fields}
        problems = []
        for col, dtype in expect.items():
            # Parse the expectation so every Spark alias spelling
            # (long/bigint, int/integer, string/varchar) compares by
            # TYPE, not by string — raw df.dtypes equality would
            # reject 'long' against a bigint column.
            want = _parse_datatype_string(dtype)
            if col not in have:
                problems.append(f"missing column {col!r} (want {dtype})")
            elif have[col] != want:
                problems.append(
                    f"column {col!r} is {have[col].simpleString()}, want {dtype}"
                )
        if problems:
            raise TypeError(
                f"evolving parquet at {path} failed schema expectations: "
                + "; ".join(problems)
            )
    return df
