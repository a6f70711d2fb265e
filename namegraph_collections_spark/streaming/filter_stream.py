"""Streaming ingest filters: the per-row filter family at the point
of arrival.

A production corpus build runs its per-row filters (Gopher quality
signals, PII redaction, language ID, C4 line cleaning, URL
canonicalization) as documents LAND, not as a nightly batch — and
because each is a pure scan+project column program (no shuffle, no
state), Spark's unified API runs the IDENTICAL transformation on a
streaming source: apply the batch ``*_of`` function
(``quality_signals_of``, ``pii_scan_of``, ``language_id_of``,
``c4_clean_of``, ``url_canonicalize_of``) to a ``readStream``
DataFrame from the readers below. Append mode, zero state,
per-microbatch cost proportional to the new files only — the
cheapest possible streaming shape, and batch/stream parity holds by
construction (pinned by tests/test_filter_stream.py). This module
adds the readers and the one stream-specific composition,
``domain_gate_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

CUSTOMER_SCHEMA = StructType(
    [
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_nationkey", IntegerType()),
        StructField("c_acctbal", DoubleType()),
        StructField("c_mktsegment", StringType()),
    ]
)


def read_documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def read_customer_stream(spark: SparkSession, cust_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(CUSTOMER_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(cust_dir)
    )


def domain_gate_stream(docs_stream: DataFrame, gate: DataFrame) -> DataFrame:
    """Apply a batch-computed domain gate to documents AS THEY LAND —
    the stream-static join pattern: ``gate`` is the (domain,
    domain_keep) table host_quality_rollup produced over the existing
    corpus (re-read per microbatch — it is a handful of rows), and
    each arriving document broadcast-joins it after computing its own
    domain and quality keep flag with the batch fused per-doc program
    VERBATIM (web_rollup.per_doc_web_frame_of — one composition site,
    no drift). Emits the stateless verdict subset (domain ∧ quality);
    the first-copy-per-URL flag is inherently stateful and stays
    batch/index-side, like URL first-wins dedup (inherently stateful —
    it compares against ALL prior arrivals).

    A document from a domain the gate has never seen (the normal case
    for a live ingest stream — the rollup ran before the domain
    existed) must NOT silently vanish: the join is LEFT, its
    ``domain_keep`` comes through as NULL ("no verdict yet"), and
    ``ingest_keep`` fails OPEN to the per-doc quality flag alone —
    the gate can only have an opinion about domains it has evidence
    for; unknown-domain docs flow on to the next filter stage.

    Scale shape: scan+project plus a broadcast hash join against a
    tiny static side — still zero shuffles of the stream, still
    append mode, per-microbatch cost proportional to the new files.
    """
    from pyspark.sql import functions as F

    from namegraph_collections_spark.queries.web_rollup import per_doc_web_frame_of

    sig = per_doc_web_frame_of(docs_stream)
    return (
        sig.select("doc_id", "domain", F.col("keep").alias("doc_keep"))
        .join(F.broadcast(gate.select("domain", "domain_keep")), "domain", "left")
        .select(
            "doc_id",
            "domain",
            "domain_keep",
            "doc_keep",
            F.expr("coalesce(domain_keep, true) AND doc_keep").alias(
                "ingest_keep"
            ),
        )
    )
