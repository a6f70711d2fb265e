"""Batch/stream parity for the ingest filter family
(streaming/filter_stream.py): the quality-signal, PII, language-ID,
C4 and URL programs are the SAME ``*_of`` functions the batch queries
run, so draining a two-file landing zone through them must reproduce
the batch output exactly.
"""

from __future__ import annotations

import shutil

from namegraph_collections_spark.queries import REGISTRY
from namegraph_collections_spark.queries.c4_clean import c4_clean_of
from namegraph_collections_spark.queries.pii import pii_scan_of
from namegraph_collections_spark.queries.quality_signals import quality_signals_of
from namegraph_collections_spark.queries.text_analysis import language_id_of
from namegraph_collections_spark.queries.url_ops import url_canonicalize_of
from namegraph_collections_spark.streaming.events import run_available_now
from namegraph_collections_spark.streaming.filter_stream import (
    read_customer_stream,
    read_documents_stream,
)
from tests.conftest import SF_DIR


def _landing_zone(spark, tmp_path, table, key):
    """Split the fixture table into two parquet files in a directory —
    a landing zone the file-stream source drains one file per batch."""
    src = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    out = tmp_path / f"{table}_zone"
    half = src.filter(f"{key} % 2 = 0")
    rest = src.filter(f"{key} % 2 = 1")
    for i, part in enumerate([half, rest]):
        d = tmp_path / f"_{table}_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(d))
        out.mkdir(exist_ok=True)
        for f in d.glob("part-*.parquet"):
            shutil.copy(f, out / f"file-{i}.parquet")
    return str(out)


def _rows(df, cols):
    return sorted(tuple(map(repr, r)) for r in df.select(*cols).collect())


def test_quality_filter_stream_matches_batch(spark, tmp_path):
    zone = _landing_zone(spark, tmp_path, "documents", "doc_id")
    got = run_available_now(
        quality_signals_of(read_documents_stream(spark, zone)),
        str(tmp_path / "ckpt_q"),
    )
    want = REGISTRY["doc_quality_signals"].fn(spark, SF_DIR)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_pii_scan_stream_matches_batch(spark, tmp_path):
    zone = _landing_zone(spark, tmp_path, "customer", "c_custkey")
    got = run_available_now(
        pii_scan_of(read_customer_stream(spark, zone)),
        str(tmp_path / "ckpt_p"),
    )
    want = REGISTRY["pii_scan_redact"].fn(spark, SF_DIR)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_language_id_stream_matches_batch(spark, tmp_path):
    zone = _landing_zone(spark, tmp_path, "documents", "doc_id")
    got = run_available_now(
        language_id_of(read_documents_stream(spark, zone)),
        str(tmp_path / "ckpt_l"),
    )
    want = REGISTRY["language_id"].fn(spark, SF_DIR)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_c4_clean_stream_matches_batch(spark, tmp_path):
    zone = _landing_zone(spark, tmp_path, "documents", "doc_id")
    got = run_available_now(
        c4_clean_of(read_documents_stream(spark, zone)),
        str(tmp_path / "ckpt_c4"),
    )
    want = REGISTRY["c4_line_filter"].fn(spark, SF_DIR)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_url_canonicalize_stream_matches_batch(spark, tmp_path):
    zone = _landing_zone(spark, tmp_path, "documents", "doc_id")
    got = run_available_now(
        url_canonicalize_of(read_documents_stream(spark, zone)),
        str(tmp_path / "ckpt_u"),
    )
    want = url_canonicalize_of(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_domain_gate_stream_matches_batch(spark, tmp_path):
    """Stream-static join parity: the ingest-time gate verdicts equal
    the batch domain_gated_corpus verdicts (minus the stateful
    url_keep leg) when the gate table is the batch rollup."""
    from namegraph_collections_spark.queries.web_rollup import host_quality_rollup
    from namegraph_collections_spark.streaming.filter_stream import domain_gate_stream

    zone = _landing_zone(spark, tmp_path, "documents", "doc_id")
    gate = host_quality_rollup(spark, SF_DIR)
    got = run_available_now(
        domain_gate_stream(read_documents_stream(spark, zone), gate),
        str(tmp_path / "ckpt_gate"),
    )
    want = REGISTRY["domain_gated_corpus"].fn(spark, SF_DIR).selectExpr(
        "doc_id",
        "domain",
        "domain_keep",
        "doc_keep",
        "domain_keep AND doc_keep AS ingest_keep",
    )
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_domain_gate_stream_fails_open_for_unknown_domains(spark, tmp_path):
    """A document whose domain the gate has never seen must flow
    through with a NULL verdict and ingest_keep falling back to the
    per-doc quality flag — never silently vanish from the stream."""
    from namegraph_collections_spark.queries.web_rollup import host_quality_rollup
    from namegraph_collections_spark.streaming.filter_stream import domain_gate_stream

    zone = _landing_zone(spark, tmp_path, "documents", "doc_id")
    # a gate that has evidence for only half the domains
    gate = host_quality_rollup(spark, SF_DIR).filter("domain < 'src2'")
    known = {r.domain for r in gate.select("domain").collect()}
    got = run_available_now(
        domain_gate_stream(read_documents_stream(spark, zone), gate),
        str(tmp_path / "ckpt_gate_open"),
    )
    n_corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    rows = got.collect()
    assert len(rows) == n_corpus  # nothing dropped
    for r in rows:
        if r.domain in known:
            assert r.domain_keep is not None
            assert r.ingest_keep == (r.domain_keep and r.doc_keep)
        else:
            assert r.domain_keep is None
            assert r.ingest_keep == r.doc_keep  # fail-open to the doc flag
