"""Canonical-JSON document hashing (SURVEY §2.7 C8 ★, §4 item 2).

Reference: JSONLIndex.hash (/root/reference/airflow/dags/
update_es.py:98-104) — sha256 updated with
``json.dumps(value, sort_keys=True)`` of each compare-field, in the
field-list order. Byte-for-byte parity requires Python's exact dump
formatting, so this is a plain Python function over the JSON form of
each field (the engine's CDC joins use the cheaper column-level
row_hash in operators/cdc.py; this one exists for parity with
reference hashes).
"""

from __future__ import annotations

import hashlib
import json


def canonical_document_hash(field_jsons: list[str | None]) -> str:
    """sha256 over sort_keys-canonical dumps of the given field values
    (each passed as its JSON serialization, None for absent)."""
    h = hashlib.sha256()
    for fj in field_jsons:
        value = None if fj is None else json.loads(fj)
        h.update(json.dumps(value, sort_keys=True).encode("utf-8"))
    return h.hexdigest()
