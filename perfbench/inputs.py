"""Seeded input generator for the ``incremental_sync`` workload.

The sync stream is a sequence of collection-document snapshots whose
creates, updates and deletes per generation are known exactly. It is a
pure function of its seed: the same seed writes byte-identical parquet.
(``short_queries`` reads the fixed sf0.1 tables under ``data/``.)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _strs(prefix: str, keys: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pc.cast(pa.array(keys), pa.string()), "")


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a seedable, vectorized integer hash."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


class SyncStream:
    """Successive snapshots of collection documents keyed by ``id``.

    Every generation after the first deletes, updates and creates
    ``churn`` of the live rows each. A document's fields are a pure
    function of (seed, id, version), so an update is exactly a version
    bump and the expected create/update/delete counts are known.
    """

    KEY = "id"

    def __init__(self, seed: int, rows: int, churn: float) -> None:
        self.rng = np.random.default_rng(seed)
        self.salt = np.uint64(seed * 0x9E3779B97F4A7C15 % 2**64)
        self.ids = np.arange(rows, dtype=np.int64)
        self.version = np.zeros(rows, dtype=np.int64)
        self.next_id = rows
        self.churn = churn
        self.generation = 0
        self.expected = {"create": rows, "update": 0, "delete": 0}

    def advance(self) -> None:
        n = len(self.ids)
        k = int(n * self.churn)
        order = self.rng.permutation(n)
        keep = np.ones(n, dtype=bool)
        keep[order[:k]] = False
        self.version[order[k : 2 * k]] += 1
        self.ids = np.concatenate([self.ids[keep], np.arange(self.next_id, self.next_id + k)])
        self.version = np.concatenate([self.version[keep], np.zeros(k, dtype=np.int64)])
        self.next_id += k
        self.generation += 1
        self.expected = {"create": k, "update": k, "delete": k}

    def names(self, count: int) -> list[str]:
        """Member names of the first ``count`` documents, as ENS names."""
        h = _mix(self.ids[:count].astype(np.uint64) ^ self.salt)
        return [f"{WORDS[int(a) % len(WORDS)]}{int(b) % 10_000}.eth" for a, b in zip(h, h >> np.uint64(20))]

    def table(self) -> pa.Table:
        ids = self.ids
        h = _mix(ids.astype(np.uint64) * np.uint64(1_000_003) + self.version.astype(np.uint64) ^ self.salt)
        vocab = np.asarray(WORDS, dtype=object)

        def word(shift: int) -> pa.Array:
            return pa.array(vocab[((h >> np.uint64(shift)) % np.uint64(len(WORDS))).astype(np.int64)], pa.string())

        name = pc.binary_join_element_wise(word(0), word(8), _strs("", ids), " ")
        members = pc.binary_join_element_wise(
            _strs("", ((h >> np.uint64(16)) % np.uint64(10_000)).astype(np.int64)),
            _strs("", ((h >> np.uint64(32)) % np.uint64(10_000)).astype(np.int64)),
            ".eth,",
        )
        return pa.table(
            {
                "id": pa.array(ids),
                "collection_name": name,
                "members_count": pa.array(((h >> np.uint64(24)) % np.uint64(5000)).astype(np.int64)),
                "collection_rank": ((h >> np.uint64(12)) % np.uint64(1_000_000)).astype(np.float64) / 1000.0,
                "keywords_csv": pc.binary_join_element_wise(word(40), word(48), ","),
                "top_members_csv": pc.binary_join_element_wise(members, ".eth", ""),
                "is_merged": pa.array((h & np.uint64(1)).astype(bool)),
                "version": pa.array(self.version),
            }
        )

    def write(self, path: str) -> None:
        pq.write_table(self.table(), path)
