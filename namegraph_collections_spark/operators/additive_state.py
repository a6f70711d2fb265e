"""Generic incremental maintenance of ADDITIVE keyed state — the
shared machinery behind every "state at key grain, merge = sum-by-key"
maintainer in the engine (domain gate pages, DSIR feature buckets, NB
model counts, count-min cells, histogram grids, embedding-diversity and
IVF sums, the vocabulary index).

The IVM observation all of them share: pick the grain at which every
measure is additive, and maintenance reduces to

    state' = (state UNION batch_contribution) GROUP BY keys SUM measures

(any per-column commutative-associative monoid, not just SUM — ``min``
gives "first ever seen" state like the vocabulary index's first-document
column, ``max`` high-water marks) persisted with the dated-snapshot
rotation of operators/cdc.py so day N+1 merges into day N's committed
state. What varies per operator is only the CONTRIBUTION program (how a
batch becomes keyed rows), its keys and monoids — declared once as a
:class:`KeyedState` beside the program — and the READ program (how state
re-derives the operator's output); the merge, the replay-idempotence
guard, and the ordering guard live here once.

Durability contract (shared by every caller, pinned by
tests/test_gate_maintain.py and test_cms_maintain.py):

- **Idempotent per stamp**: foreachBatch is at-least-once — a crash
  between snapshot rotation and the streaming checkpoint commit
  re-delivers the same batch id, and re-merging would double every
  additive measure. A stamp whose snapshot is already COMMITTED (its
  ``_SUCCESS`` marker exists) is only re-pointed, never re-merged.
- **Crash-window safe**: Spark's Parquet writer creates the snapshot
  directory at job start and writes ``_SUCCESS`` last, so a bare
  directory without the marker is a crashed half-write — it falls
  through to the normal ``mode("overwrite")`` merge instead of being
  treated as merged (the marker never pointed at it).
- **Ordering guard**: stamps must be lexicographically monotonic
  (dated stamps, zero-padded batch ids). Structured Streaming only
  redelivers the LATEST batch, but the batch API has no such guard —
  replaying a stamp OLDER than the marker's current one raises
  instead of silently rolling state back past newer merges.

Scale shape: per batch, the caller's contribution program + one
keyed partial-aggregated shuffle of the BATCH + a sum-by-key merge
against state that a production deployment bucket-joins on the same
key (co-located, no corpus-wide shuffle).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.operators.cdc import (
    _read_marker as marker_stamp,
    _write_marker as repoint_marker,
    latest_snapshot,
    rotate_snapshot,
)


#: Batch-shaped stamps — ``b`` + digits — as emitted by the streaming
#: twins' ``batch_stamp``. Matched so the ordering guard can compare
#: them numerically regardless of padding width.
_BATCH_STAMP_RE = re.compile(r"^b(\d+)$")


def batch_stamp(batch_id: int) -> str:
    """The stamp for a streaming micro-batch id, shared by every
    foreachBatch maintenance twin. Zero-padded to 12 digits so plain
    lexicographic order agrees with numeric order up to 10**12
    batches (~31k years at one batch per second); beyond any padding
    width, ``stamp_is_older`` compares batch stamps NUMERICALLY, so
    the ordering guard never spuriously trips on a wider id."""
    return f"b{batch_id:012d}"


def canonical_stamp(stamp: str) -> str:
    """Ledger-canonical spelling of a stamp: batch-shaped stamps
    collapse to ``b<id>`` with no zero padding, so ``b999999`` and the
    12-digit ``b000000999999`` are ONE ledger identity — they are the
    same batch under ``stamp_is_older``, and the pruned-stamp refusal
    must not be bypassable by re-spelling the id at a different
    padding width (round-10 ADVICE). Non-batch stamps pass through
    unchanged (their ordering contract is plain lexicographic, so
    their spelling IS their identity)."""
    m = _BATCH_STAMP_RE.match(stamp)
    return f"b{int(m.group(1))}" if m else stamp


def stamp_is_older(a: str, b: str) -> bool:
    """True iff stamp ``a`` is strictly older than ``b``. Batch-shaped
    stamps (``b<digits>``) compare by numeric batch id — immune to the
    lexicographic rollover a fixed padding width would hit ('b1000000'
    sorts below 'b999999' as text). Dated / ad-hoc stamps keep the
    documented lexicographic contract."""
    ma, mb = _BATCH_STAMP_RE.match(a), _BATCH_STAMP_RE.match(b)
    if ma and mb:
        return int(ma.group(1)) < int(mb.group(1))
    return a < b


def snapshot_committed(spark: SparkSession, base_dir: str, stamp: str) -> bool:
    """True only if the stamp's snapshot was COMMITTED — i.e. its
    ``_SUCCESS`` marker exists (see the module docstring's
    crash-window contract)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    success = jvm.org.apache.hadoop.fs.Path(
        f"{base_dir}/snapshot={stamp}/_SUCCESS"
    )
    return success.getFileSystem(conf).exists(success)


#: Per-column merge operators a keyed state may declare. Each must be
#: a commutative, associative, duplicate-tolerant-in-any-split monoid
#: over its column (which is what makes ANY batching converge to the
#: global aggregate — the property test's guarantee): plain counts
#: use ``sum``; "first ever seen" uses ``min``; high-water marks use
#: ``max``.
_MERGE_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


@dataclass(frozen=True)
class KeyedState:
    """One maintained state, declared once next to its state program:
    ``program(batch)`` turns a batch into keyed contribution rows (the
    fold fixture also calls it as ``program(batch, extra=tag)`` to group
    by a batch tag), ``keys`` are the state's key columns, and ``merge``
    maps every other column to its monoid (``sum`` / ``min`` / ``max``).
    The filesystem merge (:func:`maintain_keyed_state`), the in-plan
    fold (``queries/maintainer_reads.py::folded_state``) and the
    streaming drain (``streaming.run_maintenance_stream``) all read the
    keys and monoids from here."""

    program: Callable[..., DataFrame]
    keys: tuple[str, ...]
    merge: dict[str, str]

    def __post_init__(self) -> None:
        unknown = {f for f in self.merge.values() if f not in _MERGE_FNS}
        if unknown:
            raise ValueError(f"unsupported merge fns: {sorted(unknown)}")

    @property
    def columns(self) -> list[str]:
        return [*self.keys, *self.merge]

    def merged(self, rows: DataFrame) -> DataFrame:
        """``rows`` merged by key with each column's monoid."""
        return rows.groupBy(*self.keys).agg(
            *[_MERGE_FNS[fn](c).alias(c) for c, fn in self.merge.items()]
        )


def maintain_keyed_state(
    spark: SparkSession,
    base_dir: str,
    state: KeyedState,
    batch: DataFrame,
    stamp: str,
) -> DataFrame:
    """Merge a batch's keyed contribution (``state.program(batch)``)
    into the standing state and rotate a dated snapshot: read the
    marker's current state (empty before the first rotation), merge by
    key with each column's declared monoid, write, repoint. Returns the
    rotated state as read back from storage. Replay-idempotent per
    stamp and ordering-guarded per the module docstring."""
    from namegraph_collections_spark.operators.cdc import pruned_stamps

    if canonical_stamp(stamp) in pruned_stamps(spark, base_dir):
        # The stamp WAS committed but retention deleted its snapshot
        # (operators/cdc.py::prune_snapshots): its idempotence marker
        # is gone, so re-merging would silently double every measure.
        # Refuse, like the out-of-order guard — pruned stamps are
        # strictly older than the marker's by construction.
        raise ValueError(
            f"replay of pruned stamp {stamp!r}: its snapshot was removed "
            "by retention; re-merging would double-count the batch"
        )
    if snapshot_committed(spark, base_dir, stamp):
        current_stamp = marker_stamp(spark, base_dir)
        if current_stamp is not None and stamp_is_older(stamp, current_stamp):
            raise ValueError(
                f"out-of-order replay: stamp {stamp!r} is older than the "
                f"latest-marker's {current_stamp!r}; repointing would roll "
                "the state back past newer merges"
            )
        repoint_marker(spark, base_dir, stamp)
        return latest_snapshot(spark, base_dir)
    cols = state.columns
    rows = state.program(batch).select(*cols)
    current = latest_snapshot(spark, base_dir)
    if current is not None:
        rows = current.select(*cols).unionByName(rows)
    # The FIRST rotation goes through the same merge-by-key as every
    # later one: a program whose rows are not pre-aggregated must not
    # seed the state with duplicate-key rows that read paths would then
    # double-count. Cheap — the contribution is bounded at state grain
    # by contract.
    rotate_snapshot(state.merged(rows).select(*cols), base_dir, stamp)
    return latest_snapshot(spark, base_dir)
