"""Retention for dated snapshot stores
(operators/cdc.py::prune_snapshots): the foreachBatch maintainers
rotate one snapshot per micro-batch, so a long-lived stream needs
pruning — and pruning must not open a double-merge window (a replayed
stamp whose snapshot was deleted must be REFUSED, not re-merged)."""

from __future__ import annotations

import pytest

from namegraph_collections_spark.operators.additive_state import (
    KeyedState,
    maintain_keyed_state,
    marker_stamp,
)
from namegraph_collections_spark.operators.cdc import (
    latest_snapshot,
    prune_snapshots,
    pruned_stamps,
)


#: Raw keyed rows merged as they are: the identity program.
_SUM_A = KeyedState(lambda rows: rows, ("k",), {"a": "sum"})


def _state_rows(df):
    return sorted((r.k, r.a) for r in df.collect())


def _merge(spark, base, rows, stamp):
    contrib = spark.createDataFrame(rows, "k long, a long")
    return maintain_keyed_state(spark, base, _SUM_A, contrib, stamp)


def _snapshot_dirs(tmp):
    return sorted(p.name for p in tmp.iterdir() if p.name.startswith("snapshot="))


def test_prune_keeps_newest_and_marker_and_state(spark, tmp_path):
    base = str(tmp_path / "store")
    for i in range(5):
        _merge(spark, base, [(1, 1)], f"t{i}")
    before = _state_rows(latest_snapshot(spark, base))

    victims = prune_snapshots(spark, base, keep_last=2)
    assert victims == ["t0", "t1", "t2"]
    tmp = tmp_path / "store"
    assert _snapshot_dirs(tmp) == ["snapshot=t3", "snapshot=t4"]
    # marker untouched, state readable and unchanged
    assert marker_stamp(spark, base) == "t4"
    assert _state_rows(latest_snapshot(spark, base)) == before
    assert pruned_stamps(spark, base) == {"t0", "t1", "t2"}
    # idempotent: nothing further to prune
    assert prune_snapshots(spark, base, keep_last=2) == []


def test_replay_of_pruned_stamp_is_refused_not_remerged(spark, tmp_path):
    base = str(tmp_path / "store2")
    for i in range(3):
        _merge(spark, base, [(1, 1)], f"t{i}")
    prune_snapshots(spark, base, keep_last=1)
    # at-least-once redelivery of a PRUNED batch: its idempotence
    # marker (the committed snapshot) is gone, so the only safe answer
    # is a refusal — re-merging would double-count
    with pytest.raises(ValueError, match="pruned stamp"):
        _merge(spark, base, [(1, 1)], "t0")
    # state unharmed
    assert _state_rows(latest_snapshot(spark, base)) == [(1, 3)]


def test_prune_orders_batch_stamps_numerically(spark, tmp_path):
    from namegraph_collections_spark.operators.additive_state import (
        batch_stamp,
    )

    base = str(tmp_path / "store3")
    # b999999 then b1000000 — lexicographically INVERTED order
    _merge(spark, base, [(1, 1)], "b999999")
    _merge(spark, base, [(1, 1)], "b1000000")
    victims = prune_snapshots(spark, base, keep_last=1)
    # the numerically-OLDER stamp must be the victim
    assert victims == ["b999999"]
    assert marker_stamp(spark, base) == "b1000000"
    # and the wide-padded shared form sorts with them consistently
    _merge(spark, base, [(1, 1)], batch_stamp(1000001))
    assert prune_snapshots(spark, base, keep_last=1) == ["b1000000"]


def test_marker_target_is_never_pruned_even_with_keep_last_one(
    spark, tmp_path
):
    base = str(tmp_path / "store4")
    _merge(spark, base, [(1, 1)], "t0")
    assert prune_snapshots(spark, base, keep_last=1) == []
    assert marker_stamp(spark, base) == "t0"
    assert _state_rows(latest_snapshot(spark, base)) == [(1, 1)]


def test_later_prune_cannot_lose_earlier_ledger_entries(spark, tmp_path):
    """Round-10 ADVICE (medium): the single-file ledger was rewritten
    in place, so a crash during a LATER prune's rewrite could lose
    EARLIER pruned stamps whose snapshots were already deleted. The
    append-only ``_PRUNED.d/`` layout writes one file per prune;
    simulate the worst crash (the second prune's ledger file written
    EMPTY — truncated mid-write) and the first prune's refusals must
    survive."""
    base = str(tmp_path / "store5")
    for i in range(6):
        _merge(spark, base, [(1, 1)], f"t{i}")
    assert prune_snapshots(spark, base, keep_last=4) == ["t0", "t1"]
    assert prune_snapshots(spark, base, keep_last=2) == ["t2", "t3"]
    ldir = tmp_path / "store5" / "_PRUNED.d"
    files = sorted(p.name for p in ldir.iterdir() if not p.name.startswith("."))
    assert len(files) == 2, files  # one file per prune, never rewritten
    # crash simulation: the SECOND prune's file truncated to nothing
    (ldir / "prune-t3").write_text("")
    assert pruned_stamps(spark, base) == {"t0", "t1"}
    with pytest.raises(ValueError, match="pruned stamp"):
        _merge(spark, base, [(1, 1)], "t0")


def test_pruned_stamp_refusal_survives_padding_respelling(spark, tmp_path):
    """Round-10 ADVICE: ledger membership was exact-string while stamp
    ORDERING was numeric across padding widths — a batch pruned as
    'b5' replayed as the canonical 12-digit spelling (or vice versa)
    bypassed the ledger. Both spellings are one batch identity now."""
    from namegraph_collections_spark.operators.additive_state import (
        batch_stamp,
    )

    base = str(tmp_path / "store6")
    _merge(spark, base, [(1, 1)], "b5")  # unpadded batch-API spelling
    _merge(spark, base, [(1, 1)], batch_stamp(6))
    assert prune_snapshots(spark, base, keep_last=1) == ["b5"]
    with pytest.raises(ValueError, match="pruned stamp"):
        _merge(spark, base, [(1, 1)], batch_stamp(5))  # padded respelling
    base2 = str(tmp_path / "store7")
    _merge(spark, base2, [(1, 1)], batch_stamp(5))  # padded first
    _merge(spark, base2, [(1, 1)], batch_stamp(6))
    prune_snapshots(spark, base2, keep_last=1)
    with pytest.raises(ValueError, match="pruned stamp"):
        _merge(spark, base2, [(1, 1)], "b5")  # unpadded respelling


def test_legacy_single_file_ledger_still_read(spark, tmp_path):
    """Stores written by older builds carry a single ``_PRUNED`` file;
    its entries must keep refusing replays (at any padding width)."""
    base = str(tmp_path / "store8")
    _merge(spark, base, [(1, 1)], "b000000000007")
    (tmp_path / "store8" / "_PRUNED").write_text("b000000000003\n")
    assert pruned_stamps(spark, base) == {"b3"}
    with pytest.raises(ValueError, match="pruned stamp"):
        _merge(spark, base, [(1, 1)], "b3")


def test_ledger_read_cache_stays_fresh_and_skips_reopens(spark, tmp_path):
    """Round-11 ADVICE: pruned_stamps re-opened every prune file on
    every call — O(total prunes) FS round trips per micro-batch write.
    The per-(path, length) parse cache must (a) skip re-READING
    unchanged files on repeat calls, and (b) never go stale: a NEW
    prune (even one written by another process — simulated by writing
    the ledger file directly) must be visible on the very next call,
    because the directory is still listed every time."""
    from namegraph_collections_spark.operators import cdc

    base = str(tmp_path / "store9")
    for i in range(4):
        _merge(spark, base, [(1, 1)], f"t{i}")
    assert prune_snapshots(spark, base, keep_last=3) == ["t0"]
    assert pruned_stamps(spark, base) == {"t0"}
    before = dict(cdc._LEDGER_FILE_CACHE)
    # repeat call: same files, same lengths — served from cache
    assert pruned_stamps(spark, base) == {"t0"}
    assert cdc._LEDGER_FILE_CACHE == before
    # a second prune adds a new file; it must be read immediately
    assert prune_snapshots(spark, base, keep_last=2) == ["t1"]
    assert pruned_stamps(spark, base) == {"t0", "t1"}
    # out-of-band writer (another process): new file, no prune() call
    (tmp_path / "store9" / "_PRUNED.d" / "prune-t2").write_text("t2\n")
    assert pruned_stamps(spark, base) == {"t0", "t1", "t2"}
