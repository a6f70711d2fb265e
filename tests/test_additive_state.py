"""Property tests for the shared additive-state core
(operators/additive_state.py): any way of slicing a keyed fact table
into batches and any merge order must converge to the same state —
the algebraic guarantee (commutative + associative sum-by-key) every
maintainer built on the core inherits for free."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from namegraph_collections_spark.operators.additive_state import (
    KeyedState,
    maintain_keyed_state,
    marker_stamp,
)

#: Raw keyed rows merged as they are: the identity program.
SUM_AB = KeyedState(lambda rows: rows, ("k",), {"a": "sum", "b": "sum"})
MIN_A_SUM_B = KeyedState(lambda rows: rows, ("k",), {"a": "min", "b": "sum"})

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

#: rows: (key in 0..4, measure a, measure b) — small key space so
#: batches genuinely collide on keys.
rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.integers(min_value=0, max_value=100),
        st.integers(min_value=0, max_value=100),
    ),
    min_size=1,
    max_size=30,
)
# how to slice the rows into batches: each row assigned to one of 3
splits_strategy = st.lists(
    st.integers(min_value=0, max_value=2), min_size=30, max_size=30
)


def _expected(rows):
    agg: dict[int, tuple[int, int]] = {}
    for k, a, b in rows:
        pa, pb = agg.get(k, (0, 0))
        agg[k] = (pa + a, pb + b)
    return sorted((k, a, b) for k, (a, b) in agg.items())


def _state_rows(df):
    return sorted((r.k, r.a, r.b) for r in df.collect())


@settings(**_SETTINGS)
@given(rows=rows_strategy, split=splits_strategy)
def test_any_batching_converges_to_the_global_aggregate(
    spark, tmp_path_factory, rows, split
):
    base = str(tmp_path_factory.mktemp("astate"))
    batches = {0: [], 1: [], 2: []}
    for i, row in enumerate(rows):
        batches[split[i % len(split)]].append(row)
    state = None
    stamp = 0
    for b in range(3):
        if not batches[b]:
            continue
        from pyspark.sql import functions as F

        contrib = (
            spark.createDataFrame(batches[b], "k long, a long, b long")
            .groupBy("k")
            .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
        )
        state = maintain_keyed_state(spark, base, SUM_AB, contrib, f"t{stamp}")
        stamp += 1
    assert state is not None
    assert _state_rows(state) == _expected(rows)
    # the marker points at the last committed stamp
    assert marker_stamp(spark, base) == f"t{stamp - 1}"


def test_first_rotation_normalizes_a_non_preaggregated_contribution(
    spark, tmp_path_factory
):
    """The FIRST merge applies the same sum-by-key as every later one:
    a caller passing raw (unaggregated) keyed rows must not seed the
    state with duplicate-key rows that read paths would double-count
    (round-9 advisor finding)."""
    base = str(tmp_path_factory.mktemp("astate_first"))
    raw = spark.createDataFrame(
        [(1, 10, 1), (1, 5, 2), (2, 7, 3)], "k long, a long, b long"
    )
    state = maintain_keyed_state(spark, base, SUM_AB, raw, "t0")
    assert _state_rows(state) == [(1, 15, 3), (2, 7, 3)]


def test_batch_stamps_order_numerically_past_any_padding_width(
    spark, tmp_path_factory
):
    """b1000000 sorts below b999999 as TEXT; the ordering guard must
    compare batch stamps numerically so a committed-stamp replay on a
    long-lived stream never spuriously trips (round-9 advisor
    finding). Also pins batch_stamp's zero-padding contract."""
    from namegraph_collections_spark.operators.additive_state import (
        batch_stamp,
        stamp_is_older,
    )

    assert batch_stamp(7) == "b000000000007"
    # numeric comparison wins for batch-shaped stamps, any width
    assert stamp_is_older("b999999", "b1000000")
    assert not stamp_is_older("b1000000", "b999999")
    assert stamp_is_older(batch_stamp(999999), batch_stamp(1000000))
    # dated stamps keep the lexicographic contract
    assert stamp_is_older("2026-01-01", "2026-01-02")

    base = str(tmp_path_factory.mktemp("astate_stampwidth"))
    contrib = spark.createDataFrame([(1, 1, 1)], "k long, a long, b long")
    maintain_keyed_state(spark, base, SUM_AB, contrib, "b999999")
    # merging the numerically-NEWER but lexicographically-smaller
    # stamp must succeed, not raise out-of-order
    state = maintain_keyed_state(spark, base, SUM_AB, contrib, "b1000000")
    assert _state_rows(state) == [(1, 2, 2)]


@settings(**_SETTINGS)
@given(rows=rows_strategy, split=splits_strategy)
def test_mixed_monoid_batching_converges(spark, tmp_path_factory, rows, split):
    """maintain_keyed_state with {a: min, b: sum}: any slicing of the
    rows into batches converges to (min a, sum b) per key — the
    guarantee the vocabulary index's first_doc column rides."""
    base = str(tmp_path_factory.mktemp("kstate"))
    batches = {0: [], 1: [], 2: []}
    for i, row in enumerate(rows):
        batches[split[i % len(split)]].append(row)
    state = None
    stamp = 0
    for b in range(3):
        if not batches[b]:
            continue
        contrib = spark.createDataFrame(batches[b], "k long, a long, b long")
        state = maintain_keyed_state(spark, base, MIN_A_SUM_B, contrib, f"t{stamp}")
        stamp += 1
    assert state is not None
    agg: dict[int, tuple[int, int]] = {}
    for k, a, b in rows:
        pa, pb = agg.get(k, (None, 0))
        agg[k] = (a if pa is None else min(pa, a), pb + b)
    assert _state_rows(state) == sorted(
        (k, a, b) for k, (a, b) in agg.items()
    )
