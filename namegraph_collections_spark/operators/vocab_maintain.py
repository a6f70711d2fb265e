"""Incremental maintenance of the corpus vocabulary index — the
MIXED-monoid user of the keyed-state core (operators/additive_state.py):
per token type the state carries its occurrence count (merge = SUM) and
the smallest doc_id that ever contained it (merge = MIN, "first ever
seen").

Why a pipeline wants this standing: the vocabulary is the input to
tokenizer sizing, Heaps-law extrapolation (queries/corpus_stats.py),
and OOV monitoring — and it is exactly the state that is expensive to
recompute (a full token-grain shuffle over the corpus) but cheap to
maintain (a token-grain shuffle over the BATCH, then merge-by-key
against state that production bucket-joins on the token). The
``first_doc`` column additionally answers "did this batch add NEW
types" — a batch whose merge leaves the type count unchanged is pure
repetition, the vocabulary-level duplication smell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from namegraph_collections_spark.functions.det_round import micro_spark
from namegraph_collections_spark.operators.additive_state import KeyedState


def vocab_state_for(docs: DataFrame, extra: str | None = None) -> DataFrame:
    """A batch's contribution: per-type (min doc_id, occurrence
    count) over the engine's standard whitespace/lowercase
    tokenization — the same token grain as heaps_law_curve.

    ``extra`` names a pass-through grouping column (the single-pass
    fold fixture's batch tag — see ivf_state_for's docstring)."""
    grp = [extra] if extra is not None else []
    return (
        docs.select(
            "doc_id", *grp,
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .groupBy("tok", *grp)
        .agg(
            F.min("doc_id").cast("long").alias("first_doc"),
            F.count(F.lit(1)).cast("long").alias("occ"),
        )
    )


#: The vocabulary index's maintained state: one row per token type —
#: bounded by the type dictionary, not the corpus.
VOCAB_STATE = KeyedState(vocab_state_for, ("tok",), {"first_doc": "min", "occ": "sum"})


def vocab_head_from_state(state: DataFrame, k: int = 25) -> DataFrame:
    """The head of the maintained dictionary — the top-``k`` types by
    (occurrence desc, tok asc) with their first-seen doc ids: the OOV/
    stopword monitoring read an ingest pipeline actually serves, and
    the read that exercises the state's MIN monoid (``first_doc``),
    which the one-row stats summary never touches. Bounded top-k via
    ``ranked_topk`` (TakeOrderedAndProject — per-partition partial
    top-k, never a global sort)."""
    from namegraph_collections_spark.queries.registry import ranked_topk

    return ranked_topk(
        state.select("tok", "first_doc", "occ"),
        k,
        F.col("occ").desc(),
        F.col("tok").asc(),
    )


def vocab_stats_from_state(state: DataFrame) -> DataFrame:
    """The corpus vocabulary summary re-derived from state alone —
    one row: (n_types, n_tokens, ttr_micro, hapax_types) where hapax
    (occurrence = 1) types are the classic vocabulary-growth tail.
    Equal by construction to the same aggregate over the one-shot
    ``vocab_state_for`` of the full corpus (pinned by
    tests/test_vocab_maintain.py)."""
    return state.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("occ").cast("long").alias("n_tokens"),
        F.sum((F.col("occ") == 1).cast("long")).cast("long").alias("hapax_types"),
    ).selectExpr(
        "n_types",
        "n_tokens",
        "hapax_types",
        f"CAST({micro_spark('n_types', 'n_tokens')} AS BIGINT) AS ttr_micro",
    )
