"""Seeded-random document attributes (SURVEY §2.7 C9/C10/C11 ★).

The reference derives "random" banner numbers and avatar emojis from
``random.seed(collection_id)`` — deterministic given the id, so it IS
a pure function and ports bit-for-bit (we run the same CPython
Mersenne-Twister). Implemented as plain functions + Arrow-batched
pandas UDFs.

Reference: banner (create_merged.py:898-899, 915 →
``tc-{n:02d}.png`` with ``randint(0, 19)``); AvatarEmoji.get_emoji
(create_merged.py:829-856: sort own types by ascending global emoji
count — missing → maxsize — seed with the id, choice from the first
type's emoji list, else the OTHER list).
"""

from __future__ import annotations

import random
import sys

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def seeded_banner(collection_id: str) -> str:
    rnd = random.Random()
    rnd.seed(collection_id)
    return f"tc-{rnd.randint(0, 19):02d}.png"


def seeded_emoji(
    collection_id: str,
    types: list[str],
    emojis_by_type: dict[str, list[str]],
    counts_by_type: dict[str, int],
    other_emojis: list[str],
) -> str:
    """AvatarEmoji.get_emoji semantics (create_merged.py:849-856)."""
    ordered = sorted(types, key=lambda t: counts_by_type.get(t, sys.maxsize))
    rnd = random.Random()
    rnd.seed(collection_id)
    if ordered and ordered[0] in emojis_by_type:
        return rnd.choice(emojis_by_type[ordered[0]])
    return rnd.choice(other_emojis)


@pandas_udf(T.StringType())
def seeded_banner_udf(ids: pd.Series) -> pd.Series:
    return ids.map(lambda i: seeded_banner(i) if i is not None else None)


def make_seeded_emoji_udf(emojis_by_type, counts_by_type, other_emojis):
    """Build an emoji UDF closed over the (broadcast-small) avatar
    table — the Spark form of the AvatarEmoji class."""

    @pandas_udf(T.StringType())
    def seeded_emoji_udf(ids: pd.Series, types: pd.Series) -> pd.Series:
        out = []
        for i, ts in zip(ids, types):
            if i is None:
                out.append(None)
            else:
                # Arrow hands array columns over as numpy arrays, whose
                # truthiness is ambiguous for >1 element — test None
                # explicitly instead of `ts or []`.
                labels = [] if ts is None else list(ts)
                out.append(
                    seeded_emoji(i, labels, emojis_by_type, counts_by_type, other_emojis)
                )
        return pd.Series(out)

    return seeded_emoji_udf
