"""Name/member curation (SURVEY §2.7 C1/C3/C5/C6 ★).

curate_name is pure column expressions (JVM-side). curate_member needs
the Python normalizer, so it ships as (a) a plain Python function (the
semantic contract + unit-testable against the reference goldens) and
(b) an Arrow-batched pandas UDF, which plans/enrich_merge.py applies
with the reference's own distinct→compute→join pattern
(create_merged.py:100-134 — SURVEY §4 "distinct-before-expensive-UDF").
"""

from __future__ import annotations

import re
from urllib.parse import unquote

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from namegraph_collections_spark.functions.normalize import DisallowedLabel, force_normalize

_PARENTHETICAL = re.compile(r" *\(.*\)$")


def curate_name_col(article: Column) -> Column:
    """Article URL/title → display name (C3 ★), all JVM expressions.

    Reference: curate_name (create_merged.py:373-380) — strip the
    enwiki URL prefix (extract_article_name,
    create_collections.py:609-619), '_'→space, URL-unquote, drop
    leading 'List of '/'Category:', uppercase the first char.
    """
    s = F.regexp_replace(article, "^https?://en\\.wikipedia\\.org/wiki/", "")
    s = F.replace(s, F.lit("_"), F.lit(" "))
    s = F.url_decode(s)
    s = F.regexp_replace(s, "^List of ", "")
    s = F.regexp_replace(s, "^Category:", "")
    return F.concat(F.upper(F.substring(s, 1, 1)), F.substring(s, 2, 1 << 30))


def strip_eth_col(name: Column) -> Column:
    """Drop a trailing '.eth' (C6; create_merged.py:347-348)."""
    return F.regexp_replace(name, r"\.eth$", "")


def curate_member(member: str) -> tuple[str, list[str]] | None:
    """Member title → (curated, tokenized) or None if dropped (C5 ★).

    Reference: curate_member (create_merged.py:187-209): unquote,
    strip ``.-'"``, drop a trailing parenthetical, force_normalize the
    whole string and each space-token (failing tokens dropped),
    require len(curated) >= 3 (F11).

    Goldens (tests/test_wiki_api.py:143-148):
      'Betty Williams (peace activist)' → ('bettywilliams', ['betty','williams'])
      'Adolfo_Pérez_Esquivel'           → ('adolfopérezesquivel', ['adolfopérezesquivel'])
      'ιοσρβυνγ'                        → None
    """
    s = unquote(member)
    for ch in ".-'\"":
        s = s.replace(ch, "")
    s = _PARENTHETICAL.sub("", s)
    try:
        curated = force_normalize(s)
    except DisallowedLabel:
        return None
    tokenized = []
    for token in s.split(" "):
        try:
            tokenized.append(force_normalize(token))
        except DisallowedLabel:
            pass
    if len(curated) >= 3:
        return curated, tokenized
    return None


_CURATE_SCHEMA = T.StructType(
    [
        T.StructField("curated", T.StringType()),
        T.StructField("tokenized", T.ArrayType(T.StringType())),
    ]
)


@pandas_udf(_CURATE_SCHEMA)
def curate_member_udf(members: pd.Series) -> pd.DataFrame:
    """Arrow-batched C5: returns struct(curated, tokenized); nulls for
    dropped members."""
    curated, tokenized = [], []
    for m in members:
        r = curate_member(m) if m is not None else None
        curated.append(r[0] if r else None)
        tokenized.append(r[1] if r else None)
    return pd.DataFrame({"curated": curated, "tokenized": tokenized})
