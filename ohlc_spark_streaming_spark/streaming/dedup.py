"""Streaming deduplication (SURVEY.md §2.9 — absent from the reference,
which has no ``dropDuplicates`` at all; this is also the streaming face of
the LLM exact-dedup operator, operators/dedup.py).

:func:`distinct_keys` is ``dropDuplicates(keys)``: exact global dedup.
State holds every key ever seen (no eviction) — correct at any replay
distance but state grows with key cardinality. Use it when the key space
is bounded (e.g. (user, event_type) pairs), or for bounded replays.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def distinct_keys(stream: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Exact streaming dedup: first row per key, unbounded key state."""
    return stream.select(*keys).dropDuplicates(list(keys))
