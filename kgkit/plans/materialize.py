"""One way to cache a fan-out, and one way to release it.

A frame that several branches of one plan consume (self-join sides,
union branches, the rounds of a driver loop) re-runs its lineage per
branch unless cached: HOF-lambda and Python-UDF plans do not
canonicalize into a ReusedExchange.  ``fanout(df)`` caches it with
MEMORY_AND_DISK and populates it with one eager ``count()``; a lazy
cache is raced by the branches of the first action, each recomputing
the partitions it beat the cache to (sf0.1: the assembled triples
query 4.0 -> 2.5 s once populated first).  A ``repartition`` just
before ``fanout`` is kept: consumers keyed on a prefix of it need no
further exchange (tests/test_plans.py pins triples and embeddings).

``released()`` unpersists, on exit, every frame ``fanout`` cached while
it was the innermost open block.  Open one only where the cache can
never be reused: a stage run whose plan reads a fresh run directory, a
boundary whose input is a checkpointed frame, or a function that
materializes its small result before returning.

Outside any block a fanout cache is session-lived, on purpose: the
registry queries rebuild identical plans, which Spark's CacheManager
serves from the existing cache, so a session holds one copy per
distinct plan.  Releasing before each registry build slowed
dedup_ngram_jaccard 1.56 -> 2.13 s at local[4], outputs identical.

Not ``localCheckpoint``: it loses the cached partitioning (two more
exchanges on the triples fan-out), and ``unpersist()`` does not free
it — only a JVM GC does.  The scope stack is process-wide, so a frame
a helper thread caches inside the caller's block belongs to it.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator, List

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_scopes: List[List[DataFrame]] = []


def fanout(df: DataFrame) -> DataFrame:
    """Cache ``df`` (MEMORY_AND_DISK), populate it now, and register it
    with the innermost open ``released()`` block, if any."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    if _scopes:
        _scopes[-1].append(df)
    return df


@contextmanager
def released() -> Iterator[None]:
    """Unpersist, on exit, every frame ``fanout`` cached inside."""
    frames: List[DataFrame] = []
    _scopes.append(frames)
    try:
        yield
    finally:
        _scopes.pop()
        for df in frames:
            df.unpersist()
