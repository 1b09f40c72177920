"""Shared operator helpers."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def pins() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Scope for frames that are read more than once inside one call.

    Yields ``pin(df) -> df.persist()`` (default storage level); every
    pinned frame is released with a non-blocking ``unpersist()`` when
    the block exits, on the return and the exception path alike. Use it
    only for frames whose every read happens inside the block: a
    returned lazy plan must not be pinned (its reads come after the
    release), see ``operators/dedup.py`` for that case.
    """
    pinned: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        pinned.append(df.persist())
        return df

    try:
        yield pin
    finally:
        for df in pinned:
            df.unpersist()


def leak_census(spark) -> int:
    """Number of plans in the session's CacheManager, which is then
    cleared. Run after a query that should leave nothing cached: a pin
    it forgot to release (or a ``.cache()`` nobody owns) would hand
    every later query in the session a warm cache. Clearing makes one
    leak count against its own query only."""
    n = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    if n:
        spark.catalog.clearCache()
    return n


def join_group_stats(df: DataFrame, stats: DataFrame,
                     group_cols: list[str], how: str = "inner",
                     broadcast: bool = True) -> DataFrame:
    """Join per-group statistics back onto ``df`` with NULL-SAFE key
    equality, keeping ``df``'s key columns.

    ``groupBy`` emits a row for the NULL group, but a plain
    ``df.join(stats, group_cols)`` uses null-unsafe ``=`` and silently
    drops every row whose group key is NULL — an annotate-style operator
    would return fewer rows than it was given. ``eqNullSafe`` (``IS NOT
    DISTINCT FROM``) matches the NULL group to its own stats row instead.

    The stats side's key columns are renamed before the join and dropped
    after, so the output schema is ``df``'s columns plus the stats
    columns (no ambiguous duplicates). The stats side is broadcast by
    default — it is group-cardinality-sized by construction.
    """
    renames = {c: f"__k_{c}" for c in group_cols}
    s = stats
    for c, r in renames.items():
        s = s.withColumnRenamed(c, r)
    if broadcast:
        s = F.broadcast(s)
    cond = None
    for c, r in renames.items():
        e = df[c].eqNullSafe(s[r])
        cond = e if cond is None else cond & e
    return df.join(s, cond, how).drop(*renames.values())
