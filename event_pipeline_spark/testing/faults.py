"""Faults injected into a live Spark session, for recompute checks.

A plan is recompute-safe when its answer does not change after Spark
loses intermediate state and runs the plan again. These helpers take
that state away; a check then re-runs the query and compares.
"""

from __future__ import annotations


def drop_all_shuffle_outputs(spark) -> None:
    """Unregister every registered shuffle, so the next execution of
    any plan recomputes all of its stages instead of skipping those
    whose map outputs are still registered.

    The ids come from the MapOutputTracker's live shuffle statuses, so
    the drop is exact at any session age (a fixed id range misses
    shuffles once a long session's ids grow past it)."""
    sc = spark.sparkContext._jsc.sc()
    cleaner = sc.cleaner().get()
    it = sc.env().mapOutputTracker().shuffleStatuses().keySet().iterator()
    ids = []
    while it.hasNext():
        ids.append(it.next())
    for shuffle_id in ids:
        cleaner.doCleanupShuffle(shuffle_id, True)
