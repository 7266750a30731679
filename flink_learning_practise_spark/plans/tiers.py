"""Shared staging tiers: derived frames built once per (session, sf_dir)
and read by every consumer query — the staging table a production
pipeline writes once (stage-1 ETL) and every downstream report reads
(stage-2 stats).

A tier is a builder decorated with :func:`shared_tier`; the builder
does its own ``localCheckpoint(eager=True)`` (or returns an already
checkpointed frame). Consumers are declared once, on the query:
``register(name, fn, oracle, tiers=("ppjoin_pair_tier",))``.
:func:`shared_tiers` joins the two for bench's per-pass build lines and
its skip-on-failed-build logic; ``tests/test_tiers.py`` checks at run
time that every query touches exactly the tiers it declares.
"""

from __future__ import annotations

import functools
import weakref
from collections.abc import Callable

MAX_SF_DIRS = 2  # memo entries per session; the oldest is evicted first

_TIERS: dict[str, SharedTier] = {}  # definition order = derivation order


class SharedTier:
    """A memoized tier builder, called like the builder it wraps.

    Lifecycle: the memo is keyed weakly by SparkSession (dropped with
    the session) and holds at most :data:`MAX_SF_DIRS` sf_dirs, evicting
    the least-recently inserted (dict order — ``popitem()`` would evict
    the newest and keep the stalest). Eviction releases the checkpoint
    blocks by dropping the only reference: ``unpersist()`` is a no-op
    for localCheckpointed frames (their blocks live in RDD storage, not
    the CacheManager), so the actual free happens when GC +
    ContextCleaner collect the dropped RDD — eventual, and bounded by
    the cap. :func:`reset_shared_caches` empties every tier so bench
    re-pays + times each build once per pass as its own evidence line.
    """

    def __init__(self, name: str, builder: Callable) -> None:
        self.name = name
        self.builder = builder
        self._memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
        functools.update_wrapper(self, builder)

    def __call__(self, spark, sf_dir: str):
        per_sess = self._memo.setdefault(spark, {})
        if sf_dir not in per_sess:
            while len(per_sess) >= MAX_SF_DIRS:
                per_sess.pop(next(iter(per_sess)))  # oldest; GC frees blocks
            per_sess[sf_dir] = self.builder(spark, sf_dir)
        return per_sess[sf_dir]

    def reset(self) -> None:
        self._memo.clear()


def shared_tier(name: str) -> Callable[[Callable], SharedTier]:
    """Decorator: register ``builder`` as the shared tier ``name``."""

    def wrap(builder: Callable) -> SharedTier:
        if name in _TIERS:
            raise ValueError(f"duplicate shared tier {name!r}")
        _TIERS[name] = SharedTier(name, builder)
        return _TIERS[name]

    return wrap


def shared_tiers() -> dict[str, tuple[SharedTier, tuple[str, ...]]]:
    """Every shared tier: name → (builder, consumer names in registry
    order). Tiers come in derivation order (an upstream tier before the
    tiers built from it), so each bench build line times only its OWN
    derivation. Consumers are the queries that declare the tier; a
    query reading a tier only through another tier's builder (the pair
    tier's consumers, for the shingle tier) is not one — a cold
    upstream memo implies a cold downstream memo, so bench's skip logic
    still covers it."""
    from ..registry import all_queries

    queries = all_queries()  # imports the plan modules, which define the tiers
    return {
        name: (tier, tuple(q.name for q in queries.values() if name in q.tiers))
        for name, tier in _TIERS.items()
    }


def reset_shared_caches() -> None:
    """Drop every memoized shared tier. bench.py calls this before each
    timing pass so each tier derivation is re-paid (and therefore
    VISIBLE in the timings) once per pass instead of once per process."""
    for tier in _TIERS.values():
        tier.reset()
