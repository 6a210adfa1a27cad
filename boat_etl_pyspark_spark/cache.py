"""The one cache lifecycle: every persist the package takes is
registered here and released by ``release_caches``.

Two kinds of entry:

* ephemeral — per-query persisted intermediates (loop edge lists,
  shingle sets, the ``global_rank`` / ``global_prefix_sum``
  correctness fences), taken with ``track_persist``;
* shared — session-shared relations several queries reuse, built
  once per ``(applicationId, sf_dir, kind)`` by ``shared``.

Correctness is unaffected by an early release — persists are pure
recompute caches.
"""

from __future__ import annotations

# Per-query persisted intermediates otherwise pin executor storage
# memory for the whole session: a long sweep (bench.py runs every
# query x 3 reps on one session) would accumulate every persist ever
# taken. ``release_caches`` hands the memory back between families /
# at sweep end.
_EPHEMERAL: list = []

# Session-shared intermediates (shingle sets, verified near-dup pairs,
# parsed vectors, trade edges...), keyed by (applicationId, sf_dir,
# kind) — the fixture dirs are immutable, so the cached plans never go
# stale within a session. Each entry persists at the default
# MEMORY_AND_DISK level (pressure spills, it never OOMs) and lives
# until ``release_caches``.
_SHARED: dict = {}


def track_persist(df):
    """``df.persist()`` + register the handle for ``release_caches``."""
    _EPHEMERAL.append(df.persist())
    return _EPHEMERAL[-1]


def shared(spark, sf_dir: str, kind: str, build):
    """The session's persisted ``build()`` for ``(sf_dir, kind)``,
    built and materialized on first use."""
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _SHARED:
        df = build().persist()
        # Materialize NOW, not at first consumption: a lazily-persisted
        # relation referenced by SEVERAL subtrees of one DAG (broadcast
        # builds racing the probe side) fills the cache partition-by-
        # partition under block locks, serializing the whole query —
        # measured 80s cold vs 8s with the same builds run eagerly for
        # dedup_embedding_cosine at sf0.1 (OPTIMIZATION_r11.md). The
        # count is one map-combined job over work the first consumer
        # was about to do anyway, still inside its timed region.
        df.count()
        _SHARED[key] = df
    return _SHARED[key]


def release_caches(spark=None) -> int:
    """Unpersist and drop every ephemeral entry and the shared entries
    of ``spark``'s application (all of them when ``spark`` is None);
    returns the number of entries released."""
    app = spark.sparkContext.applicationId if spark is not None else None
    dropped = [_SHARED.pop(k) for k in list(_SHARED) if app is None or k[0] == app]
    dropped += _EPHEMERAL
    _EPHEMERAL.clear()
    for df in dropped:
        try:
            df.unpersist()
        except Exception:
            pass  # a stopped context can't unpersist; dropping the ref suffices
    return len(dropped)
