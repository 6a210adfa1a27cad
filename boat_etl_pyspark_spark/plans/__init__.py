"""Named query plans.

Each plan module exposes ``QUERIES`` (name -> fn(spark, sf_dir) ->
DataFrame) and ``ORACLE`` (name -> DuckDB SQL string), one module per
query-name family. ``discover_registries`` merges every module that
has a ``QUERIES``; the driver contract in ``__spark_entry__.py`` reads
the merged registry.
"""

from __future__ import annotations

import importlib
import pkgutil

# Per-query persisted intermediates (loop edge lists, shingle sets…)
# otherwise pin executor storage memory for the whole session: a long
# sweep (bench.py runs 140 queries x 3 reps on one session) would
# accumulate every persist ever taken. ``track_persist`` registers
# them so ``release_caches`` can hand the memory back between
# families / at sweep end. Correctness is unaffected by an early
# release — persists are pure recompute caches.
_EPHEMERAL: list = []


def track_persist(df):
    """``df.persist()`` + register the handle for ``release_caches``."""
    _EPHEMERAL.append(df.persist())
    return _EPHEMERAL[-1]


def release_caches(spark=None) -> int:
    """Unpersist every tracked intermediate plus the shared dedup
    cache and the global_rank correctness-fence persists; returns the
    number of entries released."""
    from ..operators.library import release_rank_caches
    from . import textdedup

    n = textdedup.release_shared(spark)
    n += release_rank_caches()
    for df in _EPHEMERAL:
        try:
            df.unpersist()
        except Exception:
            pass  # stopped context; dropping the reference suffices
    n += len(_EPHEMERAL)
    _EPHEMERAL.clear()
    return n


def discover_registries():
    """Import every plan submodule in name order and merge the
    ``QUERIES`` / ``ORACLE`` registries of those that define one."""
    queries: dict = {}
    oracle: dict = {}
    for info in sorted(pkgutil.iter_modules(__path__), key=lambda i: i.name):
        m = importlib.import_module(f"{__name__}.{info.name}")
        if not hasattr(m, "QUERIES"):
            continue
        overlap = set(m.QUERIES) & set(queries)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        queries.update(m.QUERIES)
        oracle.update(getattr(m, "ORACLE", {}))
    return queries, oracle
