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

# Kept for perfbench/client.py, which reads ``plans._EPHEMERAL`` and
# calls ``plans.release_caches``; the lifecycle lives in ``cache.py``.
from ..cache import _EPHEMERAL, release_caches  # noqa: F401


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
