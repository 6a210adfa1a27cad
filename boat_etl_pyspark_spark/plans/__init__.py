"""Named query plans.

Each plan module exposes ``QUERIES`` (name -> fn(spark, sf_dir) ->
DataFrame) and ``ORACLE`` (name -> DuckDB SQL string), one module per
query-name family. ``discover_registries`` merges every module that
has a ``QUERIES``; the driver contract in ``__spark_entry__.py`` reads
the merged registry.

A plan hands its input relations to a SQL template through
``bind_sql``: each DataFrame argument becomes the temp view named by
its placeholder, so no plan names a catalog view of its own.
"""

from __future__ import annotations

import importlib
import pkgutil

from pyspark.sql import DataFrame

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


def bind_sql(spark, template: str, /, **args):
    """``spark.sql(template.format(**args))`` with each ``DataFrame``
    argument registered as a temp view and its placeholder naming that
    view; every other argument is substituted as SQL text.

    The view is ``__bind_<placeholder>_<plan hash>``, the hash being
    the semantic hash of the relation's analyzed plan, so a name is
    only ever re-registered with an equivalent plan. Views are never
    dropped, so a relation whose plan is new at every call (a fresh
    path, a WITH clause's CTE ids) is not bound: it would leave one
    more view per call. Replacing a temp
    view with a different plan un-caches, by cascade, every persisted
    relation whose plan reads that view: one fixed name per
    placeholder would silently turn the session-shared caches built
    through it (``cache.shared``, ``track_persist``) into recomputes.
    PySpark's own ``spark.sql(template, **frames)`` is not used either:
    it drops its views after parsing, and dropping a temp view
    un-caches the relation behind it. ``spark.sql`` resolves the views
    while it analyzes the statement, so the result never depends on a
    later registration."""
    text = {}
    for name, value in args.items():
        if isinstance(value, DataFrame):
            plan_hash = value._jdf.queryExecution().analyzed().semanticHash()
            text[name] = f"__bind_{name}_{plan_hash & 0xFFFFFFFF:08x}"
            value.createOrReplaceTempView(text[name])
        else:
            text[name] = value
    return spark.sql(template.format(**text))
