#!/usr/bin/env python
"""Per-query source fingerprints — mechanized CHANGED_SINCE_GREEN.

Round-6 verdict item 3 (and ADVICE round 6, tools/rotation.py:59): the
hand-appended ``CHANGED_SINCE_GREEN`` tuple silently under-reports when
a builder edits a green query and forgets the append. This module
replaces the hand list with a content-addressed bank:

* ``compute_fingerprints()`` hashes, for every registry query, the
  concatenation of the plan callable's own source
  (``inspect.getsource``) and its DuckDB oracle SQL. Editing either
  changes the fingerprint.
* ``tools/fingerprint_bank.json`` records, per query, the fingerprint
  that its latest GREEN driver row certified (``fp``) and that round
  number (``green``). ``fp: null`` means "a green row exists but the
  code it certified is no longer on disk" — the query counts as
  changed until a fresh green lands.
* ``changed_since_green(greens)`` = names whose latest green (in the
  caller's round basis) is banked with a null or mismatching
  fingerprint. ``tools/rotation.py`` feeds this straight into the
  driver-gate window, AHEAD of never-checked names (round-6 verdict
  item 1), so an edit auto-promotes the query with no manual step.

The hash ALSO covers every module-level string constant the plan
callable loads as a global (``_global_names`` ∩ its module globals of
type ``str``) — round-7 verdict item 5: most plans are
``spark.sql(_X_SPARK.format(...))`` where ``_X_SPARK`` is a
module-level template, so a Spark-side-only template edit changes
neither the function source nor the oracle SQL and would otherwise
leave a stale green undetected. ``--migrate`` rewrites banked
fingerprints to the template-inclusive algorithm for entries whose
pre-template hash still matches (i.e. code unchanged); entries that
already mismatch stay changed.

The hash ALSO covers the source of every repo-local FUNCTION the plan
callable references (depth 1): round 8's ``stream_stateful_user_totals``
fix lived in a helper (``streaming/events.py``) that neither the plan
source nor any template showed, and needed a hand ``--promote``. With
depth-1 function hashing that class promotes automatically. The cost
is accepted: an edit to a widely-shared helper (``load_table``,
``cents``) flips every query that calls it — which is HONEST (their
certified behavior may have changed), and the rotation's CHANGED_CAP
bounds the scheduling impact to 25 slots/round.

Granularity caveat (documented, accepted): depth 1 only — an edit two
calls deep (a helper's helper) still escapes, as do methods and
closures; promote those by hand with ``--promote NAME`` (sets the
banked fp to null). The backstop is the in-repo replica gate
(``tests/test_oracle_parity.py`` replays all 327 queries vs DuckDB at
sf0.001 every session) plus the two-scale ``make verify-scale`` sweep.

Round protocol (pinned by ``tests/test_contract_hygiene.py``):

1. At round start — BEFORE editing any plan — run
   ``python tools/fingerprints.py --bank`` to absorb the previous
   round's new green rows at their certified (still-on-disk) source.
2. Immediately after banking — still BEFORE any plan edit — pin the
   round's window: ``python tools/rotation.py --python`` and paste all
   three tuples (round-8 verdict item 7: a hardening round's own edits
   must not displace the backlog drain; edits made after the pin
   promote into the NEXT round's window).
3. Edit freely; edited green queries flip to changed automatically.

Usage:
    python tools/fingerprints.py --bank     # absorb new greens
    python tools/fingerprints.py --report   # list changed names
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BANK_PATH = os.path.join(REPO, "tools", "fingerprint_bank.json")


def _entry_module():
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    return entry_mod


def _global_names(code) -> set[str]:
    """Names the code object loads as globals. ``co_names`` also holds
    attribute and imported names (``contract.money_domain`` puts
    ``money_domain`` there); matched against module globals, those
    change the hash whenever a same-named global appears in the
    module, e.g. when code moves into a module that imports it."""
    import dis

    return {
        i.argval for i in dis.get_instructions(code)
        if i.opname in ("LOAD_GLOBAL", "LOAD_NAME")
    }


def referenced_templates(fn) -> list[str]:
    """``name=value`` for every module-level string constant the plan
    callable references, sorted by name. These are the ``_X_SPARK`` /
    ``_X_SQL`` templates a plan renders via ``spark.sql(...)``;
    editing one must flip the fingerprint even though the function
    source and oracle SQL are untouched."""
    code = getattr(fn, "__code__", None)
    mod_globals = getattr(fn, "__globals__", {})
    if code is None:
        return []
    out = []
    for name in sorted(_global_names(code)):
        val = mod_globals.get(name)
        if isinstance(val, str):
            out.append(f"{name}={val}")
    return out


def _function_local_imports(fn) -> dict:
    """name -> object for import statements INSIDE the plan callable's
    body (the repo's lazy-import idiom for streaming helpers). These
    bind locals, not globals, so loaded globals + ``__globals__`` alone
    cannot resolve them. Parsed with ``ast`` (round-8 ADVICE): the old
    line regex missed parenthesized / multi-line ``from X import (a,
    b)`` forms and plain ``import x`` statements, silently exempting
    helpers bound that way from depth-1 hashing."""
    import ast
    import importlib
    import textwrap

    out: dict = {}
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return out
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return out
    pkg = (getattr(fn, "__module__", "") or "").rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            modname = "." * node.level + (node.module or "")
            try:
                mod = importlib.import_module(
                    modname, package=pkg if node.level else None
                )
            except Exception:
                continue
            for alias in node.names:
                if alias.name != "*" and hasattr(mod, alias.name):
                    out[alias.asname or alias.name] = getattr(
                        mod, alias.name
                    )
        elif isinstance(node, ast.Import):
            for alias in node.names:
                try:
                    mod = importlib.import_module(alias.name)
                except Exception:
                    continue
                if alias.asname is not None:
                    # `import x.y as z` binds z to the SUBmodule
                    out[alias.asname] = mod
                else:
                    # plain `import x.y` binds x to the TOP-LEVEL
                    # package (importing x.y above ran its side
                    # effects); mapping 'x' to the x.y submodule
                    # would resolve x.attr against the wrong module
                    top = alias.name.partition(".")[0]
                    try:
                        out[top] = importlib.import_module(top)
                    except Exception:
                        continue
    return out


def referenced_functions(fn) -> list[str]:
    """``name=source`` for every repo-local function the plan callable
    references (depth 1), sorted by name — module globals plus
    function-local imports. Catches behavior edits in helpers the plan
    delegates to (e.g. the streaming operators in
    ``streaming/events.py``) that neither the plan source nor any
    string template reflects."""
    code = getattr(fn, "__code__", None)
    mod_globals = getattr(fn, "__globals__", {})
    if code is None:
        return []
    candidates = dict(_function_local_imports(fn))
    for name in _global_names(code):
        if name in mod_globals:
            candidates[name] = mod_globals[name]
    out = []
    for name in sorted(candidates):
        val = candidates[name]
        if not inspect.isfunction(val) or val is fn:
            continue
        mod = getattr(val, "__module__", "") or ""
        if not (
            mod.startswith("boat_etl_pyspark_spark")
            or mod == "__spark_entry__"
        ):
            continue  # stdlib / third-party: pinned by the environment
        try:
            out.append(f"{name}={inspect.getsource(val)}")
        except (OSError, TypeError):
            continue
    return out


#: Current hash algorithm. 1 = plan source + oracle SQL; 2 = + referenced
#: module-level string templates (round-8 verdict item 5); 3 = + referenced
#: repo-local function sources, depth 1 (round-8 --promote follow-up).
ALGO_VERSION = 3


def compute_fingerprints(
    entry_mod=None, version: int = ALGO_VERSION
) -> dict[str, str]:
    """name -> sha256 per ``ALGO_VERSION``. Older ``version`` values
    reproduce prior-era hashes, used only by ``--migrate`` to
    recognize unchanged entries."""
    m = _entry_module() if entry_mod is None else entry_mod
    oracles = m._ORACLE
    out: dict[str, str] = {}
    for name, fn in m._RAW_QUERIES.items():
        src = inspect.getsource(fn)
        sql = oracles.get(name, "")
        payload = src.encode() + b"\x00" + sql.encode()
        if version >= 2:
            for item in referenced_templates(fn):
                payload += b"\x00" + item.encode()
        if version >= 3:
            for item in referenced_functions(fn):
                payload += b"\x00" + item.encode()
        out[name] = hashlib.sha256(payload).hexdigest()
    return out


def load_bank(path: str = BANK_PATH) -> dict[str, dict]:
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def save_bank(bank: dict[str, dict], path: str = BANK_PATH) -> None:
    with open(path, "w") as fh:
        json.dump(dict(sorted(bank.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")


def changed_since_green(
    greens: dict[str, int],
    fingerprints: dict[str, str] | None = None,
    bank: dict[str, dict] | None = None,
) -> set[str]:
    """Names with a green row whose banked fingerprint is null, absent,
    or different from the current source — i.e. the green certifies
    code that is no longer what ships."""
    fps = compute_fingerprints() if fingerprints is None else fingerprints
    bank = load_bank() if bank is None else bank
    changed: set[str] = set()
    for name in greens:
        row = bank.get(name)
        if row is None or row.get("fp") is None or row["fp"] != fps.get(name):
            changed.add(name)
    return changed


def bank_greens(
    greens: dict[str, int],
    fingerprints: dict[str, str] | None = None,
    path: str = BANK_PATH,
) -> list[str]:
    """Record the current fingerprint for every query whose latest
    green round is newer than its banked one (run at round start,
    before any edits). Returns the updated names."""
    fps = compute_fingerprints() if fingerprints is None else fingerprints
    bank = load_bank(path)
    updated = []
    for name, rnd in greens.items():
        row = bank.get(name)
        if row is None or rnd > row.get("green", 0):
            bank[name] = {"fp": fps[name], "green": rnd}
            updated.append(name)
    # Drop entries for names no longer in the registry.
    for name in list(bank):
        if name not in fps:
            del bank[name]
            updated.append(f"-{name}")
    if updated:
        save_bank(bank, path)
    return updated


def migrate_bank(path: str = BANK_PATH) -> list[str]:
    """Algorithm-upgrade migration: rewrite each banked fingerprint to
    the current ``ALGO_VERSION`` IF its hash matches the code on disk
    under ANY older algorithm version (proving the hashed content is
    unchanged since banking). Entries that match no version stay as-is
    — they are changed either way. The gap each upgrade closes is
    prospective only: content the old hash didn't cover that changed
    BEFORE the migration cannot be detected retroactively; the
    oracle-parity replica gate covers that window."""
    m = _entry_module()
    current = compute_fingerprints(m)
    older = [
        compute_fingerprints(m, version=v)
        for v in range(1, ALGO_VERSION)
    ]
    bank = load_bank(path)
    migrated = []
    for name, row in bank.items():
        fp = row.get("fp")
        if fp is None or fp == current.get(name):
            continue
        if any(fp == old.get(name) for old in older):
            row["fp"] = current[name]
            migrated.append(name)
    if migrated:
        save_bank(bank, path)
    return migrated


def promote(names: list[str], path: str = BANK_PATH) -> None:
    """Null the banked fp for ``names`` — marks their latest green as
    certifying code no longer on disk (used when a shared HELPER a
    plan calls changed behavior, which the hash cannot see)."""
    bank = load_bank(path)
    for name in names:
        if name not in bank:
            raise SystemExit(f"not banked: {name}")
        bank[name]["fp"] = None
    save_bank(bank, path)


def main() -> None:
    from rotation import latest_green  # sibling module

    greens = latest_green()
    if "--bank" in sys.argv:
        updated = bank_greens(greens)
        print(f"banked {len(updated)} entries: {updated}")
        return
    if "--migrate" in sys.argv:
        migrated = migrate_bank()
        print(f"migrated {len(migrated)} entries to hash algorithm "
              f"v{ALGO_VERSION}")
        return
    if "--promote" in sys.argv:
        names = sys.argv[sys.argv.index("--promote") + 1 :]
        promote(names)
        print(f"promoted (fp nulled): {names}")
        return
    changed = sorted(changed_since_green(greens))
    print(f"changed since green ({len(changed)}):")
    for name in changed:
        print(f"  {name}")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
