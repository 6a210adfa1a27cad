"""Permanent hostile-ingest parity net for the TPC-H relational tables.

The committed form of the round-9 discovery probe (COVERAGE.md
"Round-9 discovery probe"): every registry query whose oracle consumes
a TPC-H table is replayed in BOTH engines against the sf0.001 fixture
with the hostile-row catalog (tests/hostile_tpch.py) appended to every
relational table at once — NULL/NaN/±Inf/absurd money, out-of-contract
quantities and rates, duplicate primary keys, orphan and NULL foreign
keys, unknown enum values, timestamp domain edges.

The consumer list is computed from the live registry, so a NEW
TPC-H-consuming query is covered automatically the day it lands.
``LAYER2_WORKLIST`` is the round-10 layer-2 debt: queries the probe
flags that have not yet received their paired plan+oracle bound. Each
fix REMOVES its name here (xfail would hide an accidental fix; a
skip-list line-delete shows in the diff). An empty worklist is the
round's done-state.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as m
from boat_etl_pyspark_spark.cache import release_caches
from tests.conftest import SF_CORRECTNESS
from tests.hostile_tpch import build_hostile_dir
from tests.test_oracle_parity import frames_equal
from tools.hostile_probe import consumers

#: Round-10 layer-2 debt (probe output 2026-08-16, 51 names). Delete a
#: name when its paired plan+oracle fix lands; never add without a
#: bisected probe finding.
LAYER2_WORKLIST: set[str] = set()  # drained 2026-08-16 (round 10):
# all 51 probe findings received their paired plan+oracle bound; the
# net below now replays EVERY TPC-H consumer on the hostile fixture.

_QUERIES = m.queries()
_ORACLES = m.oracle_sql()
_CONSUMERS = consumers(_ORACLES, _QUERIES)


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    # SPARK_GRAFT_TEST_SF scales this net exactly like the oracle
    # parity gate — the sf0.01 sweep caught two divergences the
    # sf0.001 fixture could not reach (a sample cap that never bound,
    # and day-series frames the hostile rows happened not to shift)
    d = str(tmp_path_factory.mktemp("sf_hostile_tpch"))
    return build_hostile_dir(SF_CORRECTNESS, d)


@pytest.mark.parametrize(
    "name",
    [n for n in _CONSUMERS if n not in LAYER2_WORKLIST],
)
def test_tpch_consumer_parity_on_hostile_rows(
    spark, oracle, hostile_dir, name
):
    try:
        spark_pd = _QUERIES[name](spark, hostile_dir).toPandas()
        con = oracle(hostile_dir)
        oracle_pd = con.execute(_ORACLES[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_layer2_worklist_names_are_real():
    """A worklist typo would silently skip a live query."""
    unknown = LAYER2_WORKLIST - set(_CONSUMERS)
    assert not unknown, f"not TPC-H consumers: {sorted(unknown)}"
