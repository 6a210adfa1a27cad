"""Round-7 hardening regressions (round-6 ADVICE.md items).

1. The Fisher tie epsilon (agg._FISHER_TIE_EPS = 1e-9) rests
   on a one-sided assumption: for marginals in the regime the query
   runs at (hundreds), EXACT pmf ties drift by only a few ulps of
   accumulated ln() error (<< 1e-9) while genuinely-distinct lnpmf
   values differ by >> 1e-9.  ADVICE round 6 noted the large-marginal
   half was asserted, not tested — pin it here with exact-rational
   ground truth (math.comb) against the engines' lf-cumsum float path.
2. The modularity BIGINT overflow guard must accept the full BIGINT
   domain: -9223372036854775808 is a VALID int64 value and must pass
   through, while -2^63 - 1 and +2^63 must raise in BOTH engines.
"""

from __future__ import annotations

import math
import re

import pytest


def _lnpmf_float(n: int, r1: int, c1: int):
    """The engines' computation: ln k! via sequential cumsum, lnpmf
    as nine table lookups — same accumulation order, same drift."""
    lf = [0.0, 0.0]
    for i in range(2, n + 1):
        lf.append(lf[-1] + math.log(float(i)))
    lnconst = lf[r1] + lf[n - r1] + lf[c1] + lf[n - c1] - lf[n]
    kmin, kmax = max(0, r1 + c1 - n), min(r1, c1)
    return {
        k: lnconst - lf[k] - lf[r1 - k] - lf[c1 - k] - lf[n - r1 - c1 + k]
        for k in range(kmin, kmax + 1)
    }


def _pmf_exact(n: int, r1: int, c1: int):
    """Exact hypergeometric pmf numerators (shared denominator
    C(n, c1)) — integer ground truth for tie detection."""
    kmin, kmax = max(0, r1 + c1 - n), min(r1, c1)
    return {
        k: math.comb(r1, k) * math.comb(n - r1, c1 - k)
        for k in range(kmin, kmax + 1)
    }


# Large-marginal configs: symmetric (r1 == c1), complementary
# (r1 + c1 == n), both at once, lopsided, and the near-mode-flat case
# where adjacent lnpmf gaps are smallest.  Marginals in the hundreds —
# the regime agg_fisher_exact's p_size <= 3 slice actually produces
# (docstring: "marginals in the hundreds") and the bound the epsilon
# argument claims to hold in.
_LARGE_MARGINALS = [
    (600, 300, 300),   # symmetric AND complementary: maximal tie count
    (800, 350, 450),   # complementary only
    (900, 400, 400),   # symmetric only
    (700, 250, 390),   # no structural ties
    (1000, 499, 500),  # near-symmetric: closest non-tie neighbors
]


@pytest.mark.parametrize("n,r1,c1", _LARGE_MARGINALS)
def test_fisher_tie_epsilon_separates_at_large_marginals(n, r1, c1):
    exact = _pmf_exact(n, r1, c1)
    flt = _lnpmf_float(n, r1, c1)
    ks = sorted(exact)
    # partition all k-pairs by exact-rational equality
    min_genuine_gap = math.inf
    max_tie_drift = 0.0
    for i, ka in enumerate(ks):
        for kb in ks[i + 1:]:
            gap = abs(flt[ka] - flt[kb])
            if exact[ka] == exact[kb]:
                max_tie_drift = max(max_tie_drift, gap)
            else:
                min_genuine_gap = min(min_genuine_gap, gap)
    # exact ties drift by ulps only — far inside the 1e-9 guard
    assert max_tie_drift < 1e-11, max_tie_drift
    # genuine gaps sit orders of magnitude ABOVE the guard, so the
    # epsilon can only ever absorb true ties, never distinct tables
    assert min_genuine_gap > 1e-6, min_genuine_gap
    # and the structural-tie censuses agree between float + eps and
    # exact rationals for every possible observed k
    for k_obs in ks:
        exact_extreme = sum(
            1 for k in ks if exact[k] <= exact[k_obs]
        )
        float_extreme = sum(
            1 for k in ks if flt[k] <= flt[k_obs] + 1e-9
        )
        assert float_extreme == exact_extreme, (k_obs, n, r1, c1)


# ---------------------------------------------------------------------------
# Score-grid knob symmetry (round-6 verdict item 5): the events-cents
# rank-key family now carries the same explicit quantization knob as
# agg_spearman_rho's price axis. The default (1) is pinned
# bit-identical by the oracle-parity suite; here we pin the OTHER half
# of the contract — a coarse grid produces identical results from the
# Spark plan and the DuckDB oracle because both render from one shared
# template. grid=7 is deliberately awkward (not a divisor of any round
# domain) to surface any engine asymmetry in integer division.
# ---------------------------------------------------------------------------

_COARSE_GRID = 7


def _grid_cases():
    from boat_etl_pyspark_spark.plans import agg, ml

    return [
        (
            "ml_roc_auc",
            ml._AUC_CORE,
            {"big": "DECIMAL(38,0)", "idiv": "DIV"},
            {"big": "HUGEINT", "idiv": "//"},
        ),
        (
            "ml_pr_auc",
            ml._AP_CORE,
            {"big": "DECIMAL(38,0)", "idiv": "DIV"},
            {"big": "HUGEINT", "idiv": "//"},
        ),
        (
            "ml_threshold_youden",
            ml._YOUDEN_CORE,
            {"idiv": "DIV"},
            {"idiv": "//"},
        ),
        (
            "agg_mann_whitney_u",
            agg._MW_CORE,
            {"big": "DECIMAL(38,0)", "idiv": "DIV"},
            {"big": "HUGEINT", "idiv": "//"},
        ),
    ]


@pytest.mark.parametrize("idx", range(4))
def test_score_grid_knob_is_engine_symmetric(spark, oracle, idx):
    from boat_etl_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE
    from tests.test_oracle_parity import frames_equal

    name, core, spark_fmt, duck_fmt = _grid_cases()[idx]
    view = f"r7_grid_{name}"
    load_table(spark, SF_SMOKE, "events").createOrReplaceTempView(view)
    spark_pd = spark.sql(
        core.format(events=view, grid=_COARSE_GRID, **spark_fmt)
    ).toPandas()
    con = oracle(SF_SMOKE)
    duck_pd = con.execute(
        core.format(events="events", grid=_COARSE_GRID, **duck_fmt)
    ).fetchdf()
    problems = frames_equal(spark_pd, duck_pd)
    assert not problems, f"{name} grid={_COARSE_GRID}: " + "; ".join(problems)
    # and the coarse grid genuinely quantized (fewer distinct scores),
    # so the test cannot pass vacuously on an unused placeholder
    assert "{grid}" not in core.format(
        events="events", grid=_COARSE_GRID, **duck_fmt
    )


def _modularity_guard_case() -> str:
    """The shipped CASE expression, extracted from the template so the
    test exercises the exact SQL that runs in production."""
    from boat_etl_pyspark_spark.plans import graph

    m = re.search(
        r"CASE WHEN contrib_num.*?END", graph._MODULARITY_CORE, re.S
    )
    assert m, "modularity guard CASE not found"
    return m.group(0)


_BIGINT_MIN = -(2**63)


@pytest.mark.parametrize(
    "value,ok",
    [
        (_BIGINT_MIN, True),          # valid BIGINT min must pass through
        (2**63 - 1, True),            # valid BIGINT max must pass through
        (_BIGINT_MIN - 1, False),     # one below the domain must raise
        (2**63, False),               # one above the domain must raise
    ],
)
def test_modularity_guard_covers_full_bigint_domain(spark, oracle, value, ok):
    import duckdb

    case = _modularity_guard_case()
    for engine, err_fn in (("spark", "raise_error"), ("duck", "error")):
        sql = (
            f"SELECT {case.format(err=err_fn)} AS v FROM "
            f"(SELECT CAST('{value}' AS DECIMAL(38,0)) AS contrib_num) t"
        )
        if engine == "spark":
            if ok:
                assert spark.sql(sql).collect()[0].v == value
            else:
                with pytest.raises(Exception):
                    spark.sql(sql).collect()
        else:
            con = duckdb.connect()
            if ok:
                assert con.execute(sql).fetchone()[0] == value
            else:
                with pytest.raises(duckdb.Error):
                    con.execute(sql).fetchone()
