import pandas as pd

from perfbench.oracle import summary_matches


def test_summary_matches_counts_and_integer_cents():
    summary = pd.DataFrame({
        "country": ["Spain", "None"],
        "avg_price": [1060.5, 13.0],
        "count": [2, 1],
    })
    assert summary_matches(summary, {"Spain": (2, 212100), "None": (1, 1300)}) == []
    problems = summary_matches(summary, {"Spain": (2, 212101), "None": (1, 1300), "Italy": (1, 100)})
    assert len(problems) == 2
