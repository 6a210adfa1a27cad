"""Driver-checkable query over the boat-sales ETL (SURVEY.md §2.1-2.8).

The golden-parity pytest suite (tests/test_boat_pipeline.py) proves the
Spark-native pipeline is row-for-row bit-exact against the reference's
committed output; this module turns that into a *driver* correctness
row: ``boat_pipeline_summary`` runs the ENTIRE pipeline — raw text scan
(S1), only_ascii cleanup (S2), CSV parse (S3), the P1-P8 transforms,
the V1-V9 validation gate, and the A1 group aggregate (reference
src/pipeline_pyspark.py:192-356) — and reduces the result to
integer-exact per-country aggregates.

The DuckDB oracle is a frozen VALUES literal of those aggregates,
derived once from the reference's golden output
(/root/reference/output/data.parquet, the committed result of
src/pipeline_pyspark.py on data/boat_data.csv). Freezing is sound —
the reference input is immutable — and deliberate: it removes every
float-summation hazard from the check. Per-row ``price_eur`` doubles
are bit-exact between this pipeline and the golden parquet (pinned by
test_full_parquet_parity), so integer cents via ``floor(x*100 + 0.5)``
(exact IEEE ops, no engine-specific ROUND tie-breaking) aggregate to
identical BIGINTs, and the derived average divides those exact
integers the same way in both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.boat import clean_lines, finalize, parse_csv, read_raw_lines, transform

_INPUT = "/root/reference/data/boat_data.csv"
_CURRENT_YEAR = 2025  # the year the golden output was produced with


def reference_present() -> bool:
    """Whether the reference boat CSV, which every ``QUERIES`` entry
    reads whatever sf_dir it gets, exists on this host."""
    return os.path.exists(_INPUT)


# (country, n_listings, sum_price_cents) over the golden cleaned table,
# sum_price_cents = SUM(floor(price_eur*100 + 0.5)). "None" is the
# pipeline's string fill for a missing country (P7), not a NULL.
_GOLDEN = (
    ("Australia", 2, 916294415),
    ("Austria", 90, 1361885400),
    ("Belgium", 3, 16058200),
    ("Bulgaria", 3, 271800000),
    ("Croatia", 7, 49480000),
    ("Cyprus", 5, 94600000),
    ("Czech Republic", 5, 62300000),
    ("Denmark", 174, 2772353267),
    ("Egypt", 1, 55000000),
    ("Estonia", 6, 190043100),
    ("Finland", 35, 1010822000),
    ("France", 1233, 31101860600),
    ("Germany", 1954, 37401577240),
    ("Greece", 83, 9282850000),
    ("Hungary", 4, 26970000),
    ("Ireland", 1, 89738883),
    ("Italy", 1802, 55716206100),
    ("Latvia", 3, 138690000),
    ("Lebanon", 1, 32000000),
    ("Lithuania", 5, 61950000),
    ("Luxembourg", 1, 190000000),
    ("Malta", 72, 4561105000),
    ("Monaco", 10, 2244200000),
    ("Montenegro", 22, 1735490000),
    ("Morocco", 1, 37500000),
    ("Netherlands", 1059, 30556685400),
    ("None", 36, 2978102150),
    ("Norway", 2, 90600000),
    ("Philippines", 1, 455300000),
    ("Poland", 41, 796317100),
    ("Portugal", 135, 3606875200),
    ("Romania", 1, 5850000),
    ("Serbia", 1, 1200000),
    ("Seychelles", 1, 37900000),
    ("Slovenia", 40, 1032153000),
    ("Spain", 706, 34569667178),
    ("Sweden", 13, 548384150),
    ("Switzerland", 1129, 11726607728),
    ("Taiwan", 1, 425000000),
    ("Thailand", 3, 565300000),
    ("Turkey", 64, 5754894800),
    ("Ukraine", 2, 81500000),
    ("United Arab Emirates", 17, 14583180000),
    ("United Kingdom", 218, 11571343115),
    ("United States", 6, 457290000),
    ("Venezuela", 1, 119000000),
    ("belgium", 62, 989154900),
    ("croatia (hrvatska)", 810, 28908518500),
    ("russian federation", 7, 629010000),
    ("slovak republic", 9, 24894000),
)


def boat_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full S1→A1 pipeline on the reference input, reduced to
    integer-exact per-country aggregates (sf_dir-independent: the boat
    dataset is the reference's own, not the synthetic fixture)."""
    df = finalize(
        transform(
            parse_csv(clean_lines(read_raw_lines(spark, _INPUT))),
            current_year=_CURRENT_YEAR,
        )
    )
    return df.groupBy("country").agg(
        F.count("*").alias("n_listings"),
        F.sum(F.floor(F.col("price_eur") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "sum_price_cents"
        ),
        (
            F.sum(F.floor(F.col("price_eur") * 100 + F.lit(0.5)).cast("bigint")).cast(
                "double"
            )
            / F.lit(100.0)
            / F.count("*")
        ).alias("avg_price_eur"),
    )


_VALUES = ",\n  ".join(f"('{c}', {n}, {s})" for c, n, s in _GOLDEN)

_BOAT_DUCK = f"""
SELECT country,
       CAST(n_listings AS BIGINT) AS n_listings,
       CAST(sum_price_cents AS BIGINT) AS sum_price_cents,
       CAST(sum_price_cents AS DOUBLE) / 100.0 / n_listings AS avg_price_eur
FROM (VALUES
  {_VALUES}
) AS t(country, n_listings, sum_price_cents)
"""

QUERIES = {"boat_pipeline_summary": boat_pipeline_summary}
ORACLE = {"boat_pipeline_summary": _BOAT_DUCK}
