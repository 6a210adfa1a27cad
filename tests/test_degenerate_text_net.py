"""Degenerate-text net: NUL bytes, invisible formatting codepoints,
and pathological token lengths (round-8 probe class 3).

A real 100 TB crawl WILL contain documents with embedded NUL bytes
(binary sniffed as text), zero-width/soft-hyphen decoration (ad-tech
obfuscation), and megabyte "tokens" (minified JS). Each breaks a
different engine boundary: the XML writer THROWS on C0 controls, CSV
multiLine reassembly drifts on NUL, unicodedata and utf8proc disagree
on invisible-codepoint normalization/length, and a 100k-char token
mints a linear pair stream per token. The round-9 contract
(``contract.text_valid`` / ``TEXT_MAX_TOKEN``) excludes these as
corrupt ingest with the SAME predicate in both engines; this net
replays the four flagged queries over fixture rows containing every
class, plus hostile-but-VALID neighbors proving the filters do not
over-drop.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tests.test_oracle_parity import frames_equal

_TEXT_QUERIES = (
    "io_csv_roundtrip",
    "io_xml_roundtrip",
    "text_normalize_unicode",
    "text_bpe_pair_stats",
)


@pytest.fixture(scope="module")
def degenerate_text_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_degenerate_text"))
    for p in glob.glob(os.path.join(SF_SMOKE, "*.parquet")):
        if os.path.basename(p) != "documents.parquet":
            shutil.copy(p, os.path.join(d, os.path.basename(p)))
    real = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    texts = [
        "plain control row stays valid",
        "binary\x00sniffed as text",              # NUL: XML throws, CSV drifts
        "ad​tech­obfus‌cation",    # zero-width + soft hyphen
        "﻿bom prefixed document",            # ZWNBSP/BOM
        "bell\x07and escape\x1b controls",        # other C0 controls
        "tab\tand\nnewline are valid text",       # allowed controls stay
        "minified" + "x" * 100_000 + " tail",     # 100k-char token
        "y" * 512,                                # exactly TEXT_MAX_TOKEN: kept
        "z" * 513,                                # one past the bound: dropped
        None,                                     # NULL text flows per NULL net
    ]
    n = len(texts)
    extra = pa.table(
        {
            "doc_id": pa.array(range(60_000_000, 60_000_000 + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["probe"] * n),
            "n_chars": pa.array(
                [len(t) if t is not None else None for t in texts], pa.int64()
            ),
        }
    )
    merged = pa.concat_tables([real.select(extra.column_names), extra])
    pq.write_table(merged, os.path.join(d, "documents.parquet"), version="2.6")
    return d


@pytest.mark.parametrize("name", _TEXT_QUERIES)
def test_text_query_parity_on_degenerate_text(
    spark, oracle, degenerate_text_dir, name
):
    import __spark_entry__ as m
    from boat_etl_pyspark_spark.cache import release_caches

    try:
        spark_pd = m.queries()[name](spark, degenerate_text_dir).toPandas()
        con = oracle(degenerate_text_dir)
        oracle_pd = con.execute(m.oracle_sql()[name]).fetchdf()
    finally:
        release_caches(spark)
    problems = frames_equal(spark_pd, oracle_pd)
    assert not problems, f"{name}: " + "; ".join(problems)
