"""UDTF surface check: a Python UDTF (PySpark 4 `udtf` API) driving the
same keyword-span semantics as the built-in posexplode query
(`plans/text.text_keyword_spans`).

The contract query stays on the posexplode form — whole-stage codegen,
no Python workers — and this test pins that the UDTF route (the
escape hatch for genuinely non-expressible table functions) produces
identical rows, so either implementation can be swapped in.
"""

from __future__ import annotations

import pandas as pd

from boat_etl_pyspark_spark.plans import bind_sql
from boat_etl_pyspark_spark.plans.text import text_keyword_spans
from boat_etl_pyspark_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_udtf_matches_builtin_keyword_spans(spark):
    from pyspark.sql.functions import udtf

    keywords = ("spark", "hash", "vector", "stream")

    # Defined lazily (inside the test) so pickling captures a fresh
    # class — module-level UDF/UDTF objects break worker re-import.
    @udtf(returnType="keyword: string, position: bigint")
    class KeywordSpans:
        def eval(self, text: str):
            if text is None:
                return
            for pos, tok in enumerate(text.split(" ")):
                if tok in keywords:
                    yield tok, pos

    spark.udtf.register("keyword_spans_udtf", KeywordSpans)
    via_udtf = bind_sql(
        spark,
        "SELECT d.doc_id, s.keyword, s.position "
        "FROM {docs} d, LATERAL keyword_spans_udtf(d.text) s",
        docs=load_table(spark, SF_SMOKE, "documents"),
    ).toPandas()

    builtin = text_keyword_spans(spark, SF_SMOKE).toPandas()

    assert len(builtin) > 0, "fixture should contain at least one keyword hit"
    pd.testing.assert_frame_equal(_canon(via_udtf), _canon(builtin), check_dtype=False)
