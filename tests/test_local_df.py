"""``session.local_df``: driver-side rows become a JVM LocalRelation
with exactly the DDL schema and the input rows, for every column shape
the dimension tables use."""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import StructType

from sagan_spark.session import local_df

DDL = (
    "id long, n int, s string, flag boolean, "
    "tags array<string>, emb array<double>"
)
ROWS = [
    (1, 7, "plain", True, ["a", "b"], [0.5, -1.25]),
    (2**40, -3, "ünïcödé 日本 ✓", False, ["ß", None], [1e-300, None]),
    (3, 0, "quote ' dq \" back \\ nl \n tab \t", True, [], []),
    (None, None, None, None, None, None),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_df_round_trip(spark, rows):
    df = local_df(spark, rows, DDL)
    assert df.collect() == rows
    want = StructType.fromDDL(DDL)
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == want
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
