"""``functions.sql_literal.literal_frame`` builds the same rows and schema
as ``createDataFrame(rows, ddl)``'s tuple path, as a ``LocalRelation``,
whatever ``spark.sql.execution.arrow.pyspark.enabled`` says."""

from __future__ import annotations

import pytest

from elasticsearch_drift_plugin_spark import memo
from elasticsearch_drift_plugin_spark.functions.sql_literal import literal_frame

CASES = {
    "empty": ([], "a long, b string"),
    "nulls": (
        [(1, 2.5, "x"), (None, None, None), (-3, None, "")],
        "a long, b double, c string",
    ),
    "int": ([(1,), (None,), (-(2**31),), (2**31 - 1,)], "i int"),
    "array_double": (
        [(0, [1.0, -2.5]), (1, []), (2, None), (3, [None, 0.0])],
        "cid long, embedding array<double>",
    ),
    # proportional_sum's unmapped-field result
    "empty_timestamp": ([], "key long, key_ts timestamp, doc_count long, value double"),
}


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_literal_frame_matches_tuple_path(spark, case, arrow):
    rows, ddl = CASES[case]
    with memo.scoped_conf(spark, {"spark.sql.execution.arrow.pyspark.enabled": arrow}):
        got = literal_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
