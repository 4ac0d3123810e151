"""r15: `runtime.local_df` must be a pure execution-strategy change —
bit-identical schema and rows vs `createDataFrame(list, schema)`, backed
by a LocalRelation (no job per action on statement-result frames)."""

import datetime

import pytest

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df

CASES = [
    ([(5, 2, 1)], "num_inserted_rows LONG, num_loaded_files INT, num_skipped_files INT"),
    ([(None, "x")], "a LONG, b STRING"),
    ([(1, ["a", "b"], 2.5)], "a INT, arr ARRAY<STRING>, d DOUBLE"),
    ([(True, b"bin")], "t BOOLEAN, b BINARY"),
    (
        [(datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.date(2024, 1, 2))],
        "ts TIMESTAMP, d DATE",
    ),
    ([("x",), ("y",), (None,)], "tableName STRING"),
    ([], "a LONG, b STRING"),  # empty → classic fallback, same result
    # PySpark's own verifier coerces anything into STRING ('1' here);
    # the fast path must agree with it, not invent a stricter rule
    ([(1,)], "a STRING"),
]


def test_local_df_matches_classic(spark):
    for rows, schema in CASES:
        classic = spark.createDataFrame(rows, schema)
        fast = local_df(spark, rows, schema)
        assert fast.schema == classic.schema, (rows, schema)
        assert fast.collect() == classic.collect(), (rows, schema)


def test_local_df_is_local_relation(spark):
    fast = local_df(spark, [(1, "a")], "k LONG, v STRING")
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan


def test_local_df_structtype_schema(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    st = StructType([StructField("k", LongType()), StructField("v", StringType())])
    classic = spark.createDataFrame([(1, "a")], st)
    fast = local_df(spark, [(1, "a")], st)
    assert fast.schema == classic.schema
    assert fast.collect() == classic.collect()


BAD_CASES = [
    ([(1.7,)], "a LONG"),
    ([(1.5,)], "a INT"),
]


def test_local_df_rejects_mistyped_values_like_classic(spark):
    """Arrow's conversion coerces silently (1.7 into a LONG column reads
    back as 1); the fast path must refuse the same rows the classic
    ``createDataFrame`` refuses."""
    for rows, schema in BAD_CASES:
        with pytest.raises(TypeError):
            spark.createDataFrame(rows, schema)
        with pytest.raises(TypeError):
            local_df(spark, rows, schema).collect()
