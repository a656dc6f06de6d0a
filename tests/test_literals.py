"""local_df: small driver-side frames as one Arrow hand-off to a JVM
LocalRelation (no per-cell literals, no pickled collection)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from molgraphdb_spark.functions.literals import local_df

SCHEMA = StructType(
    [
        StructField("s", StringType(), False),
        StructField("n", IntegerType(), True),
        StructField("x", DoubleType(), True),
    ]
)


def _analyzed(df):
    return df._jdf.queryExecution().analyzed()


def test_local_df_roundtrip_keeps_schema_and_nullability(spark):
    rows = [("a", 1, 1.5), ("b", None, -0.25), ("c", 3, None)]
    df = local_df(spark, rows, SCHEMA)
    assert df.schema == SCHEMA
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    ddl = local_df(spark, rows, "s string, n int, x double")
    assert ddl.schema.simpleString() == "struct<s:string,n:int,x:double>"
    assert all(f.nullable for f in ddl.schema.fields)
    assert sorted(tuple(r) for r in ddl.collect()) == sorted(rows)


def test_local_df_rejects_null_in_non_nullable_column(spark):
    with pytest.raises(ValueError, match="'s'"):
        local_df(spark, [(None, 1, 1.0)], SCHEMA)


def test_local_df_empty_rows_give_typed_empty_frame(spark):
    df = local_df(spark, [], SCHEMA)
    assert df.schema == SCHEMA
    assert df.collect() == []
    assert local_df(spark, [], "a string, b int").schema.simpleString() == "struct<a:string,b:int>"


def test_local_df_analyzed_plan_is_one_local_relation(spark):
    trees = []
    for n in (1, 1000):
        df = local_df(spark, [(f"s{i}", i, float(i)) for i in range(n)], SCHEMA)
        plan = _analyzed(df)
        assert plan.nodeName() == "LocalRelation"
        assert plan.children().isEmpty()
        assert df.count() == n
        trees.append(re.sub(r"#\d+", "", plan.treeString()))
    # the rows are data in the leaf, not expressions in the tree
    assert trees[0] == trees[1]


def test_local_df_executed_plan_has_no_python_stage(spark):
    df = local_df(spark, [("a", 1, 0.5), ("a", 2, 1.5)], SCHEMA).groupBy("s").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan and "BatchEvalPython" not in plan
    assert [tuple(r) for r in df.collect()] == [("a", 2)]


def test_local_df_with_arrow_disabled(spark):
    # a session built outside get_spark keeps pyspark's default (Arrow off)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_df(spark, [("a", 1, 2.0)], SCHEMA)
        assert _analyzed(df).nodeName() == "LocalRelation"
        assert [tuple(r) for r in df.collect()] == [("a", 1, 2.0)]
    finally:
        spark.conf.set(key, old)
