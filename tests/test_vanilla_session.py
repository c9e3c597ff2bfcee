"""The gate runs a vanilla SparkSession (no Arrow configs). Round 1 crashed
there because toPandas() returned struct columns as Row objects. The
translate layer now reads raw JSON text and never sees a struct, but its
output must stay byte-identical with the Arrow config on or off, and the
driver-row helper must plan a JVM scan there too.
"""

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stac_to_geocore_spark.compat.translate import translate_collections, translate_items
from stac_to_geocore_spark.fixtures import stac_collections_fixture, stac_items_df
from stac_to_geocore_spark.session import local_df

ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def no_arrow(spark):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "false")
    yield spark
    spark.conf.set(ARROW_KEY, prev)


def _docs(spark):
    colls = stac_collections_fixture()
    out = dict(translate_collections(colls))
    for r in translate_items(stac_items_df(spark, 24), colls).collect():
        out[r["key"]] = r["json"]
    return out


def test_translate_identical_with_and_without_arrow(spark, no_arrow):
    # fixture ordering: no_arrow has already disabled Arrow on the shared
    # session; compute the non-Arrow result first, then re-enable and compare
    without_arrow = _docs(spark)
    spark.conf.set(ARROW_KEY, "true")
    with_arrow = _docs(spark)
    assert without_arrow.keys() == with_arrow.keys()
    assert len(without_arrow) == 24 + len(stac_collections_fixture())
    for k in with_arrow:
        assert without_arrow[k] == with_arrow[k], k


@pytest.mark.parametrize("rows, schema", [
    pytest.param(
        [("a", [(0.0, 1.0, 2.0, 3.0), (2.0, 3.0, 0.0, 1.0)]), ("b", [])],
        "poly_id string, edges array<struct<x1:double,y1:double,x2:double,y2:double>>",
        id="nested_struct_array"),
    pytest.param([], "query_id string, point_id bigint, rank int, dist2 double", id="empty"),
    pytest.param(
        [("q1", 7, 1, 0.25), ("q1", 3, 2, 0.5)],
        StructType([StructField("query_id", StringType()), StructField("point_id", LongType()),
                    StructField("rank", IntegerType(), nullable=False),
                    StructField("dist2", DoubleType())]),
        id="non_null_int"),
])
def test_local_df_is_a_jvm_scan_equal_to_list_rows(no_arrow, rows, schema):
    """session.local_df plans driver rows as a LocalTableScan, which runs no
    Python when executed, even with the Arrow conf off; its schema and rows
    are createDataFrame(list)'s, whose plan is a pickled ExistingRDD."""
    spark = no_arrow
    df = local_df(spark, rows, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("LocalTableScan"), plan
    want = spark.createDataFrame(rows, schema)
    assert df.schema == want.schema
    assert df.collect() == want.collect()


@pytest.mark.parametrize("name", ["pip_assign", "bbox_overlap"])
def test_fixture_boxes_plan_no_existing_rdd(no_arrow, name):
    """With the Arrow conf off, createDataFrame(<pandas>) takes the list
    path and plans a pickled ExistingRDD; the contract's fixture boxes go
    through session.local_df, so the executed plan holds none."""
    import __spark_entry__ as m

    df = m.queries()[name](no_arrow, m.SF_SMOKE)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
