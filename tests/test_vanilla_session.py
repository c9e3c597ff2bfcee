"""The gate runs a vanilla SparkSession (no Arrow configs). Round 1 crashed
there because toPandas() returned struct columns as Row objects. The
translate layer now reads raw JSON text and never sees a struct, but its
output must stay byte-identical with the Arrow config on or off.
"""

import pytest

from stac_to_geocore_spark.compat.translate import translate_collections, translate_items
from stac_to_geocore_spark.fixtures import stac_collections_fixture, stac_items_df

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
