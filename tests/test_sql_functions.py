"""SQL-registered cell encoders (sql_functions.register_spatial_sql) must
match the Python column API exactly — one UDF per function behind both."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from stac_to_geocore_spark.cells.h3x import h3_encode, h3_parent
from stac_to_geocore_spark.cells.s2 import s2_encode
from stac_to_geocore_spark.fixtures import image_centroids
from stac_to_geocore_spark.sql_functions import register_spatial_sql


def test_sql_functions_match_column_api(spark):
    """Both surfaces call one UDF per function, so they agree on every row,
    a NULL and a NaN latitude included: the column API's h3 is -1 where SQL
    says NULL (coalesce keeps a join key non-nullable), h3_parent of that -1
    stays -1 (it used to be the valid-looking parent of -1's bits), and s2
    is NULL from both. SQL's h3_parent over a batch holding a NULL cell
    keeps every other id exact (a pandas UDF would see it as float64)."""
    register_spatial_sql(spark)
    lon, lat = image_centroids(np.arange(500), seed=4)
    df = (
        spark.createDataFrame(pd.DataFrame({"pid": np.arange(500), "lon": lon, "lat": lat}))
        .withColumn("lat", F.when(F.col("pid") == 7, F.lit(None))
                    .when(F.col("pid") == 8, F.lit(float("nan"))).otherwise(F.col("lat")))
    )
    df.createOrReplaceTempView("pts_sqlfn")

    via_sql = {r.pid: r for r in spark.sql(
        """
        SELECT pid,
               h3_encode(lat, lon, 7)                 AS h3_r7,
               h3_parent(h3_encode(lat, lon, 7), 5)   AS cell_p5,
               s2_encode(lat, lon, 12)                AS s2_l12
        FROM pts_sqlfn
        """
    ).collect()}

    via_col = {r.pid: r for r in df.select(
        "pid",
        h3_encode(F.col("lat"), F.col("lon"), 7).alias("h3_r7"),
        h3_parent(h3_encode(F.col("lat"), F.col("lon"), 7), 5).alias("cell_p5"),
        s2_encode(F.col("lat"), F.col("lon"), 12).alias("s2_l12"),
    ).collect()}
    assert via_sql.keys() == via_col.keys() == set(range(500))
    for pid, col in via_col.items():
        sql = via_sql[pid]
        assert (col.h3_r7, col.cell_p5) == (
            -1 if sql.h3_r7 is None else sql.h3_r7,
            -1 if sql.cell_p5 is None else sql.cell_p5,
        ), pid
        assert col.s2_l12 == sql.s2_l12, pid
    for pid in (7, 8):
        assert (via_col[pid].h3_r7, via_col[pid].cell_p5, via_col[pid].s2_l12) == (-1, -1, None)
        assert (via_sql[pid].h3_r7, via_sql[pid].cell_p5, via_sql[pid].s2_l12) == (None, None, None)


def test_sql_functions_null_semantics(spark):
    """Standard SQL semantics: NULL in any argument -> NULL out, never a
    crash (NULL res used to raise on int(NaN)) and never silent garbage
    (NULL cell used to become INT64_MIN's parent)."""
    register_spatial_sql(spark)
    got = spark.sql(
        """
        SELECT h3_encode(45.0, -75.0, CAST(NULL AS INT))     AS enc_null_res,
               h3_encode(CAST(NULL AS DOUBLE), -75.0, 7)     AS enc_null_lat,
               h3_parent(CAST(NULL AS BIGINT), 5)            AS par_null_cell,
               s2_encode(45.0, CAST(NULL AS DOUBLE), 12)     AS s2_null_lon,
               h3_encode(45.0, -75.0, 7)                     AS enc_ok
        """
    ).collect()[0]
    assert got["enc_null_res"] is None
    assert got["enc_null_lat"] is None
    assert got["par_null_cell"] is None
    assert got["s2_null_lon"] is None
    assert got["enc_ok"] is not None


def test_sql_functions_mixed_res_in_one_batch(spark):
    """Per-row res arguments: one batch containing several res values must
    encode each row at ITS res (the batch is grouped by distinct scalar)."""
    register_spatial_sql(spark)
    lon, lat = image_centroids(np.arange(300), seed=8)
    pdf = pd.DataFrame({
        "pid": np.arange(300), "lon": lon, "lat": lat,
        "res": np.where(np.arange(300) % 3 == 0, 5, np.where(np.arange(300) % 3 == 1, 7, 9)),
    })
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("pts_mixed_res")
    got = spark.sql(
        "SELECT pid, res, h3_encode(lat, lon, res) AS cell FROM pts_mixed_res"
    ).toPandas().sort_values("pid").reset_index(drop=True)

    from stac_to_geocore_spark.cells.h3x import h3_encode_np

    for r in (5, 7, 9):
        m = pdf["res"] == r
        want = h3_encode_np(lat[m.to_numpy()], lon[m.to_numpy()], r)
        have = got.loc[got.res == r, "cell"].to_numpy()
        assert (have == want).all(), r
