"""The flagship north-star pipeline: H3 encode + PIP join + tile assignment.

BASELINE.json metric: "end-to-end images/sec (H3 encode + PIP join + tile
assignment) on synthetic image+caption table". One declarative plan:

  images (image_id, bytes, w, h, fmt, caption, phash, lon, lat)
    -> h3_r{res} + cell_p5 (Arrow pandas UDF, numpy kernel)
    -> s2_l{lvl}           (same fused UDF)
    -> tile z/x/y          (pure JVM column math, whole-stage codegen)
    -> pip_join            (the shared grid join of spatial/pip.py: box
                            cells broadcast, equi-join on (gx, gy), closed
                            bbox refine; zero shuffle on the images side)
    -> assignments (image_id, poly_id, lon, lat, h3, cell_p5, s2, tile_x/y)

The cell ids are output payload, not join keys: containment comes from the
same exact grid candidate generator as every other spatial join. cell_p5
is the lineage/bucketing partition key of materialize_assignments. The
whole pipeline is scan -> map -> broadcast-join: no shuffle of the
10^12-row side at all.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stac_to_geocore_spark.cells.tiles import tile_x_expr, tile_y_expr
from stac_to_geocore_spark.spatial.pip import pip_join

COVER_RES = 5


@functools.lru_cache(maxsize=16)
def _fused_cells_udf(res: int, s2_level: int, _skey=None):
    """ONE Arrow round trip and ONE lat/lon->xyz projection for all three
    cell ids (h3 at `res`, h3 at COVER_RES, s2 at `s2_level`). The separate
    h3_encode/s2_encode UDFs each redo the trig+face selection; fusing them
    cuts the python-side encode work ~2x on the flagship hot path. Cached
    per (res, level, session) — cloudpickling a pandas UDF costs driver
    time; the session key avoids a dead-JVM _judf after a restart."""
    from pyspark.sql.functions import pandas_udf

    from stac_to_geocore_spark.cells import h3x
    from stac_to_geocore_spark.cells.s2 import s2_encode_xyz_np

    @pandas_udf("h3 long, cover long, s2 long")
    def _enc(lat_s: pd.Series, lon_s: pd.Series) -> pd.DataFrame:
        lat = lat_s.to_numpy(np.float64)
        lon = lon_s.to_numpy(np.float64)
        xyz = h3x._latlon_to_xyz(lat, lon)
        h3_r, cover = h3x.h3_encode_multi_np(xyz, [res, COVER_RES])
        s2c = s2_encode_xyz_np(xyz[..., 0], xyz[..., 1], xyz[..., 2], s2_level)
        return pd.DataFrame({"h3": h3_r, "cover": cover, "s2": s2c})

    return _enc


def encode_stage(images: DataFrame, res: int = 7, s2_level: int = 12, zoom: int = 12) -> DataFrame:
    """Cell/tile encoding: one projection, no shuffle, one fused UDF."""
    from stac_to_geocore_spark.cells.h3x import _session_cache_key
    from stac_to_geocore_spark.partitioning import pack_waves

    # a narrow images scan often lands as 2-4 slot-counts' worth of small
    # splits; packing them to one wave (coalesce, no exchange) halves the
    # per-task Arrow overhead of the fused encode UDF — no-op on a big
    # many-split table (see pack_waves)
    images = pack_waves(images)
    enc = _fused_cells_udf(res, s2_level, _session_cache_key())
    cells = enc(F.col("lat"), F.col("lon")).alias("_cells")
    return images.select("image_id", "lon", "lat", cells).select(
        "image_id",
        "lon",
        "lat",
        F.col("_cells.h3").alias(f"h3_r{res}"),
        # coalesce: makes the lineage partition key non-null in the schema
        # (a UDF result is nullable by type; the kernel never yields null,
        # so the values are the encoder's own)
        F.coalesce(F.col("_cells.cover"), F.lit(-1)).alias("cell_p5"),
        F.col("_cells.s2").alias(f"s2_l{s2_level}"),
        tile_x_expr(F.col("lon"), zoom).alias(f"tile_z{zoom}_x"),
        tile_y_expr(F.col("lat"), zoom).alias(f"tile_z{zoom}_y"),
    )


def flagship(
    images: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    s2_level: int = 12,
    zoom: int = 12,
    broadcast_covers: bool = True,
    salt_factor: int = 0,
) -> DataFrame:
    """encode -> PIP assign (pip_join: grid cell join + bbox refine) ->
    assignments (image_id, poly_id, lon, lat, h3_r{res}, cell_p5,
    s2_l{s2_level}, tile_z{zoom}_x, tile_z{zoom}_y).

    salt_factor > 0 salts the join key (for box sides too large to
    broadcast with heavy cell skew); see pip_join.
    """
    return pip_join(encode_stage(images, res, s2_level, zoom), polygons, point_id="image_id",
                    broadcast_covers=broadcast_covers, salt_factor=salt_factor)


def _input_fingerprint(images: DataFrame, polygons: DataFrame, flagship_kwargs: dict) -> dict:
    """What the flagship's output depends on, summarized by JVM aggregates:
    row count and sum(xxhash64) of images(image_id, lon, lat) and of
    polygons(poly_id, west, south, east, north), plus the flagship kwargs.
    A sum, not bit_xor: duplicate rows would cancel out under XOR."""
    def summary(name, df, cols):
        return df.select(F.lit(name).alias("side"), F.count(F.lit(1)).alias("n"),
                         F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"))

    rows = (summary("images", images, ["image_id", "lon", "lat"])
            .unionByName(summary("polygons", polygons, ["poly_id", "west", "south", "east", "north"]))
            .collect())
    fp = {r["side"]: [r["n"], str(r["h"])] for r in rows}
    fp["flagship"] = dict(flagship_kwargs)
    return fp


def materialize_assignments(
    images: DataFrame,
    polygons: DataFrame,
    path: str,
    run_id: str = "run",
    batch_size: int | None = None,
    **flagship_kwargs,
):
    """The north-star pipeline with per-partition lineage checkpointing:
    flagship -> LineageWriter keyed by cell_p5. A killed job resumes by
    skipping committed partitions (BASELINE.json north_rule); the manifest
    carries (cell range, row count, checksum, rows/sec) per partition.
    Returns the manifest rows written this invocation.

    Each call first fingerprints its inputs (_input_fingerprint: one pass of
    JVM aggregates, no Python). When the table's latest snapshot is a
    completion record naming the same fingerprint, the run already
    finished: return [] without planning the flagship. Any other case (no
    record, other inputs or kwargs, a killed run, which leaves no record, a
    batch committed after the record) takes the full path, which records
    the fingerprint once its write returns."""
    from stac_to_geocore_spark.tables.lineage import LineageWriter

    writer = LineageWriter(path, partition_col="cell_p5")
    fingerprint = _input_fingerprint(images, polygons, flagship_kwargs)
    if writer.is_complete(fingerprint):
        return []
    out = flagship(images, polygons, **flagship_kwargs)
    # range stats use the finest cell column; partitioning uses cell_p5
    res = flagship_kwargs.get("res", 7)
    out = out.withColumn("cell", F.col(f"h3_r{res}"))
    written = writer.write(out, run_id=run_id, batch_size=batch_size)
    writer.mark_complete(fingerprint)
    return written
