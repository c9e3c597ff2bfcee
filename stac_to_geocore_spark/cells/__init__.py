"""Cell-index kernels: Web-Mercator z/x/y tiles, S2, and an H3-style hex grid.

All kernels are vectorized (pure pyspark.sql column math where possible,
Arrow-batched UDFs over numpy otherwise). No per-row Python UDFs.
"""

from stac_to_geocore_spark.cells.tiles import tile_x_expr, tile_y_expr
from stac_to_geocore_spark.cells.s2 import s2_encode, s2_encode_np
from stac_to_geocore_spark.cells.h3x import h3_encode, h3_encode_np, h3_parent_np

__all__ = [
    "tile_x_expr",
    "tile_y_expr",
    "s2_encode",
    "s2_encode_np",
    "h3_encode",
    "h3_encode_np",
    "h3_parent_np",
]
