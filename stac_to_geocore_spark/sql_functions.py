"""The cell functions' one Spark surface: h3_encode, h3_parent and s2_encode
are each ONE Arrow-batched UDF per session, registered for SQL and
called by the column API (cells/h3x.h3_encode, h3x.h3_parent,
s2.s2_encode) with its res/level as a literal argument — so both surfaces
share one null handling and one evaluation. The SQL form is the scalar
complement of the `cover_cells` UDTF (spatial/cover.register_cover_udtf):

    SELECT image_id, h3_encode(lat, lon, 7)  AS h3_r7,
                     h3_parent(h3_encode(lat, lon, 7), 5) AS cell_p5,
                     s2_encode(lat, lon, 12) AS s2_l12
    FROM images

res is a per-row argument; the kernels need a scalar res, so each Arrow
batch is grouped by the distinct res values it contains (one, from the
column API) and encoded per group — still fully vectorized.

Reference anchor: the stac-to-geocore reference has no SQL surface at all
(single-threaded dict ETL); this is part of the north-star engine
(BASELINE.json north_rule: H3/S2 index as a first-class engine feature).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql.types import LongType

from stac_to_geocore_spark.cells.h3x import _session_cache_key, h3_encode_np, h3_parent_np
from stac_to_geocore_spark.cells.s2 import s2_encode_np


def _grouped_by_scalar(scalars: pd.Series, valid: pd.Series, kernel) -> pd.Series:
    """Apply kernel(rows_mask, scalar) per distinct scalar in the batch.

    NULL-safe with standard SQL semantics (NULL in -> NULL out): rows where
    any argument is null are excluded from the kernels and return null —
    without this, a NULL res crashed int() on NaN and a NULL coordinate was
    silently cast to INT64_MIN garbage."""
    ok = (valid & scalars.notna()).to_numpy()
    out = pd.array([None] * len(scalars), dtype="Int64")
    sc = scalars.to_numpy()
    for sv in np.unique(sc[ok]):
        m = ok & (sc == sv)
        out[m] = kernel(m, int(sv))
    return pd.Series(out)


@functools.lru_cache(maxsize=8)
def cell_udfs(_skey) -> dict:
    """The session's h3_encode(lat, lon, res), h3_parent(cell, res) and
    s2_encode(lat, lon, level) UDFs, by name. Built once per session
    (_skey = h3x._session_cache_key()): cloudpickling a UDF costs driver
    time, and a UDF cached across a session restart would hold a dead-JVM
    handle. A NULL or NaN coordinate encodes to NULL; h3_parent reads a
    negative cell (the column API's -1 for "no cell") as NULL, never as
    the valid-looking parent of its bits."""
    from pyspark.sql.functions import arrow_udf, pandas_udf

    @pandas_udf(LongType())
    def _h3_encode(lat: pd.Series, lon: pd.Series, res: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        return _grouped_by_scalar(
            res, lat.notna() & lon.notna(),
            lambda m, r: h3_encode_np(la[m], lo[m], r),
        )

    # an Arrow UDF: a pandas UDF sees a long column holding a NULL as
    # float64, which rounds every 63-bit cell id in that batch
    @arrow_udf(LongType())
    def _h3_parent(cell: pa.Array, res: pa.Array) -> pa.Array:
        c = pc.fill_null(cell, 0).to_numpy()  # masked rows never reach the kernel
        valid = pd.Series(cell.is_valid().to_numpy(zero_copy_only=False) & (c >= 0))
        return pa.array(_grouped_by_scalar(
            res.to_pandas(), valid, lambda m, r: h3_parent_np(c[m], r)
        ))

    @pandas_udf(LongType())
    def _s2_encode(lat: pd.Series, lon: pd.Series, level: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        return _grouped_by_scalar(
            level, lat.notna() & lon.notna(),
            lambda m, lv: s2_encode_np(la[m], lo[m], lv),
        )

    return {"h3_encode": _h3_encode, "h3_parent": _h3_parent, "s2_encode": _s2_encode}


def register_spatial_sql(spark: SparkSession) -> None:
    """Register h3_encode(lat, lon, res), h3_parent(cell, res), and
    s2_encode(lat, lon, level) as Spark SQL functions. z/x/y tile math
    needs no UDF — it is plain SQL (FLOOR((lon+180)/360*POW(2,z)) etc.,
    see cells/tiles.py)."""
    for name, udf in cell_udfs(_session_cache_key()).items():
        spark.udf.register(name, udf)
