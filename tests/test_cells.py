"""Cell kernels: S2 known answers, H3-style invariants, tile math parity."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from stac_to_geocore_spark.cells import h3x
from stac_to_geocore_spark.cells.s2 import s2_encode, s2_encode_np, s2_parent_np
from stac_to_geocore_spark.cells.tiles import tile_x_expr, tile_xy_np, tile_y_expr

RNG = np.random.default_rng(1234)
LAT = RNG.uniform(-84, 84, 3000)
LON = RNG.uniform(-179.5, 179.5, 3000)


class TestS2:
    def test_known_face_centers(self):
        # derivable from the scheme definition: face centers at level 0
        cases = [((0, 0), 0x1), ((0, 90), 0x3), ((90, 0), 0x5), ((0, 180), 0x7), ((0, -90), 0x9), ((-90, 0), 0xB)]
        for (lat, lon), face_nibble in cases:
            got = int(s2_encode_np(np.array([float(lat)]), np.array([float(lon)]), 0)[0])
            want = np.int64(np.uint64(face_nibble) << np.uint64(60))
            assert got == want, (lat, lon, hex(got))

    def test_leaf_center_of_face0(self):
        assert int(s2_encode_np(np.array([0.0]), np.array([0.0]), 30)[0]) == 0x1000000000000001

    def test_parent_is_prefix_truncation(self):
        c14 = s2_encode_np(LAT, LON, 14)
        for lvl in (10, 6, 2):
            direct = s2_encode_np(LAT, LON, lvl)
            assert (s2_parent_np(c14, lvl) == direct).all()

    def test_spark_udf_matches_numpy(self, spark):
        pdf = pd.DataFrame({"lat": LAT[:500], "lon": LON[:500]})
        got = (
            spark.createDataFrame(pdf)
            .select(s2_encode(F.col("lat"), F.col("lon"), 12).alias("c"))
            .toPandas()["c"].to_numpy()
        )
        assert (got == s2_encode_np(LAT[:500], LON[:500], 12)).all()


class TestH3Style:
    def test_center_roundtrip_res5_to_9(self):
        for res in range(5, 10):
            cells = h3x.h3_encode_np(LAT, LON, res)
            clat, clon = h3x.h3_center_np(cells)
            again = h3x.h3_encode_np(clat, clon, res)
            # face-clipped boundary cells may re-encode on the adjacent face;
            # interior cells (>99.5%) must round-trip exactly
            assert (cells == again).mean() > 0.995, res

    def test_res_extraction_and_determinism(self):
        c = h3x.h3_encode_np(LAT, LON, 7)
        _, _, _, res = h3x.h3_unpack(c)
        assert (res == 7).all()
        assert (c == h3x.h3_encode_np(LAT, LON, 7)).all()

    def test_children_parent_roundtrip_exact(self):
        """True aperture-7: every cell has exactly 7 children and each child
        maps back to its parent by exact lattice division."""
        for res in (0, 3, 7, 11):
            cells = np.unique(h3x.h3_encode_np(LAT, LON, res))
            kids = h3x.h3_children_np(cells)
            assert kids.shape == (len(cells), 7)
            assert len(np.unique(kids)) == 7 * len(cells)  # disjoint child sets
            back = h3x.h3_parent_np(kids.ravel(), res)
            assert (back == np.repeat(cells, 7)).all()

    def test_parent_contains_child_center(self):
        """Each child center lies strictly inside the parent hex Voronoi
        region (distance 1/sqrt(7) < 1/2 in parent lattice units)."""
        cells = np.unique(h3x.h3_encode_np(LAT, LON, 8))
        parents = h3x.h3_parent_np(cells, 7)
        _, ca, cb, _ = h3x.h3_unpack(cells)
        _, pa, pb, _ = h3x.h3_unpack(parents)
        # child center in parent lattice units: (a + b*tau)/(2+tau) - parent
        z = (ca + cb * complex(0.5, np.sqrt(3) / 2)) / (2 + complex(0.5, np.sqrt(3) / 2))
        zp = pa + pb * complex(0.5, np.sqrt(3) / 2)
        assert np.abs(z - zp).max() < 0.5 - 1e-9

    def test_h3_parent_column_rollup(self, spark):
        from pyspark.sql import functions as F

        pdf = pd.DataFrame({"lat": LAT, "lon": LON})
        fine = (
            spark.createDataFrame(pdf)
            .withColumn("cell7", h3x.h3_encode(F.col("lat"), F.col("lon"), 7))
            .groupBy("cell7").agg(F.count(F.lit(1)).alias("n7"))
        )
        rolled = (
            fine.withColumn("cell5", h3x.h3_parent(F.col("cell7"), 5))
            .groupBy("cell5").agg(F.sum("n7").alias("n"))
        ).toPandas()
        assert rolled["n"].sum() == len(pdf)  # counts conserved
        # rollup keys match the exact numpy parent of each fine cell
        fine_pdf = fine.toPandas()
        want = set(h3x.h3_parent_np(fine_pdf["cell7"].to_numpy(np.int64), 5))
        assert set(rolled["cell5"]) == want

    def test_cover_udtf_lateral_matches_numpy(self, spark):
        from stac_to_geocore_spark.spatial.cover import cover_bbox_np, register_cover_udtf

        register_cover_udtf(spark)
        got = spark.sql(
            """
            SELECT p.poly_id, c.cell, c.fully_inside
            FROM VALUES ('p0', -100.0, 45.0, -80.0, 60.0) AS p(poly_id, west, south, east, north),
                 LATERAL cover_cells(p.west, p.south, p.east, p.north, 5) c
            """
        ).toPandas().sort_values("cell")
        cells, full = cover_bbox_np(-100.0, 45.0, -80.0, 60.0, 5)
        assert (got["cell"].to_numpy() == cells).all()
        assert (got["fully_inside"].to_numpy() == full).all()

    def test_parent_res_hierarchy(self):
        c9 = h3x.h3_encode_np(LAT, LON, 9)
        p5 = h3x.h3_parent_np(c9, 5)
        _, _, _, res = h3x.h3_unpack(p5)
        assert (res == 5).all()
        # parent center within one res-5 cell circumradius of child center
        clat9, clon9 = h3x.h3_center_np(c9)
        clat5, clon5 = h3x.h3_center_np(p5)
        circ_deg = h3x.res_spacing(5) / np.sqrt(3) * 180 / np.pi * 1.8
        dist = np.hypot((clon9 - clon5) * np.cos(np.radians(clat9)), clat9 - clat5)
        assert (dist <= circ_deg).all()

    def test_spark_udf_matches_numpy(self, spark):
        pdf = pd.DataFrame({"lat": LAT[:500], "lon": LON[:500]})
        got = (
            spark.createDataFrame(pdf)
            .select(h3x.h3_encode(F.col("lat"), F.col("lon"), 7).alias("c"))
            .toPandas()["c"].to_numpy()
        )
        assert (got == h3x.h3_encode_np(LAT[:500], LON[:500], 7)).all()


class TestTiles:
    def test_known_values(self):
        x, y = tile_xy_np(np.array([0.0]), np.array([0.0]), 1)
        assert (int(x[0]), int(y[0])) == (1, 1)
        x, y = tile_xy_np(np.array([-180.0]), np.array([85.0511287798066]), 3)
        assert (int(x[0]), int(y[0])) == (0, 0)

    def test_polar_clamp(self):
        x, y = tile_xy_np(np.array([10.0, 10.0]), np.array([89.9, -89.9]), 5)
        assert int(y[0]) == 0 and int(y[1]) == 31

    def test_spark_expr_matches_numpy(self, spark):
        pdf = pd.DataFrame({"lat": LAT[:1000], "lon": LON[:1000]})
        got = (
            spark.createDataFrame(pdf)
            .select(
                tile_x_expr(F.col("lon"), 12).alias("x"),
                tile_y_expr(F.col("lat"), 12).alias("y"),
            )
            .toPandas()
        )
        ex, ey = tile_xy_np(LON[:1000], LAT[:1000], 12)
        assert (got["x"].to_numpy() == ex).all()
        assert (got["y"].to_numpy() == ey).all()


def test_blocked_hilbert_walk_matches_per_level_walk():
    """The 5-level blocked Hilbert tables must reproduce the canonical
    per-level walk bit-for-bit (the tables are precomputed at import; a
    table-build bug would corrupt every S2 id)."""
    import numpy as np

    from stac_to_geocore_spark.cells.s2 import (
        _IJ_TO_POS,
        _POS_TO_ORIENTATION,
        _SWAP_MASK,
        MAX_LEVEL,
        _face_ij_to_leaf,
    )

    def per_level(face, i, j):
        n = face.astype(np.uint64)
        orientation = (face & _SWAP_MASK).astype(np.int64)
        for k in range(MAX_LEVEL - 1, -1, -1):
            ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
            pos = _IJ_TO_POS[orientation, ij]
            n = (n << np.uint64(2)) | pos.astype(np.uint64)
            orientation = orientation ^ _POS_TO_ORIENTATION[pos]
        return ((n << np.uint64(1)) | np.uint64(1)).astype(np.int64)

    rng = np.random.default_rng(42)
    m = 50_000
    face = rng.integers(0, 6, m)
    i = rng.integers(0, 1 << 30, m)
    j = rng.integers(0, 1 << 30, m)
    # corners and diagonal too (all-0 / all-1 bit patterns stress the tables)
    face = np.concatenate([face, [0, 5, 3]])
    i = np.concatenate([i, [0, (1 << 30) - 1, 0x2AAAAAAA]])
    j = np.concatenate([j, [0, (1 << 30) - 1, 0x15555555]])
    assert (_face_ij_to_leaf(face, i, j) == per_level(face, i, j)).all()
