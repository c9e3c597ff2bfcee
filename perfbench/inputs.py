"""Seeded benchmark inputs and their numpy brute-force answers.

Every table is generated on the driver from the counter-based generators in
`stac_to_geocore_spark.fixtures` and, where it is large, written once as
parquet under `perfbench/.cache/`, keyed by the generator's source digest,
the row count and the seed. The engine only ever receives the generated
tables. The expected outputs are computed here with plain numpy, never with
the engine's join code, once per seed and outside every timed region.

Correctness is compared through an order-independent checksum over id pairs:
the sum over rows of pmod(a * K_A + b * K_B, P), where a and b are the
trailing integers of the two id strings. Spark computes it inside the same
action that writes an operator's output (`DataFrame.observe`), numpy computes
it from the brute-force answer.
"""

from __future__ import annotations

import hashlib
import inspect
import math
import os
import shutil

import numpy as np
import pandas as pd

from stac_to_geocore_spark import fixtures
from stac_to_geocore_spark.fixtures import (
    cluster_centers,
    gen_images_pdf,
    image_centroids,
)

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
FILES_PER_TABLE = 16

K_A, K_B, CK_P = 1_000_003, 7_919, 2_147_483_647


# --- checksums ---


def pair_checksum_np(a: np.ndarray, b: np.ndarray) -> int:
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    return int(((a * K_A + b * K_B) % CK_P).sum())


def pair_observation(df, a_col: str, b_col: str):
    """(df with a count + checksum observation attached, the Observation)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def idx(c):
        return F.regexp_extract(F.col(c), r"(\d+)$", 1).cast("long")

    obs = Observation()
    term = F.pmod(idx(a_col) * F.lit(K_A) + idx(b_col) * F.lit(K_B), F.lit(CK_P))
    return df.observe(obs, F.count(F.lit(1)).alias("n"),
                      F.coalesce(F.sum(term), F.lit(0)).alias("ck")), obs


def observed(obs) -> tuple[int, int]:
    v = obs.get
    return int(v["n"]), int(v["ck"])


# --- cached parquet tables ---


def _digest(*objs) -> str:
    h = hashlib.sha1()
    for o in objs:
        h.update(inspect.getsource(o).encode())
    return h.hexdigest()[:10]


def _cached_table(name: str, n: int, seed: int, build, gen_sources) -> tuple[str, bool]:
    """Parquet dir for (name, generator digest, n, seed); builds it when
    missing. Returns (path, built_now)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = f"{name}-{_digest(build, *gen_sources)}-n{n}-s{seed}"
    path = os.path.join(CACHE_DIR, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, False
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = np.linspace(0, n, FILES_PER_TABLE + 1).astype(np.int64)
    for f in range(FILES_PER_TABLE):
        pdf = build(np.arange(bounds[f], bounds[f + 1], dtype=np.int64), seed)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(tmp, f"part-{f:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, True


def _images_chunk(i: np.ndarray, seed: int) -> pd.DataFrame:
    return gen_images_pdf(i, seed, bytes_mode="none")


def _points_chunk(i: np.ndarray, seed: int) -> pd.DataFrame:
    lon, lat = image_centroids(i, seed)
    return pd.DataFrame({"image_id": [f"img-{int(x):012d}" for x in i], "lon": lon, "lat": lat})


_CENTROID_SOURCES = (fixtures._splitmix64, fixtures._u01, cluster_centers, image_centroids)


def images_table(n: int, seed: int) -> tuple[str, bool]:
    return _cached_table("images", n, seed, _images_chunk, _CENTROID_SOURCES + (gen_images_pdf,))


def points_table(n: int, seed: int) -> tuple[str, bool]:
    return _cached_table("points", n, seed, _points_chunk, _CENTROID_SOURCES)


def centroids(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of rows 0..n-1 of the images and points tables."""
    return image_centroids(np.arange(n, dtype=np.int64), seed)


# --- small driver-side inputs ---


def cluster_boxes(seed: int, half_deg: float = 0.15) -> pd.DataFrame:
    """One fixed-size box on each hot cluster: a polygon set whose res-5
    cell count, and so its lineage partition count, barely varies by seed."""
    clon, clat = cluster_centers(seed)
    return pd.DataFrame({
        "poly_id": [f"cbox-{k:05d}" for k in range(len(clon))],
        "west": clon - half_deg, "south": clat - half_deg,
        "east": clon + half_deg, "north": clat + half_deg,
    })


def star_rings(boxes: pd.DataFrame, n_tips: int = 6) -> pd.DataFrame:
    """A concave star inscribed in each box: tips on the box's inscribed
    ellipse, inner vertices at half that radius."""
    ang = np.arange(2 * n_tips) * (np.pi / n_tips)
    scale = np.where(np.arange(2 * n_tips) % 2 == 0, 1.0, 0.5)
    cx = (boxes.west + boxes.east).to_numpy() / 2
    cy = (boxes.south + boxes.north).to_numpy() / 2
    rx = (boxes.east - boxes.west).to_numpy() / 2
    ry = (boxes.north - boxes.south).to_numpy() / 2
    return pd.DataFrame({
        "poly_id": boxes.poly_id.to_numpy(),
        "ring_lon": [list(cx[r] + rx[r] * scale * np.cos(ang)) for r in range(len(boxes))],
        "ring_lat": [list(cy[r] + ry[r] * scale * np.sin(ang)) for r in range(len(boxes))],
    })


def knn_queries(n: int, seed: int) -> pd.DataFrame:
    """Queries near hot clusters. knn_join doubles its search radius until
    every query holds k candidates; a query on the sparse background needs
    one doubling more on some seeds than on others, which would make the
    join's cost depend on the seed."""
    rng = np.random.default_rng([seed, 11])
    clon, clat = cluster_centers(seed)
    k = np.arange(n)
    lon = clon[k % len(clon)] + rng.uniform(-0.2, 0.2, n)
    lat = clat[k % len(clat)] + rng.uniform(-0.2, 0.2, n)
    return pd.DataFrame({"query_id": [f"q-{int(x):03d}" for x in k], "lon": lon, "lat": lat})


def overlap_boxes(m: int, seed: int) -> pd.DataFrame:
    """m small boxes centred on a disjoint row range of the clustered
    centroid stream, so hot clusters make hot grid cells."""
    lon, lat = image_centroids(np.arange(m, dtype=np.int64) + (1 << 40), seed)
    rng = np.random.default_rng([seed, 13])
    hw, hh = rng.uniform(0.005, 0.05, m), rng.uniform(0.005, 0.05, m)
    return pd.DataFrame({"poly_id": [f"box-{k:06d}" for k in range(m)],
                         "west": lon - hw, "south": lat - hh,
                         "east": lon + hw, "north": lat + hh})


# --- brute-force answers: (row count, checksum) ---


def box_pairs(lon, lat, boxes: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(point row, box row) of every closed-box containment."""
    pa, pb = [], []
    for b, (w, s, e, n) in enumerate(boxes[["west", "south", "east", "north"]].to_numpy()):
        hit = np.nonzero((lon >= w) & (lon <= e) & (lat >= s) & (lat <= n))[0]
        pa.append(hit)
        pb.append(np.full(len(hit), b))
    return np.concatenate(pa), np.concatenate(pb)


def contain_answer(lon, lat, boxes: pd.DataFrame) -> tuple[int, int]:
    a, b = box_pairs(lon, lat, boxes)
    return len(a), pair_checksum_np(a, _trailing_ints(boxes.poly_id)[b])


def ring_answer(lon, lat, rings: pd.DataFrame) -> tuple[int, int]:
    """Even-odd ray cast of every point in each ring's bbox."""
    pa, pb = [], []
    ids = _trailing_ints(rings.poly_id)
    for r in range(len(rings)):
        xs = np.asarray(rings.ring_lon.iloc[r])
        ys = np.asarray(rings.ring_lat.iloc[r])
        cand = np.nonzero((lon >= xs.min()) & (lon <= xs.max())
                          & (lat >= ys.min()) & (lat <= ys.max()))[0]
        X, Y = lon[cand][:, None], lat[cand][:, None]
        x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
        with np.errstate(divide="ignore", invalid="ignore"):
            cross = ((ys > Y) != (y2 > Y)) & (X < (x2 - xs) * (Y - ys) / (y2 - ys) + xs)
        hit = cand[cross.sum(axis=1) % 2 == 1]
        pa.append(hit)
        pb.append(np.full(len(hit), ids[r]))
    return sum(map(len, pa)), pair_checksum_np(np.concatenate(pa), np.concatenate(pb))


def knn_answer(lon, lat, queries: pd.DataFrame, k: int) -> tuple[int, int]:
    """Top-k by the engine's scaled-degree distance, ties broken by id."""
    qa, pb = [], []
    for q, (qlon, qlat) in enumerate(queries[["lon", "lat"]].to_numpy()):
        mid = np.radians((qlat + lat) / 2.0)
        dx = (qlon - lon) * np.cos(mid)
        dy = qlat - lat
        d2 = dx * dx + dy * dy
        near = np.argpartition(d2, k + 8)[: k + 8]
        near = near[np.lexsort((near, d2[near]))][:k]
        qa.append(np.full(k, _trailing_ints(queries.query_id)[q]))
        pb.append(near)
    return len(queries) * k, pair_checksum_np(np.concatenate(qa), np.concatenate(pb))


def overlap_answer(boxes: pd.DataFrame, chunk: int = 1024) -> tuple[int, int]:
    """Every (a, b) box pair, a == b included, whose closed boxes intersect."""
    w, s, e, n = (boxes[c].to_numpy() for c in ("west", "south", "east", "north"))
    ids = _trailing_ints(boxes.poly_id)
    count, ck = 0, 0
    for lo in range(0, len(w), chunk):
        sl = slice(lo, lo + chunk)
        hit = ((w[sl, None] <= e[None, :]) & (e[sl, None] >= w[None, :])
               & (s[sl, None] <= n[None, :]) & (n[sl, None] >= s[None, :]))
        a, b = np.nonzero(hit)
        count += len(a)
        ck += pair_checksum_np(ids[lo + a], ids[b])
    return count, ck


def lineage_partitions(lon, lat, boxes: pd.DataFrame) -> int:
    """Distinct res-5 parent cells among the assignments: the lineage
    writer's partition count."""
    from stac_to_geocore_spark.cells.h3x import h3_encode_np

    a, _ = box_pairs(lon, lat, boxes)
    rows = np.unique(a)
    return len(np.unique(h3_encode_np(lat[rows], lon[rows], 5)))


def cover_missed(lon, lat, boxes: pd.DataFrame, covers: pd.DataFrame) -> set[str]:
    """Ids of the boxes whose cell cover (covers_pdf output) lacks the cell,
    at the box's cover resolution, of some point the box contains. A cell
    join on such a cover drops that point: on a few seeds the engine's
    cover_bbox_np misses a cell next to a box edge. The workloads leave
    those boxes out, so that the benchmark times correct runs."""
    from stac_to_geocore_spark.cells.h3x import h3_encode_np

    a, b = box_pairs(lon, lat, boxes)
    pid = boxes.poly_id.to_numpy()[b]
    res = covers.groupby("poly_id")["res"].first().reindex(pid).to_numpy()
    cell = np.empty(len(a), np.int64)
    for r in np.unique(res):
        sel = res == r
        cell[sel] = h3_encode_np(lat[a[sel]], lon[a[sel]], int(r))
    have = pd.MultiIndex.from_arrays([covers.poly_id.to_numpy(), covers.cell.to_numpy(np.int64)])
    return set(pid[~pd.MultiIndex.from_arrays([pid, cell]).isin(have)])


def ring_bboxes(rings: pd.DataFrame) -> pd.DataFrame:
    """Each ring's bbox, which pip_ring_join covers with cells."""
    return pd.DataFrame({"poly_id": rings.poly_id,
                         "west": rings.ring_lon.map(min), "south": rings.ring_lat.map(min),
                         "east": rings.ring_lon.map(max), "north": rings.ring_lat.map(max)})


def cell_join_candidates(lon, lat, covers: pd.DataFrame) -> int:
    """Rows of the flagship's cell join before its bbox refine: for every
    point, the cover rows on the point's res-5 cell."""
    from stac_to_geocore_spark.cells.h3x import h3_encode_np
    from stac_to_geocore_spark.pipeline import COVER_RES

    per_cell = covers["cell"].value_counts()
    return int(per_cell.reindex(h3_encode_np(lat, lon, COVER_RES)).fillna(0).sum())


def _trailing_ints(ids) -> np.ndarray:
    return np.array([int(str(x).rsplit("-", 1)[1]) for x in ids], dtype=np.int64)


def ceil_div(a: int, b: int) -> int:
    return max(1, math.ceil(a / b))
