"""Deterministic synthetic fixtures (FIXTURES.md): the north-star `images`
table, footprint polygons, and STAC root/collection/item records.

Generation is **counter-based** (splitmix64 of the row index), not
sequence-based, so any row can be generated independently on any executor:
`images_df` builds the table distributed via mapInPandas over spark.range(n)
— the shape that still works at 10^12 rows (the driver never materializes
data). The numpy twins (`gen_images_pdf`, `image_centroids`) are the test
oracles.

Coordinates stay in the Canada-like window ([-141, -52] x [41, 84]),
antimeridian-free, matching the reference's bbox domain assumption
(stac_to_geocore.py:177 rounds to 2dp and assumes w < e). 80% of images draw
from 12 hot clusters (sigma ~0.3 deg) to create skewed coastal/urban cells
on purpose (SURVEY.md §7.2 hard part 4).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from stac_to_geocore_spark.images.codecs import encode_image, phash64
from stac_to_geocore_spark.session import local_df

LON_MIN, LON_MAX = -141.0, -52.0
LAT_MIN, LAT_MAX = 41.0, 84.0
N_CLUSTERS = 12
CLUSTER_SIGMA = 0.3
CLUSTER_FRAC = 0.8
DEFAULT_SEED = 42

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), True),
        StructField("lon", DoubleType(), False),
        StructField("lat", DoubleType(), False),
    ]
)

_SIZES = np.array([32, 64, 128], dtype=np.int32)
_FMTS = np.array(["ppm", "png", "qjpg"])


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based hash: uint64 -> uint64 (public splitmix64 constants)."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return z ^ (z >> np.uint64(31))


def _u01(i: np.ndarray, stream: int, seed: int) -> np.ndarray:
    """Deterministic uniform[0,1) per (row, stream, seed)."""
    h = _splitmix64(i.astype(np.uint64) * np.uint64(1000003) + np.uint64(stream * 7919 + seed))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def cluster_centers(seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Hot-cluster centroids (fixed function of seed; recomputed identically on workers)."""
    k = np.arange(N_CLUSTERS, dtype=np.uint64)
    lon = LON_MIN + 2.0 + _u01(k, 101, seed) * (LON_MAX - LON_MIN - 4.0)
    lat = LAT_MIN + 2.0 + _u01(k, 102, seed) * (LAT_MAX - LAT_MIN - 4.0)
    return lon, lat


def image_centroids(i: np.ndarray, seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Per-row (lon, lat): 80% clustered (skew on purpose), 20% uniform."""
    i = np.asarray(i, dtype=np.uint64)
    clon, clat = cluster_centers(seed)
    is_cluster = _u01(i, 1, seed) < CLUSTER_FRAC
    ci = (_u01(i, 2, seed) * N_CLUSTERS).astype(np.int64) % N_CLUSTERS
    # Box-Muller from two uniform streams for gaussian offsets
    u1 = np.clip(_u01(i, 3, seed), 1e-12, 1.0)
    u2 = _u01(i, 4, seed)
    r = np.sqrt(-2.0 * np.log(u1)) * CLUSTER_SIGMA
    dlon, dlat = r * np.cos(2 * np.pi * u2), r * np.sin(2 * np.pi * u2)
    lon_c = np.clip(clon[ci] + dlon, LON_MIN, LON_MAX)
    lat_c = np.clip(clat[ci] + dlat, LAT_MIN, LAT_MAX)
    lon_u = LON_MIN + _u01(i, 5, seed) * (LON_MAX - LON_MIN)
    lat_u = LAT_MIN + _u01(i, 6, seed) * (LAT_MAX - LAT_MIN)
    return np.where(is_cluster, lon_c, lon_u), np.where(is_cluster, lat_c, lat_u)


def _pixels_for(i: int, w: int, h: int, seed: int) -> np.ndarray:
    """Deterministic procedural image: gradient + seeded noise."""
    rng = np.random.default_rng(int(_splitmix64(np.array([i], dtype=np.uint64))[0]) ^ seed)
    gx = np.linspace(0, 255, w, dtype=np.float64)[None, :, None]
    gy = np.linspace(0, 255, h, dtype=np.float64)[:, None, None]
    chan = np.array([1.0, 0.6, 0.3])[None, None, :]
    base = (gx * 0.5 + gy * 0.5) * chan
    noise = rng.integers(0, 32, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def gen_images_pdf(
    i: np.ndarray, seed: int = DEFAULT_SEED, bytes_mode: str = "full"
) -> pd.DataFrame:
    """Generate image rows for indices `i` (numpy twin / per-batch worker fn).

    bytes_mode: 'full' (procedural pixels, real codecs, real phash),
    'none' (NULL bytes/phash — for throughput benches where the hot path is
    lat/lon math and carrying tens of GB of pixels would bench the generator,
    not the engine).
    """
    i = np.asarray(i, dtype=np.int64)
    wsel = _SIZES[(_u01(i.astype(np.uint64), 7, seed) * 3).astype(np.int64) % 3]
    hsel = _SIZES[(_u01(i.astype(np.uint64), 8, seed) * 3).astype(np.int64) % 3]
    fmt = _FMTS[(_u01(i.astype(np.uint64), 9, seed) * 3).astype(np.int64) % 3]
    lon, lat = image_centroids(i, seed)
    ci = (_u01(i.astype(np.uint64), 2, seed) * N_CLUSTERS).astype(np.int64) % N_CLUSTERS
    captions = [f"synthetic scene {int(x)} over cluster-{int(c)}" for x, c in zip(i, ci)]

    if bytes_mode == "full":
        blobs, hashes = [], []
        for row, (idx, w, h, f) in enumerate(zip(i, wsel, hsel, fmt)):
            px = _pixels_for(int(idx), int(w), int(h), seed)
            blobs.append(encode_image(px, str(f)))
            hashes.append(phash64(px))
    elif bytes_mode == "none":
        blobs = [None] * len(i)
        hashes = [None] * len(i)
    else:
        raise ValueError(f"unknown bytes_mode {bytes_mode!r}")

    return pd.DataFrame(
        {
            "image_id": [f"img-{int(x):012d}" for x in i],
            "bytes": blobs,
            "w": wsel.astype(np.int32),
            "h": hsel.astype(np.int32),
            "fmt": fmt,
            "caption": captions,
            "phash": pd.array(hashes, dtype="Int64"),
            "lon": lon,
            "lat": lat,
        }
    )


def images_df(
    spark: SparkSession,
    n: int,
    seed: int = DEFAULT_SEED,
    bytes_mode: str = "full",
    partitions: int | None = None,
) -> DataFrame:
    """Distributed images table: spark.range -> mapInPandas (scales to any n)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_images_pdf(b["id"].to_numpy(np.int64), seed, bytes_mode)

    return spark.range(0, n, 1, parts).mapInPandas(gen, IMAGES_SCHEMA)


# --- footprint polygons (collection-like bboxes) ---

POLYGONS_SCHEMA = StructType(
    [
        StructField("poly_id", StringType(), False),
        StructField("west", DoubleType(), False),
        StructField("south", DoubleType(), False),
        StructField("east", DoubleType(), False),
        StructField("north", DoubleType(), False),
    ]
)


def gen_polygons_pdf(m: int, seed: int = DEFAULT_SEED) -> pd.DataFrame:
    """m bbox polygons: half centered on hot clusters (so PIP joins hit the
    skewed cells), half uniform; sizes 0.5-6 degrees."""
    k = np.arange(m, dtype=np.uint64)
    clon, clat = cluster_centers(seed)
    on_cluster = _u01(k, 11, seed) < 0.5
    ci = (_u01(k, 12, seed) * N_CLUSTERS).astype(np.int64) % N_CLUSTERS
    cx = np.where(on_cluster, clon[ci], LON_MIN + _u01(k, 13, seed) * (LON_MAX - LON_MIN))
    cy = np.where(on_cluster, clat[ci], LAT_MIN + _u01(k, 14, seed) * (LAT_MAX - LAT_MIN))
    hw = 0.25 + _u01(k, 15, seed) * 2.75
    hh = 0.25 + _u01(k, 16, seed) * 2.75
    west = np.clip(cx - hw, LON_MIN, LON_MAX)
    east = np.clip(cx + hw, LON_MIN, LON_MAX)
    south = np.clip(cy - hh, LAT_MIN, LAT_MAX)
    north = np.clip(cy + hh, LAT_MIN, LAT_MAX)
    return pd.DataFrame(
        {
            "poly_id": [f"poly-{int(x):05d}" for x in k],
            "west": np.round(west, 2),
            "south": np.round(south, 2),
            "east": np.round(east, 2),
            "north": np.round(north, 2),
        }
    )


def polygons_df(spark: SparkSession, m: int, seed: int = DEFAULT_SEED) -> DataFrame:
    return boxes_df(spark, gen_polygons_pdf(m, seed))


def boxes_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """A POLYGONS_SCHEMA pandas frame as a LocalTableScan (session.local_df),
    which runs no Python whether or not the Arrow conf is on."""
    return local_df(spark, list(pdf.itertuples(index=False, name=None)), POLYGONS_SCHEMA)


# --- STAC fixtures (FIXTURES.md §2-4): inputs to the compat layer ---

STAC_LINK = StructType(
    [
        StructField("href", StringType(), True),
        StructField("rel", StringType(), True),
        StructField("title", StringType(), True),
    ]
)
STAC_ASSET = StructType(
    [
        StructField("href", StringType(), True),
        StructField("type", StringType(), True),
        StructField("title", StringType(), True),
        StructField("roles", ArrayType(StringType()), True),
    ]
)
STAC_ITEM_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("bbox", ArrayType(DoubleType()), True),
        StructField("links", ArrayType(STAC_LINK), True),
        StructField("assets", MapType(StringType(), STAC_ASSET), True),
        StructField(
            "properties",
            StructType(
                [
                    StructField("datetime", StringType(), True),
                    StructField("created", StringType(), True),
                    StructField("updated", StringType(), True),
                    StructField("description", StringType(), True),
                ]
            ),
            True,
        ),
        StructField("collection", StringType(), True),
    ]
)

API_ROOT = "https://datacube.example.ca/stac/api"


def _coll_links(coll_id: str, extra: list[dict] | None = None) -> list[dict]:
    links = [
        {"href": f"{API_ROOT}/collections/{coll_id}", "rel": "self", "title": "Self link"},
        {"href": API_ROOT, "rel": "root", "title": None},
        {"href": f"{API_ROOT}/collections/{coll_id}/items", "rel": "items", "title": "Items"},
        {"href": "https://example.ca/license", "rel": "license", "title": "License/Licence"},
        {"href": f"{API_ROOT}/weird", "rel": "mystery-rel", "title": "Weird link"},
    ]
    return links + (extra or [])


def stac_collections_fixture(seed: int = DEFAULT_SEED) -> list[dict]:
    """>= 8 collections covering every quirk branch in SURVEY.md §2.11."""
    polys = gen_polygons_pdf(16, seed)
    bbox = lambda r: [[float(polys.west[r]), float(polys.south[r]), float(polys.east[r]), float(polys.north[r])]]

    def coll(i, cid, title, desc, kw, interval, links=None, assets=None):
        return {
            "id": cid,
            "title": title,
            "description": desc,
            "keywords": kw,
            "extent": {"spatial": {"bbox": bbox(i)}, "temporal": {"interval": [interval]}},
            "links": _coll_links(cid, links),
            "assets": assets,
        }

    return [
        coll(0, "landcover", "Land Cover/Couverture du sol", "Land cover of Canada/Couverture terrestre du Canada",
             ["land", "cover", "terre", "sol"], ["2015-01-01T00:00:00Z", "2020-12-31T23:59:59Z"]),
        coll(1, "monthly-vegetation-parameters-20m-v1", "Vegetation Params/Parametres de vegetation",
             "Monthly vegetation/Vegetation mensuelle", ["vegetation", "monthly", "vegetation-fr", "mensuel"],
             ["2019-01-01T00:00:00Z", None]),
        coll(2, "hrdem-lidar", "HRDEM Lidar/MNEHR Lidar", "High resolution DEM/MNE haute resolution",
             ["dem", "lidar", "mne", "lidar-fr"], ["2016-05-01T00:00:00Z", "2023-01-01T00:00:00Z"]),
        coll(3, "hrdem-arcticdem", "HRDEM Arctic/MNEHR Arctique", "Arctic DEM/MNE arctique",
             ["arctic", "dem", "arctique", "mne"], ["2012-01-01T00:00:00Z", "2021-06-30T00:00:00Z"]),
        # null title/description/keywords (exercises defaults: title<-id, stac_to_geocore.py:541)
        coll(4, "nullish-collection", None, None, None, [None, None]),
        # multi-role asset -> joined "thumbnail, overview" misses dict -> 'Other' (:352,358)
        coll(5, "multi-role-assets", "Multi Role/Multi role", "Assets with two roles/Actifs a deux roles",
             ["multi", "role", "multi-fr", "role-fr"], ["2018-01-01T00:00:00Z", "2019-01-01T00:00:00Z"],
             assets={
                 "thumb": {"href": "https://example.ca/t.png", "type": "image/png",
                           "title": "Thumb EN/Vignette FR", "roles": ["thumbnail", "overview"]},
                 "datafile": {"href": "https://example.ca/d.zip", "type": "application/zip ",
                              "title": "Data/Donnees", "roles": ["data"]},
             }),
        # 'derived_ from' probe rel (typo path -> (None,None) -> "None;None;eng", :276-277)
        coll(6, "derived-probe", "Derived/Derive", "Has derived_ from link/Lien derived_ from",
             ["derived", "from", "derive", "de"], ["2020-01-01T00:00:00Z", "2020-12-31T00:00:00Z"],
             links=[{"href": "https://example.ca/src", "rel": "derived_ from", "title": "Src/Src-fr"}]),
        coll(7, "coastal-imagery", "Coastal Imagery/Imagerie cotiere", "Coastal scenes/Scenes cotieres",
             ["coastal", "imagery", "cotier", "imagerie"], ["2017-03-01T00:00:00Z", "2024-01-01T00:00:00Z"]),
    ]


def stac_items_fixture(n: int = 240, seed: int = DEFAULT_SEED) -> list[dict]:
    """Items spread over the collections, exercising every item-path quirk."""
    colls = [c["id"] for c in stac_collections_fixture(seed)]
    idx = np.arange(n, dtype=np.uint64)
    lon, lat = image_centroids(np.arange(n), seed)
    years = 2015 + (_u01(idx, 21, seed) * 9).astype(int)
    months = 1 + (_u01(idx, 22, seed) * 12).astype(int) % 12
    items = []
    month_names = ["january", "february", "march", "april", "may", "june", "july",
                   "august", "september", "october", "november", "december"]
    for i in range(n):
        coll = colls[i % len(colls)]
        if i % len(colls) == 1:  # monthly-vegetation: id ENDS with month token (:607)
            item_id = f"{coll}-{i:05d}-{years[i]}-{month_names[months[i] - 1]}"
        else:
            item_id = f"{coll}-{years[i]}-{i:05d}"
        if i % 17 == 0:
            coll_ref = "missing-collection"  # left-join null path (:589)
        else:
            coll_ref = coll
        w, s = round(float(lon[i]) - 0.05, 6), round(float(lat[i]) - 0.05, 6)
        e, nn = round(float(lon[i]) + 0.05, 6), round(float(lat[i]) + 0.05, 6)
        links = [
            {"href": f"{API_ROOT}/collections/{coll}/items/{item_id}", "rel": "self", "title": "Self/Self-fr"},
            {"href": API_ROOT, "rel": "root", "title": None},
            {"href": f"collections/{coll}", "rel": "collection", "title": "skipme"},  # P7 skip (:298)
            {"href": "https://example.ca/thumb.png", "rel": "thumbnail", "title": "Thumb/Vignette"},
        ]
        if i % 5 == 0:  # duplicate link -> last-wins dedup case [a,b,a] -> [b,a] (:646)
            links.append(dict(links[3]))
        assets = None
        if i % 3 != 0:
            assets = {
                "data": {"href": f"https://example.ca/{item_id}.tif", "type": "image/tiff; application=geotiff",
                         "title": "COG/COG-fr", "roles": ["data"]},
                # no 'title' key: exercises the 'Unknown/Inconnu' default
                # (ref :352; an explicit null title crashes the reference)
                "meta": {"href": f"https://example.ca/{item_id}.json", "type": "application/json",
                         "roles": ["metadata"]},
            }
        props = {
            "datetime": f"{years[i]}-{months[i]:02d}-15T12:00:00Z",
            "updated": f"{years[i]}-{months[i]:02d}-02T00:00:00Z",
        }
        if i % 5 != 2:  # 'created' key ABSENT (not null) gates the date struct (:626)
            props["created"] = f"{years[i]}-{months[i]:02d}-01T00:00:00Z"
        if i % 4:
            props["description"] = f"Scene {i} description/Description de la scene {i}"
        items.append(
            {"id": item_id, "bbox": [w, s, e, nn], "links": links, "assets": assets,
             "properties": props, "collection": coll_ref}
        )
    return items


def stac_root_fixture() -> dict:
    # NB: every root link carries a non-null title — the reference's root
    # link dispatch evaluates 'Collection - ' + title eagerly for EVERY link
    # (stac_to_geocore.py:215), so any null-title root link crashes it.
    return {
        "id": "CCMEO Datacube",  # space -> '-' normalization (app.py:74-75)
        "description": "Datacube root catalog/Catalogue racine du cube de donnees",
        "links": [
            {"href": API_ROOT, "rel": "self", "title": "Self"},
            {"href": API_ROOT, "rel": "root", "title": "Root"},
            {"href": f"{API_ROOT}/collections/landcover", "rel": "child", "title": "Land Cover/Couverture"},
            {"href": f"{API_ROOT}/collections", "rel": "data", "title": "Data"},
            {"href": f"{API_ROOT}/api", "rel": "service-desc", "title": "API"},
            {"href": f"{API_ROOT}/api.html", "rel": "service-doc", "title": "Docs"},
            {"href": f"{API_ROOT}/conformance", "rel": "conformance", "title": "Conformance"},
            {"href": f"{API_ROOT}/search", "rel": "search", "title": "Search"},
        ],
    }


def make_fake_stac_fetch(n_items: int = 240, page_size: int = 30, seed: int = DEFAULT_SEED):
    """In-process STAC API twin for harvest tests (no network in sandbox).

    Reproduces the Franklin pagination quirk the reference's planner exists
    for (pagination.py:9-11): every /search page carries a rel=next link,
    INCLUDING the last non-empty page, whose next target returns 0 features.
    Returned closure is picklable into Spark workers.
    """
    root = stac_root_fixture()
    colls = stac_collections_fixture(seed)
    items = stac_items_fixture(n_items, seed)

    def fetch(url: str) -> tuple[int, dict]:
        base = API_ROOT
        if url == base:
            return 200, root
        if url.rstrip("/") == f"{base}/collections":
            return 200, {"collections": colls}
        if url.startswith(f"{base}/search"):
            page = 1
            if "page=" in url:
                page = int(url.split("page=")[1])
            start = (page - 1) * page_size
            feats = items[start : start + page_size]
            return 200, {
                "features": feats,
                "context": {"returned": len(feats), "matched": len(items)},
                "links": [{"rel": "next", "href": f"{base}/search?page={page + 1}"},
                          {"rel": "self", "href": url}],
            }
        return 404, {}

    return fetch


def stac_items_df(spark: SparkSession, n: int = 240, seed: int = DEFAULT_SEED) -> DataFrame:
    """The item fixture as the harvest fetches it: one raw `item` JSON row each."""
    return local_df(spark, [(json.dumps(i),) for i in stac_items_fixture(n, seed)], "item string")


def fake_fetch_factory(options: dict):
    """Fetch factory for the `stac` Python data source (sources/stac_source):
    option fetch="stac_to_geocore_spark.fixtures:fake_fetch_factory" routes
    the source's page reads to the deterministic in-process fake API."""
    return make_fake_stac_fetch(
        n_items=int(options.get("n_items", 240)),
        page_size=int(options.get("page_size", 30)),
        seed=int(options.get("seed", DEFAULT_SEED)),
    )


# --- audio clips (real WAV bytes for the multimodal audio operators) ---

AUDIO_SCHEMA = StructType(
    [
        StructField("audio_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("fmt", StringType(), False),
    ]
)

_AUDIO_RATES = (8000, 16000)
_AUDIO_WIDTHS = (1, 2)  # WAV sample widths: 8-bit unsigned, 16-bit signed


def _wav_bytes(pcm16: np.ndarray, rate: int, sampwidth: int, n_ch: int) -> bytes:
    """Pack int16 PCM into a real RIFF/WAV container via stdlib `wave`
    (the same parser images/multimodal.decode_audio reads back)."""
    import io
    import wave

    if n_ch > 1:  # duplicate mono into channels (decode averages them back)
        pcm16 = np.repeat(pcm16[:, None], n_ch, axis=1).ravel()
    if sampwidth == 1:
        frames = ((pcm16.astype(np.int32) // 256) + 128).astype(np.uint8).tobytes()
    else:
        frames = pcm16.astype("<i2").tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_ch)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def gen_audio_pdf(i: np.ndarray, seed: int = DEFAULT_SEED) -> pd.DataFrame:
    """Deterministic per-index WAV clips: sine tone, counter-based frequency /
    amplitude / length / rate / width / channels (same splitmix64 scheme as
    the images table, so any row generates independently on any executor)."""
    i = np.asarray(i, dtype=np.int64)
    ui = i.astype(np.uint64)
    freq = 110.0 + np.floor(_u01(ui, 21, seed) * 16) * 55.0  # 110..935 Hz
    amp = 0.1 + np.floor(_u01(ui, 22, seed) * 8) / 10.0      # 0.1..0.8
    nsamp = (2000 + np.floor(_u01(ui, 23, seed) * 8) * 500).astype(np.int64)
    rate = np.array(_AUDIO_RATES)[(_u01(ui, 24, seed) * 2).astype(np.int64) % 2]
    width = np.array(_AUDIO_WIDTHS)[(_u01(ui, 25, seed) * 2).astype(np.int64) % 2]
    n_ch = 1 + ((_u01(ui, 26, seed) * 2).astype(np.int64) % 2)
    blobs = []
    for k in range(len(i)):
        t = np.arange(int(nsamp[k]), dtype=np.float64) / float(rate[k])
        pcm16 = np.rint(np.sin(2 * np.pi * freq[k] * t) * amp[k] * 32000).astype(np.int16)
        blobs.append(_wav_bytes(pcm16, int(rate[k]), int(width[k]), int(n_ch[k])))
    return pd.DataFrame(
        {
            "audio_id": [f"aud-{int(x):08d}" for x in i],
            "bytes": blobs,
            "fmt": ["wav"] * len(i),
        }
    )


def audio_df(spark: SparkSession, n: int, seed: int = DEFAULT_SEED,
             partitions: int | None = None) -> DataFrame:
    """Distributed audio table (counter-based mapInPandas, like images_df)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_audio_pdf(b["id"].to_numpy(np.int64), seed)

    return spark.range(0, n, 1, parts).mapInPandas(gen, AUDIO_SCHEMA)


# --- BPE training corpus (mixed-language, morphology-rich) ---

_BPE_EN_STEMS = (
    "the and for with from that this have not are was were will would could "
    "should table query join filter scan sort merge hash group window stream "
    "batch column row value data part order customer supplier nation region "
    "process compute partition shuffle broadcast encode decode sample train "
    "model image caption pixel vector token text document cluster node edge "
    "work load read write store cache spill skew salt bucket index range key "
    "point polygon cell cover tile zoom level resolution latitude longitude "
    "north south east west boundary overlap contain intersect distance near "
    "far fast slow small large huge tiny deep wide open close start stop run "
    "build test check verify measure report commit push pull branch version"
).split()
_BPE_EN_SUFFIXES = ("", "s", "ed", "ing", "er", "ers", "ion", "ions", "ly", "ment")
_BPE_FR_STEMS = (
    "le la les des une dans pour avec sur par est sont fait donnée requête "
    "jointure filtre tri groupe fenêtre flux lot colonne ligne valeur partie "
    "commande client fournisseur pays région traite calcul partition mélange "
    "diffusion encode décode échantillon entraîne modèle image légende pixel "
    "vecteur jeton texte document grappe nœud arête travail charge lit écrit "
    "cache débord biais sel seau indice plage clé point polygone cellule "
    "couverture tuile niveau résolution latitude longitude nord sud ouest"
).split()
_BPE_FR_SUFFIXES = ("", "s", "e", "es", "ment", "age")
_BPE_DE_STEMS = (
    "daten bank tabelle spalte zeile wert teil auftrag kunde land gebiet "
    "verarbeitung rechnung verteilung bild punkt zelle karte ebene schlüssel"
).split()
_BPE_CODE_TOKENS = (
    "df.select(col)", "spark.sql(...)", "x=1;", "y+=2;", "#todo", "//note",
    "https://example.org/data", "s3://bucket/path/part-0000.parquet",
    "foo_bar()", "CamelCase", "snake_case", "SELECT", "GROUP", "BY", "WHERE",
    "2024-01-31", "12:34:56", "v1.2.3", "[INFO]", "{json:true}",
)


def bpe_training_vocab() -> list[str]:
    """Deterministic mixed-language word list (~2.3k distinct): English and
    French stems x suffixes (real BPE-exploitable morphology), German-style
    compounds, numbers/dates, and code-ish tokens. Purely synthetic — built
    from the inline lists above, no external data."""
    words = [s + suf for s in _BPE_EN_STEMS for suf in _BPE_EN_SUFFIXES]
    words += [s + suf for s in _BPE_FR_STEMS for suf in _BPE_FR_SUFFIXES]
    words += [a + b for i, a in enumerate(_BPE_DE_STEMS)
              for b in _BPE_DE_STEMS[i + 1:i + 4]]
    words += [str(n) for n in range(0, 400, 7)] + [str(y) for y in range(1990, 2026)]
    words += list(_BPE_CODE_TOKENS)
    return words


def gen_bpe_training_corpus(n_docs: int = 1200, seed: int = 13) -> list[bytes]:
    """Synthetic corpus for BPE vocab training: Zipfian word frequencies over
    bpe_training_vocab(), with per-document language skew (some docs mostly
    English, some mostly French) and occasional punctuation — enough pair
    diversity to train an O(1-5k)-merge table that doesn't saturate."""
    rng = np.random.default_rng(seed)
    vocab = np.array(bpe_training_vocab(), dtype=object)
    order = rng.permutation(len(vocab))
    # Zipf over a seeded rank permutation (so frequency is not alphabetical)
    p = 1.0 / (np.arange(len(vocab)) + 2.7)
    p /= p.sum()
    docs = []
    puncts = np.array([". ", ", ", "; ", " - ", "! ", "? "], dtype=object)
    for _ in range(n_docs):
        n_words = int(rng.integers(60, 140))
        idx = order[rng.choice(len(vocab), size=n_words, p=p)]
        words = vocab[idx].tolist()
        parts = []
        for w in words:
            parts.append(w)
            parts.append(str(puncts[rng.integers(0, len(puncts))]) if rng.random() < 0.12 else " ")
        docs.append("".join(parts).strip().encode("utf-8"))
    return docs
