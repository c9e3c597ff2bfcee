"""End-to-end harvest job parity + targeted skew salting."""

from __future__ import annotations

import json
import sys

import pytest
from pyspark.sql import functions as F

REF_DIR = "/root/reference/stac-to-geocore"
if REF_DIR not in sys.path:
    sys.path.insert(0, REF_DIR)

from stac_to_geocore_spark.fixtures import API_ROOT, images_df, make_fake_stac_fetch
from stac_to_geocore_spark.job import run_harvest
from stac_to_geocore_spark.sources.sinks import LocalObjectStore
from stac_to_geocore_spark.spatial.skew import plan_salts


def test_run_harvest_end_to_end(spark, tmp_path):
    fetch = make_fake_stac_fetch(n_items=60)
    store_root = str(tmp_path / "harvest_out")
    keys = run_harvest(spark, API_ROOT, store_root, fetch)
    # 1 root + 8 collections + 60 items
    assert len(keys) == 69
    store = LocalObjectStore(store_root)
    listed = store.list()
    assert "lastRun.txt" in listed and len(listed) == 70
    root_doc = json.loads(store.get("ccmeo-root-CCMEO-Datacube.geojson"))
    assert root_doc["type"] == "FeatureCollection"
    assert root_doc["features"][0]["properties"]["title"]["en"] == " Root  - CCMEO Datacube"
    # atomic variant produces the identical key set
    keys2 = run_harvest(spark, API_ROOT, str(tmp_path / "atomic_out"), fetch, atomic=True)
    assert sorted(keys) == sorted(keys2)


def test_run_harvest_matches_reference_bytes(spark, tmp_path):
    """A 60-item harvest store must equal the frozen harvest_sink_job rows
    (key, byte length, md5) — rows verified byte-equal to the reference
    flow when they were frozen, so this gates reference byte parity without
    the reference checkout. lastRun.txt lists the root and collections,
    then the items in page order, whatever the core count, so it is
    compared byte for byte too."""
    import hashlib

    from stac_to_geocore_spark.known_answers import KNOWN

    store_root = str(tmp_path / "frozen")
    run_harvest(spark, API_ROOT, store_root, make_fake_stac_fetch(n_items=60))
    store = LocalObjectStore(store_root)
    got = sorted(
        (k, len(store.get(k)), hashlib.md5(store.get(k).encode("utf-8")).hexdigest())
        for k in store.list()
    )
    assert got == sorted(tuple(r) for r in KNOWN["harvest_sink_job"]["rows"])


def test_run_harvest_matches_live_reference(spark, tmp_path):
    """Spot-check against the live reference flow: a sink object is
    byte-identical to what the reference produces. Runs only where the
    reference checkout exists."""
    ref = pytest.importorskip(
        "stac_to_geocore",
        reason=f"reference checkout {REF_DIR} absent; "
               "test_run_harvest_matches_reference_bytes gates the frozen bytes",
    )
    from stac_to_geocore_spark.compat.template import null_template
    from stac_to_geocore_spark.fixtures import stac_collections_fixture, stac_items_fixture, stac_root_fixture

    fetch = make_fake_stac_fetch(n_items=16)
    store_root = str(tmp_path / "roundtrip")
    run_harvest(spark, API_ROOT, store_root, fetch)
    store = LocalObjectStore(store_root)

    root = stac_root_fixture()
    colls = stac_collections_fixture()
    items = stac_items_fixture(16)
    params = {
        "root_name": "CCMEO Datacube/ CCCOT Cube de données",
        "root_links": root["links"], "root_id": "CCMEO-Datacube",
        "root_des": root["description"], "root_bbox": None, "source": "ccmeo",
        "status": ref.status, "maintenance": ref.maintenance,
        "useLimits_en": ref.useLimits_en, "useLimits_fr": ref.useLimits_fr,
        "spatialRepresentation": ref.spatialRepresentation, "contact": ref.contact,
        "type_data": ref.type_data, "topicCategory": ref.topicCategory,
        "sourceSystemName": "ccmeo-datacube",
    }
    cid = {
        c["id"]: {"title": {"en": f[6], "fr": f[7]}, "description": {"en": f[8], "fr": f[9]},
                  "keywords": {"en": f[10], "fr": f[11]}}
        for c in colls for f in [ref.get_collection_fields(c)]
    }
    item = items[3]
    t = null_template()
    g = ref.to_features_geometry(t, bbox=item["bbox"])
    p = ref.item_to_features_properties(params, t, item, cid)
    expected = json.dumps(ref.update_geocore_dict(t, p, g), indent=4, ensure_ascii=False)
    got = store.get(f"ccmeo-{item['collection']}-{item['id']}.geojson")
    assert got == expected


def test_plan_salts_finds_hot_cells(spark):
    import numpy as np

    from stac_to_geocore_spark.cells.h3x import h3_encode

    imgs = images_df(spark, 30_000, bytes_mode="none")  # 80% in 12 clusters
    pts = imgs.withColumn("cell", h3_encode(F.col("lat"), F.col("lon"), 5))
    salts = plan_salts(pts, sample_fraction=0.2)
    assert salts, "clustered fixture must produce hot cells"
    assert all(2 <= v <= 32 for v in salts.values())

