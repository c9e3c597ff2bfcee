"""The Spark layer adds no normalization: translate_items and run_harvest
store exactly what the per-record rules produce from the raw STAC dicts, on
inputs a typed struct would have altered (integer coordinates, an explicit
null, keys outside any fixed schema)."""

from __future__ import annotations

from stac_to_geocore_spark.compat import rules
from stac_to_geocore_spark.compat.translate import (
    DEFAULT_ROOT_ID,
    DEFAULT_ROOT_NAME,
    DEFAULT_SOURCE,
    DEFAULT_SOURCE_SYSTEM,
    build_coll_meta,
    collection_doc,
    item_doc,
    translate_items,
)
from stac_to_geocore_spark.fixtures import stac_root_fixture

API = "https://raw.example.ca/stac/api"
S, RN, SSN = DEFAULT_SOURCE, DEFAULT_ROOT_NAME, DEFAULT_SOURCE_SYSTEM

NULL_TITLE_ASSET = {"href": "https://example.ca/t.png", "type": "image/png", "title": None,
                    "roles": ["thumbnail"]}


def _coll(cid: str, bbox: list) -> dict:
    return {
        "id": cid, "title": f"{cid}/{cid}-fr", "description": "Desc/Desc-fr",
        "keywords": ["a", "b", "c", "d"],
        "extent": {"spatial": {"bbox": [bbox]},
                   "temporal": {"interval": [["2020-01-01T00:00:00Z", None]]}},
        "links": [{"href": f"{API}/collections/{cid}", "rel": "self", "title": None}],
        "assets": {"thumb": NULL_TITLE_ASSET},
    }


def _item(iid: str, bbox: list, props: dict, assets: dict | None = None, **extra) -> dict:
    return {
        "id": iid, "bbox": bbox, "collection": "int-extent",
        "links": [{"href": f"{API}/items/{iid}", "rel": "self", "title": "Self/Soi"}],
        "assets": assets, "properties": {"datetime": "2021-05-01T00:00:00Z", **props}, **extra,
    }


COLLS = [_coll("int-extent", [-75, 45, -74, 46]), _coll("float-extent", [-80.5, 50.25, -79.5, 51.0])]
ITEMS = [
    _item("int-bbox", [-75, 45, -74, 46], {"created": "2021-04-01T00:00:00Z"}),
    _item("null-created", [-75.5, 45.5, -74.5, 46.5], {"created": None}),
    _item("extra-keys", [-76.25, 44.0, -75.0, 45.0],
          {"gsd": 0.5, "proj:epsg": 3979, "description": "not read by the rules"},
          assets={"data": {"href": "https://example.ca/d.tif", "type": "image/tiff; application=geotiff",
                           "title": "COG/COG-fr", "roles": ["data"], "file:size": 123,
                           "eo:bands": [{"name": "b1"}]},
                  "thumb": NULL_TITLE_ASSET},
          stac_version="1.0.0", type="Feature"),
]


def _want_item(item: dict) -> tuple[str, str]:
    props = rules.item_properties(item, build_coll_meta(COLLS).get(item["collection"], {}), S, RN, SSN)
    doc = rules.assemble_doc(props, rules.bbox_geometry(item["bbox"]))
    return f"{S}-{item['collection']}-{item['id']}.geojson", rules.serialize(doc)


def _want_coll(coll: dict, root_id: str) -> tuple[str, str]:
    props = rules.coll_properties(coll, S, root_id, RN, SSN)
    doc = rules.assemble_doc(props, rules.bbox_geometry(coll["extent"]["spatial"]["bbox"][0]))
    return f"{S}-{coll['id']}.geojson", rules.serialize(doc)


def _raw_fetch(page_size: int = 2):
    root = stac_root_fixture()

    def fetch(url: str) -> tuple[int, dict]:
        if url == API:
            return 200, root
        if url.rstrip("/") == f"{API}/collections":
            return 200, {"collections": COLLS}
        if url.startswith(f"{API}/search"):
            page = int(url.split("page=")[1]) if "page=" in url else 1
            feats = ITEMS[(page - 1) * page_size : page * page_size]
            return 200, {"features": feats,
                         "context": {"returned": len(feats), "matched": len(ITEMS)},
                         "links": [{"rel": "next", "href": f"{API}/search?page={page + 1}"}]}
        return 404, {}

    return fetch


def test_null_asset_title_reads_as_absent():
    """{"title": null} names the asset like an absent title, on an item and
    on a collection (the reference raises TypeError on it)."""
    want = {"en": "Asset - Unknown", "fr": "Asset - Inconnu"}
    assert [o["name"] for o in rules.asset_options({"t": NULL_TITLE_ASSET})] == [want]
    absent = {k: v for k, v in NULL_TITLE_ASSET.items() if k != "title"}
    assert rules.asset_options({"t": NULL_TITLE_ASSET}) == rules.asset_options({"t": absent})
    docs = [item_doc(ITEMS[2], build_coll_meta(COLLS))[1], collection_doc(COLLS[0])[1]]
    for text in docs:
        assert '"en": "Asset - Unknown"' in text and '"fr": "Asset - Inconnu"' in text


def test_translate_items_is_rules_on_raw_dicts(spark):
    import json

    items_df = spark.createDataFrame([(json.dumps(i),) for i in ITEMS], "item string")
    got = {r["key"]: r["json"] for r in translate_items(items_df, COLLS).collect()}
    assert got == dict(_want_item(i) for i in ITEMS)
    # the reference's raw round(c, 2) keeps integers integral ...
    assert "POLYGON((-75 45, -74 45, -74 46, -75 46, -75 45))" in got[f"{S}-int-extent-int-bbox.geojson"]
    # ... and an explicit "created": null still fills the date block (ref :626)
    created = json.loads(got[f"{S}-int-extent-null-created.geojson"])["features"][0]["properties"]["date"]
    assert created["created"]["text"] == "creation; création" and created["created"]["date"] is None


def test_run_harvest_is_rules_on_raw_dicts(spark, tmp_path):
    from stac_to_geocore_spark.job import run_harvest
    from stac_to_geocore_spark.sources.sinks import MANIFEST_KEY, LocalObjectStore

    store_root = str(tmp_path / "raw")
    keys = run_harvest(spark, API, store_root, _raw_fetch())
    store = LocalObjectStore(store_root)
    want = dict(_want_item(i) for i in ITEMS)
    want.update(_want_coll(c, DEFAULT_ROOT_ID) for c in COLLS)
    assert len(keys) == 1 + len(want)
    got = {k: store.get(k) for k in store.list() if k != MANIFEST_KEY and "-root-" not in k}
    assert got == want
