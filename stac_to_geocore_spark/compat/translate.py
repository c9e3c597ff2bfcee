"""Spark orchestration of the STAC -> GeoCore translation (compat layer).

Reference lifecycle (app.py:36-170) is a single-threaded loop: per record it
re-fetches the null template from S3, mutates it, uploads one JSON. Here the
same per-record functions run on the raw STAC JSON dicts, as the reference's
do, and only the loop is distributed:

  colls (one /collections body) --driver--> coll-meta dict
        (the reference's create_coll_dict, stac_to_geocore.py:553-566),
        shipped with the item task closure
  items --mapInPandas(item_doc per record)--> (key, json) rows
        J1 probe happens per record against the meta dict (equivalent to
        items ⟕ broadcast(colls) since the probe is get(coll_id, {}) — ref :589)
  colls --driver (collection_doc per record)--> [(key, json)]
  root  --driver (1 record)--> (key, json)

Byte parity: per-record assembly + json.dumps(indent=4, ensure_ascii=False)
happens in Python (F.to_json cannot produce the reference's serialization —
SURVEY.md §1.4). The records are never typed into Spark structs, so integer
coordinates, explicit nulls and extra keys reach the rules exactly as the
reference sees them. The one null rule the engine adds is in
`rules.asset_options`: an explicit-null asset title reads as an absent one
('Unknown/Inconnu'), where the reference crashes.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from stac_to_geocore_spark.compat import rules

OUT_SCHEMA = "key string, json string"

DEFAULT_SOURCE = "ccmeo"
DEFAULT_ROOT_NAME = "CCMEO Datacube/ CCCOT Cube de données"
DEFAULT_SOURCE_SYSTEM = "ccmeo-datacube"
DEFAULT_ROOT_ID = "CCMEO-Datacube"


def build_coll_meta(colls: list[dict]) -> dict:
    """The reference's create_coll_dict (stac_to_geocore.py:553-566): the
    build side of the item ⟕ collection join."""
    meta = {}
    for c in colls:
        f = rules.collection_fields(c)
        meta[f["id"]] = {
            "title": {"en": f["title_en"], "fr": f["title_fr"]},
            "description": {"en": f["desc_en"], "fr": f["desc_fr"]},
            "keywords": {"en": f["kw_en"], "fr": f["kw_fr"]},
        }
    return meta


def item_doc(
    item: dict,
    meta: dict,
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> tuple[str, str]:
    """One raw STAC item -> (key, GeoCore json); meta is build_coll_meta's dict."""
    coll_id = item["collection"]
    props = rules.item_properties(item, meta.get(coll_id, {}), source, root_name, source_system)
    doc = rules.assemble_doc(props, rules.bbox_geometry(item["bbox"]))
    return f"{source}-{coll_id}-{item['id']}.geojson", rules.serialize(doc)


def collection_doc(
    coll: dict,
    source: str = DEFAULT_SOURCE,
    root_id: str = DEFAULT_ROOT_ID,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> tuple[str, str]:
    """One raw STAC collection -> (key, GeoCore json)."""
    props = rules.coll_properties(coll, source, root_id, root_name, source_system)
    bbox = (coll.get("extent") or {}).get("spatial", {}).get("bbox", [None])[0]
    doc = rules.assemble_doc(props, rules.bbox_geometry(bbox))
    return f"{source}-{coll['id']}.geojson", rules.serialize(doc)


def translate_items(
    items_df: DataFrame,
    colls: list[dict],
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> DataFrame:
    """Raw `item` JSON rows -> (key, json) GeoCore docs. Collections are a
    small dim by contract (one HTTP GET in the reference)."""
    meta = build_coll_meta(colls)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            docs = [item_doc(json.loads(s), meta, source, root_name, source_system) for s in b["item"]]
            yield pd.DataFrame(docs, columns=["key", "json"])

    return items_df.mapInPandas(run, OUT_SCHEMA)


def translate_collections(
    colls: list[dict],
    source: str = DEFAULT_SOURCE,
    root_id: str = DEFAULT_ROOT_ID,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> list[tuple[str, str]]:
    """Driver-side collection translation (ref app.py:118-135): one
    (key, json) pair per collection."""
    return [collection_doc(c, source, root_id, root_name, source_system) for c in colls]


def translate_root(
    root: dict,
    colls: list[dict],
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
) -> tuple[str, str]:
    """Single-record root translation (driver-side, like the reference's
    app.py:72-116). Preserves the collections[1] bbox-borrow quirk
    (app.py:82) and the space->dash id normalization (app.py:74-75)."""
    root_id = root["id"]
    if not root_id.isspace():
        root_id = root_id.replace(" ", "-")
    root_bbox = colls[1]["extent"]["spatial"]["bbox"][0]
    normalized = dict(root, id=root_id)
    props = rules.root_properties(normalized, root_bbox, source, root_name, source_system)
    geom = rules.bbox_geometry(root_bbox)
    doc = rules.assemble_doc(props, geom)
    return f"{source}-root-{root_id}.geojson", rules.serialize(doc)
