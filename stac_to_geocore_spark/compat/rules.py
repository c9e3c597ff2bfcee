"""Translation rules: STAC entity (plain dict) -> GeoCore FeatureCollection.

A fresh, table-driven implementation of the reference's behavioral contract
(/root/reference/stac-to-geocore/stac_to_geocore.py — cited per rule). These
functions are pure (dict in, dict out) and run batch-at-a-time inside
mapInPandas; all quirks from SURVEY.md §2.11 are intentional and golden-
tested byte-for-byte against the reference functions.

Quirks preserved on purpose (do not "fix"):
- root title leading space + double space " Root  - " (ref :397-398)
- disclaimers contain literal backslash-n characters, not newlines (:14-15)
- 'application/zip ' media-type key has a trailing space (:75)
- links_rel holds typo key 'drived_from' while probes ask for
  'derived_ from' -> (None, None) -> "None;None;eng" descriptions (:104 vs :276,:317)
- multi-role assets join to "a, b" which never hits the role table -> 'Other' (:352,:358)
- last-wins order-preserving dedup of options: [a,b,a] -> [b,a] (:404,:480,:646)
- root description joiner '.' vs coll/item ' ' and differing null handling (:407 vs :484)
- item-title boolean precedence at :608 (the hrdem-lidar OR is top-level)
- collection 'child'/'item' link names use 'Unknown' for BOTH languages (:259-260)
  while fallbacks use ('Unknown', 'Inconnue') (:264)
"""

from __future__ import annotations

import json
from datetime import datetime

from stac_to_geocore_spark.compat.template import null_template

# ---- fixed vocabulary (behavioral constants from the reference, :7-132) ----

STATUS = "unknown"
MAINTENANCE = "unknown"
USE_LIMITS_EN = "Open Government Licence - Canada http://open.canada.ca/en/open-government-licence-canada"
USE_LIMITS_FR = "Licence du gouvernement ouvert - Canada http://ouvert.canada.ca/fr/licence-du-gouvernement-ouvert-canada"
SPATIAL_REPRESENTATION = "grid; grille"
TYPE_DATA = "dataset; jeuDonnées"
TOPIC_CATEGORY = "imageryBaseMapsEarthCover"
DISCLAIMER_EN = "\\n\\n**This third party metadata element follows the Spatio Temporal Asset Catalog (STAC) specification.**"
DISCLAIMER_FR = "\\n\\n**Cet élément de métadonnées tiers suit la spécification Spatio Temporal Asset Catalog (STAC).** **Cet élément de métadonnées provenant d’une tierce partie a été traduit à l'aide d'un outil de traduction automatisée (Amazon Translate).**"

CONTACT = [
    {
        "organisation": {
            "en": "Government of Canada;Natural Resources Canada;Strategic Policy and Innovation Sector",
            "fr": "Gouvernement du Canada;Ressources naturelles Canada;Secteur de la politique stratégique et de l’innovation",
        },
        "email": {"en": "geoinfo@nrcan-rncan.gc.ca", "fr": "geoinfo@nrcan-rncan.gc.ca"},
        "individual": None,
        "position": {"en": None, "fr": None},
        "telephone": {"en": None, "fr": None},
        "address": {"en": None, "fr": None},
        "city": None,
        "pt": {"en": None, "fr": None},
        "postalcode": None,
        "country": {"en": None, "fr": None},
        "onlineResources": {
            "onlineResources": None,
            "onlineResources_Name": None,
            "onlineResources_Protocol": None,
            "onlineResources_Description": None,
        },
        "hoursofService": None,
        "role": None,
    }
]

# media type -> GeoCore format (ref :61-76; trailing-space zip key intentional)
MEDIA_FORMAT = {
    "image/tiff; application=geotiff": "TIFF",
    "image/tiff; application=geotiff; profile=cloud-optimized": "TIFF",
    "image/jp2": "JPEG 2000 (JP2)",
    "image/png": "PNG",
    "image/jpeg": "JPEG",
    "text/xml": "XML",
    "application/xml": "XML",
    "application/json": "JSON",
    "text/plain": "TXT",
    "application/geo+json": "GeoJSON",
    "application/geopackage+sqlite3": "GeoPackage (GPKG)",
    "application/x-hdf5": "HDF",
    "application/x-hdf": "HDF",
    "application/zip ": "ZIP",
}

# asset role -> GeoCore type (ref :82-87)
ROLE_TYPE = {"thumbnail": "Thumbnail", "overview": "Overview", "data": "Data", "metadata": "Metadata"}

# rel -> (type, format) vocabulary (ref :91-132; 'drived_from' typo intentional)
REL_VOCAB = {
    "item": ("STAC Item / OGC API - Features", "GeoJSON"),
    "collection": ("STAC Collection", "JSON"),
    "root": ("STAC API", "JSON"),
    "drived_from": ("Supporting Document", "JSON"),
    "license": ("Supporting Document", "JSON"),
    "data": ("STAC Collection", "JSON"),
    "service-desc": ("Supporting Document", "JSON"),
    "service-doc": ("Supporting Document", "HTML"),
    "conformance": ("Supporting Document", "JSON"),
    "search": ("Web Service", "GeoJSON"),
}


def _vocab(rel_key: str) -> tuple:
    """links_rel.get(key, {}).get(...) twin: unknown key -> (None, None)."""
    return REL_VOCAB.get(rel_key, (None, None))


# per-variant type/format dispatch: probe rel -> vocabulary key (ref :226-236,
# :269-277, :312-318). 'derived_ from' probes resolve through the typo'd
# vocabulary -> (None, None) -> "None;None;eng" descriptions, as in the ref.
TYPEFMT_ROOT = {
    "self": "root", "root": "root", "parent": "root", "child": "collection",
    "data": "data", "service-desc": "service-desc", "service-doc": "service-doc",
    "conformance": "conformance", "search": "search",
}
TYPEFMT_COLL = {
    "self": "collection", "root": "root", "parent": "root", "child": "item",
    "items": "item", "license": "license", "derived_ from": "derived_ from",
}
TYPEFMT_ITEM = {
    "self": "item", "root": "root", "parent": "collection",
    "collection": "collection", "derived_ from": "derived_ from",
}


def _link_options(links, name_dispatch, typefmt_table, skip_rels=()) -> list[dict]:
    """Shared core of the three *_links_to_properties_options functions
    (ref :189-328): dispatch display name by rel, type/format by rel, keep
    only options with truthy names in both languages."""
    out = []
    for link in links or []:
        href = link.get("href")
        rel = link.get("rel")
        title = link.get("title")
        if rel in skip_rels:  # item path skips rel='collection' (ref :298-299)
            continue
        default_name = (title if title else "Unknown", title if title else "Inconnue")
        name_en, name_fr = name_dispatch(rel, title, default_name)
        key = typefmt_table.get(rel)
        type_, fmt = _vocab(key) if key is not None else ("Other", "Autre")
        if name_en and name_fr:
            out.append(
                {
                    "url": href,
                    "protocol": "Unknown",
                    "name": {"en": name_en, "fr": name_fr},
                    "description": {"en": f"{type_};{fmt};eng", "fr": f"{type_};{fmt};fra"},
                }
            )
    return out


def root_link_options(links, root_id, root_name) -> list[dict]:
    """ref root_links_to_properties_options :189-246 (stac_type='root',
    title_en/fr=None as called from app.py:401)."""
    en, fr = root_name.split("/")

    def dispatch(rel, title, default):
        table = {
            "self": ("Root - " + en, "Racine - " + fr),
            "root": ("Root - " + en, "Racine - " + fr),
            "parent": ("Parent links", "Parente liens"),  # title params are None (ref :214, app.py:401)
            "child": lambda: ("Collection - " + title, "Collection - " + title),
            "data": ("Collections Listing", "Collection Listing"),
        }
        hit = table.get(rel, default)
        return hit() if callable(hit) else hit

    return _link_options(links, dispatch, TYPEFMT_ROOT)


def coll_link_options(links, coll_id, root_name) -> list[dict]:
    """ref coll_links_to_properties_options :249-287 (stac_type='collection')."""
    en, fr = root_name.split("/")

    def dispatch(rel, title, default):
        item_name = "Item - " + (title if title is not None else "Unknown")
        table = {
            "self": ("Self - " + coll_id, "Soi - " + coll_id),
            "root": ("Root - " + en, "Racine - " + fr),
            "parent": ("Root - " + en, "Racine - " + fr),
            "child": (item_name, item_name),
            "item": (item_name, item_name),
            "items": ("Items Listing", "Items Listing"),
        }
        return table.get(rel, default)

    return _link_options(links, dispatch, TYPEFMT_COLL)


def item_link_options(links, item_id, coll_id, root_name) -> list[dict]:
    """ref item_links_to_properties_options :290-328 (stac_type='item')."""
    en, fr = root_name.split("/")

    def dispatch(rel, title, default):
        table = {
            "self": ("Self - " + item_id, "Soi - " + item_id),
            "root": ("Root - " + en, "Racine - " + fr),
            "parent": ("Collection - " + coll_id, "Collection - " + coll_id),
            "collection": ("Collection - " + coll_id, "Collection - " + coll_id),
        }
        return table.get(rel, default)

    return _link_options(links, dispatch, TYPEFMT_ITEM, skip_rels=("collection",))


def asset_options(assets) -> list[dict]:
    """ref assets_to_properties_options :331-370."""
    out = []
    for a in (assets or {}).values():
        href = a.get("href")
        media = a.get("type", "")
        name = a.get("title")
        if name is None:  # explicit null reads as absent; the ref crashes on it
            name = "Unknown/Inconnu"
        role_key = ", ".join(a.get("roles"))  # None roles crash in the ref too
        name_en, name_fr = name.split("/") if "/" in name else (name, name)
        fmt = MEDIA_FORMAT.get(media, "Other")
        fmt_en, fmt_fr = (fmt, fmt) if fmt != "Other" else ("Other", "Autre")
        type_ = ROLE_TYPE.get(role_key, "Other")
        type_en, type_fr = (type_, type_) if type_ != "Other" else ("Other", "Autre")
        out.append(
            {
                "url": href,
                "protocol": "Unknown",
                "name": {"en": f"Asset - {name_en}", "fr": f"Asset - {name_fr}"},
                "description": {"en": f"{type_en};{fmt_en};eng", "fr": f"{type_fr};{fmt_fr};fra"},
            }
        )
    return out


def dedup_last_wins(options: list[dict]) -> list[dict]:
    """Order-preserving LAST-wins dedup (ref :404,:480,:646): an element is
    kept only if no equal element appears later. [a,b,a] -> [b,a]."""
    return [o for i, o in enumerate(options) if o not in options[i + 1 :]]


def bbox_geometry(bbox, geometry_type="Polygon") -> dict:
    """ref to_features_geometry :170-186."""
    west, south, east, north = (round(c, 2) for c in bbox)
    return {
        "type": geometry_type,
        "coordinates": [[[west, south], [east, south], [east, north], [west, north], [west, south]]],
    }


def wkt_polygon(bbox) -> str:
    """ref :416-418 — Python float repr, 2dp rounding."""
    west, south, east, north = (round(c, 2) for c in bbox)
    return f"POLYGON(({west} {south}, {east} {south}, {east} {north}, {west} {north}, {west} {south}))"


def collection_fields(coll: dict) -> dict:
    """ref get_collection_fields :519-551 (incl. the pad-with-id title rule)."""
    cid = coll.get("id")
    title = coll.get("title")
    desc = coll.get("description")
    keywords = coll.get("keywords")
    extent = coll.get("extent")
    bbox, t0, t1 = None, None, None
    if extent:
        bbox = (extent.get("spatial") or {}).get("bbox", [None])[0]
        t0, t1 = (extent.get("temporal") or {}).get("interval", [[None, None]])[0]
    title_en, title_fr = (title.split("/") + [cid, cid])[:2] if title else (cid, cid)
    desc_en, desc_fr = (desc.split("/") + [None, None])[:2] if desc else (None, None)
    if keywords:
        half = len(keywords) // 2
        kw_en = ", ".join(str(k) for k in keywords[:half])
        kw_fr = ", ".join(str(k) for k in keywords[half:])
    else:
        kw_en, kw_fr = None, None
    return {
        "id": cid, "bbox": bbox, "time_begin": t0, "time_end": t1,
        "links": coll.get("links"), "assets": coll.get("assets"),
        "title_en": title_en, "title_fr": title_fr,
        "desc_en": desc_en, "desc_fr": desc_fr,
        "kw_en": kw_en, "kw_fr": kw_fr,
    }


def _apply_shared_tail(props, options_list, desc_en, desc_fr, kw_en, kw_fr, bbox, source_system):
    """The block shared by collection and item paths (ref :483-508, :648-673)."""
    props.update(
        {
            "topicCategory": TOPIC_CATEGORY,
            "type": TYPE_DATA,
            "spatialRepresentation": SPATIAL_REPRESENTATION,
            "status": STATUS,
            "maintenance": MAINTENANCE,
            "useLimits": {"en": USE_LIMITS_EN, "fr": USE_LIMITS_FR},
            "contact": CONTACT,
            "options": options_list,
            "description": {
                "en": f"{desc_en or ''} {DISCLAIMER_EN}",
                "fr": f"{desc_fr or ''} {DISCLAIMER_FR}",
            },
            "keywords": {
                "en": f"SpatioTemporal Asset Catalog, stac, {kw_en or ''}",
                "fr": f"SpatioTemporal Asset Catalog, stac, {kw_fr or ''}",
            },
            "geometry": wkt_polygon(bbox),
            "sourceSystemName": source_system,
        }
    )


def root_properties(root: dict, root_bbox, source: str, root_name: str, source_system: str) -> dict:
    """ref root_to_features_properties :374-441."""
    en, fr = root_name.split("/")
    props = null_template()["properties"]
    props["id"] = f"{source}-root-{root['id']}"
    props["title"]["en"] = f" Root  - {en}"  # leading+double space intentional (ref :397)
    props["title"]["fr"] = f" Racine - {fr}"
    options = dedup_last_wins(root_link_options(root.get("links"), root["id"], root_name))
    des = root.get("description")
    props["description"]["en"] = des + "." + DISCLAIMER_EN if des else DISCLAIMER_EN
    props["description"]["fr"] = des + "." + DISCLAIMER_FR if des else DISCLAIMER_FR
    props["keywords"]["en"] = f"SpatioTemporal Asset Catalog, stac, {source}"
    props["keywords"]["fr"] = f"SpatioTemporal Asset Catalog, stac, {source}"
    props["geometry"] = wkt_polygon(root_bbox)
    props.update(
        {
            "topicCategory": TOPIC_CATEGORY,
            "type": TYPE_DATA,
            "spatialRepresentation": SPATIAL_REPRESENTATION,
            "status": STATUS,
            "maintenance": MAINTENANCE,
            "contact": CONTACT,
            "options": options,
            "useLimits": {"en": USE_LIMITS_EN, "fr": USE_LIMITS_FR},
            "temporalExtent": {"end": "Present", "begin": "0001-01-01"},
            "sourceSystemName": source_system,
        }
    )
    return props


def coll_properties(coll: dict, source: str, root_id: str, root_name: str, source_system: str) -> dict:
    """ref coll_to_features_properties :444-517."""
    f = collection_fields(coll)
    props = null_template()["properties"]
    props["id"] = source + "-" + f["id"]
    if f["title_en"] is not None and f["title_fr"] is not None:
        props["title"] = {"en": "Collection - " + f["title_en"], "fr": "Collection - " + f["title_fr"]}
    props["parentIdentifier"] = source + "-root-" + root_id
    begin = (
        datetime.strptime(f["time_begin"], "%Y-%m-%dT%H:%M:%SZ").strftime("%Y-%m-%d")
        if f["time_begin"] else "0001-01-01"
    )
    end = (
        datetime.strptime(f["time_end"], "%Y-%m-%dT%H:%M:%SZ").strftime("%Y-%m-%d")
        if f["time_end"] else "Present"
    )
    props["temporalExtent"].update({"begin": begin, "end": end})
    options = dedup_last_wins(
        coll_link_options(f["links"], f["id"], root_name)
        + (asset_options(f["assets"]) if f["assets"] else [])
    )
    _apply_shared_tail(props, options, f["desc_en"], f["desc_fr"], f["kw_en"], f["kw_fr"], f["bbox"], source_system)
    return props


CUSTOM_TITLE_COLLS = ("monthly-vegetation-parameters-20m-v1", "hrdem-lidar", "hrdem-arcticdem")


def item_properties(item: dict, coll_meta: dict, source: str, root_name: str, source_system: str) -> dict:
    """ref item_to_features_properties :570-682. coll_meta is the broadcast
    join payload (ref create_coll_dict :553-566): {} when the item's
    collection id is unknown (left-outer-join null path, ref :589)."""
    props = null_template()["properties"]
    item_id = item.get("id")
    coll_id = item.get("collection")
    iprops = item.get("properties")
    title_en = (coll_meta.get("title") or {}).get("en")
    title_fr = (coll_meta.get("title") or {}).get("fr")
    desc_en = (coll_meta.get("description") or {}).get("en")
    desc_fr = (coll_meta.get("description") or {}).get("fr")
    kw_en = (coll_meta.get("keywords") or {}).get("en")
    kw_fr = (coll_meta.get("keywords") or {}).get("fr")

    props["id"] = source + "-" + coll_id + "-" + item_id
    item_date = datetime.strptime(iprops["datetime"], "%Y-%m-%dT%H:%M:%SZ")
    yr = item_date.strftime("%Y")
    titled = title_en is not None and title_fr is not None
    # NB: the ref's :608 condition is `A and B and coll=="hrdem-arcticdem" or
    # coll=="hrdem-lidar"` — the `or` is top-level, reproduced exactly.
    if titled and coll_id not in CUSTOM_TITLE_COLLS:
        props["title"] = {"en": yr + " - " + title_en, "fr": yr + " - " + title_fr}
    elif titled and coll_id == "monthly-vegetation-parameters-20m-v1":
        tok = item_id.split("-")[-1]
        props["title"] = {"en": tok + " - " + title_en, "fr": tok + " - " + title_fr}
    elif (titled and coll_id == "hrdem-arcticdem") or coll_id == "hrdem-lidar":
        props["title"] = {"en": yr + " - " + item_id + "-" + title_en, "fr": yr + " - " + item_id + "-" + title_fr}

    props["parentIdentifier"] = source + "-" + coll_id
    if "created" in iprops:
        created = iprops["created"]
        props["date"]["published"].update({"text": "publication; publication", "date": created})
        props["date"]["created"].update({"text": "creation; création", "date": created})
    props["temporalExtent"].update({"begin": item_date.strftime("%Y-%m-%d"), "end": "Present"})
    options = dedup_last_wins(
        item_link_options(item.get("links"), item_id, coll_id, root_name)
        + (asset_options(item.get("assets")) if item.get("assets") else [])
    )
    _apply_shared_tail(props, options, desc_en, desc_fr, kw_en, kw_fr, item.get("bbox"), source_system)
    return props


def assemble_doc(properties: dict, geometry: dict) -> dict:
    """ref update_geocore_dict :148-167."""
    feature = null_template()
    feature["properties"] = properties
    feature["geometry"] = geometry
    return {"type": "FeatureCollection", "features": [feature]}


def serialize(doc: dict) -> str:
    """ref s3_operations.py:107 — byte-exact serialization contract."""
    return json.dumps(doc, indent=4, ensure_ascii=False)
