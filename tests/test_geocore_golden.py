"""Byte-for-byte golden tests: the Spark compat layer vs the reference.

The reference's translation functions are pure given dicts + a template, so
they run directly as a test oracle (imported from the read-only checkout at
/root/reference — nothing is vendored into this repo). Every record of the
fixture corpus must serialize byte-identically.
"""

from __future__ import annotations

import json
import sys

import pytest

REF_DIR = "/root/reference/stac-to-geocore"
if REF_DIR not in sys.path:
    sys.path.insert(0, REF_DIR)

ref = pytest.importorskip(
    "stac_to_geocore",
    reason=f"reference checkout {REF_DIR} absent; test_oracle_parity already gates "
           "the frozen geocore_* md5s (known_answers.py), which were verified "
           "byte-equal to the reference when frozen",
)

from stac_to_geocore_spark.compat import rules
from stac_to_geocore_spark.compat.template import null_template
from stac_to_geocore_spark.compat.translate import (
    DEFAULT_ROOT_NAME,
    DEFAULT_SOURCE,
    DEFAULT_SOURCE_SYSTEM,
    build_coll_meta,
    translate_collections,
    translate_items,
    translate_root,
)
from stac_to_geocore_spark.fixtures import (
    stac_collections_fixture,
    stac_items_df,
    stac_items_fixture,
    stac_root_fixture,
)

SOURCE, ROOT_NAME, SSN = DEFAULT_SOURCE, DEFAULT_ROOT_NAME, DEFAULT_SOURCE_SYSTEM


def _params(root: dict, root_bbox=None) -> dict:
    root_id = root["id"].replace(" ", "-") if not root["id"].isspace() else root["id"]
    return {
        "root_name": ROOT_NAME,
        "root_links": root["links"],
        "root_id": root_id,
        "root_des": root["description"],
        "root_bbox": root_bbox,
        "source": SOURCE,
        "status": ref.status,
        "maintenance": ref.maintenance,
        "useLimits_en": ref.useLimits_en,
        "useLimits_fr": ref.useLimits_fr,
        "spatialRepresentation": ref.spatialRepresentation,
        "contact": ref.contact,
        "type_data": ref.type_data,
        "topicCategory": ref.topicCategory,
        "sourceSystemName": SSN,
    }


def _oracle_doc(properties_fn, bbox) -> str:
    """Run the reference flow: fresh template -> geometry -> properties ->
    update_geocore_dict -> json.dumps (s3_operations.py:107 contract)."""
    template = null_template()
    geom = ref.to_features_geometry(template, bbox=bbox, geometry_type="Polygon")
    props = properties_fn(template)
    doc = ref.update_geocore_dict(template, props, geom)
    return json.dumps(doc, indent=4, ensure_ascii=False)


def _oracle_coll_id_dict(colls):
    return {
        c["id"]: {
            "title": {"en": f[6], "fr": f[7]},
            "description": {"en": f[8], "fr": f[9]},
            "keywords": {"en": f[10], "fr": f[11]},
        }
        for c in colls
        for f in [ref.get_collection_fields(c)]
    }


@pytest.fixture(scope="module")
def corpus():
    return stac_root_fixture(), stac_collections_fixture(), stac_items_fixture(60)


def test_root_byte_identical(corpus):
    root, colls, _ = corpus
    root_bbox = colls[1]["extent"]["spatial"]["bbox"][0]  # app.py:82 quirk
    params = _params(root, root_bbox)
    expected = _oracle_doc(
        lambda t: ref.root_to_features_properties(params, t), root_bbox
    )
    key, got = translate_root(root, colls, SOURCE, ROOT_NAME, SSN)
    assert key == f"{SOURCE}-root-CCMEO-Datacube.geojson"
    assert got == expected


def test_collections_byte_identical(corpus):
    root, colls, _ = corpus
    params = _params(root)
    out = dict(translate_collections(colls, SOURCE, params["root_id"], ROOT_NAME, SSN))
    assert len(out) == len(colls)
    for coll in colls:
        bbox = coll["extent"]["spatial"]["bbox"][0]
        expected = _oracle_doc(
            lambda t: ref.coll_to_features_properties(params, coll, t), bbox
        )
        key = f"{SOURCE}-{coll['id']}.geojson"
        assert out[key] == expected, f"collection {coll['id']} differs"


def test_items_byte_identical(spark, corpus):
    root, colls, items = corpus
    params = _params(root)
    coll_id_dict = _oracle_coll_id_dict(colls)
    out = {
        r["key"]: r["json"]
        for r in translate_items(
            stac_items_df(spark, 60), colls, SOURCE, ROOT_NAME, SSN
        ).collect()
    }
    assert len(out) == len(items)
    for item in items:
        expected = _oracle_doc(
            lambda t: ref.item_to_features_properties(params, t, item, coll_id_dict),
            item["bbox"],
        )
        key = f"{SOURCE}-{item['collection']}-{item['id']}.geojson"
        assert out[key] == expected, f"item {item['id']} differs"


def test_coll_meta_matches_reference(corpus):
    _, colls, _ = corpus
    assert build_coll_meta(colls) == _oracle_coll_id_dict(colls)


def test_dedup_last_wins_semantics():
    a, b = {"x": 1}, {"x": 2}
    assert rules.dedup_last_wins([a, b, a]) == [b, a]  # SURVEY §2.6 canonical case
    assert rules.dedup_last_wins([a, a, b]) == [a, b]
    assert rules.dedup_last_wins([]) == []
