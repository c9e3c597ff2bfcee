"""The end-to-end harvest job — the engine's lambda_handler (app.py:36-170).

A user of the reference runs one daily Lambda that: deletes the previous
run, harvests root/collections/items, translates each to GeoCore JSON, and
uploads everything plus lastRun.txt. `run_harvest` is that job as one Spark
application:

    root, colls, pages = read_catalog(fetch, api_root)            # S1-S3, driver
    head  = root doc + collection docs, one createDataFrame      # R1-R2, driver
    items = map_pages(pages: fetch -> item_doc)                   # S3 + R3-R5
    run_harvest_sink(head ∪ items, store)                         # K1-K3
      (or snapshot_overwrite for atomic replace semantics)

The item path is one mapInPandas from page URL to (key, json): each task
fetches its pages and translates the raw item dicts, so the executed plan
holds a single Python node.

Differences from the reference, by design:
- item fetch + translation are distributed (the reference is one thread);
- the null template is a constant, not an S3 GET per record;
- `atomic=True` swaps the output directory instead of delete-then-write.
Outputs are byte-identical either way (golden tests).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from stac_to_geocore_spark.compat.translate import (
    DEFAULT_ROOT_NAME,
    DEFAULT_SOURCE,
    DEFAULT_SOURCE_SYSTEM,
    OUT_SCHEMA,
    build_coll_meta,
    item_doc,
    translate_collections,
    translate_root,
)
from stac_to_geocore_spark.sources.harvest import Fetch, http_fetch, map_pages, read_catalog
from stac_to_geocore_spark.sources.sinks import run_harvest_sink, snapshot_overwrite


def run_harvest(
    spark: SparkSession,
    api_root: str,
    store_root: str,
    fetch: Fetch = http_fetch,
    source: str = DEFAULT_SOURCE,
    root_name: str = DEFAULT_ROOT_NAME,
    source_system: str = DEFAULT_SOURCE_SYSTEM,
    atomic: bool = False,
) -> list[str]:
    """Full harvest -> translate -> sink. Returns the manifest key list."""
    root, colls, pages = read_catalog(fetch, api_root)

    root_key, root_json = translate_root(root, colls, source, root_name, source_system)
    root_id = root_key[len(source) + len("-root-") : -len(".geojson")]
    coll_docs = translate_collections(colls, source, root_id, root_name, source_system)
    head = spark.createDataFrame([(root_key, root_json)] + coll_docs, OUT_SCHEMA)

    meta = build_coll_meta(colls)
    items = map_pages(
        spark, pages, fetch,
        lambda item: item_doc(item, meta, source, root_name, source_system),
        ("key", "json"),
    )
    docs = head.unionByName(items)

    if atomic:
        return snapshot_overwrite(docs, store_root)
    return run_harvest_sink(docs, store_root)
