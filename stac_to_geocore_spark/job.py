"""The end-to-end harvest job — the engine's lambda_handler (app.py:36-170).

A user of the reference runs one daily Lambda that: deletes the previous
run, harvests root/collections/items, translates each to GeoCore JSON, and
uploads everything plus lastRun.txt. `run_harvest` is that job as one Spark
application that crosses into Python once:

    root, colls, pages = read_catalog(fetch, api_root)            # S1-S3, driver
    run_root = open_run(store)                                    # K3, driver
    put_part(root doc + collection docs) -> part 0              # R1-R2 + K1, driver
    map_pages(pages: fetch -> item_doc -> put_part) -> part/task  # S3 + R3-R5 + K1
    close_run(store)                                              # K2, driver
      (atomic=True: open/close a staging dir and swap it in)

Each page task fetches its pages, translates the raw item dicts, puts each
object and writes its manifest part; only a per-task key count returns to
the JVM. The driver's part sorts first, so lastRun.txt lists the root and
collections before the items.

Differences from the reference, by design:
- item fetch + translation are distributed (the reference is one thread);
- the null template is a constant, not an S3 GET per record;
- `atomic=True` swaps the output directory instead of delete-then-write.
Outputs are byte-identical either way (golden tests).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import SparkSession

from stac_to_geocore_spark.compat.translate import (
    DEFAULT_ROOT_NAME,
    DEFAULT_SOURCE,
    DEFAULT_SOURCE_SYSTEM,
    build_coll_meta,
    item_doc,
    translate_collections,
    translate_root,
)
from stac_to_geocore_spark.sources.harvest import Fetch, http_fetch, map_pages, read_catalog
from stac_to_geocore_spark.sources.sinks import close_run, open_run, put_part


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
    run_root = open_run(store_root, atomic)
    put_part(run_root, [(root_key, root_json)] + coll_docs)  # the driver's part 0

    meta = build_coll_meta(colls)

    def put_items(feats: Iterator[dict]) -> list[tuple[int]]:
        docs = (item_doc(f, meta, source, root_name, source_system) for f in feats)
        return [(put_part(run_root, docs),)]

    map_pages(spark, pages, fetch, put_items, "keys long").collect()
    return close_run(store_root, atomic)
