"""Harvest sources (pagination planner, distributed page fetch) and sinks
(object puts, lastRun manifest protocol, snapshot overwrite, CSV export)."""

from __future__ import annotations

import json
import os

from stac_to_geocore_spark.compat import translate_items
from stac_to_geocore_spark.fixtures import API_ROOT, make_fake_stac_fetch
from stac_to_geocore_spark.sources.harvest import fetch_items_df, harvest, plan_pages
from stac_to_geocore_spark.sources.sinks import (
    LocalObjectStore,
    MANIFEST_KEY,
    delete_previous_run,
    export_csv,
    run_harvest_sink,
    snapshot_overwrite,
)


def test_plan_pages_stops_despite_trailing_next_link():
    fetch = make_fake_stac_fetch(n_items=95, page_size=30)
    pages = plan_pages(fetch, f"{API_ROOT}/search")
    # 95 items / 30 per page = 4 non-empty pages; page 5 exists (rel=next on
    # the last page — the Franklin quirk) but must never be fetched into the plan
    assert len(pages) == 4
    assert pages[-1].endswith("page=4")


def test_plan_pages_non_200_stops():
    fetch = make_fake_stac_fetch(n_items=10)
    pages = plan_pages(fetch, f"{API_ROOT}/bogus-route")
    assert pages == []


def test_distributed_fetch_items(spark):
    fetch = make_fake_stac_fetch(n_items=95, page_size=30)
    pages = plan_pages(fetch, f"{API_ROOT}/search")
    df = fetch_items_df(spark, pages, fetch)
    assert df.columns == ["item"]
    items = [json.loads(r["item"]) for r in df.collect()]
    assert len(items) == 95
    assert all(set(i) == {"id", "bbox", "links", "assets", "properties", "collection"} for i in items)
    assert fetch_items_df(spark, [], fetch).count() == 0  # an empty catalog plans no pages


def test_full_harvest_to_sink_roundtrip(spark, tmp_path):
    fetch = make_fake_stac_fetch(n_items=60)
    root, colls, items_df = harvest(spark, API_ROOT, fetch)
    assert root["id"] == "CCMEO Datacube"
    assert len(colls) == 8
    docs = translate_items(items_df, colls)
    store_root = str(tmp_path / "run1")
    keys = run_harvest_sink(docs, store_root)
    store = LocalObjectStore(store_root)
    assert len(keys) == 60
    listed = store.list()
    assert MANIFEST_KEY in listed and len(listed) == 61
    # second run with fewer items must delete ALL previous keys first (K3)
    fetch2 = make_fake_stac_fetch(n_items=30)
    _, colls2, items2 = harvest(spark, API_ROOT, fetch2)
    keys2 = run_harvest_sink(translate_items(items2, colls2), store_root)
    listed2 = store.list()
    assert len(keys2) == 30 and len(listed2) == 31
    assert not set(keys) - set(keys2) & set(listed2)  # stale keys gone


def test_delete_previous_run_without_manifest(tmp_path):
    assert delete_previous_run(LocalObjectStore(str(tmp_path / "empty"))) == 0


def test_snapshot_overwrite_atomic_swap(spark, tmp_path):
    fetch = make_fake_stac_fetch(n_items=30)
    _, colls, items_df = harvest(spark, API_ROOT, fetch)
    docs = translate_items(items_df, colls)
    store_root = str(tmp_path / "snap")
    keys = snapshot_overwrite(docs, store_root)
    assert len(LocalObjectStore(store_root).list()) == 31
    # overwrite with a second snapshot: no .staging/.old residue, fresh keys only
    keys2 = snapshot_overwrite(docs, store_root)
    assert sorted(keys) == sorted(keys2)
    assert not os.path.exists(store_root + ".staging")
    assert not os.path.exists(store_root + ".old")


def test_export_csv(spark, tmp_path):
    src = "/root/testdata/sf0.001/region.parquet"
    out = str(tmp_path / "region_csv")
    export_csv(spark, src, out)
    got = spark.read.option("header", True).csv(out)
    assert got.count() == 5


def test_stac_python_data_source(spark):
    """The STAC Python Data Source must plan one partition per non-empty
    page and produce exactly the rows the harvest path fetches, typed."""
    from pyspark.sql import functions as F

    from stac_to_geocore_spark.fixtures import STAC_ITEM_SCHEMA
    from stac_to_geocore_spark.sources.stac_source import StacDataSource

    spark.dataSource.register(StacDataSource)
    df = (
        spark.read.format("stac")
        .option("api_root", API_ROOT)
        .option("fetch", "stac_to_geocore_spark.fixtures:fake_fetch_factory")
        .option("n_items", "95")
        .load()
    )
    assert df.count() == 95
    assert set(df.columns) == {"id", "bbox", "links", "assets", "properties", "collection"}
    # row-for-row identical to the harvest path's raw items typed with the
    # same schema (same fake API); MAP columns forbid exceptAll, so compare
    # a deterministic JSON projection
    fetch = make_fake_stac_fetch(n_items=95, page_size=30)
    pages = plan_pages(fetch, f"{API_ROOT}/search")
    want = fetch_items_df(spark, pages, fetch).select(
        F.from_json("item", STAC_ITEM_SCHEMA).alias("i")).select("i.*")

    def canon(frame):
        return sorted(
            r[0]
            for r in frame.select(
                F.to_json(
                    F.struct(
                        "id", "bbox", "links", "properties", "collection",
                        F.sort_array(F.map_keys("assets")).alias("asset_keys"),
                        F.sort_array(F.map_values("assets").getField("href")).alias("asset_hrefs"),
                    )
                )
            ).collect()
        )

    assert canon(df) == canon(want)


def test_stac_streaming_source_available_now(spark, tmp_path):
    """Incremental harvest as a stream: availableNow drains all pages in
    page-sized micro-batches through the checkpointed offset, landing the
    same 95 items the batch path reads (4 pages, 2 per micro-batch)."""
    from stac_to_geocore_spark.sources.stac_source import StacDataSource

    spark.dataSource.register(StacDataSource)
    stream = (
        spark.readStream.format("stac")
        .option("api_root", API_ROOT)
        .option("fetch", "stac_to_geocore_spark.fixtures:fake_fetch_factory")
        .option("n_items", "95")
        .option("pages_per_batch", "2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stac_stream_items")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # drains in 2-page micro-batches until read() stops advancing the
        # offset (pages_done == 4), then processAllAvailable unblocks
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT id, collection FROM stac_stream_items").toPandas()
    assert len(got) == 95
    assert got["id"].is_unique


def test_stale_manifest_parts_not_merged(spark, tmp_path):
    """Part files, or a half-consumed merge dir, left by a crashed previous
    run must not leak into the new run's manifest (they would list keys
    this run never wrote) — through every writer of the sink protocol: the
    DataFrame form and run_harvest, in place and atomic."""
    from stac_to_geocore_spark.job import run_harvest
    from stac_to_geocore_spark.sources.sinks import CONSUMED_SUFFIX, PARTS_PREFIX

    def plant_ghosts(store_root):
        for root in (store_root, store_root + ".staging"):
            store = LocalObjectStore(root)
            store.put(f"{PARTS_PREFIX}/part-99999.txt", "ghost-key.geojson\n")
            store.put(f"{PARTS_PREFIX}{CONSUMED_SUFFIX}/part-00000.txt", "ghost-consumed.geojson\n")

    store_root = str(tmp_path / "stale")
    plant_ghosts(store_root)
    docs = spark.createDataFrame([("a.geojson", "{}"), ("b.geojson", "{}")], "key string, json string")
    keys = run_harvest_sink(docs, store_root)
    assert sorted(keys) == ["a.geojson", "b.geojson"]  # no ghost-key

    fetch = make_fake_stac_fetch(n_items=30)
    for atomic in (False, True):
        store_root = str(tmp_path / f"stale_harvest_{atomic}")
        plant_ghosts(store_root)
        keys = run_harvest(spark, API_ROOT, store_root, fetch, atomic=atomic)
        assert len(keys) == 1 + 8 + 30, atomic
        assert not [k for k in keys if k.startswith("ghost")], atomic
        store = LocalObjectStore(store_root)
        assert not os.path.exists(store._path(PARTS_PREFIX))
        assert not os.path.exists(store._path(PARTS_PREFIX) + CONSUMED_SUFFIX)
