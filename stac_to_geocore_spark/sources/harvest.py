"""STAC harvest sources (SURVEY.md §2.1 S1-S3).

The reference fetches everything sequentially on one thread: root GET
(app.py:54), collections GET (app.py:80), then pages of /search walked one
by one (pagination.py:5-61) with every item translated inline. Here the root,
the /collections body and the page walk stay on the driver — the walk IS
partition planning, each page URL becomes a unit of parallel work — and
`map_pages` fans the pages out: one mapInPandas task fetches its pages and
hands their raw JSON dicts to one per-task function, which is where
run_harvest translates and puts every record in the same task.

The fetch function is injectable (signature url -> (status_code, json_dict))
so tests run against a deterministic in-process fake API; `http_fetch` is
the requests-backed implementation for real clusters.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

from stac_to_geocore_spark.session import local_df

Fetch = Callable[[str], tuple[int, dict]]


def http_fetch(url: str) -> tuple[int, dict]:
    import requests

    r = requests.get(url)
    return r.status_code, (r.json() if r.status_code == 200 else {})


def _next_link(links: list[dict]) -> str | None:
    """rel=next extraction (ref pagination.py:63-69)."""
    for link in links or []:
        if link.get("rel") == "next":
            return link.get("href")
    return None


def plan_pages(fetch: Fetch, search_url: str, max_pages: int = 10_000) -> list[str]:
    """Walk /search pagination and return the page-URL list (the partition
    plan). Reproduces the reference planner's semantics (pagination.py:5-61):

    - accumulate context.returned, compare against context.matched
    - keep only non-empty pages (returned > 0)
    - follow rel=next; stop on non-200, empty page list, or returned>=matched
      (Franklin emits a next link even on the last page — the whole reason
      the planner exists, ref docstring :9-11)
    """
    pages: list[str] = []
    url: str | None = search_url
    returned_total = 0
    matched = None
    while url and len(pages) < max_pages:
        status, body = fetch(url)
        if status != 200:
            break
        ctx = body.get("context", {})
        returned = ctx.get("returned", 0)
        matched = ctx.get("matched", matched)
        returned_total += returned
        if returned > 0:
            pages.append(url)
        if matched is not None and returned_total >= matched:
            break
        url = _next_link(body.get("links"))
    return pages


def page_items(fetch: Fetch, url: str) -> Iterator[dict]:
    """The features of one /search page; a non-200 page yields none (ref app P9)."""
    status, body = fetch(url)
    if status == 200:
        yield from body.get("features", [])


def map_pages(
    spark: SparkSession,
    pages: list[str],
    fetch: Fetch,
    per_task: Callable[[Iterator[dict]], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """Page fan-out: one mapInPandas over the page URLs as a driver-side
    LocalTableScan, which splits them into min(pages, defaultParallelism)
    runs of consecutive pages, one per task. per_task is called once per
    task on the features of all its pages and returns the task's rows,
    typed by `schema`; it may also act on the features itself (run_harvest
    puts each record and its manifest part there). Task order is page
    order, so parts named by partition id list the items in page order."""
    pages_df = local_df(spark, [(u,) for u in pages], "url string")
    columns = DataType.fromDDL(schema).names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        feats = (feat for b in batches for url in b["url"] for feat in page_items(fetch, url))
        yield pd.DataFrame(list(per_task(feats)), columns=columns)

    return pages_df.mapInPandas(run, schema)


def fetch_items_df(spark: SparkSession, pages: list[str], fetch: Fetch) -> DataFrame:
    """Distributed page fetch: one `item` row per STAC item, holding the
    item's raw JSON text."""
    return map_pages(spark, pages, fetch, lambda feats: [(json.dumps(f),) for f in feats],
                     "item string")


def read_catalog(fetch: Fetch, api_root: str) -> tuple[dict, list[dict], list[str]]:
    """Driver side of the harvest (ref lambda_handler app.py:36-170): the
    root document, the raw /collections body (one HTTP response) and the
    planned /search page URLs."""
    status, root = fetch(api_root)
    if status != 200:
        raise ConnectionError(f"root api returned {status} for {api_root}")
    status, colls_body = fetch(f"{api_root}/collections/")
    colls = colls_body.get("collections", []) if status == 200 else []
    return root, colls, plan_pages(fetch, f"{api_root}/search")


def harvest(
    spark: SparkSession, api_root: str, fetch: Fetch = http_fetch
) -> tuple[dict, list[dict], DataFrame]:
    """Full harvest (ref lambda_handler app.py:36-170 minus the sinks):
    returns (root_dict, collection dicts, items_df of raw `item` JSON)."""
    root, colls, pages = read_catalog(fetch, api_root)
    return root, colls, fetch_items_df(spark, pages, fetch)
