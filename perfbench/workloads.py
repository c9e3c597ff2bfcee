"""Benchmark workloads. BENCHMARK.json runs north_star and
joins_and_harvest; the latter chains spatial_joins and stac_harvest, which
also run on their own (--workload spatial_joins / stac_harvest).

Each workload is a closed loop driven by one client: an iteration's steps
run one after another, and the next iteration starts only when the previous
one has finished. A step is one timed call into the engine followed by an
untimed check of its output against the numpy answer for the seed.

A workload object moves through:
  prepare()        generate inputs and brute-force answers (never timed)
  open(spark)      open the inputs in a fresh session      (part of setup_s)
  warm(every)      the first step on the warm-up inputs (part of setup_s),
                   or every step (untimed, before the loop)
  check_once()     run-level checks made while warming     (never timed)
  iteration(i, t)  the timed steps; spans go to tracer t
  probes(t)        traced run only: extra calls that time single layers
  layers(t, g)     traced run only: the per-layer numbers
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from perfbench import inputs as I

N_IMAGES = 150_000
N_POLYGONS = 64
SPARE_POLYGONS = 16  # generated beyond N_POLYGONS, to replace boxes cover_missed drops
N_POINTS = 200_000
N_RINGS = 16
N_QUERIES = 8
KNN_K = 10
N_OVERLAP_BOXES = 12_000
N_ITEMS = 1_000
ITEMS_PAGE = 100
KERNEL_POINTS = 1_000_000
LINEAGE_BATCHES = 4
WARM_ROWS = 8_000
WARM_CHECKPOINT_BOXES = 2


@dataclass
class Step:
    name: str
    seconds: float
    ok: bool
    detail: str = ""


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def noop_observed(df, a_col: str, b_col: str) -> None:
    """The timed steps' action (noop write plus pair observation), for the
    warm-up: the same plan shape reuses Spark's generated code and the JIT
    work done on it."""
    noop(I.pair_observation(df, a_col, b_col)[0])


def timed_pairs(tracer, layer: str, op: str, build, a_col: str, b_col: str):
    """Time build() (planning) plus the noop write of its output, with a
    count + checksum observation riding the same action. Returns
    (seconds, (count, checksum))."""
    with tracer.span(layer, op):
        t0 = time.perf_counter()
        with tracer.span(layer, f"{op}.plan"):
            df = build()
        df, obs = I.pair_observation(df, a_col, b_col)
        with tracer.span(layer, f"{op}.exec"):
            noop(df)
        dt = time.perf_counter() - t0
    return dt, I.observed(obs)


def kernel_rows_per_s(seed: int) -> float:
    """Driver-side fused cell kernel (h3 at res 7 and 5, s2 at level 12) over
    a fixed seeded point array, no Spark: median of three passes."""
    from stac_to_geocore_spark.cells import h3x
    from stac_to_geocore_spark.cells.s2 import s2_encode_xyz_np

    lon, lat = I.centroids(KERNEL_POINTS, seed)
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        xyz = h3x._latlon_to_xyz(lat, lon)
        h3x.h3_encode_multi_np(xyz, [7, 5])
        s2_encode_xyz_np(xyz[..., 0], xyz[..., 1], xyz[..., 2], 12)
        rates.append(KERNEL_POINTS / (time.perf_counter() - t0))
    return sorted(rates)[1]


def _span_by_name(tracer, name: str) -> list:
    return [s for s in tracer.spans if s.name == name]


def _med(xs):
    return statistics.median(xs) if xs else None


def _group_sum(groups, spans):
    from perfbench.trace import GroupStats

    out = GroupStats()
    for s in spans:
        if s.group in groups:
            out.add(groups[s.group])
    return out


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class Workload:
    name = ""

    def __init__(self, seed: int, scratch: str):
        self.seed = seed
        self.scratch = scratch
        self.spark = None
        self.sizes: dict = {}

    def check_once(self) -> list[Step]:
        return []


class NorthStar(Workload):
    """Flagship encode + PIP + tile, then the checkpointed pipeline and its
    resume, over one seeded images table."""

    name = "north_star"

    def prepare(self) -> dict:
        from stac_to_geocore_spark.fixtures import gen_polygons_pdf
        from stac_to_geocore_spark.pipeline import COVER_RES
        from stac_to_geocore_spark.spatial.cover import covers_pdf

        self.images_path, built = I.images_table(N_IMAGES, self.seed)
        # warm-up inputs: a small table of the same shape, so that the
        # warm-up compiles the plans the timed steps run
        self.warm_path, _ = I.images_table(WARM_ROWS, self.seed)
        lon, lat = I.centroids(N_IMAGES, self.seed)
        cand = gen_polygons_pdf(N_POLYGONS + SPARE_POLYGONS, self.seed)
        cbox = I.cluster_boxes(self.seed)
        dropped = (I.cover_missed(lon, lat, cand, covers_pdf(cand, fixed_res=COVER_RES))
                   | I.cover_missed(lon, lat, cbox, covers_pdf(cbox, fixed_res=COVER_RES)))
        self.polys_pdf = cand[~cand.poly_id.isin(dropped)].head(N_POLYGONS)
        self.cbox_pdf = cbox[~cbox.poly_id.isin(dropped)]
        self.want_flagship = I.contain_answer(lon, lat, self.polys_pdf)
        self.want_ckpt = I.contain_answer(lon, lat, self.cbox_pdf)
        self.parts = I.lineage_partitions(lon, lat, self.cbox_pdf)
        self.batch_size = I.ceil_div(self.parts, LINEAGE_BATCHES)
        self.sizes = {"images": N_IMAGES, "polygons": N_POLYGONS,
                      "checkpoint_polygons": len(self.cbox_pdf),
                      "assignments": self.want_flagship[0],
                      "checkpoint_rows": self.want_ckpt[0],
                      "lineage_partitions": self.parts, "lineage_batch_size": self.batch_size,
                      "cover_dropped": sorted(dropped)}
        return {"images_built": built}

    def open(self, spark) -> None:
        from stac_to_geocore_spark.fixtures import POLYGONS_SCHEMA

        self.spark = spark
        self.images = spark.read.parquet(self.images_path)
        self.warm_images = spark.read.parquet(self.warm_path)
        self.polys = spark.createDataFrame(self.polys_pdf, POLYGONS_SCHEMA)
        self.cbox = spark.createDataFrame(self.cbox_pdf, POLYGONS_SCHEMA)
        # few boxes keep the warm-up's lineage partitions, which set its
        # cost, well below the timed checkpoint's
        self.warm_cbox = spark.createDataFrame(self.cbox_pdf.iloc[:WARM_CHECKPOINT_BOXES],
                                               POLYGONS_SCHEMA)

    def warm(self, every_step: bool) -> None:
        from stac_to_geocore_spark.pipeline import flagship, materialize_assignments
        from stac_to_geocore_spark.tables.lineage import LineageWriter

        noop_observed(flagship(self.warm_images, self.polys), "image_id", "poly_id")
        if every_step:
            d = os.path.join(self.scratch, "warm-lineage")
            for run_id in ("warm", "warm-resume"):
                materialize_assignments(self.warm_images, self.warm_cbox, d, run_id=run_id,
                                        batch_size=self.batch_size)
            noop_observed(LineageWriter(d).read(self.spark), "image_id", "poly_id")
            shutil.rmtree(d, ignore_errors=True)

    def iteration(self, i: int, tracer) -> list[Step]:
        from stac_to_geocore_spark.pipeline import flagship, materialize_assignments
        from stac_to_geocore_spark.tables.lineage import LineageWriter

        steps = []
        dt, got = timed_pairs(tracer, "pipeline", "flagship",
                              lambda: flagship(self.images, self.polys), "image_id", "poly_id")
        steps.append(Step("flagship", dt, got == self.want_flagship, f"{got} != {self.want_flagship}"))

        d = os.path.join(self.scratch, f"lineage-{i}")
        try:
            with tracer.span("tables.lineage", "write"):
                t0 = time.perf_counter()
                written = materialize_assignments(self.images, self.cbox, d, run_id=f"it{i}",
                                                  batch_size=self.batch_size)
                dt = time.perf_counter() - t0
            back, obs = I.pair_observation(LineageWriter(d).read(self.spark), "image_id", "poly_id")
            noop(back)
            rows = sum(m["row_count"] for m in written)
            ok = (I.observed(obs) == self.want_ckpt and rows == self.want_ckpt[0]
                  and len(written) == self.parts)
            steps.append(Step("checkpoint", dt, ok,
                              f"readback {I.observed(obs)} manifest rows {rows} parts "
                              f"{len(written)}; want {self.want_ckpt} parts {self.parts}"))
            with tracer.span("tables.lineage", "resume"):
                t0 = time.perf_counter()
                again = materialize_assignments(self.images, self.cbox, d, run_id=f"it{i}-resume",
                                                batch_size=self.batch_size)
                dt = time.perf_counter() - t0
            steps.append(Step("resume", dt, again == [], f"resume committed {len(again)}"))
            if tracer.enabled:
                self.lineage_files, self.lineage_bytes = _dir_stats(os.path.join(d, "data"))
        finally:
            shutil.rmtree(d, ignore_errors=True)
        return steps

    def named(self, steps, iters) -> dict:
        return {
            "flagship_images_per_s": ([N_IMAGES / s for s in steps["flagship"]], "1/s"),
            "checkpoint_images_per_s": ([N_IMAGES / s for s in steps["checkpoint"]], "1/s"),
            "resume_s": (steps["resume"], "s"),
        }

    def probes(self, tracer) -> None:
        from pyspark.sql import functions as F

        from stac_to_geocore_spark.cells.tiles import tile_x_expr, tile_y_expr
        from stac_to_geocore_spark.pipeline import COVER_RES, encode_stage
        from stac_to_geocore_spark.spatial.cover import covers_pdf

        with tracer.span("cells", "encode_stage"):
            noop(encode_stage(self.images))
        with tracer.span("cells", "tile_only"):
            noop(self.images.select("image_id", tile_x_expr(F.col("lon"), 12).alias("x"),
                                    tile_y_expr(F.col("lat"), 12).alias("y")))
        with tracer.span("spatial.cover", "covers_pdf") as sp:
            self.covers = covers_pdf(self.polys_pdf, fixed_res=COVER_RES)
        sp.attrs["cells"] = len(self.covers)

    def layers(self, tracer, groups) -> dict:
        out = {}

        def dur(name):
            return _med([s.end - s.start for s in _span_by_name(tracer, name)])

        def jobs(name):
            return _med([len(s.jobs) for s in _span_by_name(tracer, name)])

        out["cells.encode_stage_s"] = dur("cells:encode_stage")
        out["cells.tile_only_s"] = dur("cells:tile_only")
        out["cover.covers_pdf_s"] = dur("spatial.cover:covers_pdf")
        out["cover.cells"] = _span_by_name(tracer, "spatial.cover:covers_pdf")[0].attrs["cells"]
        out["pipeline.flagship_plan_s"] = dur("pipeline:flagship.plan")
        out["pipeline.flagship_plan_jobs"] = jobs("pipeline:flagship.plan")
        out["pipeline.flagship_exec_s"] = dur("pipeline:flagship.exec")
        out["pipeline.flagship_jobs"] = jobs("pipeline:flagship.exec")
        execs = _span_by_name(tracer, "pipeline:flagship.exec")
        g = _group_sum(groups, execs)
        # Spark folds the bbox refine into the join's condition, so the
        # plan never shows the cell join's own output: count it with numpy
        lon, lat = I.centroids(N_IMAGES, self.seed)
        cand = I.cell_join_candidates(lon, lat, self.covers)
        out["pipeline.candidate_rows"] = cand
        out["pipeline.refine_yield"] = self.want_flagship[0] / cand
        out["pipeline.python_worker_s"] = g.python_s / max(1, len(execs))
        out["pipeline.arrow_bytes"] = g.arrow_bytes / max(1, len(execs))
        writes = _span_by_name(tracer, "tables.lineage:write")
        out["lineage.write_s"] = dur("tables.lineage:write")
        out["lineage.jobs"] = jobs("tables.lineage:write")
        out["lineage.batches"] = I.ceil_div(self.parts, self.batch_size)
        out["lineage.jobs_per_batch"] = out["lineage.jobs"] / out["lineage.batches"] if writes else None
        out["lineage.partitions"] = self.parts
        out["lineage.files"] = self.lineage_files
        out["lineage.bytes_per_row"] = self.lineage_bytes / self.want_ckpt[0]
        out["lineage.resume_s"] = dur("tables.lineage:resume")
        out["lineage.resume_jobs"] = jobs("tables.lineage:resume")
        return out


JOIN_OPS = ("pip", "pip_salted", "pip_ring", "knn", "overlap")
JOIN_LAYER = {"pip": "spatial.pip", "pip_salted": "spatial.pip", "pip_ring": "spatial.pip",
              "knn": "spatial.knn", "overlap": "spatial.overlap"}


class SpatialJoins(Workload):
    """Five spatial joins over clustered points and seeded boxes, run in a
    rotating order, each written to the noop sink."""

    name = "spatial_joins"

    def prepare(self) -> dict:
        from stac_to_geocore_spark.fixtures import gen_polygons_pdf
        from stac_to_geocore_spark.spatial.cover import covers_pdf

        self.points_path, built = I.points_table(N_POINTS, self.seed)
        self.warm_path, _ = I.points_table(WARM_ROWS, self.seed)
        lon, lat = I.centroids(N_POINTS, self.seed)
        cand = gen_polygons_pdf(N_POLYGONS + SPARE_POLYGONS, self.seed)
        cand_rings = I.star_rings(cand)
        # the cover arguments are pip_join's and pip_ring_join's defaults
        dropped = (I.cover_missed(lon, lat, cand, covers_pdf(cand, 5, 9, 128))
                   | I.cover_missed(lon, lat, I.ring_bboxes(cand_rings),
                                    covers_pdf(I.ring_bboxes(cand_rings), 5, 9, 2048)))
        keep = ~cand.poly_id.isin(dropped).to_numpy()
        self.boxes_pdf = cand[keep].head(N_POLYGONS)
        self.rings_pdf = cand_rings[keep].head(N_RINGS)
        self.queries = I.knn_queries(N_QUERIES, self.seed)
        self.obox_pdf = I.overlap_boxes(N_OVERLAP_BOXES, self.seed)
        pip = I.contain_answer(lon, lat, self.boxes_pdf)
        self.want = {"pip": pip, "pip_salted": pip,
                     "pip_ring": I.ring_answer(lon, lat, self.rings_pdf),
                     "knn": I.knn_answer(lon, lat, self.queries, KNN_K),
                     "overlap": I.overlap_answer(self.obox_pdf)}
        self.sizes = {"points": N_POINTS, "boxes": N_POLYGONS, "rings": N_RINGS,
                      "knn_queries": N_QUERIES, "knn_k": KNN_K,
                      "overlap_boxes": N_OVERLAP_BOXES, "cover_dropped": sorted(dropped),
                      **{f"{op}_rows": w[0] for op, w in self.want.items()}}
        return {"points_built": built}

    def open(self, spark) -> None:
        from stac_to_geocore_spark.fixtures import POLYGONS_SCHEMA

        self.spark = spark
        self.points = spark.read.parquet(self.points_path)
        self.warm_points = spark.read.parquet(self.warm_path)
        self.boxes = spark.createDataFrame(self.boxes_pdf, POLYGONS_SCHEMA)
        self.rings = spark.createDataFrame(
            self.rings_pdf, "poly_id string, ring_lon array<double>, ring_lat array<double>")
        self.obox = spark.createDataFrame(self.obox_pdf, POLYGONS_SCHEMA)

    def _build(self, op: str, points=None):
        from stac_to_geocore_spark.spatial.knn import knn_join
        from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join
        from stac_to_geocore_spark.spatial.pip import pip_join, pip_ring_join

        pts = self.points if points is None else points
        if op == "pip":
            return pip_join(pts, self.boxes, point_id="image_id", broadcast_covers=True)
        if op == "pip_salted":
            return pip_join(pts, self.boxes, point_id="image_id", salt_factor=4,
                            broadcast_covers=False)
        if op == "pip_ring":
            return pip_ring_join(pts, self.rings, point_id="image_id")
        if op == "knn":
            return knn_join(pts, self.queries, KNN_K, point_id="image_id")
        return bbox_overlap_join(self.obox, self.obox)

    @staticmethod
    def _pair_cols(op: str) -> tuple[str, str]:
        return {"knn": ("query_id", "point_id"), "overlap": ("id_a", "id_b")}.get(
            op, ("image_id", "poly_id"))

    def warm(self, every_step: bool) -> None:
        for op in JOIN_OPS if every_step else JOIN_OPS[:1]:
            noop_observed(self._build(op, points=self.warm_points), *self._pair_cols(op))

    def iteration(self, i: int, tracer) -> list[Step]:
        k = i % len(JOIN_OPS)
        steps = []
        for op in JOIN_OPS[k:] + JOIN_OPS[:k]:
            dt, got = timed_pairs(tracer, JOIN_LAYER[op], op, lambda: self._build(op),
                                  *self._pair_cols(op))
            steps.append(Step(op, dt, got == self.want[op], f"{got} != {self.want[op]}"))
        return steps

    def named(self, steps, iters) -> dict:
        out = {f"{op}_s": (steps[op], "s") for op in JOIN_OPS}
        per_iter = [sum(t) for t in zip(*(steps[op] for op in JOIN_OPS))]
        out["joins_per_min"] = ([60.0 * len(JOIN_OPS) / s for s in per_iter], "1/min")
        return out

    def probes(self, tracer) -> None:
        from pyspark.sql import functions as F

        from stac_to_geocore_spark.partitioning import fan_out
        from stac_to_geocore_spark.spatial.skew import plan_salts

        joined = self._build("pip")
        with tracer.span("partitioning", "fan_out"):
            fan_out(joined)
        grid = self.points.select(
            F.xxhash64(F.floor(F.col("lon") / 0.1), F.floor(F.col("lat") / 0.1)).alias("cell"))
        with tracer.span("spatial.skew", "plan_salts") as sp:
            sp.attrs["hot_cells"] = len(plan_salts(grid))

    def layers(self, tracer, groups) -> dict:
        out = {}
        for op in JOIN_OPS:
            layer = JOIN_LAYER[op]
            plans = _span_by_name(tracer, f"{layer}:{op}.plan")
            execs = _span_by_name(tracer, f"{layer}:{op}.exec")
            g = _group_sum(groups, execs)
            n = max(1, len(execs))
            out[f"{op}.plan_s"] = _med([s.end - s.start for s in plans])
            out[f"{op}.plan_jobs"] = _med([len(s.jobs) for s in plans])
            out[f"{op}.exec_s"] = _med([s.end - s.start for s in execs])
            out[f"{op}.jobs"] = _med([len(s.jobs) for s in execs])
            out[f"{op}.tasks"] = _med([s.tasks for s in execs])
            out[f"{op}.shuffle_bytes"] = g.shuffle_bytes / n
            out[f"{op}.python_worker_s"] = g.python_s / n
            out[f"{op}.cpu_ratio"] = g.cpu_s / g.run_s if g.run_s else None
        out["overlap.pairs"] = self.want["overlap"][0]
        fo = _span_by_name(tracer, "partitioning:fan_out")
        out["partitioning.fan_out_s"] = _med([s.end - s.start for s in fo])
        out["partitioning.fan_out_jobs"] = _med([len(s.jobs) for s in fo])
        ps = _span_by_name(tracer, "spatial.skew:plan_salts")
        out["skew.plan_salts_s"] = _med([s.end - s.start for s in ps])
        out["skew.hot_cells"] = ps[0].attrs["hot_cells"] if ps else None
        return out


class StacHarvest(Workload):
    """The reference's daily job: harvest a fake STAC API, translate every
    record row by row and put one object per record. The store lives for the
    whole run, so every timed call is a rerun that first deletes the
    previous run's keys through its manifest."""

    name = "stac_harvest"

    def prepare(self) -> dict:
        from stac_to_geocore_spark.fixtures import make_fake_stac_fetch, stac_collections_fixture

        self.fetch = make_fake_stac_fetch(n_items=N_ITEMS, page_size=ITEMS_PAGE, seed=self.seed)
        self.n_colls = len(stac_collections_fixture(self.seed))
        self.want_keys = 1 + self.n_colls + N_ITEMS
        self.store_root = os.path.join(self.scratch, "store")
        self.sizes = {"items": N_ITEMS, "page_size": ITEMS_PAGE, "collections": self.n_colls,
                      "keys": self.want_keys}
        return {}

    def open(self, spark) -> None:
        self.spark = spark

    def _run(self, store_root: str, fetch) -> list[str]:
        from stac_to_geocore_spark.fixtures import API_ROOT
        from stac_to_geocore_spark.job import run_harvest

        return run_harvest(self.spark, API_ROOT, store_root, fetch=fetch)

    def warm(self, every_step: bool) -> None:
        """A 60-item harvest, whose stored records must equal the frozen
        harvest_sink_job answer byte for byte. lastRun.txt lists its keys in
        partition order, which follows the core count, so it is compared as
        a key set. The run is left in the loop's store, so that every timed
        call is a rerun."""
        from stac_to_geocore_spark.fixtures import make_fake_stac_fetch
        from stac_to_geocore_spark.known_answers import KNOWN
        from stac_to_geocore_spark.sources.sinks import MANIFEST_KEY, LocalObjectStore

        t0 = time.perf_counter()
        self._run(self.store_root, make_fake_stac_fetch(n_items=60))
        dt = time.perf_counter() - t0
        store = LocalObjectStore(self.store_root)
        keys = [k for k in store.list() if k != MANIFEST_KEY]
        got = sorted((k, len(store.get(k)), hashlib.md5(store.get(k).encode()).hexdigest())
                     for k in keys)
        listed = sorted(store.get(MANIFEST_KEY).splitlines())
        want = sorted(tuple(r) for r in KNOWN["harvest_sink_job"]["rows"] if r[0] != MANIFEST_KEY)
        self.known_answer = Step("known_answer_60", dt, got == want and listed == sorted(keys),
                                 "stored records or manifest differ from the frozen answer")

    def _check(self, store_root: str, keys: list[str]) -> tuple[bool, str]:
        from stac_to_geocore_spark.sources.sinks import MANIFEST_KEY, LocalObjectStore

        stored = set(LocalObjectStore(store_root).list()) - {MANIFEST_KEY}
        ok = len(keys) == self.want_keys and set(keys) == stored and len(set(keys)) == len(keys)
        return ok, f"manifest {len(keys)} keys, stored {len(stored)}, want {self.want_keys}"

    def check_once(self) -> list[Step]:
        return [self.known_answer]

    def iteration(self, i: int, tracer) -> list[Step]:
        with tracer.span("job", "run_harvest"):
            t0 = time.perf_counter()
            keys = self._run(self.store_root, self.fetch)
            dt = time.perf_counter() - t0
        ok, detail = self._check(self.store_root, keys)
        return [Step("harvest", dt, ok, detail)]

    def named(self, steps, iters) -> dict:
        return {"harvest_items_per_s": ([N_ITEMS / s for s in steps["harvest"]], "1/s")}

    def probes(self, tracer) -> None:
        """run_harvest's own sequence, one public call per span."""
        from pyspark.sql import functions as F

        from stac_to_geocore_spark.compat.translate import translate_items
        from stac_to_geocore_spark.fixtures import API_ROOT
        from stac_to_geocore_spark.sources.harvest import fetch_items_df, harvest, plan_pages
        from stac_to_geocore_spark.sources.sinks import (
            LocalObjectStore,
            delete_previous_run,
            merge_manifest_parts,
            write_objects,
        )

        _, colls, _ = harvest(self.spark, API_ROOT, self.fetch)
        with tracer.span("sources.harvest", "plan_pages") as sp:
            pages = plan_pages(self.fetch, f"{API_ROOT}/search")
            sp.attrs["pages"] = len(pages)
        items = fetch_items_df(self.spark, pages, self.fetch).persist()
        docs = None
        try:
            with tracer.span("sources.harvest", "fetch_items"):
                items.count()
            docs = translate_items(items, colls).persist()
            with tracer.span("compat.translate", "items") as sp:
                docs.count()
            sp.attrs["json_bytes_per_item"] = docs.agg(
                F.sum(F.length("json"))).collect()[0][0] / N_ITEMS
            root = os.path.join(self.scratch, "probe-store")
            store = LocalObjectStore(root)
            write_objects(docs, root, manifest_parts=True)
            merge_manifest_parts(store)
            with tracer.span("sources.sinks", "delete_previous"):
                delete_previous_run(store)
            with tracer.span("sources.sinks", "write_objects"):
                write_objects(docs, root, manifest_parts=True)
            with tracer.span("sources.sinks", "merge_manifest") as sp:
                merge_manifest_parts(store)
            sp.attrs["objects"], sp.attrs["bytes"] = _dir_stats(root)
            shutil.rmtree(root, ignore_errors=True)
        finally:
            items.unpersist()
            if docs is not None:
                docs.unpersist()

    def layers(self, tracer, groups) -> dict:
        def one(name):
            return _span_by_name(tracer, name)[0]

        def dur(name):
            s = one(name)
            return s.end - s.start

        merge = one("sources.sinks:merge_manifest")
        # the fake API's closure embeds every item and is pickled into each
        # fetch task, so the fetch share grows with the item count
        probe_s = sum(dur(n) for n in (
            "sources.harvest:plan_pages", "sources.harvest:fetch_items", "compat.translate:items",
            "sources.sinks:delete_previous", "sources.sinks:write_objects",
            "sources.sinks:merge_manifest"))
        return {
            "harvest.fetch_share": dur("sources.harvest:fetch_items") / probe_s,
            "harvest.plan_pages_s": dur("sources.harvest:plan_pages"),
            "harvest.pages": one("sources.harvest:plan_pages").attrs["pages"],
            "harvest.fetch_items_s": dur("sources.harvest:fetch_items"),
            "translate.items_s": dur("compat.translate:items"),
            "translate.json_bytes_per_item": one("compat.translate:items").attrs["json_bytes_per_item"],
            "sinks.delete_previous_s": dur("sources.sinks:delete_previous"),
            "sinks.write_objects_s": dur("sources.sinks:write_objects"),
            "sinks.merge_manifest_s": dur("sources.sinks:merge_manifest"),
            "sinks.objects": merge.attrs["objects"],
            "sinks.bytes_written": merge.attrs["bytes"],
        }


class JoinsAndHarvest(Workload):
    """The five spatial joins, then one harvest call, per iteration: every
    operator that the lineage and images pipeline does not run."""

    name = "joins_and_harvest"

    def __init__(self, seed: int, scratch: str):
        super().__init__(seed, scratch)
        self.parts = (SpatialJoins(seed, scratch), StacHarvest(seed, scratch))

    def prepare(self) -> dict:
        info = {}
        for p in self.parts:
            info.update(p.prepare())
            self.sizes.update(p.sizes)
        return info

    def open(self, spark) -> None:
        for p in self.parts:
            p.open(spark)

    def warm(self, every_step: bool) -> None:
        self.parts[0].warm(every_step)
        if every_step:
            self.parts[1].warm(every_step)

    def check_once(self) -> list[Step]:
        return self.parts[1].check_once()

    def iteration(self, i: int, tracer) -> list[Step]:
        return [s for p in self.parts for s in p.iteration(i, tracer)]

    def named(self, steps, iters) -> dict:
        return {k: v for p in self.parts for k, v in p.named(steps, iters).items()}

    def probes(self, tracer) -> None:
        for p in self.parts:
            p.probes(tracer)

    def layers(self, tracer, groups) -> dict:
        return {k: v for p in self.parts for k, v in p.layers(tracer, groups).items()}


WORKLOADS = {w.name: w for w in (NorthStar, JoinsAndHarvest, SpatialJoins, StacHarvest)}
