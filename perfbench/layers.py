"""Per-layer measurements of the traced run.

Each hot layer is measured at three levels on a fixed sample of the
workload's own inputs:

  kernel    the layer's public kernel in the driver process, one core
            (parse_text, cover_batch, h3_cover_batch, s2_cover_batch,
            RingSet.contains); for ops.tiling the operator's own batch
            function, whose work goes well beyond cover_batch;
  operator  the single Spark operator over the same sample, persisted
            first, forced with a noop write;
  job       the workload's full job, whose spans run.py records.

overhead_share = 1 - kernel time per row / (operator time per row x
slots): the share of the operator's core time that is Spark/Arrow
overhead rather than kernel work. Every metric of PER_LAYER is reported
on every workload; setup.json says which workload each should move.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from openair_spark.core.config import ParserConfig
from openair_spark.core.parser import parse_text
from openair_spark.index import h3
from openair_spark.index.cover import cover_batch
from openair_spark.index.pip import RingSet
from openair_spark.ops import pip as pip_ops
from openair_spark.ops.checkpoint import run_partitioned
from openair_spark.ops.h3tiles import h3_cover_batch, h3_polygon_tiles
from openair_spark.ops.knn import knn_join
from openair_spark.ops.raster import assign_tiles, tiles_from_points, zonal_stats
from openair_spark.ops.s2tiles import s2_cover_batch, s2_polygon_tiles
from openair_spark.ops.tiling import _tile_kernel, polygon_tiles
from openair_spark.spark.extract import extract_openair
from openair_spark.spark.pipeline import parse_extracted, parse_features
from workloads import centroids_of, polygons_of

# spans whose statusTracker counts are reported as <span>.<counter>
COUNTED_SPANS = ("setup", "job", "spark.extract", "spark.pipeline",
                 "ops.checkpoint", "ops.tiling", "ops.h3tiles", "ops.s2tiles",
                 "ops.pip.setup", "ops.pip.probe", "ops.knn", "ops.raster")
COUNTERS = ("jobs", "stages", "tasks", "tasks_failed")

# name -> (unit, better); BENCHMARK.json lists the same metrics
PER_LAYER = {
    "core.parse_docs_per_s": ("1/s", "higher"),
    "core.error_share": ("share", "lower"),
    "spark.extract.s": ("s", "lower"),
    "spark.extract.payload_share": ("share", "higher"),
    "spark.pipeline.s": ("s", "lower"),
    "spark.pipeline.rows_out": ("count", "higher"),
    "spark.pipeline.overhead_share": ("share", "lower"),
    "ops.checkpoint.s": ("s", "lower"),
    "ops.checkpoint.bytes_written": ("bytes", "lower"),
    "index.cover.rings_per_s": ("1/s", "higher"),
    "index.cover.cells": ("count", "lower"),
    "index.cover.full_share": ("share", "higher"),
    "ops.tiling.s": ("s", "lower"),
    "ops.tiling.overhead_share": ("share", "lower"),
    "index.h3.tables_s": ("s", "lower"),
    "ops.h3tiles.s": ("s", "lower"),
    "ops.h3tiles.kernel_cells_per_s": ("1/s", "higher"),
    "ops.h3tiles.cells": ("count", "lower"),
    "ops.h3tiles.full_share": ("share", "higher"),
    "ops.h3tiles.overhead_share": ("share", "lower"),
    "ops.s2tiles.s": ("s", "lower"),
    "ops.s2tiles.kernel_cells_per_s": ("1/s", "higher"),
    "ops.s2tiles.cells": ("count", "lower"),
    "ops.pip.setup_s": ("s", "lower"),
    "ops.pip.probe_s": ("s", "lower"),
    "ops.pip.hits": ("count", "higher"),
    "ops.pip.route": ("code", "lower"),
    "ops.pip.salt": ("count", "lower"),
    "ops.pip.partition_rows_max_over_median": ("ratio", "lower"),
    "index.pip.tests_per_s": ("1/s", "higher"),
    "index.pip.hit_share": ("share", "higher"),
    "ops.knn.s": ("s", "lower"),
    "ops.raster.s": ("s", "lower"),
    "input.hot_cell_ratio": ("ratio", "lower"),
    "scaling.ingest.rate_1": ("1/s", "higher"),
    "scaling.ingest.rate_4": ("1/s", "higher"),
    "scaling.ingest.efficiency": ("share", "higher"),
    "scaling.join.rate_1": ("1/s", "higher"),
    "scaling.join.rate_4": ("1/s", "higher"),
    "scaling.join.efficiency": ("share", "higher"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "job.cold_s": ("s", "lower"),
    "job.layer_s": ("s", "lower"),
    "job.layer_share": ("share", "higher"),
    "trace.job_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
for _span in COUNTED_SPANS:
    for _c in COUNTERS:
        PER_LAYER[f"{_span}.{_c}"] = ("count", "lower")

ROUTE_CODE = {"broadcast": 1, "shuffle": 2}
# edges expanded by the RingSet kernel sample; bounds its memory
MAX_KERNEL_EDGES = 4_000_000


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def overhead_share(kernel_s: float, operator_s: float, slots: int) -> float:
    """Same rows on both sides, so per-row times cancel to totals."""
    return 1.0 - kernel_s / (operator_s * slots)


def seconds(span: dict) -> float:
    return span["end"] - span["start"]


def measure_all(w, cfg: dict, tracer, untraced: list, traced: list,
                start_session) -> dict:
    """Every PER_LAYER metric as {name: (value, unit)}. Ends by stopping
    the workload's session (the scaling row starts its own)."""
    m: dict = {}
    spark = w.spark
    slots = cfg["spark"]["slots"]
    sample = cfg["layer_sample"]
    keep = StorageLevel.MEMORY_AND_DISK
    cached: list = []

    def persist(df):
        df = df.persist(keep)
        df.count()
        cached.append(df)
        return df

    with tracer.span("layers"):
        # first, while nothing below is cached: Spark would answer a plan
        # equal to a persisted one from the cache
        m["job.layer_s"] = _job_layers(w, tracer.span)
        m["job.layer_share"] = m["job.layer_s"] / statistics.median(untraced)
        pages = persist(w.pages())
        with tracer.span("spark.extract") as c:
            noop(extract_openair(pages))
        m["spark.extract.s"] = seconds(c)
        m["spark.extract.payload_share"] = (
            w.inputs.counts["payload_pages"] / w.inputs.counts["pages"])

        # parse: kernel vs operator on the same fixed document sample
        urls = sorted(w.inputs.truth)[:sample["docs"]]
        config = ParserConfig.default()
        with tracer.span("core.parse_text") as c:
            parsed = [parse_text(w.inputs.truth[u], config, id_seed=u) for u in urls]
        kernel_s = seconds(c)
        m["core.parse_docs_per_s"] = len(urls) / kernel_s
        m["core.error_share"] = sum(not r.success for r in parsed) / len(urls)
        extracted = persist(extract_openair(pages).where(F.col("url").isin(urls))
                            .repartition(slots))
        with tracer.span("spark.pipeline") as c:
            feats = parse_extracted(extracted).persist(keep)
            m["spark.pipeline.rows_out"] = feats.count()
        cached.append(feats)
        m["spark.pipeline.s"] = seconds(c)
        m["spark.pipeline.overhead_share"] = overhead_share(kernel_s, seconds(c), slots)

        out = os.path.join(w.work_dir, "layers-checkpoint")
        bucket = F.pmod(F.xxhash64("url"), F.lit(2))

        def build(pid: str):
            part = feats.where(bucket == int(pid))
            return part, part.count()

        with tracer.span("ops.checkpoint") as c:
            run_partitioned(spark, ["0", "1"], build, f"{out}/data", f"{out}/manifest")
        m["ops.checkpoint.s"] = seconds(c)
        m["ops.checkpoint.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(out) for f in files)
        shutil.rmtree(out, ignore_errors=True)

        m.update(_covers(feats, persist, tracer.span, slots))
        m.update(_probes(w, cfg, persist, tracer.span))

        for name in COUNTED_SPANS:
            rec = next(s for s in reversed(tracer.spans) if s["name"] == name)
            sub = tracer.subtree(rec)
            for counter in COUNTERS:
                m[f"{name}.{counter}"] = sub[counter]
        m["trace.job_s"] = statistics.median(traced)
        m["trace.overhead_s"] = m["trace.job_s"] - statistics.median(untraced)

    for df in cached:
        df.unpersist()
    m.update(scaling(w, cfg, tracer, start_session))
    return {k: (float(v), PER_LAYER[k][0]) for k, v in m.items()}


def _covers(feats, persist, span, slots: int) -> dict:
    m: dict = {}
    polys = persist(
        feats.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
        .select("url", "airspace_idx", "ring", "success", "geometry_type")
        .repartition(slots))
    rings = [np.asarray(r["ring"], dtype=np.float64) for r in
             polys.orderBy("url", "airspace_idx").select("ring").collect()]

    # the driver derives the H3 tables once per process; done here so no
    # timed call below pays it (index.h3.tables_s measures it apart)
    with span("index.h3.tables"):
        h3._tables()
    with span("index.cover.cover_batch") as k:
        covers = cover_batch(rings, min_res=5, max_res=9)
    cells = sum(len(c) for c in covers)
    m["index.cover.rings_per_s"] = len(rings) / seconds(k)
    m["index.cover.cells"] = cells
    m["index.cover.full_share"] = sum(f for c in covers for _, f in c) / cells
    # the operator's per-batch work (cover, cell decode, S2/H3 sibling
    # ids, frame assembly) on the same polygons in one driver batch, so
    # the gap to the operator is Spark/Arrow overhead alone
    pdf = polys.select("url", "airspace_idx", "ring").toPandas()
    with span("ops.tiling._tile_kernel") as k:
        for _ in _tile_kernel(iter([pdf]), 5, 9):
            pass
    with span("ops.tiling") as c:
        noop(polygon_tiles(polys))
    m["ops.tiling.s"] = seconds(c)
    m["ops.tiling.overhead_share"] = overhead_share(seconds(k), seconds(c), slots)

    m["index.h3.tables_s"] = _h3_tables_s()
    with span("ops.h3tiles.h3_cover_batch") as k:
        h3c = h3_cover_batch(rings, 5, 9)
    cells = sum(len(c) for c in h3c)
    m["ops.h3tiles.kernel_cells_per_s"] = cells / seconds(k)
    m["ops.h3tiles.cells"] = cells
    m["ops.h3tiles.full_share"] = sum(int(c[:, 2].sum()) for c in h3c) / cells
    with span("ops.h3tiles") as c:
        noop(h3_polygon_tiles(polys, 5, 9))
    m["ops.h3tiles.s"] = seconds(c)
    m["ops.h3tiles.overhead_share"] = overhead_share(seconds(k), seconds(c), slots)

    with span("ops.s2tiles.s2_cover_batch") as k:
        s2c = s2_cover_batch(rings)
    cells = sum(len(c) for c in s2c)
    m["ops.s2tiles.kernel_cells_per_s"] = cells / seconds(k)
    m["ops.s2tiles.cells"] = cells
    with span("ops.s2tiles") as c:
        noop(s2_polygon_tiles(polys))
    m["ops.s2tiles.s"] = seconds(c)
    return m


def _job_layers(w, span) -> float:
    """Seconds the operators of the layers the workload is meant to
    exercise take on its full input, each forced alone with a noop write:
    parse (extract, core, spark.pipeline) and ops.tiling for ingest, the
    H3 and S2 covers for cover, PIP plus raster (join) or kNN (skew). As
    a share of job_s it says how much of the job those layers are; the
    rest is per-job fixed cost such as checkpoint writes and manifests.
    Each operator forced alone pays its own set-up, so the share can pass
    1 on a job that is little else (join)."""
    t0 = time.perf_counter()
    with span("job.layers"):
        if w.name == "ingest":
            noop(parse_features(w.pages()))
            noop(polygon_tiles(w.spark.read.parquet(f"{w.ctx['ingest_out']}/features")))
        elif w.name == "cover":
            noop(h3_polygon_tiles(w.ctx["features"], 5, 9))
            noop(s2_polygon_tiles(w.ctx["features"]))
        else:
            noop(w.pip(w.points()))
            if w.name == "join":
                res = w.spec["raster_res"]
                noop(zonal_stats(assign_tiles(tiles_from_points(w.points(), res),
                                              w.ctx["polygon_list"], res)))
            else:
                noop(knn_join(w.points(), w.ctx["centroids"], k=3))
    return time.perf_counter() - t0


def _h3_tables_s() -> float:
    """H3 table derivation, timed in a fresh interpreter: the driver has
    its tables cached once any cover ran."""
    code = ("import time; from openair_spark.index import h3; "
            "t = time.perf_counter(); h3._tables(); print(time.perf_counter() - t)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, timeout=120)
    return float(out.stdout.strip().splitlines()[-1])


def _probes(w, cfg: dict, persist, span) -> dict:
    m: dict = {}
    spark = w.spark
    if "polygons" in w.ctx:
        polys, cents = w.ctx["polygons"], w.ctx["centroids"]
    else:
        feats = w.ctx.get("features")
        if feats is None:  # ingest: the features its last job wrote
            feats = persist(spark.read.parquet(f"{w.ctx['ingest_out']}/features"))
        polys = persist(polygons_of(feats))
        cents = persist(centroids_of(polys))
        w.ctx.update(polygons=polys, centroids=cents)
    n_points = w.inputs.counts["points"]
    stride = max(1, n_points // cfg["layer_sample"]["points"])
    pts = persist(w.points().where(F.col("point_id") % stride == 0)
                  .repartition(cfg["spark"]["slots"]))

    with span("ops.pip.setup") as c:
        hits = w.pip(pts)
    m["ops.pip.setup_s"] = seconds(c)
    m["ops.pip.route"] = ROUTE_CODE[pip_ops.LAST_ROUTE]
    with span("ops.pip.probe") as c:
        per_part = [r["n"] for r in hits.groupBy(F.spark_partition_id().alias("p"))
                    .agg(F.count(F.lit(1)).alias("n")).collect()]
    m["ops.pip.probe_s"] = seconds(c)
    m["ops.pip.hits"] = sum(per_part)
    m["ops.pip.partition_rows_max_over_median"] = (
        max(per_part) / statistics.median(per_part) if per_part else 0.0)
    with span("ops.pip.auto_salt"):
        m["ops.pip.salt"] = pip_ops.auto_salt(pip_ops.polygon_cells_at_res(polys, 7))

    rows = polys.collect()
    rs = RingSet({r["polygon_id"]: np.asarray(r["ring"], dtype=np.float64) for r in rows})
    p = pts.select("lon", "lat").toPandas()
    pi, ri = _bbox_candidates(p["lon"].to_numpy(), p["lat"].to_numpy(), rs, rows,
                              seed=w.inputs.counts["points"])
    px, py = p["lon"].to_numpy()[pi], p["lat"].to_numpy()[pi]
    with span("index.pip.RingSet.contains") as k:
        inside = rs.contains(px, py, ri)
    m["index.pip.tests_per_s"] = len(ri) / seconds(k)
    m["index.pip.hit_share"] = float(inside.mean()) if len(ri) else 0.0

    with span("ops.knn") as c:
        noop(knn_join(pts, cents, k=3))
    m["ops.knn.s"] = seconds(c)
    res = w.spec.get("raster_res", 11)
    plist = w.ctx.get("polygon_list") or [r.asDict() for r in rows]
    with span("ops.raster") as c:
        noop(zonal_stats(assign_tiles(tiles_from_points(pts, res), plist, res)))
    m["ops.raster.s"] = seconds(c)

    m["input.hot_cell_ratio"] = _hot_cell_ratio(w.inputs.points_dir)
    return m


def _bbox_candidates(px, py, rs: RingSet, rows, seed: int):
    """(point, ring) pairs whose point lies in the ring's bbox, in a
    seeded order, cut where the expanded edge count would pass
    MAX_KERNEL_EDGES."""
    pis, ris = [], []
    for r in rows:
        ring = np.asarray(r["ring"], dtype=np.float64)
        inb = np.flatnonzero((px >= ring[:, 0].min()) & (px <= ring[:, 0].max())
                             & (py >= ring[:, 1].min()) & (py <= ring[:, 1].max()))
        pis.append(inb)
        ris.append(np.full(len(inb), rs.idx_of[r["polygon_id"]], dtype=np.int64))
    pi = np.concatenate(pis) if pis else np.empty(0, dtype=np.int64)
    ri = np.concatenate(ris) if ris else np.empty(0, dtype=np.int64)
    order = np.random.default_rng(seed).permutation(len(pi))
    edges = np.cumsum(rs.lens[ri[order]])
    order = order[edges <= MAX_KERNEL_EDGES]
    return pi[order], ri[order]


def _hot_cell_ratio(points_dir: str, res: int = 7) -> float:
    """Max over median points per quadkey res-7 cell of the full layer."""
    import pyarrow.dataset as ds

    t = ds.dataset(points_dir, format="parquet").to_table(columns=["lat", "lon"])
    n = 1 << res
    nx = np.clip(np.floor((t.column("lon").to_numpy() + 180.0) / 360.0 * n), 0, n - 1)
    ny = np.clip(np.floor((t.column("lat").to_numpy() + 90.0) / 180.0 * n), 0, n - 1)
    _, counts = np.unique(ny * n + nx, return_counts=True)
    return float(counts.max() / np.median(counts))


def scaling(w, cfg: dict, tracer, start_session) -> dict:
    """Pinned local[1] -> local[4] row: the same fixed page and point
    samples through an ingest-shaped job (parse + tiles) and a
    join-shaped job (PIP + raster) at both levels; efficiency is
    rate_4 / (4 x rate_1)."""
    sc_cfg = cfg["scaling"]
    slots = cfg["spark"]["slots"]
    # every k-th url and point, so the samples come from every input file
    urls = sorted(w.inputs.truth)
    urls = urls[::max(1, len(urls) // sc_cfg["pages"])][:sc_cfg["pages"]]
    stride = max(1, w.inputs.counts["points"] // sc_cfg["points"])
    w.spark.stop()
    rates: dict = {}
    for level, master in zip((1, 4), sc_cfg["masters"]):
        spark = start_session(cfg, master)
        tracer.rebind(spark.sparkContext)
        keep = StorageLevel.MEMORY_AND_DISK
        pages = spark.read.parquet(w.inputs.pages_dir).where(
            F.col("url").isin(urls)).repartition(slots).persist(keep)
        pts = spark.read.parquet(w.inputs.points_dir).where(
            F.col("point_id") % stride == 0).repartition(slots).persist(keep)
        polys = polygons_of(parse_features(pages)).persist(keep)
        pages.count()
        polys.count()
        n_points = pts.count()
        plist = [r.asDict() for r in polys.collect()]
        res = cfg["workloads"]["join"]["raster_res"]

        def ingest():
            noop(polygon_tiles(parse_features(pages)))

        def join():
            pip_ops.pip_join(pts, polys).count()
            noop(zonal_stats(assign_tiles(tiles_from_points(pts, res), plist, res)))

        for label, fn, rows in (("ingest", ingest, len(urls)), ("join", join, n_points)):
            with tracer.span(f"scaling.{label}", master=master) as rec:
                t0 = time.perf_counter()
                fn()  # warm-up
                rec["attrs"]["warmup_s"] = time.perf_counter() - t0
                times = rec["attrs"]["times_s"] = []
                for _ in range(sc_cfg["repeats"]):
                    t0 = time.perf_counter()
                    fn()
                    times.append(time.perf_counter() - t0)
            rates[(label, level)] = rows / statistics.median(times)
        spark.stop()
    m = {}
    for label in ("ingest", "join"):
        m[f"scaling.{label}.rate_1"] = rates[(label, 1)]
        m[f"scaling.{label}.rate_4"] = rates[(label, 4)]
        m[f"scaling.{label}.efficiency"] = rates[(label, 4)] / (4 * rates[(label, 1)])
    return m


def write_trace(trace_dir, name: str, seed: int, tracer, metrics: dict,
                check_list: list) -> str:
    path = os.path.join(trace_dir, f"{name}-seed{seed}-{tracer.run_id}.json")
    with open(path, "w") as fh:
        json.dump({"run_id": tracer.run_id, "workload": name, "seed": seed,
                   "spans": tracer.report(),
                   "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                   "checks": [{"name": c[0], "ok": c[1], "detail": c[2], "s": c[3]}
                              for c in check_list]}, fh, indent=1)
    return path
