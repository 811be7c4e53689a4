"""Cell-local k-nearest-neighbors over airspace centroids (north rule).

Centroids (small side, ~10^4-10^6) are exploded into their cell plus a
neighbor ring at a chosen resolution — executor-side, in one vectorized
Arrow pass (no driver collect; at 10^6 centroids x ring-1 that is ~9M
index rows built where the data lives) — then broadcast; points join on
their single cell (JVM-side key), distances are computed with built-in
column arithmetic (haversine in Spark SQL functions — no Python), and
row_number() over (point, distance) keeps the top k.

EXACTNESS is guaranteed for any distribution, not assumed from density:
a point's ring-local top-k is provably complete iff its k-th candidate
distance is smaller than the geodesic margin between the point and the
edge of its (2*rings+1)^2 cell window. Points that fail the margin test
(or have < k candidates — e.g. empty neighborhoods, polar cells) fall
back to an exact brute-force pass against the broadcast centroid set.
With a sane `res` the fallback set is empty; with a hostile one the
answer is still exact, just slower.

`res=None` picks a resolution from the centroid bounding box and count
so a ring window holds ~4k..64 expected centroids (computed with a
single-row aggregate, not a centroid collect).

Determinism: ties broken by (distance, centroid_id).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.quadkey import _RES_SHIFT, _Y_SHIFT, sql_cell_expr

_KM_PER_DEG = 111.19492664455873  # pi * 6371.0088 / 180, turf-consistent R


def haversine_km(lat1, lon1, lat2, lon2):
    """Spark-column haversine (R = 6371.0088 km, matching the core
    kernels) — stays inside whole-stage codegen."""
    rlat1 = F.radians(lat1)
    rlat2 = F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.pow(F.sin(dlon / 2), 2) * F.cos(rlat1) * F.cos(rlat2)
    return F.atan2(F.sqrt(a), F.sqrt(1 - a)) * 2 * 6371.0088


def pick_res(n: int, bbox_h: float, bbox_w: float, k: int) -> int:
    """Resolution so one ring-1 window expects ~max(4k, 16)..64 of the
    given centroids (uniformity heuristic only — exactness never
    depends on it, see margin fallback)."""
    if n == 0:
        return 6
    bbox_h = max(bbox_h, 1e-6)
    bbox_w = max(bbox_w, 1e-6)
    target = max(4 * k, 16)
    # ring-1 window is 3x3 cells; want density * window_area ~ target
    density = n / (bbox_h * bbox_w)  # per deg^2
    window_area = target / density
    window_side = math.sqrt(window_area)
    cell_h = max(window_side / 3.0, 1e-6)
    res = int(round(math.log2(180.0 / cell_h)))
    return max(2, min(res, 12))


def centroid_cell_index(centroids: DataFrame, res: int, rings: int,
                        centroid_id: str = "centroid_id",
                        lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Exploded (cell, centroid) ring index, built executor-side.

    One vectorized Arrow pass: each batch computes every centroid's base
    (ix, iy) with numpy, then emits the (2*rings+1)^2 Chebyshev window
    (lat-clamped, lon-wrapped) as one frame per offset — mirroring
    the executor-side cover kernel of ops/pip.polygon_cells_at_res
    rather than a driver loop."""
    import numpy as np
    import pandas as pd

    src = centroids.select(
        F.col(centroid_id).cast("string").alias(centroid_id),
        F.col(lat_col).cast("double").alias("c_lat"),
        F.col(lon_col).cast("double").alias("c_lon"),
    )
    n = 1 << res
    offsets = [(dx, dy)
               for dy in range(-rings, rings + 1)
               for dx in range(-rings, rings + 1)]
    res_base = np.int64(res) << np.int64(_RES_SHIFT)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lat = pdf["c_lat"].to_numpy()
            lon = pdf["c_lon"].to_numpy()
            ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
            iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
            frames = []
            for dx, dy in offsets:
                cy = iy + dy
                ok = (cy >= 0) & (cy < n)
                if not ok.any():
                    continue
                cx = (ix[ok] + dx) % n
                cells = res_base + (cy[ok] << np.int64(_Y_SHIFT)) + cx
                sub = pdf.loc[ok, [centroid_id, "c_lat", "c_lon"]].copy()
                sub.insert(0, "cell", cells)
                frames.append(sub)
            if frames:
                # lon wrap at tiny n can land two offsets on one cell
                yield pd.concat(frames).drop_duplicates()

    schema = f"cell long, {centroid_id} string, c_lat double, c_lon double"
    return src.mapInPandas(kernel, schema)


def knn_join(points: DataFrame, centroids: DataFrame, k: int = 3,
             res: int | None = None, rings: int = 1,
             point_id: str = "point_id", centroid_id: str = "centroid_id",
             lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """points(point_id, lat, lon) x centroids(centroid_id, lat, lon)
    -> (point columns, centroid_id, dist_km, rank<=k). Exact.
    """
    stats = centroids.agg(
        F.count("*").alias("n"),
        (F.max(lat_col) - F.min(lat_col)).alias("bbox_h"),
        (F.max(lon_col) - F.min(lon_col)).alias("bbox_w"),
    ).collect()[0]
    n_cent = int(stats["n"])
    if res is None:
        res = pick_res(n_cent, float(stats["bbox_h"] or 0.0),
                       float(stats["bbox_w"] or 0.0), k)
    index_df = centroid_cell_index(
        centroids, res, rings, centroid_id=centroid_id,
        lat_col=lat_col, lon_col=lon_col)
    cent_b = centroids.selectExpr(
        f"CAST({centroid_id} AS STRING) AS {centroid_id}",
        f"{lat_col} AS c_lat", f"{lon_col} AS c_lon")

    point_cols = points.columns
    pts = points.withColumn("cell", F.expr(sql_cell_expr(lat_col, lon_col, res)))

    cand = pts.join(F.broadcast(index_df), "cell", "inner")
    cand = cand.withColumn(
        "dist_km", haversine_km(F.col(lat_col), F.col(lon_col), F.col("c_lat"), F.col("c_lon"))
    )
    w = Window.partitionBy(point_id).orderBy(F.col("dist_km").asc(), F.col(centroid_id).asc())
    ranked = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("cell", "c_lat", "c_lon")
    )
    # ranked feeds BOTH the safety aggregate and the safe-hit anti-join;
    # without materialization the candidate join + window execute twice
    # (the round-2 bench regression). An eager localCheckpoint instead
    # of persist(): single traversal and MEMORY_AND_DISK storage, with
    # blocks released by the ContextCleaner when the returned frame is
    # dropped — repeated knn_join calls in one session no longer
    # accumulate session-lifetime cached partitions (ADVICE r3).
    # Bounded: <= k rows per point.
    # Fault-tolerance tradeoff (ADVICE r4): localCheckpoint TRUNCATES
    # lineage, so on a multi-executor cluster a lost executor makes
    # these blocks unrecoverable (persist would recompute them from
    # lineage), and it is unsafe under dynamic allocation (decommission
    # drops blocks). On clusters that need either guarantee, set
    # spark.checkpoint.dir and use reliable .checkpoint() here; the
    # GC-scoped local variant is the right default for the single-JVM
    # bench/driver environment this repo targets.
    ranked = ranked.localCheckpoint(eager=True)

    # ---- exactness margin: geodesic distance from the point to the
    # nearest edge of its ring window, conservatively min of the lat
    # margin and the lon margin at the worst latitude inside the window.
    # The window extends (rings+1)*cell_h above the point's latitude
    # (rings whole cells beyond its own cell's far edge), so the
    # worst-case latitude pad must track rings — not a fixed 2 cells.
    cell_h = 180.0 / (1 << res)
    window_h = rings * cell_h  # degrees of guaranteed lat slack
    worst_lat = F.least(
        F.abs(F.col(lat_col)) + F.lit((rings + 1.0) * cell_h), F.lit(89.999))
    lon_margin_km = (
        F.lit(2.0 * window_h * _KM_PER_DEG) * F.cos(F.radians(worst_lat)))
    margin_km = F.least(F.lit(window_h * _KM_PER_DEG), lon_margin_km)

    per_point = ranked.groupBy(point_id).agg(
        F.count("*").alias("_n"), F.max("dist_km").alias("_kth"))
    safety = per_point.withColumn(
        "_safe", (F.col("_n") >= F.least(F.lit(k), F.lit(n_cent))))
    pts_meta = points.select(point_id, lat_col).join(safety, point_id, "left")
    unsafe_ids = pts_meta.where(
        F.col("_safe").isNull() | ~F.col("_safe")
        | (F.col("_kth") >= margin_km)
    ).select(point_id)

    safe_hits = ranked.join(F.broadcast(unsafe_ids), point_id, "left_anti")

    unsafe_pts = points.join(F.broadcast(unsafe_ids), point_id, "left_semi")
    brute = unsafe_pts.crossJoin(F.broadcast(cent_b)).withColumn(
        "dist_km", haversine_km(F.col(lat_col), F.col(lon_col), F.col("c_lat"), F.col("c_lon")))
    brute_hits = (
        brute.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("c_lat", "c_lon")
    )
    out_cols = point_cols + [centroid_id, "dist_km", "rank"]
    return safe_hits.select(out_cols).unionByName(brute_hits.select(out_cols))


def knn_bruteforce(points: DataFrame, centroids: DataFrame, k: int = 3,
                   point_id: str = "point_id", centroid_id: str = "centroid_id",
                   lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Exact cross-join baseline (oracle twin / small inputs)."""
    c = centroids.select(
        F.col(centroid_id),
        F.col(lat_col).alias("c_lat"),
        F.col(lon_col).alias("c_lon"),
    )
    cand = points.crossJoin(F.broadcast(c)).withColumn(
        "dist_km", haversine_km(F.col(lat_col), F.col(lon_col), F.col("c_lat"), F.col("c_lon"))
    )
    w = Window.partitionBy(point_id).orderBy(F.col("dist_km").asc(), F.col(centroid_id).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k).drop("c_lat", "c_lon")
