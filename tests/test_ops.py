"""Tests for spatial ops: PIP joins (broadcast + salted shuffle), kNN
(cell-local == brute force), raster assignment, checkpoint resume."""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from openair_spark.index import quadkey
from openair_spark.index.pip import points_in_ring
from openair_spark.ops.checkpoint import run_partitioned, read_manifest
from openair_spark.ops.knn import knn_bruteforce, knn_join
from openair_spark.ops.pip import pip_join, pip_join_shuffle, polygon_cells_at_res
from openair_spark.ops.raster import assign_tiles, tiles_from_points, zonal_stats


def _ring(lon0, lat0, d):
    return [[lon0 - d, lat0 - d], [lon0 + d, lat0 - d], [lon0 + d, lat0 + d],
            [lon0 - d, lat0 + d], [lon0 - d, lat0 - d]]


POLYGONS = [
    {"polygon_id": "box-a", "ring": _ring(10.0, 50.0, 1.0)},
    {"polygon_id": "box-b", "ring": _ring(12.5, 50.0, 0.8)},
    {"polygon_id": "big-c", "ring": _ring(11.0, 49.0, 3.5)},
]


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(11)
    lon = rng.uniform(5.0, 18.0, 2000)
    lat = rng.uniform(44.0, 56.0, 2000)
    rows = [(f"p{i}", float(lat[i]), float(lon[i])) for i in range(len(lat))]
    return spark.createDataFrame(rows, "point_id string, lat double, lon double").cache()


def _expected_pairs(points_rows):
    out = set()
    for poly in POLYGONS:
        ring = np.asarray(poly["ring"])
        px = np.array([r["lon"] for r in points_rows])
        py = np.array([r["lat"] for r in points_rows])
        mask = points_in_ring(px, py, ring)
        for r, ok in zip(points_rows, mask):
            if ok:
                out.add((r["point_id"], poly["polygon_id"]))
    return out


def test_pip_join_broadcast_exact(points, spark):
    rows = points.collect()
    expected = _expected_pairs(rows)
    # a null-coordinate point gets no hit and raises nothing
    with_null = points.unionByName(
        spark.createDataFrame([("p-null", None, 10.0)], points.schema))
    got = {
        (r["point_id"], r["polygon_id"])
        for r in pip_join(with_null, POLYGONS).select("point_id", "polygon_id").collect()
    }
    assert got == expected
    assert len(got) > 0

    # no polygons: zero rows, same output columns
    empty = pip_join(points, [])
    assert empty.columns == points.columns + ["polygon_id"]
    assert empty.count() == 0
    # batches whose points hit no cover cell
    far = spark.createDataFrame([(f"far{i}", -40.0 - i, -60.0 + i) for i in range(8)],
                                points.schema)
    assert pip_join(far, POLYGONS).count() == 0

    # hits equal the ray cast of the points' doubles for a grid-aligned
    # ring with points on its edges, corners and cell boundaries (lat/lon
    # multiples of 180/2^9), and for decimal coordinates on a kite's edges
    step = 180.0 / 2 ** 9
    grid = ([(f"g{i}_{j}", (144 + j) * step, (30 + i) * step)
             for i in range(-6, 7) for j in range(-6, 7)],
            points.schema, _ring(30 * step, 144 * step, 4 * step))
    kite = ([(f"k{i}_{j}", Decimal(i) / 50, Decimal(j) / 20)
             for i in range(51) for j in range(21)],
            "point_id string, lat decimal(20,6), lon decimal(20,6)",
            [[0.0, 0.0], [0.5, 0.0], [0.5, 0.3], [0.0, 0.7], [0.0, 0.0]])
    for case_rows, schema, ring in (grid, kite):
        inside = points_in_ring(np.array([float(r[2]) for r in case_rows]),
                                np.array([float(r[1]) for r in case_rows]),
                                np.asarray(ring))
        got = {r["point_id"] for r in pip_join(
            spark.createDataFrame(case_rows, schema),
            [{"polygon_id": "case", "ring": ring}]).collect()}
        assert got == {r[0] for r, ok in zip(case_rows, inside) if ok}
        assert 0 < len(got) < len(case_rows)


def test_pip_join_shuffle_matches_broadcast(points, spark):
    rows = points.collect()
    expected = _expected_pairs(rows)
    polys_df = spark.createDataFrame(
        [(p["polygon_id"], p["ring"]) for p in POLYGONS],
        "polygon_id string, ring array<array<double>>")
    cells_df = polygon_cells_at_res(polys_df, res=7)
    got = {
        (r["point_id"], r["polygon_id"])
        for r in pip_join_shuffle(points, cells_df, salt=4, res=7)
        .select("point_id", "polygon_id").collect()
    }
    assert got == expected


def test_pip_join_auto_routes_to_shuffle(points, spark):
    """The unified pip_join API (round-4 verdict seam): an over-
    threshold polygon side must route to the salted shuffle plan — no
    driver-side ring materialization — and produce the identical hit
    set the broadcast plan produces on the same data."""
    from openair_spark.ops import pip as pip_mod

    polys_df = spark.createDataFrame(
        [(p["polygon_id"], p["ring"]) for p in POLYGONS],
        "polygon_id string, ring array<array<double>>")

    broadcast_hits = {
        (r["point_id"], r["polygon_id"])
        for r in pip_join(points, polys_df).select("point_id", "polygon_id").collect()
    }
    assert pip_mod.LAST_ROUTE == "broadcast"

    # 3 polygons x 4 edges = 12 edges; cap of 1 forces the shuffle route
    routed = pip_join(points, polys_df, max_broadcast_edges=1)
    assert pip_mod.LAST_ROUTE == "shuffle"
    shuffle_hits = {
        (r["point_id"], r["polygon_id"])
        for r in routed.select("point_id", "polygon_id").collect()
    }
    assert shuffle_hits == broadcast_hits and len(shuffle_hits) > 0
    # unified output columns regardless of route
    assert set(routed.columns) == {"point_id", "lat", "lon", "polygon_id"}


def test_broadcast_probe_plan_shape(points, spark):
    """The broadcast PIP route (list and DataFrame polygons) and
    assign_tiles each run as one MapInArrow over their input: no
    explode, no join operator."""
    polys_df = spark.createDataFrame(
        [(p["polygon_id"], p["ring"]) for p in POLYGONS],
        "polygon_id string, ring array<array<double>>")
    tiles = tiles_from_points(points.withColumn("value", F.lit(1.0)), res=8)
    for df in (pip_join(points, POLYGONS), pip_join(points, polys_df),
               assign_tiles(tiles, POLYGONS, res=8)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1, plan
        for op in ("Generate", "BroadcastHashJoin", "SortMergeJoin",
                   "ShuffledHashJoin", "NestedLoopJoin"):
            assert op not in plan, plan


def test_knn_cell_local_matches_bruteforce(points, spark):
    rng = np.random.default_rng(5)
    cents = [(f"c{i}", float(rng.uniform(45, 55)), float(rng.uniform(6, 17)))
             for i in range(40)]
    centroids = spark.createDataFrame(cents, "centroid_id string, lat double, lon double")
    # res such that 1-ring neighborhood >> k-th neighbor distance:
    # 40 centroids over ~12 deg -> res 4 cells are 22x11 deg
    approx = knn_join(points, centroids, k=3, res=4, rings=1)
    exact = knn_bruteforce(points, centroids, k=3)
    a = {(r["point_id"], r["rank"], r["centroid_id"]) for r in approx.collect()}
    b = {(r["point_id"], r["rank"], r["centroid_id"]) for r in exact.collect()}
    assert a == b


def test_auto_salt_detects_skew(spark):
    """A hot cell (many polygons piled on one cell) must raise the
    derived salt above 1; a uniform cell set must not."""
    from openair_spark.ops.pip import auto_salt

    skewed = [(0, f"hot{i}", "[]") for i in range(64)]
    skewed += [(c, f"cold{c}", "[]") for c in range(1, 40)]
    df = spark.createDataFrame(skewed, "cell long, polygon_id string, ring_json string")
    assert auto_salt(df) > 1

    uniform = [(c, f"p{c}", "[]") for c in range(40)]
    df_u = spark.createDataFrame(uniform, "cell long, polygon_id string, ring_json string")
    assert auto_salt(df_u) == 1


def test_knn_rings2_high_latitude_exact(spark):
    """Regression: the margin's worst-latitude pad must track rings —
    with rings=2 a fixed 2-cell pad overestimated cos(worst_lat), let
    high-latitude points skip the brute-force fallback, and missed true
    neighbors across the lon-shrunken window."""
    rng = np.random.default_rng(23)
    cents = [(f"c{i}", float(rng.uniform(78, 86)), float(rng.uniform(-40, 40)))
             for i in range(60)]
    centroids = spark.createDataFrame(cents, "centroid_id string, lat double, lon double")
    pts = [(f"p{i}", float(rng.uniform(79, 85)), float(rng.uniform(-35, 35)))
           for i in range(300)]
    points = spark.createDataFrame(pts, "point_id string, lat double, lon double")
    approx = knn_join(points, centroids, k=3, res=5, rings=2)
    exact = knn_bruteforce(points, centroids, k=3)
    a = {(r["point_id"], r["rank"], r["centroid_id"]) for r in approx.collect()}
    b = {(r["point_id"], r["rank"], r["centroid_id"]) for r in exact.collect()}
    assert a == b


def test_raster_assignment_and_zonal(points, spark):
    pts = points.withColumn("value", F.col("lat") + F.col("lon"))
    tiles = tiles_from_points(pts, res=8, value_col="value").cache()
    # a tile whose resolution bits say 9 gets no polygon, though its
    # (nx, ny) would be a res-8 tile inside box-a
    other_res = spark.createDataFrame(
        [(int(quadkey.cell_id(50.0, 10.0, 8)) + (1 << 54), 1.0, 1.0, 1)], tiles.schema)
    assigned = assign_tiles(tiles.unionByName(other_res), POLYGONS, res=8)
    got = {(r["tile"], r["polygon_id"])
           for r in assigned.select("tile", "polygon_id").collect()}
    # exactly the center-point rule
    tile_ids = np.array([r["tile"] for r in tiles.select("tile").collect()])
    west, south, east, north = quadkey.cell_bounds(tile_ids)
    cx, cy = (west + east) / 2, (south + north) / 2
    expected = {(int(t), p["polygon_id"]) for p in POLYGONS
                for t in tile_ids[points_in_ring(cx, cy, np.asarray(p["ring"]))]}
    assert got == expected and len(got) > 0
    assert assigned.columns == tiles.columns + ["polygon_id"]
    empty = assign_tiles(tiles, [], res=8)
    assert empty.columns == assigned.columns and empty.count() == 0
    stats = zonal_stats(assigned).collect()
    assert {r["polygon_id"] for r in stats} <= {p["polygon_id"] for p in POLYGONS}
    assert all(r["n_tiles"] > 0 for r in stats)


def test_checkpoint_resume(spark, tmp_path):
    out_root = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    calls = []

    def build(pid):
        calls.append(pid)
        df = spark.range(100).withColumn("partition", F.lit(pid))
        return df, 100

    r1 = run_partitioned(spark, ["a", "b"], build, out_root, manifest)
    assert r1["processed"] == ["a", "b"]
    r2 = run_partitioned(spark, ["a", "b", "c"], build, out_root, manifest)
    assert r2["skipped"] == ["a", "b"] and r2["processed"] == ["c"]
    assert calls == ["a", "b", "c"]  # a, b not re-built on resume
    m = read_manifest(spark, manifest)
    rows = {r["partition_id"]: r for r in m.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all(r["status"] == "done" and r["output_rows"] == 100 for r in rows.values())


def test_mega_polygon_skew_split_and_pip(spark):
    """Skew handling (north rule): one FIR-sized polygon is split by the
    compact cover into many bounded cells (coarse FULL interior +
    fine PARTIAL boundary), and the PIP join stays correct for points
    inside, on the far interior, and outside."""
    import numpy as np

    from openair_spark.index.cover import compact_cover
    from openair_spark.ops.pip import pip_join

    fir = [[-10.0, 35.0], [25.0, 36.0], [24.0, 64.0], [-9.0, 63.0], [-10.0, 35.0]]
    small = [[5.001, 50.001], [5.4, 50.002], [5.4, 50.4], [5.002, 50.41], [5.001, 50.001]]
    cells = compact_cover(np.asarray(fir), min_res=5, max_res=9)
    full = [c for c, f in cells if f]
    assert len(full) > 3, "FIR interior must produce coarse FULL cells"
    assert len(cells) < 4096

    pts = spark.createDataFrame(
        [("deep-inside", 50.0, 5.0), ("in-both", 50.2, 5.2),
         ("outside", 20.0, 5.0), ("west-of-fir", 50.0, -15.0)],
        "point_id string, lat double, lon double")
    hits = {(r["point_id"], r["polygon_id"])
            for r in pip_join(pts, [{"polygon_id": "fir", "ring": fir},
                                    {"polygon_id": "small", "ring": small}]).collect()}
    assert hits == {("deep-inside", "fir"), ("in-both", "fir"), ("in-both", "small")}


def test_setup_ring_set_flat_edges(spark):
    """The broadcast route's setup pass (_polygon_setup edge rows ->
    _split_setup -> RingSet.from_edges) builds the same CSR edge arrays
    as the nested-list constructor, and tolerates an empty polygon set."""
    import numpy as np

    from openair_spark.index.pip import RingSet
    from openair_spark.ops.pip import _polygon_setup, _split_setup

    polys = [(pid, [[float(i), float(i)] for i in range(n)] + [[0.0, 0.0]])
             for pid, n in (("a", 4), ("b", 6), ("c", 3))]
    df = spark.createDataFrame(polys, "polygon_id string, ring array<array<double>>")
    flat, _ = _split_setup(_polygon_setup(df, 7, 9).toPandas())
    ref = RingSet({pid: np.asarray(ring) for pid, ring in polys})
    for pid in ("a", "b", "c"):
        i, j = flat.idx_of[pid], ref.idx_of[pid]
        assert flat.lens[i] == ref.lens[j]
        sl_f = slice(flat.starts[i], flat.starts[i] + flat.lens[i])
        sl_r = slice(ref.starts[j], ref.starts[j] + ref.lens[j])
        for attr in ("x1", "y1", "x2", "y2"):
            assert (getattr(flat, attr)[sl_f] == getattr(ref, attr)[sl_r]).all()

    empty = spark.createDataFrame([], "polygon_id string, ring array<array<double>>")
    rs, index_pdf = _split_setup(_polygon_setup(empty, 7, 9).toPandas())
    assert rs.ids == [] and len(rs.x1) == 0 and len(index_pdf) == 0


def test_tile_kernel_matches_compact_cover():
    """polygon_tiles' batch function, driven without Spark: a None ring
    and a ring of fewer than 4 points are skipped; every other
    (url, airspace_idx) gets exactly compact_cover's (cell, is_full)
    set, `res` is each cell's own resolution and h3_res clamps it to
    the H3 band 5-9."""
    import pandas as pd

    from openair_spark.index.cover import compact_cover
    from openair_spark.ops.tiling import _tile_kernel

    rows = [("u0", 0, _ring(10.0, 50.0, 1.0)),
            ("u1", 0, None),
            ("u1", 1, [[0.0, 0.0], [1.0, 0.0], [0.0, 0.0]]),
            # contains the res-4 cell [0, 22.5] x [0, 11.25]: FULL at res 4
            ("u2", 0, _ring(11.25, 5.6, 12.0)),
            ("u2", 1, [[5.0, 40.0], [6.5, 40.2], [5.4, 41.0], [5.0, 40.0]])]
    pdf = pd.DataFrame(rows, columns=["url", "airspace_idx", "ring"])
    out = pd.concat(list(_tile_kernel(iter([pdf]), 4, 10)), ignore_index=True)

    got: dict = {}
    for r in out.itertuples():
        got.setdefault((r.url, int(r.airspace_idx)), set()).add(
            (int(r.cell), bool(r.is_full)))
    want = {(url, idx): {(int(c), bool(f))
                         for c, f in compact_cover(np.asarray(ring), 4, 10)}
            for url, idx, ring in rows if ring is not None and len(ring) >= 4}
    assert got == want
    res = out["res"].to_numpy()
    assert (res == out["cell"].to_numpy() >> quadkey._RES_SHIFT).all()
    assert (out["h3_res"].to_numpy() == np.clip(res, 5, 9)).all()
    assert {4, 10} <= set(res.tolist())  # both clamp sides exercised


def test_h3_cover_antimeridian_superset():
    """A lon-coherent ring straddling ±180 (179.5..180.5): every point
    inside must be covered — exercises the per-cell unwrap-toward-ring
    path in the classifier (cells near the seam decode to wrapped
    longitudes)."""
    import numpy as np

    from openair_spark.index import h3
    from openair_spark.ops.h3tiles import h3_cover

    ring = np.array([[179.5, -10.0], [180.5, -10.0], [180.5, -9.2],
                     [179.5, -9.2], [179.5, -10.0]])
    cover = h3_cover(ring, min_res=5, max_res=7)
    assert len(cover) > 0
    by_res: dict = {}
    for cell, res, _ in cover:
        by_res.setdefault(int(res), set()).add(int(cell))
    rng = np.random.default_rng(4)
    lons = rng.uniform(179.55, 180.45, 250)
    lats = rng.uniform(-9.95, -9.25, 250)
    max_res = max(by_res)
    for lo, la in zip(lons, lats):
        lo_wrapped = lo - 360.0 if lo > 180.0 else lo  # canonical form
        leaf = int(h3.latlng_to_cell(la, lo_wrapped, max_res))
        assert any(h3.cell_to_parent(leaf, res) in cells
                   for res, cells in by_res.items()), (lo, la)


def test_s2_cover_antimeridian_superset():
    """Same ±180-straddling ring through the S2 cover: membership is
    exact id-range containment of the point's level-30 leaf."""
    import numpy as np

    from openair_spark.index import s2
    from openair_spark.ops.s2tiles import s2_cover

    ring = np.array([[179.5, -10.0], [180.5, -10.0], [180.5, -9.2],
                     [179.5, -9.2], [179.5, -10.0]])
    cover = s2_cover(ring, max_level=9)
    assert len(cover) > 0
    cells = np.array([c for c, _, _ in cover], dtype=np.int64).astype(np.uint64)
    lo_r, hi_r = s2.range_min_max_arrays(cells)
    rng = np.random.default_rng(4)
    lons = rng.uniform(179.55, 180.45, 250)
    lats = rng.uniform(-9.95, -9.25, 250)
    lons = np.where(lons > 180.0, lons - 360.0, lons)
    leafs = np.asarray(s2.cell_id(lats, lons, s2.MAX_LEVEL),
                       dtype=np.int64).astype(np.uint64)
    for leaf in leafs:
        assert bool(((lo_r <= leaf) & (leaf <= hi_r)).any())


def test_cover_batch_per_ring_caps():
    """max_cells is per ring inside a batch group: a continent-sized
    ring sharing a group with a tiny ring must cap (partial leaves at a
    coarse res, cover stays a superset of sampled interior points)
    without affecting the tiny ring's exact cover."""
    import numpy as np

    from openair_spark.index import h3
    from openair_spark.ops.h3tiles import h3_cover, h3_cover_batch
    from openair_spark.ops.s2tiles import s2_cover, s2_cover_batch

    mega = np.array([[-10.0, 35.0], [25.0, 35.0], [25.0, 64.0],
                     [-10.0, 64.0], [-10.0, 35.0]])
    tiny = np.array([[10.0, 50.0], [10.2, 50.0], [10.2, 50.2],
                     [10.0, 50.2], [10.0, 50.0]])
    cap = 600
    mega_c, tiny_c = h3_cover_batch([mega, tiny], 5, 9, max_cells=cap)
    assert len(mega_c) <= cap + 16384  # capped (children of last level)
    assert len(tiny_c) > 0
    # tiny ring unaffected by its capped neighbor
    alone = h3_cover(tiny, 5, 9, max_cells=cap)
    assert set(map(tuple, alone.tolist())) == set(map(tuple, tiny_c.tolist()))
    # mega cover superset at sampled interior points despite the cap
    by_res: dict = {}
    for cell, res, _ in mega_c:
        by_res.setdefault(int(res), set()).add(int(cell))
    rng = np.random.default_rng(8)
    for lo, la in zip(rng.uniform(-9, 24, 150), rng.uniform(36, 63, 150)):
        leaf = int(h3.latlng_to_cell(la, lo, max(by_res)))
        assert any(h3.cell_to_parent(leaf, r) in cells
                   for r, cells in by_res.items()), (lo, la)

    mega_s, tiny_s = s2_cover_batch([mega, tiny], max_level=10, max_cells=cap)
    alone_s = s2_cover(tiny, max_level=10, max_cells=cap)
    assert sorted(tiny_s) == sorted(alone_s)
    from openair_spark.index import s2 as s2i
    cells_u = np.array([c for c, _, _ in mega_s], dtype=np.int64).astype(np.uint64)
    lo_r, hi_r = s2i.range_min_max_arrays(cells_u)
    for lo, la in zip(rng.uniform(-9, 24, 150), rng.uniform(36, 63, 150)):
        leaf = np.uint64(np.int64(s2i.cell_id(la, lo, s2i.MAX_LEVEL)))
        assert bool(((lo_r <= leaf) & (leaf <= hi_r)).any()), (lo, la)
