"""Correctness checks, each independent of the code it checks.

Every check returns (name, ok, detail). The ground truth comes from the
generator (extraction), from the in-process parse kernel (the Spark
parse), from the index cell functions rather than the cover code (the
covers), from a numpy even-odd ray cast and a haversine brute force
written here (PIP and kNN), and from pinned.json (row counts and
digests for the default seed).
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from openair_spark.core.config import ParserConfig
from openair_spark.core.parser import parse_text
from openair_spark.index import h3, s2
from openair_spark.spark.extract import extract_openair

EARTH_RADIUS_KM = 6371.0088
SAMPLE = 24


def sample(items, n: int, seed: int) -> list:
    items = sorted(items)
    return random.Random(seed).sample(items, min(n, len(items)))


def extraction(pages, truth: dict) -> tuple:
    got = {r["url"]: r["openair_text"]
           for r in extract_openair(pages).select("url", "openair_text").collect()}
    missing = sorted(set(truth) - set(got))
    extra = sorted(set(got) - set(truth))
    differ = [u for u in truth if u in got and got[u] != truth[u]]
    ok = not (missing or extra or differ)
    return ("extract.byte_identical", ok,
            f"{len(truth)} payload urls; missing {len(missing)}, extra {len(extra)}, "
            f"differing {len(differ)}")


def parse_sample(features, truth: dict, seed: int) -> tuple:
    urls = sample(truth, SAMPLE, seed)
    rows = (features.where(F.col("url").isin(urls))
            .select("url", "airspace_idx", "success", "error", "name", "class",
                    "type", "ring").collect())
    by_url: dict = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    config = ParserConfig.default()
    bad = []
    for url in urls:
        want = parse_text(truth[url], config, id_seed=url)
        got = sorted(by_url.get(url, []), key=lambda r: r["airspace_idx"])
        if not want.success:
            same = (len(got) == 1 and not got[0]["success"]
                    and got[0]["error"] == want.error_message)
        else:
            feats = want.geojson["features"]
            same = len(got) == len(feats) and all(
                g["success"] and g["name"] == f["properties"]["name"]
                and g["class"] == f["properties"]["class"]
                and g["type"] == f["properties"].get("type")
                and [list(p) for p in g["ring"]] == [
                    [float(c) for c in p] for p in f["geometry"]["coordinates"][0]]
                for g, f in zip(got, feats))
        if not same:
            bad.append(url)
    return ("parse.spark_equals_kernel", not bad,
            f"{len(urls)} sampled urls; {len(bad)} differ {bad[:3]}")


def _vertices(ring) -> np.ndarray:
    return np.asarray(ring, dtype=np.float64)[:-1]


def _quadkey_contains(cell: int, lon: float, lat: float) -> bool:
    """Closed-box test from the documented id layout
    id = res * 2^54 + ny * 2^27 + nx."""
    res, ny, nx = cell >> 54, (cell >> 27) & ((1 << 27) - 1), cell & ((1 << 27) - 1)
    n = 1 << res
    return (nx / n * 360.0 - 180.0 <= lon <= (nx + 1) / n * 360.0 - 180.0
            and ny / n * 180.0 - 90.0 <= lat <= (ny + 1) / n * 180.0 - 90.0)


def quadkey_covers(tiles, features, seed: int) -> list:
    polys = {(r["url"], r["airspace_idx"]): r["ring"] for r in
             features.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
             .select("url", "airspace_idx", "ring").collect()}
    covered = {(r["url"], r["airspace_idx"]) for r in
               tiles.select("url", "airspace_idx").distinct().collect()}
    empty = [k for k in polys if k not in covered]
    keys = sample(polys, SAMPLE, seed)
    url_set = sorted({u for u, _ in keys})
    cells: dict = {}
    for r in tiles.where(F.col("url").isin(url_set)).select(
            "url", "airspace_idx", "cell").collect():
        cells.setdefault((r["url"], r["airspace_idx"]), []).append(int(r["cell"]))
    outside = 0
    for key in keys:
        for lon, lat in _vertices(polys[key]):
            outside += not any(_quadkey_contains(c, lon, lat) for c in cells.get(key, []))
    return [("cover.quadkey_nonempty", not empty,
             f"{len(polys)} polygons; {len(empty)} without a cell"),
            ("cover.quadkey_vertices_inside", outside == 0,
             f"{len(keys)} sampled polygons; {outside} vertices outside their cover")]


def h3_s2_covers(features, outputs: dict, n_polygons: int, sample_urls) -> list:
    """`outputs` are the cover job's results; each carries the cells of
    the polygons of `sample_urls`, returned by the job's own action."""
    out = [(f"cover.{name}_nonempty", res["polygons_covered"] == n_polygons,
            f"{n_polygons} polygons; {res['polygons_covered']} with a cell")
           for name, res in sorted(outputs.items())]
    rings = {(r["url"], r["airspace_idx"]): r["ring"] for r in
             features.where(F.col("success") & (F.col("geometry_type") == "Polygon")
                            & F.col("url").isin(list(sample_urls)))
             .select("url", "airspace_idx", "ring").collect()}
    h3c: dict = {}
    for url, idx, cell in outputs["h3"]["sample"]:
        h3c.setdefault((url, idx), set()).add(int(cell))
    s2r: dict = {}
    for url, idx, cell in outputs["s2"]["sample"]:
        s2r.setdefault((url, idx), []).append(
            s2.range_min_max(int(cell) & 0xFFFFFFFFFFFFFFFF))
    h3_out = s2_out = 0
    for key, ring in rings.items():
        verts = _vertices(ring)
        leaf9 = h3.latlng_to_cell(verts[:, 1], verts[:, 0], 9)
        leaf30 = s2.cell_id(verts[:, 1], verts[:, 0], 30)
        for c9, leaf in zip(np.atleast_1d(leaf9), np.atleast_1d(leaf30)):
            ancestors = {h3.cell_to_parent(int(c9), r) for r in range(5, 10)}
            h3_out += not (ancestors & h3c.get(key, set()))
            leaf = int(leaf) & 0xFFFFFFFFFFFFFFFF
            s2_out += not any(lo <= leaf <= hi for lo, hi in s2r.get(key, []))
    return out + [
        ("cover.h3_vertices_inside", h3_out == 0,
         f"{len(rings)} sampled polygons; {h3_out} vertices outside their cover"),
        ("cover.s2_vertices_inside", s2_out == 0,
         f"{len(rings)} sampled polygons; {s2_out} vertices outside their cover")]


def ray_cast(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Even-odd rule, half-open in y: an edge counts when it spans the
    point's latitude and crosses east of the point."""
    r = np.asarray(ring, dtype=np.float64)
    x1, y1, x2, y2 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    y = py[:, None]
    spans = ((y1 <= y) & (y < y2)) | ((y2 <= y) & (y < y1))
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    return (np.count_nonzero(spans & (px[:, None] < x_at), axis=1) % 2) == 1


def haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.sin(np.radians(lon2 - lon1) / 2) ** 2 * np.cos(p1) * np.cos(p2))
    return 2 * EARTH_RADIUS_KM * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


def sample_points(points_dir: str, ids) -> tuple:
    """(point_id, lon, lat) of the sampled points, read from the input
    files directly rather than through the engine."""
    import pyarrow.dataset as ds

    t = ds.dataset(points_dir, format="parquet").to_table(
        filter=ds.field("point_id").isin(list(ids)))
    order = np.argsort(t.column("point_id").to_numpy())
    return tuple(t.column(c).to_numpy()[order] for c in ("point_id", "lon", "lat"))


def pip_hits(pip_out: dict, polygons, points: tuple) -> tuple:
    """The job's hits for the sampled points against a ray cast over
    every polygon."""
    pid, px, py = points
    want = set()
    for r in polygons.collect():
        for i in np.flatnonzero(ray_cast(px, py, r["ring"])):
            want.add((int(pid[i]), r["polygon_id"]))
    got = {(int(p), poly) for p, poly in pip_out["sample"]}
    return ("pip.equals_ray_cast", got == want,
            f"{len(pid)} sampled points, {len(want)} expected hits; "
            f"{len(want - got)} missing, {len(got - want)} extra")


def knn_top3(knn_out: dict, centroids, points: tuple) -> tuple:
    """The job's 3 nearest centroids of the sampled points against a
    haversine brute force over every centroid (ties by centroid id)."""
    pid, px, py = points
    cents = centroids.toPandas().sort_values("centroid_id", kind="stable")
    cid = cents["centroid_id"].to_numpy()
    clat, clon = cents["lat"].to_numpy(), cents["lon"].to_numpy()
    got: dict = {}
    for p, _rank, c, d in knn_out["sample"]:
        got.setdefault(int(p), []).append((c, d))
    bad = 0
    for i, p in enumerate(pid):
        d = haversine_km(py[i], px[i], clat, clon)
        order = np.lexsort((cid, d))
        mine = got.get(int(p), [])
        if [c for c, _ in mine] == list(cid[order[:3]]):
            continue
        # a distance tie at float precision may order either way
        bad += not (len(mine) == 3 and all(
            abs(gd - wd) < 1e-9 for (_, gd), wd in zip(mine, d[order[:3]])))
    return ("knn.equals_brute_force", bad == 0,
            f"{len(pid)} sampled points x {len(cid)} centroids; {bad} differ")


def pinned(name: str, outputs: dict, expected: dict | None) -> tuple:
    """Row counts and digests of the default seed, from pinned.json."""
    if expected is None:
        return (f"pinned.{name}", False, "no pinned outputs for this workload")
    diff = {}
    for out, want in expected.items():
        got = {k: outputs.get(out, {}).get(k) for k in want}
        if got != want:
            diff[out] = {"got": got, "pinned": want}
    return (f"pinned.{name}", not diff, f"differences: {diff}" if diff else "equal")


def repeatable(results: list) -> tuple:
    differ = sum(r != results[0] for r in results[1:])
    return ("job.repeatable", differ == 0,
            f"{len(results)} job runs; {differ} differ from the first")
