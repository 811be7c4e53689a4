"""Broadcast point-in-polygon join (north rule).

Plan shape (for 10^12 points x ~10^5 polygons):

  polygons --one set-up pass--> cell-sorted quadkey cover index
      (cell, polygon_idx, is_full, bbox) + RingSet   [small: broadcast]
  points   --one mapInArrow--> per Arrow batch: the point's cell at each
      cover resolution, searchsorted into the index, inclusive bbox
      prefilter, FULL cells pass untested, PARTIAL ones are ray-cast
                                                     [NO join, NO shuffle]

Skew: a broadcast probe has no shuffle skew, but a hot *cell* (dense
megacity airspace) still concentrates exact-PIP work in whichever tasks
scan those points. Because candidate work is per-point-row and the scan
partitioning is independent of cell, hot cells are already spread across
input partitions — the residual skew knob is `salt` for the shuffle-join
variant (`pip_join_shuffle`), which repartitions by (cell, salt) with
the polygon side replicated per salt. Mega-polygons are split by the
compact cover itself (bounded cells per row).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..index import quadkey
from ..index.cover import RingBatch, cover_flat
from ..index.pip import RingSet, points_in_ring

# Cover band for the PIP probe index. min 7 (not the tile mandate's 5):
# every cover resolution the index USES adds one cell lookup PER POINT,
# so a few coarse res-5/6 FULL cells taxed every point with two extra
# probes (10M instead of 6M for 2M points on the bench corpus). At min 7
# polygon interiors compact to res-7 FULL cells instead — same is_full
# ray-cast skip — up to the per-ring cell cap;
# measured: identical index size at the 10x corpus (401,112 vs 401,116
# rows), small consistent win at sf0.1. Hit sets identical either way —
# the cover res band is an internal knob of the candidate probe, not
# part of the result.
MIN_RES = 7
MAX_RES = 9


def _ring_arrays(rings) -> list:
    """Arrow ring cells (arrays of [lon, lat] arrays) -> (n, 2) float64."""
    return [np.asarray([list(p) for p in ring], dtype=np.float64)
            for ring in rings]


def _cover_rows(ids, rings: list, min_res: int,
                max_res: int) -> tuple[RingBatch, pd.DataFrame]:
    """Quadkey cover of every ring as cell-index columns (owner, cell,
    polygon_id, is_full, west, south, east, north): the flat cover_flat
    arrays plus one take per column for the owner ring's id and bbox.
    Also returns the RingBatch, whose RingSet holds the ring edges."""
    rb = RingBatch(rings)
    owner, cell, is_full = cover_flat(rb, min_res, max_res)
    bbox = rb.bbox[owner]
    return rb, pd.DataFrame({
        "owner": owner, "cell": cell,
        "polygon_id": np.asarray(ids, dtype=object)[owner],
        "is_full": is_full,
        "west": bbox[:, 0], "south": bbox[:, 1],
        "east": bbox[:, 2], "north": bbox[:, 3],
    })


_SETUP_SCHEMA = ("polygon_id string, kind int, a long, b int, "
                 "x1 double, y1 double, x2 double, y2 double")


def _setup_rows(pdf: pd.DataFrame, min_res: int, max_res: int) -> pd.DataFrame:
    """polygons (polygon_id, ring) -> the broadcast route's set-up rows:
    cover index rows (kind=0: a=cell, b=is_full, x1..y2=bbox) and ring
    edge rows (kind=1: a=edge_idx, x1,y1,x2,y2=edge)."""
    ids = pdf["polygon_id"].to_numpy(dtype=object)
    rb, cov = _cover_rows(ids, _ring_arrays(pdf["ring"]), min_res, max_res)
    rs = rb.rs
    eowner = np.repeat(np.arange(len(ids)), rs.lens)
    return pd.DataFrame({
        "polygon_id": np.concatenate([cov["polygon_id"].to_numpy(),
                                      ids[eowner]]),
        "kind": np.repeat(np.int32([0, 1]), [len(cov), len(eowner)]),
        "a": np.concatenate([cov["cell"].to_numpy(),
                             np.arange(len(eowner)) - rs.starts[eowner]]),
        "b": np.concatenate([cov["is_full"].to_numpy(dtype=np.int32),
                             np.zeros(len(eowner), dtype=np.int32)]),
        "x1": np.concatenate([cov["west"].to_numpy(), rs.x1]),
        "y1": np.concatenate([cov["south"].to_numpy(), rs.y1]),
        "x2": np.concatenate([cov["east"].to_numpy(), rs.x2]),
        "y2": np.concatenate([cov["north"].to_numpy(), rs.y2]),
    })


def _polygon_setup(polygons: DataFrame, min_res: int, max_res: int) -> DataFrame:
    """_setup_rows as one executor pass over the persisted polygon side:
    one scan yields both the cover index and the ring edges."""
    return polygons.select("polygon_id", "ring").mapInPandas(
        lambda batches: (_setup_rows(pdf, min_res, max_res) for pdf in batches),
        _SETUP_SCHEMA)


def _split_setup(pdf: pd.DataFrame) -> tuple[RingSet, pd.DataFrame]:
    """Driver-side split of the set-up rows into the RingSet of the edge
    rows and the cover index frame (cell, polygon_idx, is_full, west,
    south, east, north), sorted by cell."""
    edges = pdf[pdf["kind"] == 1].sort_values(["polygon_id", "a"],
                                               kind="stable")
    rs = RingSet.from_edges(
        edges["polygon_id"].to_numpy(),
        *(edges[c].to_numpy(dtype=np.float64) for c in ("x1", "y1", "x2", "y2")))
    cov = pdf[pdf["kind"] == 0].sort_values("a", kind="stable")
    index_pdf = pd.DataFrame({
        "cell": cov["a"].to_numpy(dtype=np.int64),
        "polygon_idx": cov["polygon_id"].map(rs.idx_of).to_numpy(
            dtype=np.int32) if len(cov) else np.empty(0, dtype=np.int32),
        "is_full": cov["b"].to_numpy(dtype=bool),
        "west": cov["x1"].to_numpy(), "south": cov["y1"].to_numpy(),
        "east": cov["x2"].to_numpy(), "north": cov["y2"].to_numpy(),
    })
    return rs, index_pdf


def _broadcast_probe(points: DataFrame, polygons, lon_col: str, lat_col: str,
                     min_res: int, max_res: int) -> DataFrame:
    """points rows + polygon_id for every (point, polygon) containment
    pair, as one mapInArrow over `points` (no join, no explode).

    polygons: a DataFrame(polygon_id, ring) or a driver-side list
    [{'polygon_id', 'ring'}]; either runs the same set-up kernel, then
    the cell-sorted cover index and the RingSet travel in one broadcast.
    Per Arrow batch the kernel computes each point's cell at every
    resolution the index uses, finds the cover entries of that cell with
    two searchsorted calls, keeps the (point, entry) pairs inside the
    polygon's inclusive bbox, passes FULL-cell pairs untested and
    ray-casts the PARTIAL ones. Null or NaN coordinates fail the bbox
    test, so such points get no hit."""
    if isinstance(polygons, DataFrame):
        setup = _polygon_setup(polygons, min_res, max_res).toPandas()
    else:
        setup = _setup_rows(pd.DataFrame({
            "polygon_id": [p["polygon_id"] for p in polygons],
            "ring": [p["ring"] for p in polygons]}), min_res, max_res)
    rs, index = _split_setup(setup)
    cells = index["cell"].to_numpy()
    # probe only the resolutions the cover uses: small polygons put
    # every cover leaf at max_res
    resolutions = np.unique(cells >> quadkey._RES_SHIFT).tolist() or [min_res]
    index_b = points.sparkSession.sparkContext.broadcast((
        cells, index["polygon_idx"].to_numpy(), index["is_full"].to_numpy(),
        index[["west", "south", "east", "north"]].to_numpy(), rs))
    lon_i = points.columns.index(lon_col)
    lat_i = points.columns.index(lat_col)

    def probe_kernel(batches):
        import pyarrow as pa

        cells, pidx, is_full, bbox, rs = index_b.value
        ids = pa.array(rs.ids, pa.string())
        for batch in batches:
            # via numpy, not an Arrow cast: Arrow's decimal -> float64
            # cast is not correctly rounded; nulls become NaN
            lon, lat = (np.asarray(batch.column(i).to_numpy(zero_copy_only=False),
                                   dtype=np.float64) for i in (lon_i, lat_i))
            # NaN coordinates cast to an arbitrary cell; the bbox test
            # below drops them
            with np.errstate(invalid="ignore"):
                q = np.stack([quadkey.cell_id(lat, lon, r) for r in resolutions],
                             axis=1).ravel()
            lo = np.searchsorted(cells, q, "left")
            cnt = np.searchsorted(cells, q, "right") - lo
            row = np.repeat(np.arange(batch.num_rows).repeat(len(resolutions)), cnt)
            ent = np.arange(cnt.sum()) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
            x, y, b = lon[row], lat[row], bbox[ent]
            keep = (x >= b[:, 0]) & (x <= b[:, 2]) & (y >= b[:, 1]) & (y <= b[:, 3])
            row, ent, x, y = row[keep], ent[keep], x[keep], y[keep]
            keep = is_full[ent]
            part = np.flatnonzero(~keep)
            keep[part] = rs.contains(x[part], y[part], pidx[ent[part]])
            out = batch.take(pa.array(row[keep]))
            yield pa.RecordBatch.from_arrays(
                [*out.columns, ids.take(pa.array(pidx[ent[keep]]))],
                names=[*out.schema.names, "polygon_id"])

    return points.mapInArrow(probe_kernel, StructType(
        points.schema.fields + [StructField("polygon_id", StringType())]))


# routing decision of the most recent pip_join call ("broadcast" |
# "shuffle") — introspection hook for tests and ops debugging
LAST_ROUTE: str | None = None

# Broadcast cap for the polygon side, in total ring edges. Each edge
# costs ~32 B in the RingSet broadcast (4 float64) plus cover-index
# rows; 4M edges ~ 128 MB broadcast — roughly Spark's own 8G-executor
# comfort zone for autoBroadcastJoinThreshold-style decisions. Beyond
# it, pip_join auto-routes to the salted shuffle variant instead of
# OOMing the driver on the ring set (the round-4 100x-scale seam).
DEFAULT_MAX_BROADCAST_EDGES = 4_000_000


def pip_join(points: DataFrame, polygons, lat_col: str = "lat", lon_col: str = "lon",
             min_res: int = MIN_RES, max_res: int = MAX_RES,
             max_broadcast_edges: int = DEFAULT_MAX_BROADCAST_EDGES) -> DataFrame:
    """PIP join: returns points columns + polygon_id for every
    (point, polygon) containment pair.

    polygons: either a DataFrame(polygon_id string, ring array<array<double>>)
    or a driver-side list [{'polygon_id', 'ring'}] for small sets.

    Routing: a DataFrame polygon side is sized first (one cheap edge-sum
    aggregate that also fills the persist). At or under
    `max_broadcast_edges` total edges the broadcast probe runs (cover
    computed executor-side, index and rings travel once as a broadcast
    variable, NO shuffle); above it the salted shuffle plan
    (`pip_join_shuffle`) runs instead — the polygon side never
    materializes on the driver. Both produce identical (point,
    polygon_id) hit sets."""
    global LAST_ROUTE
    if not isinstance(polygons, DataFrame):
        LAST_ROUTE = "broadcast"
        return _broadcast_probe(points, polygons, lon_col, lat_col,
                                min_res, max_res)

    # Materialize the polygon side ONCE. The upstream plan may be an
    # expensive Arrow parse (pages -> features); without a persist, the
    # sizing aggregate and the set-up pass would each re-execute it.
    polys_persisted = polygons.select("polygon_id", "ring").persist()
    n_edges = polys_persisted.agg(
        F.sum(F.size("ring") - 1).alias("e")).collect()[0]["e"] or 0
    if n_edges > max_broadcast_edges:
        LAST_ROUTE = "shuffle"
        cells = polygon_cells_at_res(polys_persisted, res=7)
        # polygon_cells feeds two actions (auto_salt + the join);
        # GC-scoped materialization, then release the input persist
        cells = cells.localCheckpoint(eager=True)
        polys_persisted.unpersist()
        hits = pip_join_shuffle(points, cells, lat_col=lat_col,
                                lon_col=lon_col, res=7)
        return hits.drop("cell")
    LAST_ROUTE = "broadcast"
    # the set-up pass runs eagerly, so the persist can go right after
    hits = _broadcast_probe(points, polys_persisted, lon_col, lat_col,
                            min_res, max_res)
    polys_persisted.unpersist()
    return hits


def polygon_cells_at_res(polygons: DataFrame, res: int = 7) -> DataFrame:
    """Executor-parallel shuffle-join input: polygons(polygon_id, ring)
    -> (cell, polygon_id, is_full, west..north bbox, ring_json) with one
    row per covering cell at the fixed resolution (the quadkey cover
    pinned to min=max=res yields every intersecting cell). The ring travels as
    JSON so the shuffle variant can evaluate the exact test without any
    driver-side or broadcast ring materialization; is_full and the bbox
    let pip_join_shuffle skip the exact test for interior cells and
    prefilter candidates JVM-side (round 6 — the shuffle route
    previously ray-cast every cell-sharing candidate)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rings = _ring_arrays(pdf["ring"])
            _, rows = _cover_rows(pdf["polygon_id"], rings, res, res)
            ring_json = np.asarray([json.dumps(r.tolist()) for r in rings],
                                   dtype=object)
            rows["ring_json"] = ring_json[rows.pop("owner").to_numpy()]
            yield rows

    return polygons.select("polygon_id", "ring").mapInPandas(
        kernel, "cell long, polygon_id string, is_full boolean, "
                "west double, south double, east double, north double, "
                "ring_json string")


def auto_salt(polygon_cells: DataFrame, cap: int = 32) -> int:
    """Derive the shuffle-salt count from the cell histogram instead of
    guessing: a (cell, salt) reducer's work scales with the polygons
    sharing its cell, so the max/median cell occupancy IS the skew
    factor. One cheap agg over the (already small) polygon-cells side."""
    row = (
        polygon_cells.groupBy("cell").agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"),
             F.expr("percentile_approx(n, 0.5)").alias("med"))
        .collect()[0]
    )
    if row["mx"] is None:
        return 1
    return int(max(1, min(cap, round(float(row["mx"]) / max(float(row["med"]), 1.0)))))


def pip_join_shuffle(points: DataFrame, polygon_cells: DataFrame,
                     salt: int | None = None, lat_col: str = "lat", lon_col: str = "lon",
                     res: int = 7) -> DataFrame:
    """Shuffle-join variant for polygon sets too big to broadcast.

    polygon_cells: polygon_cells_at_res output (cell, polygon_id,
    is_full, west, south, east, north, ring_json).

    Round-6 plan (guide §8: decide on light rows, move heavy bytes
    once). The round-5 shape attached ring_json to EVERY candidate row
    of the cell join, so each ring's multi-KB JSON crossed the shuffle
    and the Arrow boundary once per cell-sharing point — tens of GB at
    2M points — and every candidate (even interior FULL-cell hits) paid
    a ray cast. Now:

      1. The cell equi-join carries only (cell, polygon_id, is_full,
         bbox) — ~50 B/row; the polygon side is replicated over `salt`
         buckets so hot cells spread across reducers (north rule).
      2. Candidates outside the polygon bbox drop JVM-side; candidates
         in FULL cover cells bypass the exact test entirely.
      3. Only surviving PARTIAL candidates shuffle again — by
         polygon_id — and meet their ring in a COGROUP, so each ring's
         JSON crosses the network once per polygon (not per candidate)
         and is parsed once per group.

    Hit sets are identical to the broadcast route (asserted by
    tests/test_ops.py); the exchanges under both output branches are
    shared via Spark's exchange reuse.

    salt=None (default) derives the count from the cell histogram
    (auto_salt); pass an int to pin it.
    """
    if salt is None:
        salt = auto_salt(polygon_cells)
    cells_meta = polygon_cells.select("cell", "polygon_id", "is_full",
                                      "west", "south", "east", "north")
    # the rings side re-reads the same input as cells_meta; rename its
    # key so the cogroup below is not an ambiguous self-join
    rings_tbl = polygon_cells.select(
        F.col("polygon_id").alias("_ring_pid"), "ring_json") \
        .dropDuplicates(["_ring_pid"])

    pts = points.withColumn("cell", F.expr(quadkey.sql_cell_expr(lat_col, lon_col, res)))
    pts = pts.withColumn("_salt", F.pmod(F.hash(lon_col, lat_col), F.lit(salt)))
    replicated = cells_meta.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    candidates = pts.repartition("cell", "_salt").join(
        replicated, ["cell", "_salt"], "inner"
    ).drop("_salt").where(
        (F.col(lon_col) >= F.col("west")) & (F.col(lon_col) <= F.col("east"))
        & (F.col(lat_col) >= F.col("south")) & (F.col(lat_col) <= F.col("north"))
    ).drop("west", "south", "east", "north")

    out_names = [n for n in candidates.schema.fieldNames() if n != "is_full"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields if f.name in out_names)

    full_hits = candidates.where(F.col("is_full")).drop("is_full")
    partial = candidates.where(~F.col("is_full")).drop("is_full")

    def exact_cogroup(key, cand: pd.DataFrame, ring_pdf: pd.DataFrame
                      ) -> pd.DataFrame:
        if len(cand) == 0 or len(ring_pdf) == 0:
            return pd.DataFrame(columns=out_names)
        ring = np.asarray(json.loads(ring_pdf["ring_json"].iloc[0]),
                          dtype=np.float64)
        keep = points_in_ring(cand[lon_col].to_numpy(),
                              cand[lat_col].to_numpy(), ring)
        return cand.loc[keep, out_names]

    exact_hits = (
        partial.groupBy("polygon_id")
        .cogroup(rings_tbl.groupBy("_ring_pid"))
        .applyInPandas(exact_cogroup, schema)
    )
    return full_hits.select(*out_names).unionByName(exact_hits)
