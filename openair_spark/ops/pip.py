"""Salted broadcast point-in-polygon join (north rule).

Plan shape (for 10^12 points x ~10^5 polygons):

  polygons --driver--> compact covers --> cell index rows
      (cell, polygon_id, is_full, ring)          [small: broadcast]
  points  --map--> cell = quadkey(point, res per cover row's res range)
  join    points x broadcast(cell_index) on cell  [NO shuffle]
  exact   is_full rows skip PIP; partial rows run the vectorized
          ray-cast in one Arrow-batched kernel

Skew: a broadcast join has no shuffle skew, but a hot *cell* (dense
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import quadkey
from ..index.cover import RingBatch, cover_flat
from ..index.pip import RingSet, points_in_ring

# Cover band for the PIP probe index. min 7 (not the tile mandate's 5):
# every cover resolution the index USES adds one exploded probe row PER
# POINT, so a few coarse res-5/6 FULL cells taxed every point with two
# extra probe rows (10M instead of 6M for 2M points on the bench
# corpus). At min 7 polygon interiors compact to res-7 FULL cells
# instead — same is_full ray-cast skip — up to the per-ring cell cap;
# measured: identical index size at the 10x corpus (401,112 vs 401,116
# rows), small consistent win at sf0.1. Hit sets identical either way —
# the cover res band is an internal knob of the candidate join, not
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


def build_cell_index(polygons: list[dict], min_res: int = MIN_RES,
                     max_res: int = MAX_RES) -> pd.DataFrame:
    """polygons: [{'polygon_id': str, 'ring': [[lon,lat],...]}] ->
    rows (cell, polygon_id, is_full, west, south, east, north). Runs
    driver-side for broadcast-scale polygon sets."""
    _, rows = _cover_rows(
        [p["polygon_id"] for p in polygons],
        [np.asarray(p["ring"], dtype=np.float64) for p in polygons],
        min_res, max_res)
    return rows.drop(columns="owner")


def _point_cells_expr(lat_col: str, lon_col: str, cover_resolutions: list[int]):
    """Array of the point's cell ids at every resolution the cover uses —
    pure Spark SQL so the join key computation stays JVM-side."""
    return F.array(*[
        F.expr(quadkey.sql_cell_expr(lat_col, lon_col, res))
        for res in cover_resolutions
    ])


CELL_INDEX_SCHEMA = ("cell long, polygon_id string, is_full boolean, "
                     "west double, south double, east double, north double")

_SETUP_SCHEMA = ("polygon_id string, kind int, a long, b int, "
                 "x1 double, y1 double, x2 double, y2 double")


def _polygon_setup(polygons: DataFrame, min_res: int, max_res: int) -> DataFrame:
    """One executor pass emitting BOTH broadcast-route inputs: cover
    index rows (kind=0: a=cell, b=is_full, x1..y2=bbox) and ring edge
    rows (kind=1: a=edge_idx, x1,y1,x2,y2=edge) — one scan of the
    persisted polygon side instead of one job per input."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["polygon_id"].to_numpy(dtype=object)
            rb, cov = _cover_rows(ids, _ring_arrays(pdf["ring"]),
                                  min_res, max_res)
            rs = rb.rs
            eowner = np.repeat(np.arange(len(ids)), rs.lens)
            yield pd.DataFrame({
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

    return polygons.select("polygon_id", "ring").mapInPandas(
        kernel, _SETUP_SCHEMA)


def _split_setup(pdf: "pd.DataFrame") -> tuple[RingSet, "pd.DataFrame"]:
    """Driver-side split of the _polygon_setup output into the RingSet
    of the edge rows and the cover index frame (build_cell_index
    columns with polygon_idx in place of polygon_id)."""
    edges = pdf[pdf["kind"] == 1].sort_values(["polygon_id", "a"],
                                               kind="stable")
    rs = RingSet.from_edges(
        edges["polygon_id"].to_numpy(),
        *(edges[c].to_numpy(dtype=np.float64) for c in ("x1", "y1", "x2", "y2")))
    cov = pdf[pdf["kind"] == 0]
    index_pdf = pd.DataFrame({
        "cell": cov["a"].to_numpy(dtype=np.int64),
        "polygon_idx": cov["polygon_id"].map(rs.idx_of).to_numpy(
            dtype=np.int32) if len(cov) else np.empty(0, dtype=np.int32),
        "is_full": cov["b"].to_numpy(dtype=bool),
        "west": cov["x1"].to_numpy(), "south": cov["y1"].to_numpy(),
        "east": cov["x2"].to_numpy(), "north": cov["y2"].to_numpy(),
    })
    return rs, index_pdf


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
    `max_broadcast_edges` total edges the broadcast plan runs (cover
    computed executor-side, rings travel once as a broadcast variable,
    NO shuffle); above it the salted shuffle plan (`pip_join_shuffle`)
    runs instead — the polygon side never materializes on the driver.
    Both produce identical (point, polygon_id) hit sets."""
    global LAST_ROUTE
    spark = points.sparkSession
    resolutions = list(range(min_res, max_res + 1))

    # Materialize the polygon side ONCE. The upstream plan may be an
    # expensive Arrow parse (pages -> features); without a persist, the
    # sizing aggregate, ring-set collect, and cover collect would each
    # re-execute it.
    polys_persisted = None
    if isinstance(polygons, DataFrame):
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
        # one combined scan yields the ring edges AND the cover index
        ring_set, index_pdf = _split_setup(
            _polygon_setup(polys_persisted, min_res, max_res).toPandas())
        polys_persisted.unpersist()
    else:
        ring_set = RingSet({p["polygon_id"]: np.asarray(p["ring"], dtype=np.float64)
                            for p in polygons})
        index_pdf = build_cell_index(polygons, min_res, max_res).assign(
            polygon_idx=lambda d: d["polygon_id"].map(ring_set.idx_of).astype(
                "int32"))
    LAST_ROUTE = "broadcast"

    # rings travel ONCE as a broadcast variable (unpickled once per
    # python worker, reused across tasks) — candidate rows carry only
    # polygon_id, not the ring JSON, so the Arrow transfer stays
    # ~constant bytes/row and tasks pay no per-task ring-parse cost
    rings_b = spark.sparkContext.broadcast(ring_set)

    # the hot path carries an int polygon_idx, never the id string:
    # Arrow string columns dominate kernel-stage CPU (JVM serialize +
    # python object materialization) and anti-scale under local-mode
    # core contention; the id is restored by a broadcast dim join on
    # the (small) hit set afterwards.
    # The index is broadcast-scale by contract, so holding it driver-side
    # costs no more than the broadcast build itself — and a LocalRelation
    # never re-executes upstream and leaves nothing cached to leak.
    dim = spark.createDataFrame(
        [(i, pid) for i, pid in enumerate(ring_set.ids)],
        "polygon_idx int, polygon_id string")
    index_pdf = index_pdf[
        ["cell", "polygon_idx", "is_full", "west", "south", "east", "north"]]
    index_small = spark.createDataFrame(
        index_pdf,
        "cell long, polygon_idx int, is_full boolean, "
        "west double, south double, east double, north double")

    # probe only resolutions the cover actually uses: small polygons
    # put every cover leaf at max_res, so blindly exploding each point
    # to all res levels multiplies the probe row count for nothing
    used_res = sorted(
        int(r) for r in
        np.unique(index_pdf["cell"].to_numpy(dtype=np.int64) >> quadkey._RES_SHIFT)
    )
    resolutions = used_res or resolutions

    pts = points.withColumn(
        "_cells", _point_cells_expr(lat_col, lon_col, resolutions)
    ).withColumn("cell", F.explode("_cells")).drop("_cells")

    # ONE scan: FULL-cover hits pass through the same kernel untested
    # (no union of two branches — a union here re-executes the whole
    # upstream parse/index/join per branch, Catalyst does not reuse the
    # exchange across mapInPandas subplans)
    candidates = (
        pts.join(F.broadcast(index_small), "cell", "inner")
        # bbox prefilter (JVM, inclusive = safe superset of the ray-cast):
        # drops cell-sharing candidates outside the polygon's bbox before
        # they cross into the Python kernel
        .where((F.col(lon_col) >= F.col("west")) & (F.col(lon_col) <= F.col("east"))
               & (F.col(lat_col) >= F.col("south")) & (F.col(lat_col) <= F.col("north")))
        .drop("cell", "west", "south", "east", "north")
    )

    out_fields = [n for n in candidates.schema.fieldNames() if n != "is_full"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields if f.name in out_fields
    )

    # mapInArrow, not mapInPandas: at millions of candidate rows the
    # pandas DataFrame materialization (index + block manager + object
    # boxing) on both sides of the boundary was ~half the kernel-stage
    # cost; Arrow batches expose the numeric columns as zero-copy numpy
    # views and the survivor filter runs as one C++ compute kernel.
    def exact_kernel(batches):
        import pyarrow as pa

        rs: RingSet = rings_b.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            keep = cols["is_full"].to_numpy(zero_copy_only=False).astype(
                bool, copy=True)
            part = np.flatnonzero(~keep)
            if len(part):
                ridx = cols["polygon_idx"].to_numpy().astype(np.int64)[part]
                keep[part] = rs.contains(
                    cols[lon_col].to_numpy(zero_copy_only=False)[part],
                    cols[lat_col].to_numpy(zero_copy_only=False)[part], ridx)
            flt = rb.filter(pa.array(keep))
            yield pa.RecordBatch.from_arrays(
                [flt.column(flt.schema.get_field_index(n)) for n in out_fields],
                names=out_fields)

    hits = candidates.mapInArrow(exact_kernel, schema)
    return hits.join(F.broadcast(dim), "polygon_idx").drop("polygon_idx")


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

    polygon_cells: DataFrame(cell long, polygon_id string, ring_json
    string) plus, when produced by polygon_cells_at_res, is_full and
    west/south/east/north — those enable the FULL-cell bypass and the
    JVM bbox prefilter; the minimal 3-column schema still works.

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
    has_full = "is_full" in polygon_cells.columns
    has_bbox = "west" in polygon_cells.columns
    meta_cols = ["cell", "polygon_id"] + (["is_full"] if has_full else []) \
        + (["west", "south", "east", "north"] if has_bbox else [])
    cells_meta = polygon_cells.select(*meta_cols)
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
    ).drop("_salt")
    if has_bbox:
        candidates = candidates.where(
            (F.col(lon_col) >= F.col("west")) & (F.col(lon_col) <= F.col("east"))
            & (F.col(lat_col) >= F.col("south")) & (F.col(lat_col) <= F.col("north"))
        ).drop("west", "south", "east", "north")

    out_names = [n for n in candidates.schema.fieldNames() if n != "is_full"]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in candidates.schema.fields if f.name in out_names)

    if has_full:
        full_hits = candidates.where(F.col("is_full")).drop("is_full")
        partial = candidates.where(~F.col("is_full")).drop("is_full")
    else:
        full_hits = None
        partial = candidates

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
    if full_hits is None:
        return exact_hits
    return full_hits.select(*out_names).unionByName(exact_hits)
