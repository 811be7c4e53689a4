"""The four workloads, driven through the engine's public functions.

Each workload has a `prepare` step (the program work a user pays
before the job, such as parsing pages into the features table the
joins read) and a `job` that goes from input to a complete result. A
job returns its outputs as {name: {"rows", "digest", ...}}; the digest
is an order-insensitive sum of xxhash64 over the output's discrete
columns, so it can be pinned for the default seed.
"""

from __future__ import annotations

import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openair_spark.ops.checkpoint import run_partitioned
from openair_spark.ops.h3tiles import h3_polygon_tiles
from openair_spark.ops.knn import knn_join
from openair_spark.ops.pip import pip_join
from openair_spark.ops.raster import assign_tiles, tiles_from_points, zonal_stats
from openair_spark.ops.s2tiles import s2_polygon_tiles
from openair_spark.ops.tiling import polygon_tiles
from openair_spark.spark.pipeline import parse_features

NAMES = ("ingest", "cover", "join", "skew")

FEATURE_COLS = ("url", "airspace_idx", "success", "error", "feature_json")
TILE_COLS = ("url", "airspace_idx", "cell", "res", "is_full", "s2_cell",
             "h3_cell", "h3_res")


def digest(*cols) -> F.Column:
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def summarize(df: DataFrame, *cols, **extra) -> dict:
    """One action: row count and digest plus any extra aggregates; list
    aggregates (the sampled rows the checks read) come back sorted."""
    aggs = [F.count(F.lit(1)).alias("rows"), digest(*cols).alias("digest")]
    aggs += [v.alias(k) for k, v in extra.items()]
    row = df.agg(*aggs).collect()[0].asDict(recursive=True)
    return {k: (sorted(tuple(x.values()) for x in v) if isinstance(v, list)
                else v if isinstance(v, (str, type(None))) else int(v))
            for k, v in row.items()}


def sampled(cond: F.Column, *cols) -> F.Column:
    """collect_list of the rows matching `cond` (nulls are skipped)."""
    return F.collect_list(F.when(cond, F.struct(*cols)))


def polygons_of(features: DataFrame) -> DataFrame:
    return (features.where(F.col("success") & (F.col("geometry_type") == "Polygon"))
            .select(F.concat_ws("#", "url", F.col("airspace_idx").cast("string"))
                    .alias("polygon_id"), "ring"))


def centroids_of(polygons: DataFrame) -> DataFrame:
    """Vertex-mean centroid of each ring (closing vertex excluded)."""
    def mean(axis: int) -> F.Column:
        return F.expr(f"aggregate(slice(ring, 1, size(ring) - 1), 0D, "
                      f"(a, p) -> a + p[{axis}]) / (size(ring) - 1)")
    return polygons.select(F.col("polygon_id").alias("centroid_id"),
                           mean(1).alias("lat"), mean(0).alias("lon"))


class Workload:
    """State of one workload inside one Spark session."""

    def __init__(self, name: str, spark, tracer, inputs, spec: dict, work_dir: str,
                 samples: dict):
        self.name = name
        # point ids and urls whose rows each job also returns for the checks
        self.samples = samples
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.spec = spec
        self.work_dir = work_dir
        self.ctx: dict = {}

    # -- inputs -------------------------------------------------------
    def pages(self) -> DataFrame:
        return self.spark.read.parquet(self.inputs.pages_dir)

    def points(self) -> DataFrame:
        return self.spark.read.parquet(self.inputs.points_dir)

    @property
    def input_rows(self) -> int:
        """Pages for ingest, polygons for cover, points for join and skew."""
        if self.name == "cover":
            return self.ctx["n_polygons"]
        return self.inputs.counts["pages" if self.name == "ingest" else "points"]

    # -- prepare --------------------------------------------------------
    def prepare(self) -> None:
        """Materialize what the job reads. ingest reads pages directly."""
        if self.name == "ingest":
            return
        t = self.tracer
        keep = StorageLevel.MEMORY_AND_DISK
        with t.span("spark.pipeline.parse_features"):
            feats = parse_features(self.pages()).persist(keep)
            feats.count()
        self.ctx["features"] = feats
        if self.name == "cover":
            self.ctx["n_polygons"] = feats.where(
                F.col("success") & (F.col("geometry_type") == "Polygon")).count()
            return
        with t.span("prepare.polygons"):
            polys = polygons_of(feats).persist(keep)
            polys.count()
            cents = centroids_of(polys).persist(keep)
            cents.count()
        self.ctx.update(polygons=polys, centroids=cents)
        if self.name == "join":
            with t.span("prepare.polygon_list"):
                self.ctx["polygon_list"] = [r.asDict() for r in polys.collect()]

    def release(self) -> None:
        for v in self.ctx.values():
            if isinstance(v, DataFrame):
                v.unpersist(blocking=True)
        self.ctx = {}

    # -- job ------------------------------------------------------------
    def job(self, k: int) -> dict:
        return getattr(self, f"_job_{self.name}")(k)

    def _job_ingest(self, k: int) -> dict:
        """pages -> features -> quadkey/S2/H3 tiles, each written through
        run_partitioned over url-hash buckets (the jobs/parse_job.py shape)."""
        t, spark = self.tracer, self.spark
        out = os.path.join(self.work_dir, f"ingest-{k}")
        shutil.rmtree(out, ignore_errors=True)
        buckets = self.spec["buckets"]
        ids = [str(b) for b in range(buckets)]
        bucketed = self.pages().withColumn(
            "_bucket", F.pmod(F.xxhash64("url"), F.lit(buckets)))

        def build_features(pid: str):
            part = bucketed.where(F.col("_bucket") == int(pid)).drop("_bucket")
            return parse_features(part), part.count()

        def build_tiles(pid: str):
            feats = spark.read.parquet(f"{out}/features/partition_id={pid}")
            return polygon_tiles(feats), feats.count()

        with t.span("ops.checkpoint.features"):
            run_partitioned(spark, ids, build_features, f"{out}/features",
                            f"{out}/manifest_features")
        with t.span("ops.checkpoint.tiles"):
            run_partitioned(spark, ids, build_tiles, f"{out}/tiles",
                            f"{out}/manifest_tiles")
        self.ctx["ingest_out"] = out
        return {}

    def ingest_outputs(self) -> dict:
        """Count and digest of what the last ingest job wrote."""
        out = self.ctx["ingest_out"]
        feats = self.spark.read.parquet(f"{out}/features")
        tiles = self.spark.read.parquet(f"{out}/tiles")
        return {"features": summarize(feats, *FEATURE_COLS),
                "tiles": summarize(tiles, *TILE_COLS,
                                   polygons_covered=F.countDistinct("url", "airspace_idx"))}

    def _job_cover(self, k: int) -> dict:
        return self.covers(self.ctx["features"])

    def covers(self, feats: DataFrame) -> dict:
        """H3 res 5-9 and S2 covers of `feats`, counted, with the cells of
        the sampled urls' polygons for the checks."""
        t = self.tracer
        in_sample = F.col("url").isin(self.samples["urls"])
        with t.span("ops.h3tiles"):
            h3 = summarize(h3_polygon_tiles(feats, 5, 9),
                           "url", "airspace_idx", "h3_cell", "h3_res", "is_full",
                           full=F.sum(F.col("is_full").cast("long")),
                           polygons_covered=F.countDistinct("url", "airspace_idx"),
                           sample=sampled(in_sample, "url", "airspace_idx", "h3_cell"))
        with t.span("ops.s2tiles"):
            s2 = summarize(s2_polygon_tiles(feats),
                           "url", "airspace_idx", "s2_cell", "s2_level", "is_full",
                           polygons_covered=F.countDistinct("url", "airspace_idx"),
                           sample=sampled(in_sample, "url", "airspace_idx", "s2_cell"))
        return {"h3": h3, "s2": s2}

    def knn_sample(self) -> dict:
        """3-NN of the sampled points alone, as the skew job returns them."""
        pts = self.points().where(F.col("point_id").isin(self.samples["points"]))
        rows = knn_join(pts, self.ctx["centroids"], k=3).select(
            "point_id", "rank", "centroid_id", "dist_km").collect()
        return {"sample": sorted(tuple(r) for r in rows)}

    def settle(self, out: dict) -> dict:
        """The job's result for the repeatability check; for ingest the
        row counts and checksums its manifests recorded."""
        if self.name != "ingest":
            return out
        root = self.ctx["ingest_out"]
        return {m: summarize(self.spark.read.parquet(f"{root}/manifest_{m}"),
                             "partition_id", "output_rows", "checksum",
                             output_rows=F.sum("output_rows"))
                for m in ("features", "tiles")}

    def cleanup(self, k: int) -> None:
        """Drop the previous ingest output; the last one feeds the checks."""
        shutil.rmtree(os.path.join(self.work_dir, f"ingest-{k - 1}"),
                      ignore_errors=True)

    def pip(self, points: DataFrame) -> DataFrame:
        kwargs = {}
        if "max_broadcast_edges" in self.spec:
            kwargs["max_broadcast_edges"] = self.spec["max_broadcast_edges"]
        return pip_join(points, self.ctx["polygons"], **kwargs)

    def _job_join(self, k: int) -> dict:
        out = {"pip": self._pip_hits()}
        res = self.spec["raster_res"]
        with self.tracer.span("ops.raster"):
            zones = zonal_stats(assign_tiles(
                tiles_from_points(self.points(), res),
                self.ctx["polygon_list"], res))
            out["zonal"] = summarize(zones, "polygon_id", "n_tiles")
        return out

    def _job_skew(self, k: int) -> dict:
        out = {"pip": self._pip_hits()}
        with self.tracer.span("ops.knn"):
            knn = knn_join(self.points(), self.ctx["centroids"], k=3)
            out["knn"] = summarize(
                knn, "point_id", "centroid_id", "rank",
                sample=sampled(F.col("point_id").isin(self.samples["points"]),
                               "point_id", "rank", "centroid_id", "dist_km"))
        return out

    def _pip_hits(self) -> dict:
        """pip_join -> hits per polygon (plus the sampled points' hits)."""
        t = self.tracer
        with t.span("ops.pip.setup"):
            hits = self.pip(self.points())
        with t.span("ops.pip.probe"):
            in_sample = F.col("point_id").isin(self.samples["points"])
            per_polygon = hits.groupBy("polygon_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list(F.when(in_sample, F.col("point_id"))).alias("pts"))
            return summarize(
                per_polygon, "polygon_id", "n", hits=F.sum("n"),
                sample=F.flatten(F.collect_list(F.transform(
                    "pts", lambda p: F.struct(p.alias("point_id"),
                                              F.col("polygon_id"))))))
