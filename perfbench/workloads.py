"""The benchmark's closed-loop workloads.

A workload is prepared once per set-up (input DataFrames over the cached
parquet inputs), then ``iterate`` runs one closed-loop iteration: each op
is built, planned and executed in turn, and its result is checked against
the oracle's cached answer. Ops are timed with the tracer's spans when a
tracer is attached; untraced runs time the same steps with the clock only.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs, oracles

TILE_LEVEL = 8
PIP_LEVEL = 7
DIST_LEVEL = 11
KNN_LEVEL = 7
PIPELINE_BUCKETS = 8
CRASH_BUCKETS = 2


class OpRunner:
    """Runs ops as build → plan → exec, under spans when traced."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.op_spans: dict[int, dict] = {}

    def _span(self, name, layer, kind):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, kind)

    def run(self, name, layer, build, action=None, join_layer=None):
        """Time one op. ``build()`` returns a DataFrame (or, for an eager
        op without ``action``, its result); ``action(df)`` executes it.
        Returns ``(result, wall_s, op_span)``."""
        t0 = time.perf_counter()
        with self._span(name, layer, "op") as op:
            if action is None:
                with self._span(f"{name}.exec", layer, "exec"):
                    result = build()
            else:
                with self._span(f"{name}.build", layer, "build"):
                    df = build()
                with self._span(f"{name}.plan", layer, "plan"):
                    df._jdf.queryExecution().executedPlan()
                with self._span(f"{name}.exec", layer, "exec"):
                    result = action(df)
        wall = time.perf_counter() - t0
        if op is not None:
            self.op_spans[op.id] = {"join_layer": join_layer}
            n_rdd, n_bytes = persisted(self.spark)
            self.note(op, "session.persisted_rdds", n_rdd)
            self.note(op, "session.persisted_bytes", n_bytes)
        return result, wall, op

    def note(self, op, key: str, value: float) -> None:
        """Attach a count (``<layer>.<metric>``) to an op span."""
        if op is not None:
            op.counts[key] = op.counts.get(key, 0) + value


def _counts(rows, key, val) -> dict:
    return {int(r[key]): int(r[val]) for r in rows}


def persisted(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes they hold in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    total = 0
    it = spark._jsparkSession.sparkContext().statusStore().rddList(True).iterator()
    while it.hasNext():
        r = it.next()
        total += r.memoryUsed() + r.diskUsed()
    return n, total


class Workload:
    name = ""
    ops = 0       # ops per iteration
    # untimed iterations before timing starts, so Python workers have
    # started and the JIT has settled; measured: each workload's first
    # iterations in a fresh JVM run at 2-5x, then ~1.3x, its steady time
    warmups = 1

    def __init__(self, input_dir: str, expected: dict, work_dir: str):
        self.dir = input_dir
        self.expected = expected
        self.work = work_dir

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


class VectorJoin(Workload):
    """pip_join (points × star polygons), distance_join (r-band pairs) and
    knn_join (k nearest over clustered points), no image bytes."""

    name = "vector_join"
    ops = 3
    warmups = 4   # each of its first ~5 iterations runs 3-10% faster than the last

    def prepare(self, spark):
        self.points = spark.read.parquet(self.path("pip_points"))
        self.zones = spark.read.parquet(self.path("star_zones"))
        self.probe = spark.read.parquet(self.path("dist_probe"))
        self.build = spark.read.parquet(self.path("dist_build"))
        self.queries = spark.read.parquet(self.path("knn_queries"))
        self.objects = spark.read.parquet(self.path("knn_objects"))

    def iterate(self, spark, runner: OpRunner):
        from sedona_spark.operators.distance_join import distance_join
        from sedona_spark.operators.knn import knn_join
        from sedona_spark.operators.spatial_join import pip_join

        errs, times = [], {}
        rows, times["pip_join_s"], op = runner.run(
            "vector_join.pip_join", "spatial_join",
            lambda: pip_join(self.points, self.zones, level=PIP_LEVEL)
            .groupBy("zone_id").agg(F.count(F.lit(1)).alias("n")),
            lambda df: df.collect(), join_layer="spatial_join")
        got = _counts(rows, "zone_id", "n")
        runner.note(op, "hits", sum(got.values()))
        errs += oracles.check_counts("pip_join", got, self.expected["pip_counts"])

        pair_id = (F.col("pid") * oracles.PAIR_MUL + F.col("bid")) % oracles.PAIR_MOD
        rows, times["distance_join_s"], op = runner.run(
            "vector_join.distance_join", "distance_join",
            lambda: distance_join(self.probe, self.build, inputs.DIST_R,
                                  level=DIST_LEVEL)
            .agg(F.count(F.lit(1)).alias("count"), F.sum(pair_id).alias("checksum")),
            lambda df: df.collect(), join_layer="distance_join")
        r = rows[0]
        got = {"count": r["count"], "checksum": r["checksum"] or 0}
        runner.note(op, "hits", got["count"])
        errs += oracles.check_pairs(got, self.expected["dist_pairs"])

        pdf, times["knn_join_s"], op = runner.run(
            "vector_join.knn_join", "knn",
            lambda: knn_join(self.queries, self.objects, inputs.KNN_K,
                             level=KNN_LEVEL).select("qid", "oid"),
            lambda df: df.toPandas(), join_layer="knn")
        sample = {int(q) for q in self.expected["knn_sample"]}
        nn: dict[int, list[int]] = {}
        for q, o in zip(pdf["qid"].to_numpy(), pdf["oid"].to_numpy()):
            if int(q) in sample:
                nn.setdefault(int(q), []).append(int(o))
        errs += oracles.check_knn(nn, len(pdf), self.expected)
        if op is not None:
            runner.note(op, "knn.persisted_rdds", op.counts["session.persisted_rdds"])
        return times, sum(times.values()), errs


def _tree_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class PipelineWrite(Workload):
    """The image read job, then the durable write pipeline and its resume.

    1. ``tile_join``: stored image table → 16×16 tiles → tile cell →
       broadcast zone-cover join with rectangle refine → per-zone counts.
    2. ``pipeline``: run_image_pipeline with durable checkpoint stages and
       an icetable publish.
    3. ``resume``: after a simulated crash (seeded committed tile buckets
       deleted), the pipeline must replay exactly those buckets."""

    name = "pipeline_write"
    ops = 3
    warmups = 2   # its second and third iterations are 5-10% above steady

    def prepare(self, spark):
        self.zones = spark.read.parquet(self.path("zones"))
        self.round = 0

    def tile_join(self, spark, runner: OpRunner) -> tuple[float, list[str]]:
        from sedona_spark import cells
        from sedona_spark.functions.raster import rs_tile_explode
        from sedona_spark.operators.spatial_join import _explode_cover

        t = inputs.TILE

        def build():
            imgs = spark.read.parquet(self.path("images"))
            tiles = rs_tile_explode(imgs, t, t, passthrough=("lon", "lat", "w", "h"))
            cx = (F.col("tile_x") * t + F.col("tile_w") / F.lit(2.0)) / F.col("w")
            cy = (F.col("tile_y") * t + F.col("tile_h") / F.lit(2.0)) / F.col("h")
            tiles = tiles.select(
                (F.col("lon") + cx * F.lit(0.05)).alias("tile_lon"),
                (F.col("lat") - cy * F.lit(0.05)).alias("tile_lat"),
            ).withColumn("cell", cells.cell_id(F.col("tile_lon"), F.col("tile_lat"),
                                               TILE_LEVEL))
            zc = F.broadcast(_explode_cover(self.zones, TILE_LEVEL))
            j = tiles.join(zc, "cell").filter(
                (F.col("tile_lon") >= F.col("xmin")) & (F.col("tile_lon") <= F.col("xmax"))
                & (F.col("tile_lat") >= F.col("ymin")) & (F.col("tile_lat") <= F.col("ymax")))
            return j.groupBy("zone_id").agg(F.count(F.lit(1)).alias("n"))

        rows, wall, op = runner.run("pipeline_write.tile_join", "raster", build,
                                    lambda df: df.collect(), join_layer="spatial_join")
        got = _counts(rows, "zone_id", "n")
        runner.note(op, "hits", sum(got.values()))
        return wall, oracles.check_counts("tile_join", got, self.expected["zone_counts"])

    def iterate(self, spark, runner: OpRunner):
        from sedona_spark import checkpoint, icetable
        from sedona_spark.pipeline_job import run_image_pipeline

        times = {}
        times["tile_join_s"], errs = self.tile_join(spark, runner)

        self.round += 1
        root = os.path.join(self.work, f"stages-{self.round}")
        table = os.path.join(self.work, f"table-{self.round}")
        for p in (root, table):
            shutil.rmtree(p, ignore_errors=True)

        def pipeline():
            return run_image_pipeline(spark, self.path("images"), self.zones, root,
                                      tile=inputs.TILE, level=TILE_LEVEL,
                                      n_buckets=PIPELINE_BUCKETS,
                                      publish_table=table)

        man, times["pipeline_s"], op = runner.run(
            "pipeline_write.pipeline", "checkpoint", pipeline,
            join_layer="spatial_join")
        stage_b, stage_f = _tree_bytes(root)
        table_b, _ = _tree_bytes(table)
        write_amp = (stage_b + table_b) / self.expected["image_bytes"]
        snaps = icetable.snapshots(table)
        for stage in ("tiles", "assign", "zonal"):
            runner.note(op, f"checkpoint.{stage}_wall_s", man[stage]["wall_sec"])
        runner.note(op, "checkpoint.bytes_written", stage_b)
        runner.note(op, "checkpoint.files_written", stage_f)
        runner.note(op, "icetable.bytes_written", table_b)
        runner.note(op, "icetable.snapshots", len(snaps))

        zonal = _counts(checkpoint.read_stage(spark, root, "zonal").collect(),
                        "zone_id", "n_tiles")
        runner.note(op, "hits", sum(zonal.values()))
        errs += oracles.check_counts("pipeline: zonal stage", zonal,
                                     self.expected["zone_counts"])
        pub = icetable.scan(spark, table).collect()
        errs += oracles.check_counts("pipeline: published table", _counts(pub, "zone_id", "n_tiles"),
                                     self.expected["zone_counts"])
        if len(snaps) != 1:
            errs.append(f"pipeline: {len(snaps)} snapshots after first publish")

        # crash: drop the tiles stage's commit marker and a seeded subset of
        # its committed buckets; downstream stages stay committed
        before = man["tiles"]["partitions"]
        full = sorted(int(b) for b, v in before.items() if v["rows"] > 0)
        rng = np.random.default_rng([self.round, len(full), self.expected["n_images"]])
        lost = sorted(int(b) for b in rng.choice(full, min(CRASH_BUCKETS, len(full)),
                                                 replace=False))
        data = os.path.join(root, "tiles", "data")
        for b in lost:
            shutil.rmtree(os.path.join(data, f"part_bucket={b}"))
        os.remove(os.path.join(root, "tiles", "_SUCCESS.sedona_spark"))

        man2, times["resume_s"], op = runner.run(
            "pipeline_write.resume", "checkpoint", pipeline, join_layer="spatial_join")
        replayed = man2["tiles"].get("resumed_buckets", [])
        runner.note(op, "checkpoint.replayed_buckets", len(replayed))
        if sorted(replayed) != lost:
            errs.append(f"resume: replayed {replayed}, deleted {lost}")
        after = {b: v["rows"] for b, v in man2["tiles"]["partitions"].items()}
        if after != {b: v["rows"] for b, v in before.items() if v["rows"] > 0}:
            errs.append("resume: tile bucket row counts differ from the first run")
        if not man2.get("publish", {}).get("already_published"):
            errs.append("resume: re-published an unchanged result")
        if len(icetable.snapshots(table)) != 1:
            errs.append("resume: added a snapshot")
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(table, ignore_errors=True)
        return ({**times, "write_amp": write_amp},
                times["tile_join_s"] + times["pipeline_s"] + times["resume_s"], errs)


WORKLOADS = {w.name: w for w in (VectorJoin, PipelineWrite)}
