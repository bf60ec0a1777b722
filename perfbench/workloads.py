"""The three workloads: input sizes, set-up, and one job each.

A job is built from the engine's public functions only.  ``Tracer.layer``
marks each layer boundary: untraced it returns the DataFrame unchanged
(the job runs as one lazy plan), traced it materializes the layer's
output (persist + count) inside a span, so the span's duration is that
layer's cost.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
import oracle

# rows per job at full size, and at --smoke.  Full sizes come from
# measured job time T(n) = fixed + per-row * n on a 4-core host (see
# README, "Sizing"): project is sized so per-row work (kernels, Arrow
# bridge, cell encoding) is ~70% of the job; join_tile and resume stay
# dominated by Spark's per-query cost at any size a run can afford.
SIZES = {
    "project": {"full": 480_000, "smoke": 3_000},
    "join_tile": {"full": 20_000, "smoke": 2_000},
    "resume": {"full": 40_000, "smoke": 2_000},
}
RESUME_DELTA_FRAC = 0.02
RESUME_DELTAS = 4


def q(col, quantum) -> F.Column:
    """Per-point quantization matching oracle.quantize."""
    return F.floor(col * F.lit(quantum[0]) + F.lit(0.5)).cast("long")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: int
    rows: int = 0


@dataclass
class Tracer:
    spark: SparkSession
    enabled: bool
    phase: str = ""
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _job: int = -1
    _group: str = ""
    _root: int | None = None

    def start_job(self, job: int, group: str) -> None:
        """Open job ``job``; its Spark jobs run under group ``group``
        (``<group>:<layer>`` inside a traced layer)."""
        self._job, self._group = job, group
        self.spark.sparkContext.setJobGroup(group, group)
        self._root = None
        if self.enabled:
            self.spans.append(Span("job", time.perf_counter(), 0.0, None, job))
            self._root = len(self.spans) - 1

    def end_job(self) -> None:
        if self._root is not None:
            self.spans[self._root].end = time.perf_counter()

    def layer(self, name: str, df: DataFrame, keep: bool = False) -> DataFrame:
        """Layer boundary.  ``keep`` persists the output in untraced runs
        too (the job reuses it)."""
        if not (self.enabled or keep):
            return df
        t0 = time.perf_counter()
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"{self._group}:{name}", name)
        df = df.persist()
        rows = df.count()
        if self.enabled:
            self.spans.append(Span(name, t0, time.perf_counter(), self._root, self._job, rows))
            self.spark.sparkContext.setJobGroup(self._group, self._group)
        return df

    def span(self, name: str, t0: float, rows: int = 0) -> None:
        """Record an already-timed call (t0 .. now) as a layer span."""
        if self.enabled:
            self.spans.append(Span(name, t0, time.perf_counter(), self._root, self._job, rows))

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = value


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, smoke: bool):
        self.rows = SIZES[self.name]["smoke" if smoke else "full"]
        self.dir = os.path.join(work, f"{self.name}-s{seed}-n{self.rows}")
        self.seed = seed

    def generate(self) -> None:
        """Write the seeded inputs once per (seed, size)."""
        done = os.path.join(self.dir, "_DONE")
        if not os.path.exists(done):
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)
            self._generate()
            open(done, "w").close()

    def setup(self, spark: SparkSession) -> None:
        """Untimed-input, timed-set-up work done once per session."""

    def before_job(self, i: int) -> None:
        """Untimed per-job isolation step."""

    def expected(self, i: int) -> dict[str, pd.DataFrame]:
        return self._oracle

    def job_rows(self) -> int:
        return self.rows


class Project(Workload):
    name = "project"

    def _generate(self):
        gen.write_points(self.dir, self.seed, self.rows)

    def load_oracle(self):
        self._oracle = oracle.cached(self.dir, "v1", lambda: oracle.project(self.dir))

    def job(self, spark: SparkSession, tr: Tracer, i: int) -> dict[str, pd.DataFrame]:
        from proj_spark import create
        from proj_spark.spark.udf import datum_pipeline_udf, utm_fwd_udf
        from proj_spark.spatial import cells
        from proj_spark.spatial.knn import karney_dist_udf

        pts = spark.read.parquet(os.path.join(self.dir, "points.parquet"))
        cen = spark.read.parquet(os.path.join(self.dir, "centres.parquet"))
        # only the columns the job uses, so a traced layer persists no
        # more than the untraced plan (which prunes the rest) carries
        df = pts.join(F.broadcast(cen), "cid").select("lon", "lat", "clon", "clat")
        lon, lat = F.col("lon"), F.col("lat")
        self._traced = df
        df = tr.layer("udf.utm", df.withColumn("_u", utm_fwd_udf()(lon, lat)))
        datum = datum_pipeline_udf(create("+proj=cart +ellps=GRS80"),
                                   create(oracle.geomath.HELMERT_PROJ))
        df = tr.layer("udf.datum", df.withColumn("_g", datum(lon, lat)))
        df = tr.layer("udf.karney", df.withColumn(
            "_d", karney_dist_udf(lon, lat, F.col("clon"), F.col("clat"))))
        df = tr.layer("cells.encode", df.withColumn(
            "cell6", cells.cell_parent(cells.cell_id(lon, lat, oracle.CELL_Z), oracle.ROLLUP)))
        out = (df.groupBy(F.col("_u.zone").cast("long").alias("zone"), "cell6")
               .agg(F.count("*").alias("n"),
                    F.sum(q(F.col("_u.x"), oracle.CM)).alias("e_cm"),
                    F.sum(q(F.col("_u.y"), oracle.CM)).alias("n_cm"),
                    F.sum(q(F.col("_g.lon"), oracle.DEG8)).alias("lon2_q"),
                    F.sum(q(F.col("_g.lat"), oracle.DEG8)).alias("lat2_q"),
                    F.sum(q(F.col("_d"), oracle.DIST_CM)).alias("dist_cm")))
        return {"project": out.toPandas()}

    def trace_counts(self, tr: Tracer) -> None:
        # Arrow batches the three UDF stages cut: per input partition,
        # ceil(rows / maxRecordsPerBatch) each (computed, not counted)
        spark = self._traced.sparkSession
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        per_part = self._traced.groupBy(F.spark_partition_id()).count().toPandas()["count"]
        tr.count("udf.arrow_batches", 3 * int(sum(-(-c // batch) for c in per_part)))


def geotagged_points(spark: SparkSession, paths: list[str]) -> DataFrame:
    from proj_spark.pages import extract_geotags
    pages = spark.read.parquet(*paths)
    return (extract_geotags(pages).where(F.col("lat").isNotNull())
            .select("url", F.regexp_extract("url", r"site(\d+)\.", 1).alias("domain"),
                    "lon", "lat"))


class JoinTile(Workload):
    name = "join_tile"

    def _generate(self):
        gen.write_pages(self.dir, self.seed, self.rows)

    def load_oracle(self):
        self._oracle = oracle.cached(self.dir, "v1", lambda: oracle.join_tile(self.dir))

    def job(self, spark: SparkSession, tr: Tracer, i: int) -> dict[str, pd.DataFrame]:
        from proj_spark.spatial.knn import knn_self_join, radius_join
        from proj_spark.spatial.pip import cover_cells, pip_join
        from proj_spark.spatial.pyramid import tile_pyramid

        pts = tr.layer("pages.scan_extract",
                       geotagged_points(spark, [os.path.join(self.dir, "pages.parquet")]),
                       keep=True)
        polys = spark.read.parquet(os.path.join(self.dir, "admins.parquet"))
        hits = tr.layer("pip.join", pip_join(pts, polys, z=PIP_Z))
        pip = (hits.groupBy("admin_id")
               .agg(F.count("*").alias("n_pages"), F.countDistinct("domain").alias("n_domains")))
        pairs = tr.layer("knn.radius", radius_join(pts, oracle.RADIUS_M, z=oracle.KNN_Z))
        radius = pairs.agg(F.count("*").alias("n_pairs"),
                           F.sum(q(F.col("dist_m"), oracle.CM)).alias("dist_cm"))
        knn = tr.layer("knn.self", knn_self_join(pts, k=oracle.KNN_K, z=oracle.KNN_Z))
        knn_out = (knn.groupBy(F.col("rank").cast("long").alias("rank"))
                   .agg(F.count("*").alias("n"), F.sum(q(F.col("dist_m"), oracle.CM)).alias("dist_cm")))
        pyr = tr.layer("pyramid", tile_pyramid(pts, oracle.PYR_ZMAX, oracle.PYR_ZMIN))
        out = {"pip": pip.toPandas(), "radius": radius.toPandas(),
               "knn": knn_out.toPandas(), "pyramid": pyr.toPandas()}
        self._traced = (pts, polys, hits, pairs, knn, pyr)
        return out

    def trace_counts(self, tr: Tracer) -> None:
        """Filter -> refine ratios and row counts, after the timed job."""
        from proj_spark.spatial import cells
        from proj_spark.spatial.pip import cover_cells
        pts, polys, hits, pairs, knn, pyr = self._traced
        spark = pts.sparkSession
        cover = cover_cells(polys, PIP_Z)
        cand = pts.join(F.broadcast(cover),
                        cells.cell_id(F.col("lon"), F.col("lat"), PIP_Z) == cover["cell"])
        ring = half_ring_candidates(pts, oracle.KNN_Z).count()
        tr.count("pip.candidates", cand.count())
        tr.count("pip.hits", hits.count())
        tr.count("knn.radius_candidates", ring)
        tr.count("knn.radius_pairs", pairs.count())
        tr.count("knn.self_candidates", 2 * ring)
        tr.count("knn.self_hits", knn.count())
        tr.count("pyramid.tiles", pyr.count())
        tr.count("pages.rows_in", spark.read.parquet(os.path.join(self.dir, "pages.parquet")).count())
        tr.count("pages.rows_out", pts.count())


PIP_Z = 10


def half_ring_candidates(pts: DataFrame, z: int) -> DataFrame:
    """The candidate pairs a ring-1 cell self-join generates before the
    exact distance test: each unordered pair of points in the same or
    adjacent z-cells once (the engine's half-neighbourhood plan)."""
    from proj_spark.spatial import cells
    base = pts.select("url", cells.cell_id(F.col("lon"), F.col("lat"), z).alias("cell"))
    left = (base.withColumn("_nb", F.explode(cells.half_neighbor_cells(F.col("cell"))))
            .select("url", F.col("_nb.cell").alias("cell"), F.col("_nb.home").alias("home")))
    right = base.select(F.col("url").alias("rid"), "cell")
    return left.join(right, "cell").where(~F.col("home") | (F.col("url") < F.col("rid")))


def dir_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, files) of regular files under path modified at or after since."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                st = os.stat(os.path.join(root, n))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
                files += 1
    return total, files


class Resume(Workload):
    name = "resume"

    def __init__(self, work, seed, smoke):
        super().__init__(work, seed, smoke)
        self.n_delta = max(2, int(self.rows * RESUME_DELTA_FRAC)) // 2 * 2  # split over two zones
        self.ckpt = os.path.join(self.dir, "ckpt")
        self.snapshot = os.path.join(self.dir, "ckpt_setup")

    def _generate(self):
        gen.write_resume(self.dir, self.seed, self.rows, self.n_delta, RESUME_DELTAS)

    def load_oracle(self):
        self._oracle = oracle.cached(self.dir, "v1",
                                     lambda: oracle.resume(self.dir, RESUME_DELTAS))

    def expected(self, i):
        return self._oracle[i % RESUME_DELTAS]

    def job_rows(self):
        return self.rows + self.n_delta

    def staged(self, spark: SparkSession, paths: list[str], tr: Tracer | None = None) -> DataFrame:
        """pages -> geotags -> auto-zoned UTM -> z12 cell: the checkpointed stage's input."""
        from proj_spark.spark.udf import utm_fwd_udf
        from proj_spark.spatial import cells
        tr = tr or Tracer(spark, False)
        pts = tr.layer("pages.scan_extract", geotagged_points(spark, paths))
        self._traced = (paths, pts)
        u = tr.layer("udf.utm", pts.withColumn("_u", utm_fwd_udf()(F.col("lon"), F.col("lat"))))
        return tr.layer("cells.encode", u.select(
            "url", F.col("_u.zone").alias("zone"), F.col("_u.x").alias("easting"),
            F.col("_u.y").alias("northing"),
            cells.cell_id(F.col("lon"), F.col("lat"), oracle.CELL_Z).alias("cell12")))

    def setup(self, spark):
        """Write the full checkpoint over the base table; keep a copy so
        every job starts from this exact state."""
        from proj_spark.plans.checkpoint import CheckpointedStage
        shutil.rmtree(self.ckpt, ignore_errors=True)
        CheckpointedStage(self.ckpt, "zone").run(self.staged(spark, [os.path.join(self.dir, "base")]))
        shutil.rmtree(self.snapshot, ignore_errors=True)
        shutil.copytree(self.ckpt, self.snapshot)

    def before_job(self, i):
        shutil.rmtree(self.ckpt)
        shutil.copytree(self.snapshot, self.ckpt)

    def job(self, spark: SparkSession, tr: Tracer, i: int) -> dict[str, pd.DataFrame]:
        from proj_spark.plans.checkpoint import CheckpointedStage
        d = i % RESUME_DELTAS
        paths = [os.path.join(self.dir, "base"), os.path.join(self.dir, f"delta{d}.parquet")]
        stage = CheckpointedStage(self.ckpt, "zone")
        df = self.staged(spark, paths, tr)
        if tr.enabled:
            t0 = time.perf_counter()
            n_parts = len(stage._fingerprints(df).collect())
            tr.span("ckpt.fingerprint", t0, n_parts)
        t0 = time.time()
        tw = time.perf_counter()
        m = stage.run(df)
        tr.span("ckpt.write", tw, m["rows_written"])
        self._run = (stage, m, t0)
        # read back one rewritten partition: the smallest zone the delta touched
        zone = self.expected(i)["partition"]["zone"].iloc[0]
        part = (stage.read(spark).where(F.col("zone") == int(zone))
                .agg(F.lit(int(zone)).cast("long").alias("zone"), F.count("*").alias("n"),
                     F.sum(F.pmod(F.col("cell12"), F.lit(1000003))).alias("cell_mod"),
                     F.sum(q(F.col("easting"), oracle.CM)).alias("e_cm"),
                     F.sum(q(F.col("northing"), oracle.CM)).alias("n_cm")))
        return {"run": pd.DataFrame({"written": [m["written"]], "rows_written": [m["rows_written"]]}),
                "partition": part.toPandas()}

    def trace_counts(self, tr: Tracer) -> None:
        paths, pts = self._traced
        stage, m, t0 = self._run
        tr.count("pages.rows_in", pts.sparkSession.read.parquet(*paths).count())
        tr.count("pages.rows_out", pts.count())
        written = {os.path.dirname(p) for p in glob.glob(os.path.join(stage.data_path, "zone=*", "*"))
                   if os.stat(p).st_mtime >= t0}
        tr.count("ckpt.partitions_stale", m["written"])
        tr.count("ckpt.partitions_written", len(written))
        tr.count("ckpt.bytes_written", dir_bytes(self.ckpt, t0)[0])
        tr.count("ckpt.lineage_commits", len(glob.glob(os.path.join(stage.lineage_path, "commit=*"))))


WORKLOADS = {w.name: w for w in (Project, JoinTile, Resume)}
