"""Scaling-probe worker: one pinned Spark run of the kernel pipeline.

Usage:  taskset -c <cpus> python tools/scale_probe.py <cores> <rows> [job]

job = "kernel" (default): synthesize -> auto-zoned exact-TM projection
(etmerc VUDF) -> cell encode -> rollup -> count — the map-heavy spine.
job = "join": synthesize -> broadcast point-in-polygon join against the
12 admin diamonds -> per-admin rollup — the spatial-JOIN flavor of the
north rule's throughput metric (cover-cell broadcast equi-join + exact
ray-cast expression; the points side never shuffles before the tiny
per-admin aggregate).

Prints ``RESULT <cores> <best_sec> <rows_per_sec>``.

Invoked by bench.py's scaling_probe with the process pinned (taskset)
to exactly <cores> CPUs, so the python UDF workers and the JVM share
the same budget a real <cores>-core executor would have.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The probe models an N-core EXECUTOR: a small fixed heap to match the
# pinned CPU budget (the engine's 24g local-suite default is sized for
# a 32-thread 42-query session and measurably mis-behaves under a
# 2-8 CPU taskset pin — a 24g-heap 8-CPU pass was observed wedged in
# GC/startup).  All recorded scaling sessions ran at 8g; keep the
# series comparable.
os.environ.setdefault("SPARK_DRIVER_MEM", "8g")

from pyspark.sql import functions as F  # noqa: E402

from proj_spark.pages import synth_points  # noqa: E402
from proj_spark.spark.session import get_spark  # noqa: E402
from proj_spark.spark.udf import utm_fwd_udf  # noqa: E402
from proj_spark.spatial import cells  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    n = int(sys.argv[2])
    kind = sys.argv[3] if len(sys.argv) > 3 else "kernel"
    spark = get_spark(f"scale-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8))
    pts = synth_points(spark, n)
    u = utm_fwd_udf()

    if kind == "join":
        import __spark_entry__ as entry
        from proj_spark.spatial.pip import pip_join
        polys = entry._admin_polygons(spark)
        # join throughput, not string synthesis: points carry only the
        # join-relevant columns (like the kernel job's lon/lat select)
        jpts = pts.select("lon", "lat")

        def job() -> int:
            hits = pip_join(jpts, polys, z=7)
            return (hits.groupBy("admin_id")
                    .agg(F.count("*").alias("n_pages")).count())
    else:
        def job() -> int:
            return (pts.withColumn("_u", u(F.col("lon"), F.col("lat")))
                    .select(F.col("_u.zone").alias("zone"),
                            cells.cell_parent(
                                cells.cell_id(F.col("lon"), F.col("lat"), 12),
                                6)
                            .alias("c6"))
                    .groupBy("zone", "c6").count().count())

    job()  # warm: spawn python workers, compile codegen, JIT
    job()
    times = []
    for _ in range(5):
        t0 = time.time()
        job()
        times.append(time.time() - t0)
    best = min(times)
    print(f"RESULT {cores} {best:.3f} {n / best:.1f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
