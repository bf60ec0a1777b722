"""Time the project-shaped kernel job over one points table laid out in
a chosen number of Parquet row groups.

Usage:
    python tools/slots_probe.py <points.parquet> <centres.parquet> <row_groups> [jobs]

The inputs are the benchmark's generated tables (`perfbench/run.py
--workload project` writes them under `.perfbench_work/project-s<seed>-n<rows>/`).
The points are rewritten into <row_groups> equal row groups in a temporary
directory, so Spark's scan hands every task a share of the rows (with at
least as many row groups as cores, every task slot is busy) or, with 1,
one task holds them all.  The job is the `project` workload's pipeline:
broadcast join to the centres, auto-zoned UTM, the fused datum chain, the
Karney distance to the centre, a z12 cell rolled up to z6, and a per
(zone, cell) aggregate.  Runs on local[<usable CPUs>] with two warm-up
jobs, then prints ``RESULT <row_groups> <partitions> <median_s> <job times>``.
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HELMERT = ("+proj=helmert +x=598.1 +y=73.7 +z=418.2 +rx=0.202 +ry=0.045 "
           "+rz=-2.455 +s=6.7 +convention=position_vector")


def main() -> None:
    points, centres, groups = sys.argv[1], sys.argv[2], int(sys.argv[3])
    jobs = int(sys.argv[4]) if len(sys.argv) > 4 else 6
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from proj_spark import create
    from proj_spark.spark.session import get_spark
    from proj_spark.spark.udf import datum_pipeline_udf, utm_fwd_udf
    from proj_spark.spatial import cells
    from proj_spark.spatial.knn import karney_dist_udf

    with tempfile.TemporaryDirectory() as tmp:
        table = pq.read_table(points)
        path = os.path.join(tmp, "points.parquet")
        pq.write_table(table, path, row_group_size=-(-table.num_rows // groups))
        spark = get_spark("slots-probe", master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
        datum = datum_pipeline_udf(create("+proj=cart +ellps=GRS80"), create(HELMERT))

        def job():
            pts = spark.read.parquet(path)
            df = (pts.join(F.broadcast(spark.read.parquet(centres)), "cid")
                  .select("lon", "lat", "clon", "clat"))
            lon, lat = F.col("lon"), F.col("lat")
            df = (df.withColumn("_u", utm_fwd_udf()(lon, lat))
                  .withColumn("_g", datum(lon, lat))
                  .withColumn("_d", karney_dist_udf(lon, lat, F.col("clon"), F.col("clat")))
                  .withColumn("cell6", cells.cell_parent(cells.cell_id(lon, lat, 12), 6)))
            return (df.groupBy(F.col("_u.zone").alias("zone"), "cell6")
                    .agg(F.count("*"), F.sum("_u.x"), F.sum("_u.y"),
                         F.sum("_g.lon"), F.sum("_g.lat"), F.sum("_d"))
                    .toPandas())

        for _ in range(2):
            job()
        times = []
        for _ in range(jobs):
            t = time.perf_counter()
            job()
            times.append(time.perf_counter() - t)
        parts = spark.read.parquet(path).rdd.getNumPartitions()
        spark.stop()
    print("RESULT", groups, parts, f"{np.median(times):.3f}",
          " ".join(f"{t:.3f}" for t in times), flush=True)


if __name__ == "__main__":
    main()
