"""pandas-UDF wrappers around the NumPy coordinate kernels.

One compiled Operation (plan-time constants only: floats + small ndarrays)
is closed over by a scalar pandas UDF; Spark serializes the closure to
executors once per task.  No per-row Python: each Arrow batch (up to
65,536 rows) reaches its kernel as float64 arrays, mirroring the columnar
contract of the reference's proj_trans_generic (src/4D_api.cpp:353-460).

Every kernel UDF is built by `kernel_udf`, which hands the batch to
`run_morsels`: the batch is cut into contiguous row ranges ("morsels") of
at least MORSEL_ROWS rows, run on a per-worker thread pool sized to the
CPUs the worker may use (NumPy releases the GIL inside ufunc loops), and
the results are concatenated in row order.  The kernels are
row-independent, so outputs are bit-identical to one call on the whole
batch.  This matters when one task holds most of the rows (a single
Parquet row group, a skewed partition): its kernels still use every core.

The morsel floor exists because a kernel call has a cost no row count
amortizes (a Karney inverse costs ~2 ms even on 10
rows) and every NumPy call hands the GIL over; below ~20k rows a
morsel loses more to that than its thread gains, so a 64k batch splits
into 3 morsels and a batch under 40k rows runs as one call.  The batch
size stays at 65,536 (session.py): larger batches let Karney use a fourth
thread but raised the benchmark's peak memory by 20-28%.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DataType, DoubleType, IntegerType, StructField, StructType

XY_SCHEMA = StructType([
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
])

XYZ_SCHEMA = StructType([
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
    StructField("z", DoubleType()),
])

LONLAT_SCHEMA = StructType([
    StructField("lon", DoubleType()),
    StructField("lat", DoubleType()),
])

# Smallest morsel, in rows (see the module docstring).  Measured on a
# 4-core x86 VM over one 64k batch: 3 morsels sped Karney up 1.9-2.2x, 4
# only 1.8-1.9x, and 8 ran slower than one call (227 vs 193 ms); UTM and
# the datum chain gain up to 2.5x and 3.7x.
MORSEL_ROWS = 20_000

# per-worker-process thread pool: (pid, executor, threads)
_POOL: tuple[int, ThreadPoolExecutor | None, int] | None = None


def _worker_pool() -> tuple[ThreadPoolExecutor | None, int]:
    """The calling process's morsel pool and its thread count (the CPUs
    this process may run on).  The calling thread runs one morsel itself,
    so the pool holds one thread fewer.  Keyed by pid: PySpark forks its
    Python workers from a daemon, and a pool does not survive a fork."""
    global _POOL
    pid = os.getpid()
    if _POOL is None or _POOL[0] != pid:
        if hasattr(os, "sched_getaffinity"):
            threads = len(os.sched_getaffinity(0))
        else:   # no affinity API (macOS)
            threads = os.cpu_count() or 1
        pool = (ThreadPoolExecutor(threads - 1, thread_name_prefix="morsel")
                if threads > 1 else None)
        _POOL = (pid, pool, threads)
    return _POOL[1], _POOL[2]


def run_morsels(kernel, *cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """kernel(*cols) -> tuple of row-aligned arrays, run over contiguous
    row ranges of `cols` on the worker's threads and concatenated in row
    order.

    `kernel` must be row-independent (row i of every output depends only
    on row i of the inputs) and must not fill caches: resolve compiled
    operations before calling.  Batches under two morsels run as one
    call on the calling thread."""
    n = len(cols[0])
    pool, threads = _worker_pool()
    k = min(threads, n // MORSEL_ROWS)
    if k < 2:
        return tuple(kernel(*cols))
    cuts = [n * i // k for i in range(k + 1)]
    futs = [pool.submit(kernel, *(c[lo:hi] for c in cols))
            for lo, hi in zip(cuts[1:-1], cuts[2:])]
    parts = [kernel(*(c[:cuts[1]] for c in cols))]
    parts += [f.result() for f in futs]
    return tuple(np.concatenate(p) for p in zip(*parts))


def kernel_udf(returns: DataType, kernel, setup=None) -> "pandas_udf":
    """Scalar pandas UDF: each batch's columns go to `kernel` as float64
    arrays through run_morsels.  `kernel` returns one array per field of
    a StructType `returns` (or a 1-tuple for a plain type).

    `setup`, if given, runs once per batch in the worker before the batch
    is split, and its result is passed to every morsel as the kernel's
    first argument: per-worker caches are filled there, never in a morsel
    thread."""

    def _f(*cols):  # pd.Series each; no hints, so SCALAR by default
        fn = kernel if setup is None else partial(kernel, setup())
        outs = run_morsels(fn, *(c.to_numpy(dtype=np.float64) for c in cols))
        if isinstance(returns, StructType):
            return pd.DataFrame(dict(zip(returns.fieldNames(), outs)))
        return pd.Series(outs[0])

    return pandas_udf(_f, returns)


def fwd_udf(op) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(x, y) meters, via op.fwd_deg."""
    return kernel_udf(XY_SCHEMA, op.fwd_deg)


def inv_udf(op) -> "pandas_udf":
    """(x, y) meters -> struct(lon, lat) degrees, via op.inv_deg."""
    return kernel_udf(LONLAT_SCHEMA, op.inv_deg)


def cart_fwd_udf(op) -> "pandas_udf":
    """(lon_deg, lat_deg, h) -> struct(x, y, z) geocentric meters."""
    return kernel_udf(
        XYZ_SCHEMA, lambda lon, lat, h: op.fwd3d(np.radians(lon), np.radians(lat), h))


def helmert_udf(h) -> "pandas_udf":
    """(x, y, z) -> struct(x, y, z) via a Helmert transform (epoch-free)."""
    return kernel_udf(XYZ_SCHEMA, h.fwd)


def project(df: DataFrame, projstring: str, lon_col: str = "lon", lat_col: str = "lat",
            out_x: str = "x", out_y: str = "y") -> DataFrame:
    """Project lon/lat degree columns with any registered operation.

    Web Mercator is special-cased to *native Spark expressions* (no UDF,
    stays inside whole-stage codegen) since its math is closed-form.
    """
    from proj_spark import create

    if projstring.strip().startswith("+proj=webmerc"):
        op = create(projstring)
        a = op.a
        lam = F.radians(F.col(lon_col))
        phi = F.radians(F.col(lat_col))
        return df.withColumn(out_x, a * lam).withColumn(
            out_y, a * F.log(F.tan(F.lit(np.pi / 4) + phi / 2)))
    op = create(projstring)
    u = fwd_udf(op)
    tmp = "_prj"
    out = df.withColumn(tmp, u(F.col(lon_col), F.col(lat_col)))
    return (out.withColumn(out_x, F.col(f"{tmp}.x"))
               .withColumn(out_y, F.col(f"{tmp}.y"))
               .drop(tmp))


UTM_SCHEMA = StructType([
    StructField("zone", IntegerType()),
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
])


def utm_fwd_udf(ellps: str = "GRS80", south: bool = False) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(zone int, x, y): auto-zoned UTM.

    One UDF handles every zone: UTMBatch projects a batch that mixes
    zones in one kernel call with a per-row central meridian.  This keeps
    the whole-table projection a single map-side pass — no per-zone
    filtering, no repartition — which is the shape that scales: 60
    filtered passes would scan the table 60 times.
    Zone logic mirrors src/projections/tmerc.cpp:541-589.
    """
    return kernel_udf(UTM_SCHEMA, _utm_kernel, setup=lambda: _utm_op(ellps, south))


# per-executor-worker UTM kernel cache (setup amortized across batches)
_UTM_OP_CACHE: dict = {}


def _utm_op(ellps: str, south: bool):
    key = (ellps, south)
    op = _UTM_OP_CACHE.get(key)
    if op is None:
        from proj_spark.operations.tmerc import UTMBatch
        params = {"ellps": ellps}
        if south:
            params["south"] = True
        op = _UTM_OP_CACHE[key] = UTMBatch(params)
    return op


def _utm_kernel(op, lon, lat):
    zone, x, y = op.fwd_deg(lon, lat)
    return zone.astype(np.int32), x, y


# per-executor-worker Geodesic cache, keyed by (a, f)
_GEODESIC_CACHE: dict = {}


def worker_geodesic(a: float, f: float):
    """The worker process's Geodesic for (a, f), built on first use: its
    series coefficients cost more to build than a small batch's
    kernel."""
    g = _GEODESIC_CACHE.get((a, f))
    if g is None:
        from proj_spark.operations.karney import Geodesic
        g = _GEODESIC_CACHE[(a, f)] = Geodesic(a, f)
    return g


def webmerc_x(lon: Column, a: float = 6378137.0) -> Column:
    return F.lit(a) * F.radians(lon)


def webmerc_y(lat: Column, a: float = 6378137.0) -> Column:
    return F.lit(a) * F.log(F.tan(F.lit(np.pi / 4) + F.radians(lat) / 2))


def cart_inv_udf(op) -> "pandas_udf":
    """(X, Y, Z) geocentric meters -> struct(lon, lat) degrees (Bowring)."""

    def kernel(x, y, z):
        lam, phi, _ = op.inv3d(x, y, z)
        return np.degrees(lam), np.degrees(phi)

    return kernel_udf(LONLAT_SCHEMA, kernel)


def datum_pipeline_udf(cart, helmert) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(lon, lat) after the canonical
    cart -> helmert -> cart^-1 datum pipeline, FUSED into one Arrow pass.

    Mirrors the reference pipeline composer's elision of intermediate
    prepare/finalize steps (src/fwd.cpp:173,192; SURVEY.md 4.1): one
    JVM->Python transfer for the whole chain instead of three.
    """

    def kernel(lon, lat):
        lam, phi = np.radians(lon), np.radians(lat)
        x, y, z = cart.fwd3d(lam, phi, np.zeros_like(lam))
        x, y, z = helmert.fwd(x, y, z)
        lam2, phi2, _ = cart.inv3d(x, y, z)
        return np.degrees(lam2), np.degrees(phi2)

    return kernel_udf(LONLAT_SCHEMA, kernel)


def factors_udf(op) -> "pandas_udf":
    """(lon_deg, lat_deg) -> struct(h, k, conv, s): proj_factors
    (src/factors.cpp:15-106) as one vectorized Arrow pass — meridional
    scale h, parallel scale k, meridian convergence (rad) and areal
    scale s via the reference's 4-corner central differences on the raw
    projection kernel."""
    from proj_spark.operations.factors import factors

    schema = StructType([
        StructField("h", DoubleType()),
        StructField("k", DoubleType()),
        StructField("conv", DoubleType()),
        StructField("s", DoubleType()),
    ])

    def kernel(lon, lat):
        fac = factors(op, np.radians(lon), np.radians(lat))
        return fac["h"], fac["k"], fac["conv"], fac["s"]

    return kernel_udf(schema, kernel)


def geod_inverse_udf(a: float, f: float) -> "pandas_udf":
    """(lat1, lon1, lat2, lon2 degrees) -> struct(s12 m, azi1, azi2 deg):
    the geodesic inverse problem (geod_inverse, src/geodesic.c) batch-
    solved by the vectorized Karney kernel.  Azimuths are normalized to
    [0, 360) with the sign-safe `d < 0 ? d + 360 : d + 0.0` form (the
    `+ 0.0` collapses IEEE -0.0 so downstream hashing is stable)."""
    from proj_spark.operations.karney import Geodesic

    schema = StructType([
        StructField("s12", DoubleType()),
        StructField("azi1", DoubleType()),
        StructField("azi2", DoubleType()),
    ])
    g = Geodesic(a, f)

    def kernel(lat1, lon1, lat2, lon2):
        s12, azi1, azi2 = g.inverse(np.radians(lat1), np.radians(lon1),
                                    np.radians(lat2), np.radians(lon2))
        a1 = np.degrees(azi1)
        a2 = np.degrees(azi2)
        a1 = np.where(a1 < 0.0, a1 + 360.0, a1 + 0.0)
        a2 = np.where(a2 < 0.0, a2 + 360.0, a2 + 0.0)
        return s12, a1, a2

    return kernel_udf(schema, kernel)


def geod_edge_area_udf(a: float, f: float) -> "pandas_udf":
    """(lat1, lon1, lat2, lon2 degrees) -> struct(s12 m, area12 m^2): one
    geodesic polygon EDGE's length and signed area term, the per-edge
    accumulation of the reference's geod_polygonarea
    (src/geodesic.c geod_polygon_addpoint).  Summing S12 over a closed
    ring (and negating, per areareduceA's clockwise flip) gives the
    polygon's geodesic area — done JVM-side by a groupBy, so the Python
    kernel stays a flat per-edge batch and the reduction distributes."""
    from proj_spark.operations.karney import Geodesic

    schema = StructType([
        StructField("s12", DoubleType()),
        StructField("area12", DoubleType()),
    ])
    g = Geodesic(a, f)

    def kernel(lat1, lon1, lat2, lon2):
        s12, _, _, area = g.inverse(np.radians(lat1), np.radians(lon1),
                                    np.radians(lat2), np.radians(lon2),
                                    want_area=True)
        return s12, area

    return kernel_udf(schema, kernel)


def crs_transform_udf(src: str, dst: str, area: tuple | None = None):
    """pandas UDF transforming (x, y[, z]) columns from CRS `src` to
    `dst` through the planner (candidate ranking + per-point dispatch),
    the Spark-level proj_create_crs_to_crs analogue.

    `src`/`dst` accept proj-strings, EPSG codes, or WKT/PROJJSON text.
    Returns struct(x, y, z); geographic ends are DEGREES at the UDF
    boundary (the convention every engine table uses).  The compiled
    CRSTransform — candidates, bboxes, kernels — is closed over and
    broadcast once per executor.
    """
    from proj_spark.planner import crs_to_crs

    t = crs_to_crs(src, dst, area)

    def kernel(xv, yv, zv=None):
        zv = np.zeros_like(xv) if zv is None else np.nan_to_num(zv)
        if t.src.is_geographic:
            xv, yv = np.radians(xv), np.radians(yv)
        ox, oy, oz = t.fwd3d(xv, yv, zv)
        if t.dst.is_geographic:
            ox, oy = np.degrees(ox), np.degrees(oy)
        return ox, oy, oz

    return kernel_udf(XYZ_SCHEMA, kernel)


def transform_crs(df: DataFrame, src: str, dst: str,
                  x_col: str = "lon", y_col: str = "lat",
                  z_col: str | None = None,
                  out_prefix: str = "t_") -> DataFrame:
    """DataFrame-level CRS->CRS transform: adds {out_prefix}x/y/z columns
    transformed from `src` to `dst` (a one-liner for the common case)."""
    udf = crs_transform_udf(src, dst)
    args = [F.col(x_col), F.col(y_col)]
    if z_col is not None:
        args.append(F.col(z_col))
    tmp = f"_{out_prefix}crs"
    return (df.withColumn(tmp, udf(*args))
            .withColumn(f"{out_prefix}x", F.col(f"{tmp}.x"))
            .withColumn(f"{out_prefix}y", F.col(f"{tmp}.y"))
            .withColumn(f"{out_prefix}z", F.col(f"{tmp}.z"))
            .drop(tmp))
