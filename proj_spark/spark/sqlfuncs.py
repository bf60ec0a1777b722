"""Spark SQL function surface: the engine's kernels as `spark.sql`
callables.

The reference is consumed three ways — the C API, the CLI apps, and
SQL-ish tooling built on top; this module is the third surface for the
Spark engine: after `register_sql_functions(spark)`, plain SQL can
project, transform between CRSs and solve geodesic problems without
touching the DataFrame API:

    SELECT proj_fwd('+proj=utm +zone=32 +ellps=GRS80', lon, lat).x ...
    SELECT crs_transform('EPSG:4326', 'EPSG:25832', lon, lat) ...
    SELECT geod_inverse('WGS84', lat1, lon1, lat2, lon2).s12 ...

Everything registered here is a vectorized pandas UDF (Arrow batches,
NumPy kernels — the same batch contract as spark/udf.py; cf. the
reference's proj_trans_generic array API, src/4D_api.cpp).  The
definition argument is a normal column, so it is usually a literal;
compiled pipelines are cached per worker process keyed by the
definition string, and a mixed-definition column simply compiles once
per distinct value per batch.

Deliberately NOT registered: the cell/tile operators
(spatial/cells.py).  Those are pure Catalyst expressions that stay
inside whole-stage codegen; wrapping them in a python UDF would hide
the fast path.  In SQL, spell them inline (every driver oracle in
__spark_entry__.py shows the closed form) or build the query with the
expression API.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from proj_spark.spark.udf import run_morsels

# per-worker caches: definition string -> compiled object.  Workers are
# long-lived processes; pipelines are small (no grids until used), so
# unbounded growth only occurs with unbounded distinct definitions.
_PIPELINES: dict[str, object] = {}
_TRANSFORMS: dict[tuple[str, str], object] = {}
_GEODESICS: dict[str, object] = {}


def _pipeline(defn: str):
    op = _PIPELINES.get(defn)
    if op is None:
        from proj_spark.projstring import create
        op = _PIPELINES[defn] = create(defn)
    return op


def _transform(src: str, dst: str):
    t = _TRANSFORMS.get((src, dst))
    if t is None:
        from proj_spark.planner import crs_to_crs
        t = _TRANSFORMS[(src, dst)] = crs_to_crs(src, dst)
    return t


def _geodesic(ellps: str):
    g = _GEODESICS.get(ellps)
    if g is None:
        from proj_spark.ellipsoids import get_ellipsoid
        from proj_spark.operations.karney import Geodesic
        e = get_ellipsoid(ellps)
        g = _GEODESICS[ellps] = Geodesic(e.a, e.f)
    return g


def _by_group(key: pd.Series, cols: list[pd.Series], n_out: int, resolve, kernel):
    """Apply kernel(resolve(key_value), *chunks) -> n_out arrays, grouped
    by the distinct values of `key` (usually a single literal).

    resolve() returns the group's compiled object, filling the per-worker
    caches, before run_morsels splits the group's rows: the caches are
    never touched from a morsel thread.

    SQL null semantics: rows with a null key yield null (NaN -> Spark
    NULL) outputs instead of failing the task; null numeric inputs are
    already NaN in the float view and propagate through the kernels."""
    n = len(key)
    outs = [np.full(n, np.nan) for _ in range(n_out)]
    vals = [c.to_numpy(np.float64) for c in cols]
    kv = key.to_numpy()
    valid = ~pd.isna(kv)
    for k in pd.unique(kv[valid]):
        m = (kv == k) & valid
        rs = run_morsels(partial(kernel, resolve(str(k))), *(v[m] for v in vals))
        for o, r in zip(outs, rs):
            o[m] = r
    return outs


_XY = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
_LL = StructType([StructField("lon", DoubleType()), StructField("lat", DoubleType())])
_XYZ = StructType([StructField("x", DoubleType()), StructField("y", DoubleType()),
                   StructField("z", DoubleType())])
_INV = StructType([StructField("s12", DoubleType()), StructField("azi1", DoubleType()),
                   StructField("azi2", DoubleType())])
_DIR = StructType([StructField("lat2", DoubleType()), StructField("lon2", DoubleType()),
                   StructField("azi2", DoubleType())])


def _proj_fwd_fn(defn: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    x, y = _by_group(defn, [lon, lat], 2, _pipeline,
                     lambda op, lo, la: op.fwd_deg(lo, la))
    return pd.DataFrame({"x": x, "y": y})


def _proj_inv_fn(defn: pd.Series, x: pd.Series, y: pd.Series) -> pd.DataFrame:
    lon, lat = _by_group(defn, [x, y], 2, _pipeline,
                         lambda op, xv, yv: op.inv_deg(xv, yv))
    return pd.DataFrame({"lon": lon, "lat": lat})


def _crs_transform_fn(src: pd.Series, dst: pd.Series, x: pd.Series,
                      y: pd.Series) -> pd.DataFrame:
    # group on the (src, dst) pair packed into one key; the nullable
    # string dtype propagates a null src OR dst into a null key
    key = src.astype("string") + "\x1f" + dst.astype("string")

    def run(t, xv, yv):
        if t.src.is_geographic:
            xv, yv = np.radians(xv), np.radians(yv)
        ox, oy, _ = t.fwd3d(xv, yv, np.zeros_like(xv))
        if t.dst.is_geographic:
            ox, oy = np.degrees(ox), np.degrees(oy)
        return ox, oy

    ox, oy = _by_group(key, [x, y], 2, lambda k: _transform(*k.split("\x1f")), run)
    return pd.DataFrame({"x": ox, "y": oy})


def _geod_inverse_fn(ellps: pd.Series, lat1: pd.Series, lon1: pd.Series,
                     lat2: pd.Series, lon2: pd.Series) -> pd.DataFrame:
    def run(g, la1, lo1, la2, lo2):
        s, a1, a2 = g.inverse(
            np.radians(la1), np.radians(lo1), np.radians(la2), np.radians(lo2))
        return s, np.degrees(a1), np.degrees(a2)

    s12, az1, az2 = _by_group(ellps, [lat1, lon1, lat2, lon2], 3, _geodesic, run)
    return pd.DataFrame({"s12": s12, "azi1": az1, "azi2": az2})


def _geod_direct_fn(ellps: pd.Series, lat1: pd.Series, lon1: pd.Series,
                    azi1: pd.Series, s12: pd.Series) -> pd.DataFrame:
    def run(g, la1, lo1, az1, sv):
        a, b, c = g.direct(
            np.radians(la1), np.radians(lo1), np.radians(az1), sv)
        return np.degrees(a), np.degrees(b), np.degrees(c)

    la2, lo2, az2 = _by_group(ellps, [lat1, lon1, azi1, s12], 3, _geodesic, run)
    return pd.DataFrame({"lat2": la2, "lon2": lo2, "azi2": az2})


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register every SQL-facing function on `spark`; returns the names.

    proj_fwd(defn, lon_deg, lat_deg)            -> struct<x, y>
    proj_inv(defn, x, y)                        -> struct<lon, lat> (deg)
    crs_transform(src, dst, x, y)               -> struct<x, y>
        (planner path: EPSG codes / proj strings / WKT; geographic ends
         in degrees, same convention as spark/udf.py crs_transform_udf)
    geod_inverse(ellps, lat1, lon1, lat2, lon2) -> struct<s12, azi1, azi2>
    geod_direct(ellps, lat1, lon1, azi1, s12)   -> struct<lat2, lon2, azi2>
        (degrees + meters at the boundary, like the geod CLI app)
    """
    regs = {
        "proj_fwd": (_proj_fwd_fn, _XY),
        "proj_inv": (_proj_inv_fn, _LL),
        "crs_transform": (_crs_transform_fn, _XY),
        "geod_inverse": (_geod_inverse_fn, _INV),
        "geod_direct": (_geod_direct_fn, _DIR),
    }
    for name, (fn, schema) in regs.items():
        spark.udf.register(name, pandas_udf(fn, schema))
    return list(regs)
