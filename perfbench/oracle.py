"""DuckDB oracles and the output comparison.

Each oracle reads the generated inputs (and the generator's truth
tables, so no html is parsed) and computes the job's expected output
without calling the engine: relational work runs in DuckDB SQL, the
coordinate math in geomath's independent NumPy routines.

Float outputs of transcendental kernels are compared as integer sums of
per-point quantized values, ``floor(v * scale + 0.5)``.  Engine and
oracle agree to far below the quantum, but a point whose value sits
within ``window`` of a rounding edge may land on either side; the oracle
counts those points per group (``amb_<col>``) and the comparison allows
each of them one quantum.  Everything else compares exactly: order-
insensitive, signbit-strict on floats.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

import geomath

EARTH_R = 6371008.8
KNN_K = 3
KNN_Z = 13
RADIUS_M = 1000.0
PYR_ZMAX, PYR_ZMIN = 9, 4
CELL_Z, ROLLUP = 12, 6

# (scale, window in value units): the window is >= 10x the largest
# engine/oracle difference measured on these inputs
CM = (100.0, 1e-6)          # UTM metres, haversine metres
DIST_CM = (100.0, 5e-5)     # Vincenty vs Karney differ by < 6e-6 m
DEG8 = (1e8, 1e-12)         # datum-shifted degrees


# the 3x3 neighbourhood, joined as precomputed keys so DuckDB hash-joins
OFFSETS = "(SELECT dx, dy FROM range(-1, 2) t(dx), range(-1, 2) s(dy)) off"


def quantize(v: np.ndarray, q: tuple[float, float]) -> tuple[np.ndarray, np.ndarray]:
    """(floor(v*scale + 0.5) as int64, is-ambiguous flag)."""
    scale, window = q
    s = v * scale + 0.5
    frac = s - np.floor(s)
    amb = np.minimum(frac, 1.0 - frac) < window * scale
    return np.floor(s).astype(np.int64), amb


def tile_x_sql(lon: str, z: int) -> str:
    n = 1 << z
    return f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 360.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)"


def tile_y_sql(lat: str, z: int) -> str:
    n = 1 << z
    return (f"CAST(LEAST(GREATEST(FLOOR((1.0 - LN(TAN(RADIANS({lat})) + 1.0 / COS(RADIANS({lat})))"
            f" / PI()) / 2.0 * {float(n)!r}), 0), {n - 1}) AS BIGINT)")


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    p1, p2 = f"RADIANS({lat1})", f"RADIANS({lat2})"
    return (f"({2.0 * EARTH_R!r} * ASIN(SQRT(POW(SIN(({p2} - {p1}) / 2), 2) + COS({p1}) * COS({p2})"
            f" * POW(SIN((RADIANS({lon2}) - RADIANS({lon1})) / 2), 2))))")


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _add_q(df: pd.DataFrame, col: str, v: np.ndarray, q) -> None:
    df[col], df["amb_" + col] = quantize(v, q)


def project(path: str) -> dict[str, pd.DataFrame]:
    con = _con()
    pts = con.execute(f"""
        SELECT p.lon, p.lat, c.clon, c.clat,
               {tile_x_sql('p.lon', CELL_Z)} AS tx, {tile_y_sql('p.lat', CELL_Z)} AS ty
        FROM '{path}/points.parquet' p JOIN '{path}/centres.parquet' c USING (cid)""").df()
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    zone, e, n = geomath.utm_fwd(lon, lat)
    lon2, lat2 = geomath.datum_shift(lon, lat)
    dist = geomath.vincenty_dist(lon, lat, pts["clon"].to_numpy(), pts["clat"].to_numpy())
    per = pd.DataFrame({"zone": zone.astype(np.int64), "tx": pts["tx"], "ty": pts["ty"]})
    for col, v, q in (("e_cm", e, CM), ("n_cm", n, CM), ("lon2_q", lon2, DEG8),
                      ("lat2_q", lat2, DEG8), ("dist_cm", dist, DIST_CM)):
        _add_q(per, col, v, q)
    cols = ["e_cm", "n_cm", "lon2_q", "lat2_q", "dist_cm"]
    sums = ", ".join(f"SUM({c}) AS {c}, SUM(CAST(amb_{c} AS BIGINT)) AS amb_{c}" for c in cols)
    z6 = CELL_Z - ROLLUP
    out = con.execute(f"""
        SELECT zone, CAST({z6} AS BIGINT) * {1 << 58} + (tx >> {ROLLUP}) * {1 << 29} + (ty >> {ROLLUP}) AS cell6,
               COUNT(*) AS n, {sums}
        FROM per GROUP BY 1, 2""").df()
    return {"project": out}


def _truth_points(con, path: str, name: str) -> None:
    con.execute(f"""CREATE OR REPLACE TABLE {name} AS
        SELECT url, domain, lon, lat FROM '{path}' WHERE lat IS NOT NULL AND NOT isnan(lat)""")


def join_tile(path: str) -> dict[str, pd.DataFrame]:
    con = _con()
    _truth_points(con, f"{path}/truth.parquet", "pts")
    con.execute(f"""CREATE TABLE edges AS
        WITH v AS (SELECT admin_id, generate_subscripts(ring, 1) AS k, ring
                   FROM '{path}/admins.parquet')
        SELECT admin_id, ring[k].lon AS x1, ring[k].lat AS y1,
               ring[k + 1].lon AS x2, ring[k + 1].lat AS y2
        FROM v WHERE k < len(ring)""")
    pip = con.execute("""
        WITH bb AS (SELECT admin_id, MIN(x1) AS x0, MAX(x1) AS x1, MIN(y1) AS y0, MAX(y1) AS y1
                    FROM edges GROUP BY 1),
        inside AS (
          SELECT p.url, p.domain, e.admin_id
          FROM pts p JOIN bb ON p.lon BETWEEN bb.x0 AND bb.x1 AND p.lat BETWEEN bb.y0 AND bb.y1
          JOIN edges e ON e.admin_id = bb.admin_id
          GROUP BY ALL
          HAVING SUM(CASE WHEN ((e.y1 > p.lat) != (e.y2 > p.lat))
                          AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
                          THEN 1 ELSE 0 END) % 2 = 1)
        SELECT admin_id, COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains
        FROM inside GROUP BY 1""").df()

    # radius self-join on a lat/lon grid whose bins are wider than the
    # radius at |lat| <= 70, then the exact haversine cut
    blat = RADIUS_M / EARTH_R * 180.0 / np.pi * 1.01
    blon = blat * 3.0
    d = con.execute(f"""
        WITH g AS (SELECT url, lon, lat, CAST(FLOOR(lon / {blon!r}) AS BIGINT) AS bx,
                          CAST(FLOOR(lat / {blat!r}) AS BIGINT) AS by FROM pts),
        a AS (SELECT url, lon, lat, bx + dx AS nx, by + dy AS ny FROM g, {OFFSETS})
        SELECT {haversine_sql('a.lon', 'a.lat', 'b.lon', 'b.lat')} AS dist
        FROM a JOIN g b ON b.bx = a.nx AND b.by = a.ny
        WHERE a.url < b.url""").df()["dist"].to_numpy()
    d = d[d <= RADIUS_M]
    q, amb = quantize(d, CM)
    radius = pd.DataFrame({"n_pairs": [len(d)], "dist_cm": [int(q.sum())],
                           "amb_dist_cm": [int(amb.sum())]})

    # bounded kNN: candidates are the points in the Chebyshev-1 ring of
    # z13 web-mercator cells (the engine's documented contract)
    knn = con.execute(f"""
        WITH c AS (SELECT url, lon, lat, {tile_x_sql('lon', KNN_Z)} AS tx,
                          {tile_y_sql('lat', KNN_Z)} AS ty FROM pts),
        a AS (SELECT url, lon, lat, tx + dx AS nx, ty + dy AS ny FROM c, {OFFSETS}),
        cand AS (
          SELECT a.url, b.url AS nbr, {haversine_sql('a.lon', 'a.lat', 'b.lon', 'b.lat')} AS dist
          FROM a JOIN c b ON b.tx = a.nx AND b.ty = a.ny
          WHERE a.url != b.url),
        ranked AS (SELECT dist, ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist, nbr) AS rank
                   FROM cand)
        SELECT rank, dist FROM ranked WHERE rank <= {KNN_K}""").df()
    knn_q, knn_amb = quantize(knn["dist"].to_numpy(), CM)
    knn = (pd.DataFrame({"rank": knn["rank"].astype(np.int64), "dist_cm": knn_q,
                         "amb_dist_cm": knn_amb.astype(np.int64)})
           .groupby("rank").agg(n=("dist_cm", "size"), dist_cm=("dist_cm", "sum"),
                                amb_dist_cm=("amb_dist_cm", "sum")).reset_index())

    levels = [f"""SELECT {z} AS zoom, tx >> {PYR_ZMAX - z} AS tile_x, ty >> {PYR_ZMAX - z} AS tile_y,
                         COUNT(*) AS n FROM t GROUP BY 1, 2, 3"""
              for z in range(PYR_ZMAX, PYR_ZMIN - 1, -1)]
    pyramid = con.execute(f"""
        WITH t AS (SELECT {tile_x_sql('lon', PYR_ZMAX)} AS tx, {tile_y_sql('lat', PYR_ZMAX)} AS ty FROM pts)
        {' UNION ALL '.join(levels)}""").df()
    return {"pip": pip, "radius": radius, "knn": knn, "pyramid": pyramid}


def resume(path: str, n_deltas: int) -> list[dict[str, pd.DataFrame]]:
    """Per delta: the partitions run() must rewrite and the content of
    the smallest-zone rewritten partition read back."""
    con = _con()
    _truth_points(con, f"{path}/truth_base.parquet", "base")
    out = []
    for d in range(n_deltas):
        _truth_points(con, f"{path}/truth_delta{d}.parquet", "delta")
        pts = con.execute(f"""
            SELECT lon, lat, {tile_x_sql('lon', CELL_Z)} AS tx, {tile_y_sql('lat', CELL_Z)} AS ty
            FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)""").df()
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        zone, e, n = geomath.utm_fwd(lon, lat)
        dzone = geomath.utm_zone(con.execute("SELECT lon FROM delta").df()["lon"].to_numpy())
        stale = sorted(set(dzone.tolist()))
        sel = zone == stale[0]
        cell = (np.int64(CELL_Z) << 58) + (pts["tx"].to_numpy()[sel] << 29) + pts["ty"].to_numpy()[sel]
        part = pd.DataFrame({"zone": [stale[0]], "n": [int(sel.sum())],
                             "cell_mod": [int((cell % 1000003).sum())]})
        for col, v in (("e_cm", e[sel]), ("n_cm", n[sel])):
            qv, amb = quantize(v, CM)
            part[col], part["amb_" + col] = [int(qv.sum())], [int(amb.sum())]
        run = pd.DataFrame({"written": [len(stale)],
                            "rows_written": [int(np.isin(zone, stale).sum())]})
        out.append({"run": run, "partition": part})
    return out


def compare(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    """Order-insensitive, signbit-strict comparison of every output
    table; an ``amb_<col>`` column in the oracle lets ``<col>`` differ by
    at most that many quanta."""
    issues = []
    if sorted(got) != sorted(want):
        return [f"outputs {sorted(got)} != {sorted(want)}"]
    for name, w in want.items():
        g = got[name]
        amb = {c[4:]: c for c in w.columns if c.startswith("amb_")}
        wcols = sorted(c for c in w.columns if not c.startswith("amb_"))
        if sorted(g.columns) != wcols:
            issues.append(f"{name}: columns {sorted(g.columns)} != {wcols}")
            continue
        if len(g) != len(w):
            issues.append(f"{name}: {len(g)} rows != {len(w)}")
            continue
        keys = [c for c in wcols if c not in amb]
        g = g.sort_values(keys).reset_index(drop=True)
        w = w.sort_values(keys).reset_index(drop=True)
        for c in wcols:
            gv, wv = g[c].to_numpy(), w[c].to_numpy()
            if c in amb:
                bad = np.abs(gv.astype(np.int64) - wv.astype(np.int64)) > w[amb[c]].to_numpy()
            elif np.issubdtype(gv.dtype, np.floating) or np.issubdtype(wv.dtype, np.floating):
                gv, wv = gv.astype(np.float64), wv.astype(np.float64)
                same = (gv == wv) & (np.signbit(gv) == np.signbit(wv))
                bad = ~(same | (np.isnan(gv) & np.isnan(wv)))
            else:
                bad = gv.astype(np.int64) != wv.astype(np.int64) if gv.dtype.kind in "iu" \
                    else gv.astype(str) != wv.astype(str)
            if bad.any():
                i = int(np.argmax(bad))
                issues.append(f"{name}.{c}: {int(bad.sum())} mismatches, first {gv[i]!r} != {wv[i]!r}")
    return issues


def cached(work: str, key: str, fn):
    """Compute an oracle once per seed and keep it beside the inputs."""
    import pickle
    f = os.path.join(work, f"oracle_{key}.pkl")
    if os.path.exists(f):
        with open(f, "rb") as fh:
            return pickle.load(fh)
    res = fn()
    with open(f + ".tmp", "wb") as fh:
        pickle.dump(res, fh)
    os.replace(f + ".tmp", f)
    return res

