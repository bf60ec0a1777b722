"""Independent reference numerics for the oracle.

Written from the textbook formulas, not from the engine's kernels:

- UTM forward: the Krueger n-series to sixth order (Karney 2011,
  "Transverse Mercator with an accuracy of a few nanometers", eqs. 35);
- the datum chain: geodetic -> geocentric, a 7-parameter position-vector
  Helmert with the small-angle rotation matrix, and an iterated (not
  Bowring one-step) geocentric -> geodetic inverse;
- ellipsoidal distance: Vincenty's inverse iterated to convergence.

The engine and these routines agree to well under a micrometre on the
benchmark's inputs; the oracle turns the residual into an explicit
per-group "ambiguous rounding" allowance (see oracle.quantize).
"""

from __future__ import annotations

import math

import numpy as np

GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563

# DHDN -> ETRS89 (position-vector convention): tx, ty, tz metres,
# rx, ry, rz arc-seconds, s ppm
HELMERT = (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7)
HELMERT_PROJ = ("+proj=helmert +x=598.1 +y=73.7 +z=418.2 +rx=0.202 "
                "+ry=0.045 +rz=-2.455 +s=6.7 +convention=position_vector")


def utm_zone(lon: np.ndarray) -> np.ndarray:
    return np.clip(np.floor((lon + 180.0) / 6.0).astype(np.int64) + 1, 1, 60)


def utm_fwd(lon: np.ndarray, lat: np.ndarray):
    """(lon, lat) degrees -> (zone, easting m, northing m), northern
    false origin, GRS80, k0 = 0.9996."""
    a, f, k0 = GRS80_A, GRS80_F, 0.9996
    n = f / (2.0 - f)
    e = math.sqrt(f * (2.0 - f))
    alpha = [
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16 + 41 * n**4 / 180
        - 127 * n**5 / 288 + 7891 * n**6 / 37800,
        13 * n**2 / 48 - 3 * n**3 / 5 + 557 * n**4 / 1440
        + 281 * n**5 / 630 - 1983433 * n**6 / 1935360,
        61 * n**3 / 240 - 103 * n**4 / 140 + 15061 * n**5 / 26880
        + 167603 * n**6 / 181440,
        49561 * n**4 / 161280 - 179 * n**5 / 168 + 6601661 * n**6 / 7257600,
        34729 * n**5 / 80640 - 3418889 * n**6 / 1995840,
        212378941 * n**6 / 319334400,
    ]
    big_a = a / (1 + n) * (1 + n**2 / 4 + n**4 / 64 + n**6 / 256)
    zone = utm_zone(lon)
    lam = np.radians(lon - ((zone - 1) * 6.0 - 180.0 + 3.0))
    phi = np.radians(lat)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - e * np.arctanh(e * sphi))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xs, es_ = xi.copy(), eta.copy()
    for j, al in enumerate(alpha, start=1):
        xs += al * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        es_ += al * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    return zone, 500000.0 + k0 * big_a * es_, k0 * big_a * xs


def datum_shift(lon: np.ndarray, lat: np.ndarray):
    """(lon, lat) degrees on GRS80, h = 0 -> (lon, lat) degrees after
    the HELMERT position-vector shift, back on GRS80."""
    a, f = GRS80_A, GRS80_F
    e2 = f * (2.0 - f)
    lam, phi = np.radians(lon), np.radians(lat)
    nu = a / np.sqrt(1.0 - e2 * np.sin(phi) ** 2)
    x = nu * np.cos(phi) * np.cos(lam)
    y = nu * np.cos(phi) * np.sin(lam)
    z = nu * (1.0 - e2) * np.sin(phi)
    tx, ty, tz, rx, ry, rz, s = HELMERT
    as2r = math.pi / (180.0 * 3600.0)
    rx, ry, rz = rx * as2r, ry * as2r, rz * as2r
    m = 1.0 + s * 1e-6
    x2 = tx + m * (x - rz * y + ry * z)
    y2 = ty + m * (rz * x + y - rx * z)
    z2 = tz + m * (-ry * x + rx * y + z)
    p = np.hypot(x2, y2)
    phi2 = np.arctan2(z2, p * (1.0 - e2))
    for _ in range(6):
        nu2 = a / np.sqrt(1.0 - e2 * np.sin(phi2) ** 2)
        h = p / np.cos(phi2) - nu2
        phi2 = np.arctan2(z2, p * (1.0 - e2 * nu2 / (nu2 + h)))
    return np.degrees(np.arctan2(y2, x2)), np.degrees(phi2)


def vincenty_dist(lon1, lat1, lon2, lat2) -> np.ndarray:
    """WGS84 geodesic distance in metres (Vincenty inverse, iterated
    until lambda moves less than 1e-14 rad).  Inputs are never
    near-antipodal here, so the iteration always converges."""
    a, f = WGS84_A, WGS84_F
    b = a * (1.0 - f)
    u1 = np.arctan((1.0 - f) * np.tan(np.radians(lat1)))
    u2 = np.arctan((1.0 - f) * np.tan(np.radians(lat2)))
    big_l = np.radians(lon2 - lon1)
    su1, cu1, su2, cu2 = np.sin(u1), np.cos(u1), np.sin(u2), np.cos(u2)
    lam = big_l.copy()
    for _ in range(200):
        sl, cl = np.sin(lam), np.cos(lam)
        ss = np.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
        cs = su1 * su2 + cu1 * cu2 * cl
        sig = np.arctan2(ss, cs)
        with np.errstate(invalid="ignore", divide="ignore"):
            sa = np.where(ss == 0, 0.0, cu1 * cu2 * sl / ss)
            c2a = 1.0 - sa * sa
            c2sm = np.where(c2a == 0, 0.0, cs - 2.0 * su1 * su2 / c2a)
        c = f / 16.0 * c2a * (4.0 + f * (4.0 - 3.0 * c2a))
        new = big_l + (1.0 - c) * f * sa * (
            sig + c * ss * (c2sm + c * cs * (-1.0 + 2.0 * c2sm * c2sm)))
        done = np.max(np.abs(new - lam)) < 1e-14
        lam = new
        if done:
            break
    sl, cl = np.sin(lam), np.cos(lam)
    ss = np.sqrt((cu2 * sl) ** 2 + (cu1 * su2 - su1 * cu2 * cl) ** 2)
    cs = su1 * su2 + cu1 * cu2 * cl
    sig = np.arctan2(ss, cs)
    with np.errstate(invalid="ignore", divide="ignore"):
        sa = np.where(ss == 0, 0.0, cu1 * cu2 * sl / ss)
        c2a = 1.0 - sa * sa
        c2sm = np.where(c2a == 0, 0.0, cs - 2.0 * su1 * su2 / c2a)
    u_sq = c2a * (a * a - b * b) / (b * b)
    big_a = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    big_b = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    dsig = big_b * ss * (c2sm + big_b / 4.0 * (
        cs * (-1.0 + 2.0 * c2sm * c2sm)
        - big_b / 6.0 * c2sm * (-3.0 + 4.0 * ss * ss) * (-3.0 + 4.0 * c2sm * c2sm)))
    return b * big_a * (sig - dsig)
