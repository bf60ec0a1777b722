"""Seeded input generation.  Everything the engine reads is written here
as parquet from NumPy draws on ``--seed``; the oracle reads the same
files plus the ground-truth coordinates the generator keeps beside them.

Shape of the data:
  - 1000 Zipf-weighted domains (a few domains own most pages);
  - project / join_tile: 40 city clusters with Zipf-weighted populations
    in the fixed order of CITIES: 75% of rows sit in a tight Gaussian
    around their city (dense, hot cells), 25% are scattered up to
    +-8 deg lon / +-5 deg lat around it;
  - resume: the same page mix laid out over 20 UTM zones holding an
    equal share of the base each; a delta adds pages to two zones;
  - coordinates are 6-decimal values (the page geotag precision).

The seed draws the values, never the volumes: which cities are hot,
how many rows a zone holds and how many zones a delta touches are the
same for every seed, so a run's work, and so its times and bytes, do
not depend on which seed it was given.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# public city-centre coordinates (lon, lat), rounded
CITIES = [
    (-74.0, 40.7), (-118.2, 34.1), (-87.6, 41.9), (-122.4, 37.8), (-77.0, 38.9),
    (-3.7, 40.4), (-0.1, 51.5), (2.35, 48.86), (13.4, 52.5), (12.5, 41.9),
    (4.9, 52.4), (-9.1, 38.7), (18.1, 59.3), (37.6, 55.8), (28.98, 41.0),
    (31.2, 30.0), (36.8, -1.3), (18.4, -33.9), (3.4, 6.5), (-43.2, -22.9),
    (-58.4, -34.6), (-70.7, -33.4), (-99.1, 19.4), (-79.4, 43.7), (-123.1, 49.3),
    (139.7, 35.7), (135.5, 34.7), (126.98, 37.6), (121.5, 31.2), (116.4, 39.9),
    (114.1, 22.3), (103.8, 1.35), (100.5, 13.8), (72.9, 19.1), (77.2, 28.6),
    (151.2, -33.9), (144.96, -37.8), (174.8, -36.9), (55.3, 25.3), (34.8, 32.1),
]
N_DOMAINS = 1000
N_ADMINS = 12
LANGS = ["en", "de", "fr", "es", "pt", "ja"]


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _fmt6(v: np.ndarray) -> np.ndarray:
    return np.char.mod("%.6f", v)


def _rows(rng: np.random.Generator, cid: np.ndarray, lon: np.ndarray, lat: np.ndarray):
    """(cid, domain, lon, lat, lon text, lat text); lon/lat are the exact
    doubles of their 6-decimal text (what a geotag parser recovers)."""
    lon_s, lat_s = _fmt6(lon), _fmt6(lat)
    dom = rng.choice(N_DOMAINS, len(cid), p=_zipf_weights(N_DOMAINS, 1.1))
    return cid, dom, lon_s.astype(np.float64), lat_s.astype(np.float64), lon_s, lat_s


def geo_rows(rng: np.random.Generator, n: int):
    """n rows around the Zipf-weighted city clusters."""
    cid = rng.choice(len(CITIES), n, p=_zipf_weights(len(CITIES), 1.0))
    centre = np.asarray(CITIES, dtype=np.float64)[cid]
    tight = rng.random(n) < 0.75
    dlon = np.where(tight, rng.normal(0.0, 0.25, n), rng.uniform(-8.0, 8.0, n))
    dlat = np.where(tight, rng.normal(0.0, 0.18, n), rng.uniform(-5.0, 5.0, n))
    lon = np.clip(centre[:, 0] + dlon, -179.9, 179.9)
    lat = np.clip(centre[:, 1] + dlat, -70.0, 70.0)
    return _rows(rng, cid, lon, lat)


RESUME_ZONES = np.arange(3, 61, 3)  # 20 UTM zones, 18 deg of longitude apart


def zone_rows(rng: np.random.Generator, zones: np.ndarray, per_zone: int, hubs: np.ndarray):
    """per_zone rows inside each given UTM zone: 75% in a tight Gaussian
    around the zone's hub latitude, 25% scattered over the zone; every
    longitude stays inside its zone, so zone row counts are exact."""
    cid = np.repeat(zones, per_zone)
    n = len(cid)
    west = (cid - 1) * 6.0 - 180.0
    hub = hubs[np.searchsorted(RESUME_ZONES, cid)]
    tight = rng.random(n) < 0.75
    lon = west + np.where(tight, np.clip(rng.normal(3.0, 0.25, n), 0.01, 5.99),
                          rng.uniform(0.01, 5.99, n))
    lat = hub + np.where(tight, rng.normal(0.0, 0.18, n), rng.uniform(-5.0, 5.0, n))
    return _rows(rng, cid, lon, lat)


def _urls(dom: np.ndarray, tag: str) -> list[str]:
    return [f"https://site{d}.example/{tag}/{i}" for i, d in enumerate(dom.tolist())]


def write_points(path: str, seed: int, n: int) -> None:
    """project input: points(url, domain, cid, lon, lat) + centres(cid, clon, clat)."""
    rng = np.random.default_rng([seed, 1])
    cid, dom, lon, lat, _, _ = geo_rows(rng, n)
    pq.write_table(pa.table({
        "url": _urls(dom, f"p{seed}"), "domain": dom.astype(str),
        "cid": cid.astype(np.int32), "lon": lon, "lat": lat,
    }), os.path.join(path, "points.parquet"))
    c = np.asarray(CITIES, dtype=np.float64)
    pq.write_table(pa.table({"cid": np.arange(len(CITIES), dtype=np.int32),
                             "clon": c[:, 0], "clat": c[:, 1]}),
                   os.path.join(path, "centres.parquet"))


def _pages_table(rng: np.random.Generator, rows, tag: str):
    """pages(url, warc_ts, html, text, lang) for the geo rows ``rows``
    and its truth table (url, domain, lon, lat) -- lon/lat null where
    the page has no tag."""
    _, dom, lon, lat, lon_s, lat_s = rows
    n = len(dom)
    kind = (rng.permutation(n) + rng.random(n)) / n  # stratified: exact kind shares
    urls = _urls(dom, tag)
    words = rng.integers(0, 1 << 30, size=(n, 3))
    html, texts = [], []
    for i in range(n):
        if kind[i] < 0.08:
            tag_html = ""
        elif kind[i] < 0.18:
            tag_html = f'<meta name="ICBM" content="{lat_s[i]}, {lon_s[i]}">'
        else:
            tag_html = f'<meta name="geo.position" content="{lat_s[i]};{lon_s[i]}">'
        w = words[i]
        body = f"<p>item {w[0]:x} section {w[1]:x} ref {w[2]:x}</p>" * 4
        html.append(f'<html><head><meta charset="utf-8">{tag_html}<title>{urls[i]}'
                    f'</title></head><body><h1>page {i}</h1>{body}</body></html>'.encode())
        texts.append(f"Document {i} :: {w[0]:x} {w[1]:x} {w[2]:x}")
    has = kind >= 0.08
    ts = (np.int64(1_704_067_200) + rng.integers(0, 86_400 * 30, n)) * 1_000_000
    pages = pa.table({
        "url": urls,
        "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, type=pa.binary()),
        "text": texts,
        "lang": np.asarray(LANGS)[dom % len(LANGS)],
    })
    truth = pa.table({
        "url": urls, "domain": dom.astype(str),
        "lon": pa.array(np.where(has, lon, np.nan), from_pandas=True),
        "lat": pa.array(np.where(has, lat, np.nan), from_pandas=True),
    })
    return pages, truth


def admin_rings(rng: np.random.Generator) -> list[tuple[int, list[tuple[float, float]]]]:
    """N_ADMINS star-shaped polygons (8..16 vertices) around the heaviest
    city clusters; closed rings of 6-decimal vertices."""
    out = []
    for a in range(N_ADMINS):
        cx, cy = CITIES[a]
        k = int(rng.integers(8, 17))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = rng.uniform(0.08, 0.3, k)
        xs = np.round(cx + r * np.cos(ang) * 1.3, 6)
        ys = np.round(cy + r * np.sin(ang), 6)
        ring = list(zip(xs.tolist(), ys.tolist()))
        out.append((a, ring + [ring[0]]))
    return out


def write_pages(path: str, seed: int, n: int) -> None:
    """join_tile input: pages + truth + admin polygons."""
    rng = np.random.default_rng([seed, 2])
    pages, truth = _pages_table(rng, geo_rows(rng, n), f"j{seed}")
    pq.write_table(pages, os.path.join(path, "pages.parquet"))
    pq.write_table(truth, os.path.join(path, "truth.parquet"))
    rings = admin_rings(rng)
    pq.write_table(pa.table({
        "admin_id": [a for a, _ in rings],
        "ring": [[{"lon": x, "lat": y} for x, y in r] for _, r in rings],
    }), os.path.join(path, "admins.parquet"))


def write_resume(path: str, seed: int, n: int, n_delta: int, n_deltas: int) -> None:
    """resume input: a base pages table spread evenly over RESUME_ZONES
    and a pool of deltas.  Each delta is n_delta new pages split over
    two seeded zones, so every delta makes run() rewrite the same volume:
    two of the twenty zone partitions."""
    rng = np.random.default_rng([seed, 3])
    hubs = rng.uniform(-45.0, 55.0, len(RESUME_ZONES))
    rows = zone_rows(rng, RESUME_ZONES, n // len(RESUME_ZONES), hubs)
    base, truth = _pages_table(rng, rows, f"r{seed}")
    os.makedirs(os.path.join(path, "base"), exist_ok=True)
    pq.write_table(base, os.path.join(path, "base", "part-0.parquet"))
    pq.write_table(truth, os.path.join(path, "truth_base.parquet"))
    for d in range(n_deltas):
        zones = np.sort(rng.choice(RESUME_ZONES, 2, replace=False))
        delta, dtruth = _pages_table(rng, zone_rows(rng, zones, n_delta // 2, hubs), f"r{seed}d{d}")
        pq.write_table(delta, os.path.join(path, f"delta{d}.parquet"))
        pq.write_table(dtruth, os.path.join(path, f"truth_delta{d}.parquet"))
