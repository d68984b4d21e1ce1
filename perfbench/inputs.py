"""Seeded input generators. Every input is a pure function of the seed
and the size, so the same seed gives byte-identical inputs; the engine
only ever sees the generated files and DataFrames."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the seed offsets the pages row range by this many rows, so two seeds
#: never share a page id
SEED_ROW_STRIDE = 10_000_000


def write_pages(path: str, seed: int, n_pages: int, files: int = 4) -> None:
    """``sources.pages.synthesize_pages_pdf`` rows
    [seed * SEED_ROW_STRIDE, + n_pages) as ``files`` parquet files."""
    from osm_poi_cloud_spark.sources import pages as pg

    os.makedirs(path)
    lo = seed * SEED_ROW_STRIDE
    for i in range(files):
        pdf = pg.synthesize_pages_pdf(lo + n_pages * i // files, lo + n_pages * (i + 1) // files)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       coerce_timestamps="us")


def city_centres(rng: np.random.Generator, n: int) -> np.ndarray:
    """(n, 2) lon/lat centres drawn with the pages generator's zipf city
    weights, so queries land where the POIs are skewed."""
    from osm_poi_cloud_spark.sources import pages as pg

    idx = np.clip(np.searchsorted(pg.CITY_CDF, rng.random(n)), 0, len(pg.CITIES) - 1)
    lat = np.array([pg.CITIES[i][1] for i in idx])
    lon = np.array([pg.CITIES[i][2] for i in idx])
    return np.column_stack([lon, lat])


def _irregular_ring(rng: np.random.Generator, cx: float, cy: float, radius: float,
                    n_vertices: int) -> np.ndarray:
    """Star-shaped simple ring: sorted angles, jittered radii (never
    self-intersecting, usually concave)."""
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, n_vertices))
    r = radius * rng.uniform(0.55, 1.0, n_vertices)
    return np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])


def admin_polygons(seed: int, n: int, prefix: str = "adm"):
    """Admin-like polygons: half centred on the skewed city areas (small,
    dense), half spread over the globe (large); every third one has a
    hole around its centre."""
    from osm_poi_cloud_spark.operators import spatial_join as sj

    rng = np.random.default_rng([seed, n, len(prefix)])
    polys = []
    n_city = n // 2
    centres = city_centres(rng, n_city) + rng.uniform(-0.03, 0.03, (n_city, 2))
    for i in range(n):
        if i < n_city:
            cx, cy = centres[i]
            radius = rng.uniform(0.01, 0.05)
        else:
            cx, cy = rng.uniform(-160.0, 160.0), rng.uniform(-70.0, 70.0)
            radius = rng.uniform(1.0, 8.0)
        ring = _irregular_ring(rng, cx, cy, radius, int(rng.integers(12, 48)))
        holes = ()
        if i % 3 == 0:
            holes = (_irregular_ring(rng, cx, cy, radius * 0.3, 8),)
        polys.append(sj.Polygon(f"{prefix}{i:04d}", ring, holes=holes))
    return polys


def knn_queries(seed: int, n: int) -> list[tuple[str, float, float]]:
    """(query_id, lon, lat) rows around the skewed city areas."""
    rng = np.random.default_rng([seed, n, 7])
    pts = city_centres(rng, n) + rng.uniform(-0.05, 0.05, (n, 2))
    return [(f"q{i:05d}", float(lon), float(lat)) for i, (lon, lat) in enumerate(pts)]


# -- document corpus for the curate workload ---------------------------------

_SYL = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu", "ra", "se", "ti", "vo", "wu", "ze"]
_POOL = [_SYL[(i // 256) % 16] + _SYL[(i // 16) % 16] + _SYL[i % 16] for i in range(512)]
_STOPS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "are"]
SLOGAN = "subscribe to our newsletter today for all the latest updates and offers"
N_HOSTS = 50


def write_documents(path: str, seed: int, n_docs: int, files: int = 4) -> None:
    """Documents with planted structure: docs ``3c, 3c+1, 3c+2`` are
    near-duplicate variants of cluster ``c`` (same 90-word body, one
    variant word), every 4th doc carries one shared slogan span, and
    every doc starts with its host's template line."""
    os.makedirs(path)
    ids = np.arange(n_docs, dtype=np.int64)
    rng = np.random.default_rng([seed, n_docs, 11])
    n_clusters = (n_docs + 2) // 3
    # per-cluster body: every 5th word a stopword so lang-id says 'en'
    words = rng.integers(0, len(_POOL), (n_clusters, 90))
    stops = rng.integers(0, len(_STOPS), (n_clusters, 90))
    bodies = [
        " ".join(_STOPS[stops[c, j]] if j % 5 == 4 else _POOL[words[c, j]] for j in range(90))
        for c in range(n_clusters)
    ]
    hosts = [f"h{seed}x{int(i) % N_HOSTS}" for i in ids]
    texts = [
        f"follow {hosts[i]} on social media for updates\n{bodies[i // 3]}"
        + (f" {SLOGAN}" if i % 4 == 0 else "") + f" variant{i % 3}"
        for i in range(n_docs)
    ]
    table = pa.table({"doc_id": ids, "host": hosts, "text": texts})
    for f in range(files):
        lo, hi = n_docs * f // files, n_docs * (f + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:03d}.parquet"))


# -- map-client pans for the serve layers ------------------------------------
#
# Taken from the repository: the /pois row cap the reference frontend sends
# (``fetchPois(bbox, limit=1500)``, BASELINE.md), the API's 5-degree bbox
# limit (``query_api.MAX_BBOX_DEGREES``), the reference tile pyramid's top
# zoom (z14, BASELINE.md) and the archive's top zoom (``app.stage_tiles``,
# z10), past which a client over-zooms the z10 tiles. Assumed, not measured
# from any client trace: the viewport size, 512-pixel vector tiles, and a
# display zoom drawn uniformly from the zooms at which /pois is allowed.

FRONTEND_LIMIT = 1500
VIEWPORT_PX = (1024, 768)
TILE_PX = 512
TOP_DISPLAY_ZOOM = 14


def _lowest_pois_zoom(max_degrees: float) -> int:
    """The lowest display zoom whose viewport width fits the API's bbox
    limit (the viewport is wider than tall)."""
    z = 0
    while VIEWPORT_PX[0] / TILE_PX * 360.0 / (1 << z) > max_degrees:
        z += 1
    return z


def pan_plan(seed: int, n: int, archive_max_zoom: int, max_degrees: float):
    """Map-client pans: (bbox, tile zoom). Centres follow the generator's
    zipf city weights; the bbox is the viewport at a display zoom, and
    the tile zoom is that zoom capped at the archive's top zoom."""
    rng = np.random.default_rng([seed, n, 13])
    centres = city_centres(rng, n) + rng.uniform(-0.04, 0.04, (n, 2))
    zooms = rng.integers(_lowest_pois_zoom(max_degrees), TOP_DISPLAY_ZOOM + 1, n)
    plan = []
    for (cx, cy), z in zip(centres, zooms):
        tiles = float(1 << int(z))
        half_w = VIEWPORT_PX[0] / TILE_PX / 2.0 * 360.0 / tiles
        # the viewport's height is in Web-Mercator y, so its degrees of
        # latitude depend on where it sits
        y = (1.0 - np.arcsinh(np.tan(np.radians(cy))) / np.pi) / 2.0 * tiles
        half_h = VIEWPORT_PX[1] / TILE_PX / 2.0
        lat = [float(np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yy / tiles)))))
               for yy in (y + half_h, y - half_h)]
        bbox = (float(cx - half_w), lat[0], float(cx + half_w), lat[1])
        plan.append((bbox, min(int(z), archive_max_zoom)))
    return plan
