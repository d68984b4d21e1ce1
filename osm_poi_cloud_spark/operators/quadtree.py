"""Adaptive quadtree partition planner + skew (salting) plan.

The reference's core physical operator: count nodes per Web-Mercator
tile at every zoom, then recursively split any tile holding more than
``max_nodes`` into its 4 children until it fits or max zoom is reached
(``stack/sharding/src/main.rs:178-277``; knobs ``main.rs:21-27``:
max_zoom=20, max_nodes=1e6). Oversized max-zoom leaves are only warned
about there (``main.rs:202-216``); this engine instead emits a salting
plan for them — required at 10^12 scale where a Manhattan-density cell
cannot be one task.

Spark shape: the count pass is ONE ``groupBy(x, y).count()`` at
``max_zoom`` (partial+final hash agg — the distributed analog of the
reference's rayon ``par_map_reduce``, ``main.rs:122-172``); parents are
derived on the driver by key-shifting (``x >>= 1; y >>= 1``,
``main.rs:143-147``) because the populated-cell histogram is small
relative to the data (bounded by 4^max_zoom, in practice by the point
count). For planet-scale inputs where even the max-zoom histogram is
too wide, ``max_zoom`` is the knob: z12 caps the histogram at 16.7M
rows regardless of input size.
"""

from __future__ import annotations

import json
import math
from collections import defaultdict
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import local_table
from ..functions import tile_math as tm


@dataclass(frozen=True)
class Shard:
    zoom: int
    x: int
    y: int
    node_count: int

    @property
    def shard_id(self) -> str:
        return f"{self.zoom}-{self.x}-{self.y}"


def tile_count_histogram(points: DataFrame, max_zoom: int,
                         lon: str = "lon", lat: str = "lat") -> dict[tuple[int, int], int]:
    """Distributed count pass -> {(x, y): n} at max_zoom (driver-side dict).

    Non-finite / unmappable coordinates are excluded, matching the
    reference's finite check (main.rs:135-137)."""
    x, y = tm.tile_cols(lon, lat, max_zoom)
    inf = float("inf")
    rows = (
        points.filter(F.col(lon).isNotNull() & F.col(lat).isNotNull()
                      & ~F.isnan(F.col(lon)) & ~F.isnan(F.col(lat))
                      # ±Infinity must be excluded too (the numpy kernel
                      # returns -1/unmappable; the SQL clamp would
                      # otherwise count it in an edge tile)
                      & (F.col(lon) > -inf) & (F.col(lon) < inf)
                      & (F.col(lat) > -inf) & (F.col(lat) < inf))
        .select(x.alias("x"), y.alias("y"))
        .groupBy("x", "y")
        .count()
        .collect()
    )
    return {(int(r["x"]), int(r["y"])): int(r["count"]) for r in rows}


def rollup_counts(max_zoom_counts: dict[tuple[int, int], int], max_zoom: int) -> list[dict]:
    """Bubble counts up to zoom 0 by shifting (main.rs:143-147)."""
    counts: list[dict] = [defaultdict(int) for _ in range(max_zoom + 1)]
    counts[max_zoom].update(max_zoom_counts)
    for z in range(max_zoom - 1, -1, -1):
        for (x, y), n in counts[z + 1].items():
            counts[z][(x >> 1, y >> 1)] += n
    return counts


def build_shards(counts: list[dict], max_zoom: int, max_nodes: int) -> tuple[list[Shard], list[Shard]]:
    """Recursive subdivision — same decision rules as main.rs:222-277:
    a cell is a leaf iff ``count <= max_nodes`` or ``zoom == max_zoom``;
    zero-count children are skipped. Returns (shards, oversized)."""
    shards: list[Shard] = []
    oversized: list[Shard] = []

    def subdivide(zoom: int, x: int, y: int) -> None:
        count = counts[zoom].get((x, y), 0)
        if count == 0:
            return
        if count <= max_nodes or zoom == max_zoom:
            s = Shard(zoom, x, y, count)
            shards.append(s)
            if count > max_nodes and zoom == max_zoom:
                oversized.append(s)
            return
        cz = zoom + 1
        for cx, cy in ((x * 2, y * 2), (x * 2 + 1, y * 2), (x * 2, y * 2 + 1), (x * 2 + 1, y * 2 + 1)):
            subdivide(cz, cx, cy)

    for (x, y) in sorted(counts[0].keys()):
        subdivide(0, x, y)
    return shards, oversized


def plan_quadtree(points: DataFrame, max_zoom: int = 12, max_nodes: int = 1_000_000,
                  lon: str = "lon", lat: str = "lat") -> tuple[list[Shard], list[Shard]]:
    hist = tile_count_histogram(points, max_zoom, lon, lat)
    counts = rollup_counts(hist, max_zoom)
    return build_shards(counts, max_zoom, max_nodes)


def salt_plan(oversized: list[Shard], max_nodes: int) -> dict[str, int]:
    """Skew remedy the reference lacks: salt factor per oversized leaf so
    each (shard_id, salt) partition holds <= max_nodes points. Combine
    with AQE skew-join splitting for the join side."""
    return {s.shard_id: math.ceil(s.node_count / max_nodes) for s in oversized}


def with_salted_shard_key(df: DataFrame, salts: dict[str, int], row_key: str,
                          shard_col: str = "shard_id", salt_col: str = "shard_salt") -> DataFrame:
    """Append a deterministic salt (xxhash64 of a unique ``row_key``
    column mod the shard's factor) for hot shards; 0 elsewhere.
    Partitioning/joins then use (shard_id, shard_salt). Deterministic
    across runs/partitionings — unlike monotonically_increasing_id."""
    if not salts:
        return df.withColumn(salt_col, F.lit(0))
    mapping = F.create_map(*[F.lit(v) for kv in salts.items() for v in kv])
    factor = F.coalesce(mapping[F.col(shard_col)], F.lit(1))
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col(row_key)), factor).cast("int"))


def shards_df(spark, shards: list[Shard]) -> DataFrame:
    """Shard manifest as a small broadcastable DataFrame (the Spark form
    of the GeoJSON manifest, main.rs:280-308) — an Arrow-built local
    table, so collecting or broadcasting it launches no Spark job."""
    return local_table(spark, pa.table({
        "z": pa.array([s.zoom for s in shards], pa.int32()),
        "x": pa.array([s.x for s in shards], pa.int64()),
        "y": pa.array([s.y for s in shards], pa.int64()),
        "shard_id": pa.array([s.shard_id for s in shards], pa.string()),
        "node_count": pa.array([s.node_count for s in shards], pa.int64()),
    }))


def shards_geojson(shards: list[Shard]) -> str:
    """GeoJSON FeatureCollection manifest — format parity with
    main.rs:280-308 (tile_ring per shard, same property names)."""
    features = []
    for s in shards:
        features.append(
            {
                "type": "Feature",
                "properties": {
                    "shard_id": s.shard_id, "z": s.zoom, "x": s.x, "y": s.y,
                    "node_count": s.node_count,
                },
                "geometry": {"type": "Polygon", "coordinates": [tm.tile_ring(s.zoom, s.x, s.y)]},
            }
        )
    return json.dumps({"type": "FeatureCollection", "features": features}, indent=2)
