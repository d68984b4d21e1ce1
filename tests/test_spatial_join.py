"""Spatial join operators: shard assignment, exact PIP, ray-cast refine."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark.functions import tile_math as tm
from osm_poi_cloud_spark.operators import spatial_join as sj
from osm_poi_cloud_spark.operators import quadtree as qt


def test_point_in_ring_matches_matplotlib_free_oracle():
    """Vectorized ray cast vs a scalar reimplementation on random data."""
    rng = np.random.RandomState(3)
    # concave polygon (arrowhead)
    ring = np.array([[0, 0], [4, 0], [4, 4], [2, 2], [0, 4], [0, 0]], dtype=float)
    pts = rng.uniform(-1, 5, size=(500, 2))

    def scalar_pip(px, py):
        inside = False
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            if (y1 > py) != (y2 > py):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                if px < xint:
                    inside = not inside
        return inside

    got = sj.point_in_ring(pts[:, 0], pts[:, 1], ring)
    exp = np.array([scalar_pip(x, y) for x, y in pts])
    assert (got == exp).all()
    # sanity anchors
    assert sj.point_in_ring(np.array([1.0]), np.array([1.0]), ring)[0]
    assert not sj.point_in_ring(np.array([2.0]), np.array([3.5]), ring)[0]


def test_point_in_rings_hole_and_multipolygon():
    """Even-odd composition: donut (shell+hole), multipolygon (two
    shells), nested island (shell+hole+inner island)."""
    shell = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    hole = np.array([[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]], dtype=float)
    island = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    far = shell + 100.0

    px = np.array([5.0, 1.0, 105.0, 5.0, 3.5, 50.0])
    py = np.array([5.0, 1.0, 105.0, 4.5, 3.2, 50.0])
    # donut: center is in the hole -> out; edge band -> in
    donut = sj.point_in_rings(px, py, (shell, hole))
    assert donut.tolist() == [False, True, False, False, False, False]
    # multipolygon of two disjoint shells
    multi = sj.point_in_rings(px, py, (shell, far))
    assert multi.tolist() == [True, True, True, True, True, False]
    # nested: island inside the hole is inside again
    nested = sj.point_in_rings(px, py, (shell, hole, island))
    assert nested.tolist() == [True, True, False, True, False, False]
    # hole winding order must not matter (even-odd)
    assert (sj.point_in_rings(px, py, (shell, hole[::-1])) == donut).all()


def test_pip_join_donut_multipolygon_exact(spark):
    """point_in_polygon_join with holes + extra shells matches the direct
    numpy even-odd oracle on random points."""
    rng = np.random.RandomState(17)
    pts = pd.DataFrame({
        "pid": np.arange(3000),
        "lon": rng.uniform(-30, 30, 3000),
        "lat": rng.uniform(-30, 30, 3000),
    })
    donut = sj.Polygon(
        "donut",
        np.array([[-20, -20], [20, -20], [0, 25]], dtype=float),
        holes=(np.array([[-8, -15], [8, -15], [0, 5]], dtype=float),),
    )
    twin = sj.Polygon(
        "twin",
        np.array([[-28, 10], [-22, 10], [-25, 28]], dtype=float),
        shells=(np.array([[22, 10], [28, 10], [25, 28]], dtype=float),),
    )
    out = (
        sj.point_in_polygon_join(spark, spark.createDataFrame(pts), [donut, twin], cover_zoom=5)
        .select("pid", "polygon_id")
        .toPandas()
        .sort_values(["pid", "polygon_id"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for p in (donut, twin):
        inside = sj.point_in_rings(pts["lon"].to_numpy(), pts["lat"].to_numpy(), p.rings)
        for pid in pts.loc[inside, "pid"]:
            exp_rows.append((pid, p.polygon_id))
    exp = pd.DataFrame(exp_rows, columns=["pid", "polygon_id"]).sort_values(["pid", "polygon_id"]).reset_index(drop=True)
    assert len(out) > 100
    # the hole must actually carve rows out
    n_shell_only = sj.point_in_ring(pts["lon"].to_numpy(), pts["lat"].to_numpy(), donut.ring).sum()
    assert (out["polygon_id"] == "donut").sum() < n_shell_only
    pd.testing.assert_frame_equal(out, exp)


def test_split_antimeridian():
    # raw GeoJSON-style lons with the apparent jump at the crossing
    ring = [(175.0, -5.0), (-175.0, -5.0), (-175.0, 5.0), (175.0, 5.0)]
    shells = sj.split_antimeridian(ring)
    assert len(shells) == 2
    merged = np.vstack(shells)
    assert merged[:, 0].min() >= -180.0 and merged[:, 0].max() <= 180.0
    # areas: total box is 10 x 10 split 5/5 at the meridian
    from osm_poi_cloud_spark.functions.geometry import ring_centroid
    areas = sorted(abs(ring_centroid(s)[2]) for s in shells)
    assert areas == [pytest.approx(50.0), pytest.approx(50.0)]

    # non-crossing ring comes back unchanged
    plain = [(10.0, 0.0), (20.0, 0.0), (15.0, 5.0)]
    out = sj.split_antimeridian(plain)
    assert len(out) == 1 and np.allclose(out[0], np.asarray(plain))

    # unwrapped input (lons beyond 180) also works
    shells2 = sj.split_antimeridian([(175.0, -5.0), (185.0, -5.0), (185.0, 5.0), (175.0, 5.0)])
    assert len(shells2) == 2

    with pytest.raises(ValueError):
        # continuously increasing lons wrapping the whole globe
        sj.split_antimeridian([(0.0, 0.0), (120.0, 1.0), (240.0, 0.0), (365.0, 1.0)])


def test_split_antimeridian_preserves_area():
    """Splitting at +-180 preserves total area and point membership for
    random rings straddling the meridian."""
    from osm_poi_cloud_spark.functions.geometry import ring_centroid

    rng = np.random.RandomState(13)
    for _ in range(50):
        # star-shaped ring around a center near the meridian; all angular
        # gaps < pi keeps each edge inside its own convex wedge, which
        # GUARANTEES a simple (possibly concave, multi-crossing) polygon
        # — random radii with larger gaps self-intersect
        cx = 180.0 + rng.uniform(-10, 10)
        cy = rng.uniform(-60, 60)
        while True:
            n = rng.randint(5, 12)
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            gaps = np.diff(np.concatenate([ang, [ang[0] + 2 * np.pi]]))
            if gaps.max() < np.pi * 0.95:
                break
        rad = rng.uniform(2, 15, n)
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        shells = sj.split_antimeridian(ring)
        total = sum(abs(ring_centroid(s)[2]) for s in shells)
        assert total == pytest.approx(abs(ring_centroid(ring)[2]), rel=1e-9)
        # membership: random probe points, wrapped into [-180, 180]
        plon = cx + rng.uniform(-20, 20, 200)
        plat = cy + rng.uniform(-20, 20, 200)
        expect = sj.point_in_rings(plon, plat, (sj._close_ring(ring),))
        wrapped = (plon + 180.0) % 360.0 - 180.0
        got = sj.point_in_rings(wrapped, plat, tuple(sj._close_ring(s) for s in shells))
        # points exactly on the cut line are convention-sensitive; none
        # land there with continuous random draws
        assert (got == expect).all()


def test_split_into_lon_bands_preserves_area_and_membership():
    """Banding a simple ring into lon slabs preserves total area and
    even-odd membership; every band piece respects the width bound."""
    from osm_poi_cloud_spark.functions.geometry import ring_centroid

    rng = np.random.RandomState(29)
    for _ in range(20):
        cx, cy = rng.uniform(-120, 120), rng.uniform(-55, 55)
        while True:
            n = rng.randint(5, 12)
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            gaps = np.diff(np.concatenate([ang, [ang[0] + 2 * np.pi]]))
            if gaps.max() < np.pi * 0.95:
                break
        rad = rng.uniform(3, 20, n)
        ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
        band = 5.0
        pieces = sj.split_ring_into_lon_bands(ring, band_deg=band)
        assert len(pieces) >= 2
        total = sum(abs(ring_centroid(p)[2]) for p in pieces)
        assert total == pytest.approx(abs(ring_centroid(ring)[2]), rel=1e-9)
        for p in pieces:
            assert p[:, 0].max() - p[:, 0].min() <= band + 1e-6
        plon = cx + rng.uniform(-25, 25, 300)
        plat = cy + rng.uniform(-25, 25, 300)
        expect = sj.point_in_rings(plon, plat, (sj._close_ring(ring),))
        got = sj.point_in_rings(plon, plat, tuple(sj._close_ring(p) for p in pieces))
        assert (got == expect).all()


def test_point_in_rings_edge_chunk_bounded_memory():
    """r2 verdict #3: a coastline-grade ring (100k edges) against a big
    point batch must allocate O(points x edge_chunk), never
    O(points x total edges) — and chunking must not change the answer.

    Memory pin: numpy >= 1.22 routes data allocations through
    tracemalloc, so the traced peak is the real array footprint. Dense
    would need ~2000 x 100k x 8 B = 1.6 GB per temporary; the chunked
    path is pinned at < 400 MB total. Exactness: per-chunk crossing
    counts are int64 sums, so any chunking (including misaligned prime
    sizes) reproduces the dense count bit-for-bit."""
    import tracemalloc

    rng = np.random.RandomState(7)
    n_edges = 100_000
    theta = np.sort(rng.uniform(0, 2 * np.pi, n_edges))
    r = 1.0 + 0.3 * np.sin(13 * theta) + rng.uniform(-0.05, 0.05, n_edges)
    ring = np.column_stack([r * np.cos(theta), r * np.sin(theta)])
    ring = np.vstack([ring, ring[:1]])  # close
    pts = rng.uniform(-1.5, 1.5, size=(2000, 2))

    tracemalloc.start()
    chunked = sj.point_in_rings(pts[:, 0], pts[:, 1], (ring,), edge_chunk=4096)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 400 * 1024 * 1024, f"peak {peak/1e6:.0f} MB exceeds chunked bound"

    # chunk-size invariance (misaligned prime chunk == default chunk)
    odd = sj.point_in_rings(pts[:, 0], pts[:, 1], (ring,), edge_chunk=999)
    np.testing.assert_array_equal(chunked, odd)

    # dense parity on a subset small enough to materialize densely
    sub = pts[:200]
    dense = sj.point_in_rings(sub[:, 0], sub[:, 1], (ring,), edge_chunk=n_edges + 10)
    np.testing.assert_array_equal(chunked[:200], dense)

    # scalar ray-cast oracle spot-check
    def scalar_pip(px, py):
        inside = False
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            if (y1 > py) != (y2 > py):
                if px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
                    inside = not inside
        return inside

    exp = np.array([scalar_pip(x, y) for x, y in pts[:50]])
    np.testing.assert_array_equal(chunked[:50], exp)


def test_pip_join_antimeridian(spark):
    """A polygon straddling +-180 matches points on BOTH sides, and the
    tile cover stays local to the two shells (not the globe-width box)."""
    poly = sj.polygon_from_unwrapped(
        "fiji", [(175.0003, -20.0007), (-174.9989, -20.0013), (-174.9989, -9.9987), (175.0003, -9.9987)]
    )
    pdf = pd.DataFrame({
        "pid": np.arange(6),
        "lon": [179.5, -179.5, 176.0, -176.0, 170.0, 0.0],
        "lat": [-15.0, -15.0, -15.0, -15.0, -15.0, -15.0],
    })
    out = (
        sj.point_in_polygon_join(spark, spark.createDataFrame(pdf), [poly], cover_zoom=5)
        .select("pid").toPandas()["pid"].sort_values().tolist()
    )
    assert out == [0, 1, 2, 3]
    # cover is bounded: two shell bboxes ~5 deg wide at z5 (~11 deg/tile)
    cover = sj.polygon_tile_cover([poly], 5)
    assert len(cover) <= 8


def test_pip_join_exact(spark):
    rng = np.random.RandomState(11)
    pts = pd.DataFrame({
        "pid": np.arange(2000),
        "lon": rng.uniform(-20, 20, 2000),
        "lat": rng.uniform(-20, 20, 2000),
    })
    tri = sj.Polygon("tri", np.array([[-10, -10], [10, -10], [0, 15]], dtype=float))
    box = sj.Polygon("box", np.array([[5, 5], [18, 5], [18, 18], [5, 18]], dtype=float))
    out = (
        sj.point_in_polygon_join(spark, spark.createDataFrame(pts), [tri, box], cover_zoom=6)
        .select("pid", "polygon_id")
        .toPandas()
        .sort_values(["pid", "polygon_id"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for p in (tri, box):
        inside = sj.point_in_ring(pts["lon"].to_numpy(), pts["lat"].to_numpy(), p.ring)
        for pid in pts.loc[inside, "pid"]:
            exp_rows.append((pid, p.polygon_id))
    exp = pd.DataFrame(exp_rows, columns=["pid", "polygon_id"]).sort_values(["pid", "polygon_id"]).reset_index(drop=True)
    assert len(out) > 50
    pd.testing.assert_frame_equal(out, exp)


def test_pip_distributed_matches_broadcast(spark):
    """point_in_polygon_join_distributed (polygon TABLE, shuffle join,
    no broadcast, no driver pass) == the broadcast variant, including
    holes and multipolygon shells."""
    rng = np.random.RandomState(31)
    pts = pd.DataFrame({
        "pid": np.arange(2500),
        "lon": rng.uniform(-30, 30, 2500),
        "lat": rng.uniform(-30, 30, 2500),
    })
    polys = [
        sj.Polygon("donut", np.array([[-20, -20], [20, -20], [0, 25]], dtype=float),
                   holes=(np.array([[-8, -15], [8, -15], [0, 5]], dtype=float),)),
        sj.Polygon("tri", np.array([[-25, 5], [-5, 5], [-15, 28]], dtype=float)),
        sj.Polygon("twin", np.array([[-28, -28], [-22, -28], [-25, -18]], dtype=float),
                   shells=(np.array([[22, -28], [28, -28], [25, -18]], dtype=float),)),
    ]
    pdf = spark.createDataFrame(pts)
    a = (
        sj.point_in_polygon_join(spark, pdf, polys, cover_zoom=5)
        .select("pid", "polygon_id").toPandas()
        .sort_values(["pid", "polygon_id"]).reset_index(drop=True)
    )
    b = (
        sj.point_in_polygon_join_distributed(spark, pdf, sj.polygons_df(spark, polys), cover_zoom=5)
        .select("pid", "polygon_id").toPandas()
        .sort_values(["pid", "polygon_id"]).reset_index(drop=True)
    )
    assert len(a) > 200
    pd.testing.assert_frame_equal(a, b)


def test_polygons_df_local_table_parity(spark, count_jobs):
    """polygons_df keeps the DDL schema and every ring's values (holes,
    extra shells, open rings returned closed), also for an empty list,
    and is a local relation: no RDD scan, no job to read it back."""
    polys = [
        sj.Polygon("donut", np.array([[0, 0], [10, 0], [5, 9]]),
                   holes=(np.array([[4.0, 2.0], [6.0, 2.0], [5.0, 4.0]]),)),
        sj.Polygon("twin", np.array([[-1.5, -1.5], [-0.5, -1.5], [-1.0, -0.25], [-1.5, -1.5]]),
                   shells=(np.array([[20.25, 1.0], [21.0, 1.0], [20.5, 2.125]]),)),
    ]
    ddl = spark.createDataFrame([], "polygon_id string, rings array<array<array<double>>>").schema
    df = sj.polygons_df(spark, polys)
    assert df.schema == ddl
    rows, jobs = count_jobs(df.collect)
    assert jobs == 0
    got = {r["polygon_id"]: r["rings"] for r in rows}
    assert list(got) == ["donut", "twin"]
    for p in polys:
        assert len(got[p.polygon_id]) == len(p.rings) == 2
        for ring, exp in zip(got[p.polygon_id], p.rings):
            ring = np.asarray(ring)
            assert np.array_equal(ring, exp) and np.array_equal(ring[0], ring[-1])
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    empty = sj.polygons_df(spark, [])
    assert empty.schema == ddl and empty.collect() == []


def test_ring_tile_cover_matches_per_ring_bbox_reference(spark):
    """The in-row distributed-PIP cover is exactly the set of tiles of
    every ring's bbox (shells, holes, multipolygon parts, antimeridian
    pieces, vertices past the Mercator clamp and at +-180), once each."""
    rng = np.random.RandomState(23)

    def star(cx, cy, r):
        n = rng.randint(4, 10)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.3, 1.0, n) * r
        return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)

    polys = []
    for i in range(12):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-78, 78)
        shell = star(cx, cy, 6)
        if i % 3 == 0:
            polys.append(sj.Polygon(f"d{i}", shell, holes=(star(cx, cy, 1.5),)))
        elif i % 3 == 1:
            polys.append(sj.Polygon(f"m{i}", shell, shells=(star(-cx, -cy, 4),)))
        else:
            polys.append(sj.Polygon(f"s{i}", shell))
    polys.append(sj.polygon_from_unwrapped(
        "am", [[170.0, -10.0], [195.0, -12.0], [190.0, 15.0], [172.0, 12.0]],
        holes=[[[176.0, -2.0], [186.0, -3.0], [182.0, 5.0]]]))
    polys.append(sj.Polygon("polar", np.array([[170.0, 80.0], [180.0, 80.0], [180.0, 89.5], [170.0, 89.5]]),
                            shells=(np.array([[-180.0, -89.9], [-175.0, -89.9], [-175.0, -85.5],
                                              [-180.0, -85.5]]),)))
    assert len(polys[-2].rings) == 4  # two shell pieces, two hole pieces
    table = sj.polygons_df(spark, polys)
    for zoom in (0, 5, 7, 10):
        exp = set()
        for p in polys:
            for r in p.rings:
                x0, y0 = tm.lon_lat_to_tile(r[:, 0].min(), r[:, 1].max(), zoom)
                x1, y1 = tm.lon_lat_to_tile(r[:, 0].max(), r[:, 1].min(), zoom)
                exp |= {(p.polygon_id, x, y) for x in range(int(x0), int(x1) + 1)
                        for y in range(int(y0), int(y1) + 1)}
        rows = [tuple(r) for r in sj._ring_tile_cover(table, zoom).collect()]
        assert len(rows) == len(set(rows)) and set(rows) == exp, zoom


def test_refine_width_falls_back_without_jvm_context(spark):
    """The polygon-join refine width reads ``sparkContext``; a session
    without one (Spark Connect shape) gets the shuffle width instead of
    an error."""
    class _NoContextSession:
        conf = spark.conf

    assert sj._refine_width(spark) == spark.sparkContext.defaultParallelism
    assert sj._refine_width(_NoContextSession()) == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_assign_to_shards_disjoint_and_total(spark):
    """Every finite point lands in exactly one quadtree leaf."""
    rng = np.random.RandomState(5)
    n = 4000
    # skew: half the points in one city block
    lon = np.where(rng.rand(n) < 0.5, -74.0 + rng.rand(n) * 0.02, rng.uniform(-179, 179, n))
    lat = np.where(rng.rand(n) < 0.5, 40.7 + rng.rand(n) * 0.02, rng.uniform(-80, 80, n))
    pdf = pd.DataFrame({"pid": np.arange(n), "lon": lon, "lat": lat})
    pts = spark.createDataFrame(pdf)

    shards, oversized = qt.plan_quadtree(pts, max_zoom=10, max_nodes=500)
    assert len(shards) > 4
    total = sum(s.node_count for s in shards)
    assert total == n

    assigned = sj.assign_to_shards(pts, qt.shards_df(spark, shards), max_zoom=10)
    counts = assigned.groupBy("pid").count().toPandas()
    assert len(counts) == n, "every point assigned"
    assert (counts["count"] == 1).all(), "quadtree leaves must be disjoint"

    # shard node_counts agree with actual assignment
    per_shard = assigned.groupBy("shard_id").count().toPandas().set_index("shard_id")["count"]
    for s in shards:
        assert per_shard[s.shard_id] == s.node_count


def test_grid_assignment_matches_explode_variant(spark):
    """The cover-grid broadcast join must produce exactly the same
    (pid, shard_id) assignment as the per-zoom-explode join."""
    rng = np.random.RandomState(6)
    n = 2000
    pdf = pd.DataFrame({
        "pid": np.arange(n),
        "lon": np.where(rng.rand(n) < 0.5, -74.0 + rng.rand(n) * 0.02, rng.uniform(-179, 179, n)),
        "lat": np.where(rng.rand(n) < 0.5, 40.7 + rng.rand(n) * 0.02, rng.uniform(-80, 80, n)),
    })
    pts = spark.createDataFrame(pdf)
    shards, _ = qt.plan_quadtree(pts, max_zoom=8, max_nodes=300)
    sdf = qt.shards_df(spark, shards)
    a = sj.assign_to_shards(pts, sdf, max_zoom=8).select("pid", "shard_id").toPandas().sort_values("pid").reset_index(drop=True)
    b = sj.assign_to_shards_grid(spark, pts, sdf, grid_zoom=8).select("pid", "shard_id").toPandas().sort_values("pid").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == n


def test_grid_assignment_shard_idx_parity(spark):
    """emit='shard_idx' + the index mapping == the string variant."""
    rng = np.random.RandomState(9)
    pdf = pd.DataFrame({
        "pid": np.arange(1000),
        "lon": rng.uniform(-179, 179, 1000),
        "lat": rng.uniform(-80, 80, 1000),
    })
    pts = spark.createDataFrame(pdf)
    shards, _ = qt.plan_quadtree(pts, max_zoom=6, max_nodes=100)
    sdf = qt.shards_df(spark, shards)
    a = sj.assign_to_shards_grid(spark, pts, sdf, grid_zoom=6).select("pid", "shard_id")
    b = (
        sj.assign_to_shards_grid(spark, pts, sdf, grid_zoom=6, emit="shard_idx")
        .join(F.broadcast(sj.shard_index_df(spark, sdf)), on="shard_idx")
        .select("pid", "shard_id")
    )
    pd.testing.assert_frame_equal(
        a.toPandas().sort_values("pid").reset_index(drop=True),
        b.toPandas().sort_values("pid").reset_index(drop=True),
    )
    with pytest.raises(ValueError):
        sj.assign_to_shards_grid(spark, pts, sdf, emit="bogus")


def test_quadtree_subdivision_semantics():
    """Fixture from FIXTURES.md §6: counts with an oversized max-zoom cell."""
    # zoom 2 grid, max_nodes=10: cell (0,0) has 35 -> splits; child (0,0)@z1
    # has 20 -> splits; (0,0)@z2 keeps 20 (oversized at max zoom)
    hist = {(0, 0): 20, (1, 1): 8, (2, 2): 7}  # z2 populated cells
    counts = qt.rollup_counts(hist, 2)
    shards, oversized = qt.build_shards(counts, max_zoom=2, max_nodes=10)
    ids = {s.shard_id: s.node_count for s in shards}
    assert ids == {"2-0-0": 20, "2-1-1": 8, "1-1-1": 7}
    assert [s.shard_id for s in oversized] == ["2-0-0"]
    # salting plan: 20 nodes / 10 cap -> 2 salts
    assert qt.salt_plan(oversized, 10) == {"2-0-0": 2}


def test_shards_geojson_format():
    shards = [qt.Shard(3, 2, 5, 42)]
    import json

    fc = json.loads(qt.shards_geojson(shards))
    assert fc["type"] == "FeatureCollection"
    f = fc["features"][0]
    assert f["properties"] == {"shard_id": "3-2-5", "z": 3, "x": 2, "y": 5, "node_count": 42}
    ring = f["geometry"]["coordinates"][0]
    assert ring == tm.tile_ring(3, 2, 5)


def test_salting_bounds_hot_partitions(spark):
    """End-to-end skew handling: a city-center cell that stays oversized
    at max zoom gets salted so no (shard, salt) partition exceeds the
    node budget by more than hash-imbalance noise."""
    n_hot, n_cold = 5000, 500
    pdf = pd.DataFrame({
        "poi_id": [f"p{i}" for i in range(n_hot + n_cold)],
        # hot: one ~10m blob (all in one z8 tile); cold: spread wide
        "lon": np.concatenate([np.full(n_hot, -74.0060) + np.arange(n_hot) * 1e-7,
                               np.linspace(-170, 170, n_cold)]),
        "lat": np.concatenate([np.full(n_hot, 40.7128), np.full(n_cold, 10.0)]),
    })
    pts = spark.createDataFrame(pdf)
    max_nodes = 1000
    shards, oversized = qt.plan_quadtree(pts, max_zoom=8, max_nodes=max_nodes)
    assert oversized, "hot cell must stay oversized at max zoom"
    salts = qt.salt_plan(oversized, max_nodes)
    assert salts[oversized[0].shard_id] == 5  # ceil(5000/1000)

    assigned = sj.assign_to_shards_grid(spark, pts, qt.shards_df(spark, shards), grid_zoom=8)
    salted = qt.with_salted_shard_key(assigned, salts, row_key="poi_id")
    sizes = salted.groupBy("shard_id", "shard_salt").count().toPandas()["count"]
    # xxhash64 mod 5 over 5000 keys: allow 25% imbalance over the budget
    assert sizes.max() <= max_nodes * 1.25
    assert sizes.sum() == n_hot + n_cold


def test_salted_key_deterministic(spark):
    pdf = pd.DataFrame({"poi_id": [f"p{i}" for i in range(100)], "shard_id": ["hot"] * 80 + ["cold"] * 20})
    df = spark.createDataFrame(pdf)
    salted1 = qt.with_salted_shard_key(df, {"hot": 4}, row_key="poi_id").toPandas().sort_values("poi_id")
    salted2 = qt.with_salted_shard_key(df, {"hot": 4}, row_key="poi_id").toPandas().sort_values("poi_id")
    assert (salted1["shard_salt"].to_numpy() == salted2["shard_salt"].to_numpy()).all()
    hot = salted1[salted1["shard_id"] == "hot"]["shard_salt"]
    assert set(hot.unique()) <= {0, 1, 2, 3} and hot.nunique() > 1
    cold = salted1[salted1["shard_id"] == "cold"]["shard_salt"]
    assert (cold == 0).all()


def test_polygon_intersection_join(spark):
    """Polygon x polygon: crossing, containment (both directions),
    hole-island separation, bbox-overlap-but-disjoint, touch-only
    excluded; cover_zoom invariance."""
    import numpy as np
    from osm_poi_cloud_spark.operators.spatial_join import (
        polygon_intersection_join, rings_intersect)

    def sq(cx, cy, w):
        pts = [[cx - w, cy - w], [cx + w, cy - w], [cx + w, cy + w],
               [cx - w, cy + w], [cx - w, cy - w]]
        return [[float(x), float(y)] for x, y in pts]

    left = spark.createDataFrame(
        [("L_cross", [sq(0, 0, 5)]),
         ("L_contains", [sq(40, 0, 10)]),
         ("L_inside", [sq(-40, 0, 1)]),
         ("L_donut", [sq(0, 40, 10), sq(0, 40, 4)]),   # shell + hole
         ("L_far", [sq(120, 40, 2)]),
         ("L_touch", [sq(-120, 0, 2)])],
        "polygon_id string, rings array<array<array<double>>>")
    right = spark.createDataFrame(
        [("R_cross", [sq(4, 4, 5)]),            # crosses L_cross
         ("R_small", [sq(40, 0, 2)]),           # inside L_contains
         ("R_big", [sq(-40, 0, 8)]),            # contains L_inside
         ("R_in_hole", [sq(0, 40, 2)]),         # inside L_donut's hole: disjoint
         ("R_on_ring", [sq(0, 45, 3)]),         # straddles L_donut's shell edge
         ("R_corner", [sq(121, 43, 2)]),        # overlaps L_far's corner
         ("R_diamond", [[[121.0, 44.0], [124.0, 47.0], [127.0, 44.0],
                         [124.0, 41.0], [121.0, 44.0]]]),  # bbox overlaps
                                                 # L_far, geometry disjoint
         ("R_touch", [sq(-116, 0, 2)])],        # shares edge x=-118 with L_touch: touch only
        "polygon_id string, rings array<array<array<double>>>")
    got = polygon_intersection_join(left, right, cover_zoom=4).toPandas()
    pairs = set(map(tuple, got[["a", "b"]].itertuples(index=False)))
    assert ("L_cross", "R_cross") in pairs
    assert ("L_contains", "R_small") in pairs
    assert ("L_inside", "R_big") in pairs
    assert ("L_donut", "R_in_hole") not in pairs      # hole separates
    assert ("L_donut", "R_on_ring") in pairs          # straddles shell
    assert ("L_touch", "R_touch") not in pairs        # touch-only excluded
    assert ("L_far", "R_corner") in pairs             # corner overlap
    assert ("L_far", "R_diamond") not in pairs        # bbox candidate, exact reject
    # cover_zoom is candidate generation only
    for z in (2, 7):
        g2 = polygon_intersection_join(left, right, cover_zoom=z).toPandas()
        assert set(map(tuple, g2[["a", "b"]].itertuples(index=False))) == pairs
    # primitive sanity: rotated diamond crossing a square (no vertex of
    # either inside the other is impossible here, but crossing fires)
    diamond = np.array([[2.0, 0.0], [0.0, 2.0], [-2.0, 0.0], [0.0, -2.0], [2.0, 0.0]])
    square = np.array(sq(0, 0, 1.5), dtype=np.float64)
    assert rings_intersect([diamond], [square])


def test_batch_rings_intersect_matches_scalar_kernel():
    """The across-pairs vectorized kernel must agree with the per-pair
    kernel on random polygon soup (incl. donuts and multipolygons)."""
    rng = np.random.RandomState(11)

    def rand_poly(cx, cy):
        kind = rng.randint(3)
        if kind == 0:  # convex-ish star
            nn = rng.randint(4, 9)
            ang = np.sort(rng.uniform(0, 2 * np.pi, nn))
            rad = rng.uniform(1, 4, nn)
            ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
            return [sj._close_ring(ring)]
        if kind == 1:  # donut
            w = rng.uniform(2, 5)
            shell = np.array([[cx - w, cy - w], [cx + w, cy - w], [cx + w, cy + w],
                              [cx - w, cy + w], [cx - w, cy - w]])
            h = w * 0.4
            hole = np.array([[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h],
                             [cx - h, cy + h], [cx - h, cy - h]])
            return [shell, hole]
        # two-shell multipolygon
        w = rng.uniform(1, 2.5)
        s1 = np.array([[cx - 4 - w, cy - w], [cx - 4 + w, cy - w],
                       [cx - 4 + w, cy + w], [cx - 4 - w, cy + w], [cx - 4 - w, cy - w]])
        s2 = s1 + np.array([8.0, 0.0])
        return [s1, s2]

    pairs_a, pairs_b = [], []
    for _ in range(400):
        pairs_a.append(rand_poly(rng.uniform(-10, 10), rng.uniform(-10, 10)))
        pairs_b.append(rand_poly(rng.uniform(-10, 10), rng.uniform(-10, 10)))
    got = sj.batch_rings_intersect(pairs_a, pairs_b)
    exp = np.array([sj.rings_intersect(a, b) for a, b in zip(pairs_a, pairs_b)])
    assert (got == exp).all()
    assert 0.05 < exp.mean() < 0.95  # the soup exercises both outcomes
