"""Tile pyramid + density cap + kNN operator tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osm_poi_cloud_spark.functions import tile_math as tm
from osm_poi_cloud_spark.operators import knn
from osm_poi_cloud_spark.operators import tiling as tl


def _pois(spark, n=800, seed=9):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame({
        "poi_id": [f"p{i}" for i in range(n)],
        "name": [f"n{i}" for i in range(n)],
        "class": np.where(rng.rand(n) < 0.5, "cafe_bakery", "retail"),
        "lon": rng.uniform(-179, 179, n),
        "lat": rng.uniform(-80, 80, n),
    })
    return spark.createDataFrame(pdf), pdf


def test_pyramid_assignment_matches_kernel(spark):
    sdf, pdf = _pois(spark)
    tiled = tl.assign_tile_pyramid(sdf, 2, 14).toPandas()
    assert len(tiled) == len(pdf) * 13
    for z in (2, 9, 14):
        sub = tiled[tiled["z"] == z].set_index("poi_id")
        ex, ey = tm.lon_lat_to_tile(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), z)
        exp = pd.DataFrame({"x": ex, "y": ey}, index=pdf["poi_id"])
        got = sub.loc[exp.index, ["x", "y"]]
        assert (got["x"].to_numpy() == exp["x"].to_numpy()).all()
        assert (got["y"].to_numpy() == exp["y"].to_numpy()).all()


def test_per_tile_cap_deterministic(spark):
    sdf, _ = _pois(spark)
    tiled = tl.assign_tile_pyramid(sdf, 2, 6)
    capped1 = tl.per_tile_cap(tiled, cap=5).toPandas()
    capped2 = tl.per_tile_cap(tiled, cap=5).toPandas()
    key = ["z", "x", "y", "poi_id"]
    pd.testing.assert_frame_equal(
        capped1.sort_values(key).reset_index(drop=True)[key],
        capped2.sort_values(key).reset_index(drop=True)[key],
    )
    sizes = capped1.groupby(["z", "x", "y"]).size()
    assert (sizes <= 5).all()
    # low zooms actually hit the cap (density drop engaged)
    assert (sizes[sizes.index.get_level_values(0) == 2] == 5).any()


def test_build_tiles_aggregates(spark):
    sdf, _ = _pois(spark, n=200)
    tiles = tl.build_tiles(tl.assign_tile_pyramid(sdf, 2, 4)).toPandas()
    assert (tiles["n_features"] == tiles["features"].map(len)).all()
    total_z2 = tiles[tiles["z"] == 2]["n_features"].sum()
    assert total_z2 == 200


def test_geojson_lines(spark):
    import json

    sdf, _ = _pois(spark, n=10)
    lines = tl.tile_geojson_lines(tl.assign_tile_pyramid(sdf, 2, 2)).toPandas()
    f = json.loads(lines["feature"][0])
    assert f["type"] == "Feature" and f["geometry"]["type"] == "Point"


def test_knn_matches_bruteforce(spark):
    rng = np.random.RandomState(21)
    pois = pd.DataFrame({
        "poi_id": [f"p{i}" for i in range(3000)],
        "lon": -74.0 + rng.uniform(-0.5, 0.5, 3000),
        "lat": 40.7 + rng.uniform(-0.5, 0.5, 3000),
    })
    qs = pd.DataFrame({
        "query_id": [f"q{i}" for i in range(40)],
        "lon": -74.0 + rng.uniform(-0.3, 0.3, 40),
        "lat": 40.7 + rng.uniform(-0.3, 0.3, 40),
    })
    p, q = spark.createDataFrame(pois), spark.createDataFrame(qs)
    # zoom 10 tile ~ 40km at this latitude; 5-NN radius << tile width
    got = knn.knn_join(q, p, k=5, zoom=10).toPandas().sort_values(["query_id", "rn"]).reset_index(drop=True)
    exp = knn.knn_bruteforce(q, p, k=5).toPandas().sort_values(["query_id", "rn"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    assert len(got) == 40 * 5


def test_knn_antimeridian_wrap(spark):
    pois = pd.DataFrame({
        "poi_id": ["east", "west", "far"],
        "lon": [179.98, -179.98, 170.0],
        "lat": [0.0, 0.0, 0.0],
    })
    qs = pd.DataFrame({"query_id": ["q"], "lon": [179.99], "lat": [0.0]})
    got = knn.knn_join(spark.createDataFrame(qs), spark.createDataFrame(pois), k=2, zoom=8).toPandas()
    assert set(got["poi_id"]) == {"east", "west"}, "wrap across the antimeridian must find the west point"


def test_radius_join_matches_bruteforce(spark):
    """Grid-blocked radius join == n^2 brute force, including pairs that
    straddle cell boundaries and pairs exactly AT the radius."""
    import numpy as np
    import pandas as pd
    from osm_poi_cloud_spark.operators.knn import radius_join

    rng = np.random.RandomState(3)
    n = 300
    pts = pd.DataFrame({
        "pid": np.arange(n),
        "lon": rng.uniform(-10, 10, n).round(3),
        "lat": rng.uniform(-5, 5, n).round(3),
    })
    r = 0.7
    qdf = spark.createDataFrame(pts.rename(columns={"pid": "query_id"}))
    pdf = spark.createDataFrame(pts.rename(columns={"pid": "poi_id"}))
    got = radius_join(qdf, pdf, r).toPandas()
    # brute force in numpy, same metric
    lon = pts["lon"].to_numpy(); lat = pts["lat"].to_numpy()
    d = np.sqrt((lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2)
    exp = {(i, j) for i in range(n) for j in range(n) if d[i, j] <= r}
    assert set(zip(got["query_id"], got["poi_id"])) == exp
    # exact-at-radius inclusion: craft a pair at exactly r apart
    two = pd.DataFrame({"pid": [0, 1], "lon": [0.0, 0.5], "lat": [0.0, 0.0]})
    a = spark.createDataFrame(two.rename(columns={"pid": "query_id"}))
    b = spark.createDataFrame(two.rename(columns={"pid": "poi_id"}))
    out = radius_join(a, b, 0.5).toPandas()
    assert (0, 1) in set(zip(out["query_id"], out["poi_id"]))


def test_radius_join_validation(spark):
    import pandas as pd
    import pytest
    from osm_poi_cloud_spark.operators.knn import radius_join

    df = spark.createDataFrame(pd.DataFrame({"query_id": [1], "lon": [0.0], "lat": [0.0]}))
    with pytest.raises(ValueError):
        radius_join(df, df, 0.0)


def test_radius_join_property(spark):
    """Property sweep: random point clouds and radii — the blocked join
    equals brute force every time (cell-boundary straddles included)."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from osm_poi_cloud_spark.operators.knn import radius_join

    @settings(max_examples=10, deadline=None)
    @given(st.integers(0, 2**31 - 1), st.integers(5, 80),
           st.floats(0.05, 3.0, allow_nan=False))
    def check(seed, n, r):
        rng = np.random.RandomState(seed)
        pts = pd.DataFrame({
            "pid": np.arange(n),
            "lon": rng.uniform(-20, 20, n),
            "lat": rng.uniform(-10, 10, n),
        })
        q = spark.createDataFrame(pts.rename(columns={"pid": "query_id"}))
        p = spark.createDataFrame(pts.rename(columns={"pid": "poi_id"}))
        got = radius_join(q, p, r).toPandas()
        lon = pts["lon"].to_numpy(); lat = pts["lat"].to_numpy()
        d = np.sqrt((lon[:, None] - lon[None, :]) ** 2
                    + (lat[:, None] - lat[None, :]) ** 2)
        exp = {(i, j) for i in range(n) for j in range(n) if d[i, j] <= r}
        assert set(zip(got["query_id"], got["poi_id"])) == exp

    check()


# ---------------------------------------------------------------- nearest_join

def _nn_brute(lp, rp):
    """Pure-pandas exact nearest with the operator's tie rule."""
    out = {}
    for _, l in lp.iterrows():
        best = None
        for _, r in rp.iterrows():
            d2 = (l.x - r.x) ** 2 + (l.y - r.y) ** 2
            key = (d2, r.rid)
            if best is None or key < best:
                best = key
        out[l.qid] = best
    return out


def test_nearest_join_exact_multi_round(spark):
    """Tiny cell0 forces several expanding rounds; result must equal
    brute force exactly, integer d2 and deterministic ties included."""
    rng = np.random.RandomState(11)
    lp = pd.DataFrame({"qid": np.arange(400),
                       "x": rng.randint(0, 4096, 400).astype(np.int64),
                       "y": rng.randint(0, 4096, 400).astype(np.int64)})
    # sparse right side -> early rounds leave most lefts unmatched
    rp = pd.DataFrame({"rid": np.arange(12),
                       "x": rng.randint(0, 4096, 12).astype(np.int64),
                       "y": rng.randint(0, 4096, 12).astype(np.int64)})
    got = knn.nearest_join(
        spark.createDataFrame(lp), spark.createDataFrame(rp), cell0=8.0,
        x_col="x", y_col="y", left_id="qid", right_id="rid",
    ).toPandas().set_index("qid")
    exp = _nn_brute(lp, rp)
    assert len(got) == len(lp)
    for qid, (d2, rid) in exp.items():
        assert int(got.loc[qid, "nn_d2"]) == int(d2)
        assert int(got.loc[qid, "rid"]) == int(rid)


def test_nearest_join_tie_break_and_empty_right(spark):
    lp = pd.DataFrame({"qid": [0], "x": [0], "y": [0]})
    rp = pd.DataFrame({"rid": [7, 3], "x": [5, -5], "y": [0, 0]})
    got = knn.nearest_join(
        spark.createDataFrame(lp), spark.createDataFrame(rp), cell0=2.0,
        x_col="x", y_col="y", left_id="qid", right_id="rid").toPandas()
    assert got.loc[0, "rid"] == 3 and got.loc[0, "nn_d2"] == 25  # equal d2 -> min id

    empty_r = spark.createDataFrame(rp).limit(0)
    out = knn.nearest_join(
        spark.createDataFrame(lp), empty_r, cell0=2.0,
        x_col="x", y_col="y", left_id="qid", right_id="rid")
    assert out.count() == 0 and set(out.columns) == {"qid", "rid", "nn_d2"}


# --- raster heat-map tile rendering ---

def test_heatmap_tiles_scalar_parity(spark):
    import zlib

    import pytest
    from osm_poi_cloud_spark.functions.png import decode_png

    # cells straddle the (0,0)/(1,0) tile border at zoom 0, tile_px 64
    # (fine zoom 6); vmax 1000 -> val = min(255, v*255 DIV 1000)
    cells = [(0, 0, 500), (63, 63, 1000), (64, 0, 2000), (5, 7, 3),
             (6, 7, 4), (70, 1, 1000)]
    df = spark.createDataFrame(cells, "x long, y long, kde_ppm long")
    out = {(r["x"], r["y"]): r
           for r in tl.render_heatmap_tiles(
               df, zoom=0, vmax_ppm=1000, tile_px=64).collect()}
    assert set(out) == {(0, 0), (1, 0)}

    canvases = {}
    for cx, cy, v in cells:
        val = min(255, v * 255 // 1000)
        if val == 0:
            continue
        canvases.setdefault((cx // 64, cy // 64),
                            np.zeros((64, 64), np.uint8))[cy % 64, cx % 64] = val
    for key, canvas in canvases.items():
        r = out[key]
        assert r["pixel_crc"] == zlib.crc32(canvas.tobytes())
        assert (decode_png(bytes(r["png"]))[:, :, 0] == canvas).all()
        assert r["n_px"] == int((canvas > 0).sum())
    # (5,7) quantizes to 0 (3*255 DIV 1000 = 0) -> dropped; (6,7) -> 1
    assert out[(0, 0)]["n_px"] == 3

    with pytest.raises(ValueError):
        tl.render_heatmap_tiles(df, zoom=0, vmax_ppm=0)
    with pytest.raises(ValueError):
        tl.render_heatmap_tiles(df, zoom=0, vmax_ppm=10, tile_px=100)


def test_heatmap_tiles_kde_composition_deterministic(spark):
    from osm_poi_cloud_spark.operators.hotspot import kde_grid

    pts = spark.range(3000).selectExpr(
        "pmod(xxhash64(id), 512) AS x", "pmod(xxhash64(id, 1), 512) AS y",
        "id % 5 + 1 AS v")
    cells = pts.groupBy("x", "y").agg(F.sum("v").alias("v"))
    kde = kde_grid(cells, zoom=9, radius=2)
    a = tl.render_heatmap_tiles(kde, zoom=1, vmax_ppm=30_000_000,
                                tile_px=256).toPandas()
    b = tl.render_heatmap_tiles(kde.repartition(17), zoom=1,
                                vmax_ppm=30_000_000,
                                tile_px=256).toPandas()
    ka = a.sort_values(["x", "y"]).reset_index(drop=True)
    kb = b.sort_values(["x", "y"]).reset_index(drop=True)
    assert list(ka["pixel_crc"]) == list(kb["pixel_crc"])
    assert (ka["n_px"] > 0).all() and len(ka) >= 4


# ---------------------------------------------------------------- incremental


def test_tile_count_deltas_hand_case(spark):
    # one tile at z1 covers a lon/lat quadrant: points in the NE quadrant
    # (lon>0, lat>0) share tile (1,0) at z1
    old = spark.createDataFrame(
        [("a", 10.0, 10.0),   # unchanged
         ("b", 20.0, 20.0),   # deleted
         ("c", 30.0, 30.0),   # moves within the same z1 tile (cancels)
         ("d", 40.0, 40.0)],  # moves across tiles (lon sign flip)
        "poi_id string, lon double, lat double")
    new = spark.createDataFrame(
        [("a", 10.0, 10.0),
         ("c", 35.0, 35.0),
         ("d", -40.0, 40.0),
         ("e", 50.0, 50.0)],  # inserted
        "poi_id string, lon double, lat double")
    d = {(r["z"], r["x"], r["y"]): r["delta"]
         for r in tl.tile_count_deltas(old, new, min_zoom=1, max_zoom=1).collect()}
    # NE tile: -b, -d(moved out), +e, c cancels  -> -1 net
    assert d[(1, 1, 0)] == -1
    # NW tile: +d moved in
    assert d[(1, 0, 0)] == 1
    assert set(d) == {(1, 1, 0), (1, 0, 0)}


def test_incremental_tile_counts_identity(spark):
    # identity: merge(counts(old), deltas(old, new)) == counts rebuilt
    # from new — with all three churn kinds planted
    old = spark.range(400).selectExpr(
        "id AS poi_id",
        "CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
        "CAST((id * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat")
    new = spark.range(400).filter("id % 7 <> 0").selectExpr(
        "id AS poi_id",
        "CASE WHEN id % 5 = 0 THEN CAST((id * 31337) % 36000 AS DOUBLE) / 100.0 - 180.0 "
        "ELSE CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 END AS lon",
        "CAST((id * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat").union(
        spark.range(400).filter("id % 11 = 0").selectExpr(
            "id + 100000 AS poi_id",
            "CAST((id * 48271) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
            "CAST((id * 69621) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat"))

    def counts(df):
        return (tl.assign_tile_pyramid(df, 2, 8).groupBy("z", "x", "y")
                .agg(F.count(F.lit(1)).alias("n")))

    got = (tl.incremental_tile_counts(counts(old), old, new,
                                      min_zoom=2, max_zoom=8)
           .toPandas().sort_values(["z", "x", "y"]).reset_index(drop=True))
    exp = (counts(new).toPandas()
           .sort_values(["z", "x", "y"]).reset_index(drop=True))
    got["n"] = got["n"].astype("int64")
    exp["n"] = exp["n"].astype("int64")
    pd.testing.assert_frame_equal(got, exp)
    # non-trivial churn actually exercised
    n_deltas = tl.tile_count_deltas(old, new, min_zoom=2, max_zoom=8).count()
    assert n_deltas > 50


def test_tile_deltas_attr_only_change_emits_nothing(spark):
    old = spark.createDataFrame([("a", 10.0, 10.0, "cafe")],
                                "poi_id string, lon double, lat double, class string")
    new = spark.createDataFrame([("a", 10.0, 10.0, "bank")],
                                "poi_id string, lon double, lat double, class string")
    assert tl.tile_count_deltas(old, new, min_zoom=2, max_zoom=6).count() == 0


def test_merge_drops_emptied_tiles_and_validates(spark):
    base = spark.createDataFrame([(3, 1, 2, 1)], "z int, x long, y long, n long")
    deltas = spark.createDataFrame([(3, 1, 2, -1), (3, 4, 4, 2)],
                                   "z int, x long, y long, delta long")
    got = {(r["z"], r["x"], r["y"]): r["n"]
           for r in tl.merge_tile_counts(base, deltas).collect()}
    assert got == {(3, 4, 4): 2}
    import pytest
    with pytest.raises(ValueError):
        tl.tile_count_deltas(base, base, min_zoom=9, max_zoom=2)


def test_incremental_mvt_refresh_parity(spark):
    """End-to-end incremental SERVING proof: re-rendering ONLY the
    stale tiles named by tile_count_deltas, and keeping every other
    tile's bytes from the old archive, is byte-identical to a full
    re-render of the new snapshot. The deltas really are the complete
    republish worklist — no stale tile missed, no fresh tile
    re-rendered unnecessarily."""
    from osm_poi_cloud_spark.operators.mvt import encode_tiles_mvt

    def pois(df):
        return df.selectExpr(
            "CAST(poi_id AS STRING) AS poi_id",
            "concat('n', CAST(poi_id AS STRING)) AS name",
            "CASE WHEN poi_id % 2 = 0 THEN 'cafe_bakery' ELSE 'retail' END AS class",
            "lon", "lat")

    old = spark.range(500).selectExpr(
        "id AS poi_id",
        "CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon",
        "CAST((id * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat")
    new = old.filter("poi_id % 9 <> 0").withColumn(
        "lon", F.when(F.col("poi_id") % 5 == 0,
                      ((F.col("lon") + 200.0) % 360.0) - 180.0)
               .otherwise(F.col("lon")))

    zmin, zmax = 2, 6

    def render(df):
        tiled = tl.assign_tile_pyramid(pois(df), zmin, zmax)
        return encode_tiles_mvt(tl.build_tiles(tiled)).select(
            "z", "x", "y", "mvt")

    old_mvt = {(r["z"], r["x"], r["y"]): bytes(r["mvt"])
               for r in render(old).collect()}
    full_new = {(r["z"], r["x"], r["y"]): bytes(r["mvt"])
                for r in render(new).collect()}

    stale = {(r["z"], r["x"], r["y"]) for r in
             tl.touched_tiles(old, new, min_zoom=zmin, max_zoom=zmax)
             .collect()}
    assert stale  # churn actually produced a worklist
    # touched_tiles must be a strict superset of the nonzero count
    # deltas: this fixture plants count-NEUTRAL membership changes
    # (one feature out + one in at the same tile) that cancel in the
    # sum but leave the tile's bytes stale
    nz = {(r["z"], r["x"], r["y"]) for r in
          tl.tile_count_deltas(old, new, min_zoom=zmin, max_zoom=zmax)
          .collect()}
    assert nz < stale

    refreshed = {k: v for k, v in old_mvt.items() if k not in stale}
    rerendered = {k: full_new[k] for k in full_new if k in stale}
    dropped = {k for k in old_mvt if k in stale and k not in full_new}
    merged = {**refreshed, **rerendered}
    for k in dropped:
        merged.pop(k, None)

    assert merged == full_new
