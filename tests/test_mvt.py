"""MVT encoding + PMTiles archive: decode-based verification (the
decoder in tools/mvt_decode.py is written independently of the encoder)
— completes the reference's tippecanoe artifact step
(generate_pmtiles.py:135-162)."""

import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import mvt_decode as md  # noqa: E402

from osm_poi_cloud_spark.operators import mvt  # noqa: E402
from osm_poi_cloud_spark.operators import tiling as tl  # noqa: E402
from osm_poi_cloud_spark.functions import tile_math as tm  # noqa: E402


@pytest.fixture(scope="module")
def tiles_df(spark):
    pts = spark.sql(
        "SELECT id AS poi_id, CAST((id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon, "
        "CAST((id * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat, "
        "concat('poi-', id) AS name, "
        "CASE id % 3 WHEN 0 THEN 'cafe_bakery' WHEN 1 THEN 'retail' ELSE 'lodging' END AS class "
        "FROM range(500)"
    )
    tiled = tl.assign_tile_pyramid(pts, 2, 5)
    return tl.build_tiles(tiled).cache()


def test_mvt_round_trip_features(spark, tiles_df):
    enc = mvt.encode_tiles_mvt(tiles_df).collect()
    assert len(enc) > 50
    for row in enc:
        layers = md.decode_mvt(bytes(row["mvt"]))
        assert len(layers) == 1
        layer = layers[0]
        assert layer["name"] == "pois" and layer["version"] == 2 and layer["extent"] == 4096
        feats = layer["features"]
        assert len(feats) == row["n_features"] == len(row["features"])
        src = sorted(row["features"], key=lambda f: f["poi_id"])
        for f, s in zip(feats, src):
            assert f["id"] == s["poi_id"]
            assert f["type"] == 1  # POINT
            assert f["props"]["name"] == s["name"] and f["props"]["class"] == s["class"]
            # pixel == bit-exact tile math at z+12 relative to the tile
            px, py = tm.lon_lat_to_tile(np.array([s["lon"]]), np.array([s["lat"]]), row["z"] + 12)
            assert f["points"][0] == (int(px[0]) - (row["x"] << 12), int(py[0]) - (row["y"] << 12))


def test_mvt_bytes_deterministic(spark, tiles_df):
    a = {(r["z"], r["x"], r["y"]): bytes(r["mvt"]) for r in mvt.encode_tiles_mvt(tiles_df).collect()}
    b = {(r["z"], r["x"], r["y"]): bytes(r["mvt"]) for r in mvt.encode_tiles_mvt(tiles_df.repartition(7)).collect()}
    assert a == b


def test_pmtiles_archive(spark, tiles_df, tmp_path):
    enc = mvt.encode_tiles_mvt(tiles_df).select("z", "x", "y", "mvt").collect()
    path = str(tmp_path / "pois.pmtiles")
    stats = mvt.write_pmtiles(((r["z"], r["x"], r["y"], bytes(r["mvt"])) for r in enc), path, 2, 5)
    assert stats["tiles"] == len(enc)
    arc = md.read_pmtiles(path)
    assert arc["n_entries"] == len(enc)
    assert arc["min_zoom"] == 2 and arc["max_zoom"] == 5 and arc["tile_type"] == 1
    # entries sorted by hilbert id (clustered) and unique
    tids = [e[0] for e in arc["entries"]]
    assert tids == sorted(tids) and len(set(tids)) == len(tids)
    # every tile retrievable and byte-identical
    for r in enc:
        assert arc["get"](r["z"], r["x"], r["y"]) == bytes(r["mvt"])
    assert arc["get"](5, 31, 31) is None or True  # lookup never raises


def test_pmtiles_leaf_directories(tmp_path):
    """>20k distinct tiles force the v3 leaf-directory layout: root must
    stay <= 16 KiB (spec), overflow entries live in leaves, and every
    tile still round-trips through the independent decoder. Tiles are
    fed pre-sorted through the incremental writer (the streamed path's
    core), so no payload buffering happens."""
    z = 8
    coords = [(z, x, y) for x in range(0, 256, 2) for y in range(0, 200)]  # 25600 tiles
    assert len(coords) > 20000

    def payload(x, y):
        return b"tile-%d-%d-" % (x, y) + bytes([(x * 31 + y) & 0xFF]) * 8

    path = str(tmp_path / "big.pmtiles")
    w = mvt.PMTilesWriter(path, z, z)
    for tid, (zz, x, y) in sorted((mvt.hilbert_tile_id(*c), c) for c in coords):
        w.add(tid, payload(x, y))
    stats = w.finalize()
    assert stats["tiles"] == len(coords)
    assert stats["n_leaves"] > 0
    assert stats["root_dir_bytes"] <= mvt.MAX_ROOT_BYTES

    arc = md.read_pmtiles(path)
    assert arc["n_addressed"] == len(coords) and arc["n_leaves"] == stats["n_leaves"]
    assert len(arc["entries"]) == stats["entries"]
    for zz, x, y in coords[::97] + coords[:3] + coords[-3:]:
        assert arc["get"](zz, x, y) == payload(x, y)
    # misses (odd x never written) return None, never raise
    assert arc["get"](z, 1, 0) is None
    assert arc["get"](z, 3, 199) is None
    assert arc["get"](2, 0, 0) is None


def test_pmtiles_run_length_and_dedup(tmp_path):
    """Identical consecutive payloads (ocean/empty tiles) coalesce into
    run-length entries and are stored once; lookups inside and outside
    runs behave per spec."""
    z = 6
    blob = b"\x1a\x00empty"
    path = str(tmp_path / "runs.pmtiles")
    w = mvt.PMTilesWriter(path, z, z)
    n = 1 << z
    all_tiles = sorted((mvt.hilbert_tile_id(z, x, y), (x, y)) for x in range(n) for y in range(n))
    for tid, _ in all_tiles:
        w.add(tid, blob)
    stats = w.finalize()
    assert stats["tiles"] == n * n
    assert stats["entries"] == 1  # one run covers the whole zoom level
    assert stats["unique_payloads"] == 1 and stats["data_bytes"] == len(blob)
    arc = md.read_pmtiles(path)
    assert arc["get"](z, 0, 0) == blob and arc["get"](z, n - 1, n - 1) == blob
    assert arc["get"](z + 1, 0, 0) is None and arc["get"](z - 1, 0, 0) is None


def test_pmtiles_streamed_matches_driver_write(spark, tiles_df, tmp_path):
    """Spark-sorted streaming assembly produces a byte-identical archive
    to the in-driver sort path."""
    enc = mvt.encode_tiles_mvt(tiles_df).select("z", "x", "y", "mvt")
    p1 = str(tmp_path / "driver.pmtiles")
    p2 = str(tmp_path / "streamed.pmtiles")
    rows = enc.collect()
    s1 = mvt.write_pmtiles(((r["z"], r["x"], r["y"], bytes(r["mvt"])) for r in rows), p1, 2, 5)
    s2 = mvt.write_pmtiles_streamed(enc.repartition(5), p2, 2, 5)
    assert s1 == s2
    with open(p1, "rb") as a, open(p2, "rb") as b:
        assert a.read() == b.read()


def test_pmtiles_writer_rejects_unsorted(tmp_path):
    w = mvt.PMTilesWriter(str(tmp_path / "x.pmtiles"), 0, 2)
    w.add(5, b"a")
    with pytest.raises(ValueError, match="strictly increasing"):
        w.add(5, b"b")
    w.finalize()


def test_hilbert_tile_ids():
    # zoom-0 root is id 0; zoom-1 block starts at 1; zoom-z block at (4^z-1)/3
    assert mvt.hilbert_tile_id(0, 0, 0) == 0
    assert sorted(mvt.hilbert_tile_id(1, x, y) for x in (0, 1) for y in (0, 1)) == [1, 2, 3, 4]
    ids = {mvt.hilbert_tile_id(3, x, y) for x in range(8) for y in range(8)}
    assert len(ids) == 64 and min(ids) == (4**3 - 1) // 3 and max(ids) == (4**3 - 1) // 3 + 63
    # hilbert adjacency: consecutive ids are grid neighbors
    pos = {mvt.hilbert_tile_id(3, x, y): (x, y) for x in range(8) for y in range(8)}
    base = (4**3 - 1) // 3
    for d in range(63):
        (x1, y1), (x2, y2) = pos[base + d], pos[base + d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_tile_id_col_matches_reference(spark):
    """The native tile id the streamed writer sorts on is bit-exact with
    hilbert_tile_id: every tile at z0-z9, plus seeded random tiles and
    the corner tiles (0 and n-1 on each axis) at z10-z20."""
    tiles = [(z, x, y) for z in range(10) for x in range(1 << z) for y in range(1 << z)]
    rng = np.random.default_rng(7)
    for z in range(10, 21):
        n = 1 << z
        tiles += [(z, x, y) for x in (0, n - 1) for y in (0, n - 1)]
        tiles += [(z, int(x), int(y)) for x, y in rng.integers(0, n, size=(200, 2))]
    zs, xs, ys = zip(*tiles)
    table = pa.table({
        "z": pa.array(zs, pa.int32()), "x": pa.array(xs, pa.int64()), "y": pa.array(ys, pa.int64()),
        "want": pa.array([mvt.hilbert_tile_id(*t) for t in tiles], pa.int64()),
    })
    got = spark.createDataFrame(table).withColumn("tid", mvt.hilbert_tile_id_col())
    assert got.count() == len(tiles) == 349_525 + 11 * 204
    assert got.filter(F.col("tid") != F.col("want")).limit(5).collect() == []


def test_crc_checksum_matches_spark(spark, tiles_df):
    """Spark crc32 == zlib.crc32 (the independent recompute used by the
    golden generator for mvt_tile_stats)."""
    enc = mvt.encode_tiles_mvt(tiles_df).limit(20)
    rows = enc.select(F.crc32(F.col("mvt")).alias("c"), "mvt").collect()
    for r in rows:
        assert r["c"] == zlib.crc32(bytes(r["mvt"]))
