"""Adversarial-input fuzz for the PMTiles reader (the test_codec_fuzz
shape applied to the tile server's archive source).

The server reads archives it did not write. A truncated or corrupt gzip
tile payload or leaf directory is an unaddressed tile: ``get()`` returns
``None`` (the server's 204). The constructor and ``metadata()`` refuse
with ``ValueError``. No other exception type ever escapes.

Deterministic seeds: failures reproduce exactly.
"""

import gzip
import struct

import numpy as np
import pytest

from osm_poi_cloud_spark.operators import mvt
from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader


def _gzip_tile_archive(path, coords):
    """Write ``coords`` with gzip-compressed tile payloads. The writer
    stores tiles raw, so payloads go in pre-gzipped and the header's
    tile-compression byte is set to gzip (2). -> ({coord: payload},
    writer stats)."""
    payloads = {c: b"tile-%d-%d-%d" % c for c in coords}
    zooms = [c[0] for c in coords]
    w = mvt.PMTilesWriter(path, min(zooms), max(zooms))
    for tid, c in sorted((mvt.hilbert_tile_id(*c), c) for c in coords):
        w.add(tid, gzip.compress(payloads[c], mtime=0))
    stats = w.finalize()
    with open(path, "r+b") as f:
        f.seek(98)  # header: clustered, internal comp, TILE COMP, tile type
        f.write(b"\x02")
    return payloads, stats


def _sections(path):
    """-> (file bytes, {section: (offset, length)}) from the v3 header."""
    with open(path, "rb") as f:
        blob = f.read()
    v = struct.unpack("<8Q", blob[8:72])
    return blob, {"root": v[0:2], "meta": v[2:4], "leaf": v[4:6], "data": v[6:8]}


def _probe(path, payloads):
    """Read every tile and the metadata through the reader. Every tile
    must be its exact payload or None. -> (tiles read as None,
    metadata parsed)."""
    with PMTilesReader(path) as r:
        n_none = 0
        for (z, x, y), want in payloads.items():
            got = r.get(z, x, y)
            assert got is None or got == want, (z, x, y)
            n_none += got is None
        try:
            meta_ok = isinstance(r.metadata(), dict)
        except ValueError:
            meta_ok = False
    return n_none, meta_ok


def _write(path, data):
    with open(path, "wb") as f:
        f.write(data)
    return path


def test_pmtiles_flipped_tile_and_metadata_bits(tmp_path):
    coords = [(z, x, y) for z in range(3)
              for x in range(1 << z) for y in range(1 << z)]
    good = str(tmp_path / "good.pmtiles")
    payloads, stats = _gzip_tile_archive(good, coords)
    assert stats["n_leaves"] == 0
    assert _probe(good, payloads) == (0, True)
    blob, sec = _sections(good)
    bad = str(tmp_path / "bad.pmtiles")

    meta_refused = 0
    off, ln = sec["meta"]
    for pos in range(off, off + ln):
        for bit in (0, 3, 6):
            flipped = bytearray(blob)
            flipped[pos] ^= 1 << bit
            n_none, meta_ok = _probe(_write(bad, flipped), payloads)
            assert n_none == 0  # metadata bytes never touch a tile
            meta_refused += not meta_ok
    assert meta_refused > ln  # most flips are caught (CRC / deflate)

    tiles_refused = 0
    off, ln = sec["data"]
    for pos in range(off, off + ln):
        for bit in (0, 3, 6):
            flipped = bytearray(blob)
            flipped[pos] ^= 1 << bit
            n_none, meta_ok = _probe(_write(bad, flipped), payloads)
            assert n_none <= 1 and meta_ok  # one payload per flip
            tiles_refused += n_none
    assert tiles_refused > ln


def test_pmtiles_truncated_tile_and_metadata(tmp_path):
    coords = [(z, x, y) for z in range(3)
              for x in range(1 << z) for y in range(1 << z)]
    good = str(tmp_path / "good.pmtiles")
    payloads, _ = _gzip_tile_archive(good, coords)
    blob, sec = _sections(good)
    bad = str(tmp_path / "bad.pmtiles")

    data_off, data_len = sec["data"]
    last = max(coords, key=lambda c: mvt.hilbert_tile_id(*c))
    for cut in (1, 5, 12):  # gzip trailer, deflate tail
        with PMTilesReader(_write(bad, blob[:data_off + data_len - cut])) as r:
            assert r.get(*last) is None
    n_none_prev = 0
    for cut in range(data_len, -1, -7):
        n_none, meta_ok = _probe(_write(bad, blob[:data_off + cut]), payloads)
        assert meta_ok and n_none >= n_none_prev
        n_none_prev = n_none
    assert n_none_prev == len(coords)

    for cut in (8, 96, 126):  # magic intact, header cut short
        with pytest.raises(ValueError):
            PMTilesReader(_write(bad, blob[:cut]))

    _, meta_len = sec["meta"]
    for short in range(0, meta_len):
        shortened = bytearray(blob)
        shortened[32:40] = struct.pack("<Q", short)  # header meta_len
        assert _probe(_write(bad, shortened), payloads) == (0, False)


def test_pmtiles_corrupt_leaf_directories(tmp_path):
    z = 8
    coords = [(z, x, y) for x in range(0, 256, 2) for y in range(0, 200)]
    good = str(tmp_path / "good.pmtiles")
    payloads, stats = _gzip_tile_archive(good, coords)
    assert stats["n_leaves"] > 1
    sample = {c: payloads[c] for c in coords[::41]}
    blob, sec = _sections(good)
    bad = str(tmp_path / "bad.pmtiles")
    leaf_off, leaf_len = sec["leaf"]

    rng = np.random.RandomState(31)
    refused = 0
    for _ in range(24):
        flipped = bytearray(blob)
        flipped[leaf_off + rng.randint(0, leaf_len)] ^= 1 << rng.randint(0, 8)
        n_none, meta_ok = _probe(_write(bad, flipped), sample)
        assert meta_ok
        refused += n_none > 0
    assert refused >= 20  # a flipped leaf drops its tiles, nothing raises

    # the root and metadata still open; every tile behind a cut leaf
    # (and all tile data) is gone
    cut = _write(bad, blob[:leaf_off + leaf_len // 2])
    assert _probe(cut, sample) == (len(sample), True)
