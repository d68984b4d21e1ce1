"""End-to-end application test: the five-stage app runs, resumes, and
produces consistent artifacts."""

import json
import os
import re

from osm_poi_cloud_spark import app
from osm_poi_cloud_spark.plans import merge as mg
from osm_poi_cloud_spark.sources import pages as pg


def test_full_app_run_and_resume(spark, tmp_path, monkeypatch, capsys):
    # the app builds its own session via get_spark(); reuse the test one
    monkeypatch.setattr(app, "get_spark", lambda *a, **k: spark)

    pages_path = str(tmp_path / "pages")
    pg.pages_df(spark, 400, partitions=4).write.parquet(pages_path)
    out = str(tmp_path / "run")

    app.main(["--pages", pages_path, "--out", out, "--run-id", "r1",
              "--stage", "all", "--max-zoom", "6", "--max-nodes", "50"])

    # artifacts exist
    manifest = json.load(open(os.path.join(out, "manifest.geojson")))
    assert manifest["type"] == "FeatureCollection" and len(manifest["features"]) > 4
    pois = spark.read.parquet(os.path.join(out, "pois"))
    merged = spark.read.parquet(os.path.join(out, "pois_merged"))
    assert pois.count() == merged.count() > 100
    tiles = spark.read.parquet(os.path.join(out, "tiles"))
    assert set(r["z"] for r in tiles.select("z").distinct().collect()) == set(range(2, 15))

    # the counts the merge and tiles stages observe during their writes
    # equal a recount of what they wrote
    printed = capsys.readouterr().out
    merge_line = re.search(r"^merge: ([\d,]+) POIs, (\d+) classes, (\d+) shards$", printed, re.M)
    tiles_line = re.search(r"^tiles: ([\d,]+) tiles z2-z14;", printed, re.M)
    want = mg.merge_stats(merged).collect()[0]
    assert [int(g.replace(",", "")) for g in merge_line.groups()] == [
        want["total"], want["classes"], want["shards"]]
    assert int(tiles_line.group(1).replace(",", "")) == tiles.count()

    # every POI in exactly one shard, consistent with the manifest ids
    shard_ids = {f["properties"]["shard_id"] for f in manifest["features"]}
    got_shards = {r["shard_id"] for r in pois.select("shard_id").distinct().collect()}
    assert got_shards <= shard_ids

    # resume: a second run processes nothing new and changes nothing
    n_before = pois.count()
    app.main(["--pages", pages_path, "--out", out, "--run-id", "r1",
              "--stage", "process", "--max-zoom", "6", "--max-nodes", "50"])
    assert spark.read.parquet(os.path.join(out, "pois")).count() == n_before

    # lineage audit is clean
    from osm_poi_cloud_spark.plans import lineage as ln

    log = ln.LineageLog(spark, os.path.join(out, "lineage"))
    bad = ln.verify_against_lineage(spark, os.path.join(out, "pois"), log, "r1", "process", "shard_id")
    assert bad.count() == 0


def test_app_warc_input(spark, tmp_path, monkeypatch):
    """The app ingests raw WARC archives (--format warc) through the
    same five stages."""
    import datetime as dt

    from osm_poi_cloud_spark.sources import warc as W

    monkeypatch.setattr(app, "get_spark", lambda *a, **k: spark)
    pages = pg.pages_df(spark, 150, partitions=2).toPandas()
    recs = [
        (r["url"], r["warc_ts"].to_pydatetime(), bytes(r["html"]))
        for _, r in pages.iterrows()
    ]
    warc_dir = tmp_path / "warcs"
    warc_dir.mkdir()
    W.write_warc(str(warc_dir / "a.warc.gz"), recs[:75], gzip_members=True)
    W.write_warc(str(warc_dir / "b.warc"), recs[75:])
    out = str(tmp_path / "wrun")

    app.main(["--pages", str(warc_dir) + "/*", "--format", "warc", "--out", out,
              "--run-id", "w1", "--stage", "all", "--max-zoom", "5", "--max-nodes", "100"])

    pois = spark.read.parquet(os.path.join(out, "pois_merged"))
    assert pois.count() > 50
    assert os.path.exists(os.path.join(out, "pois.pmtiles"))
