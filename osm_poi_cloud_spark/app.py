"""spark-submit application: the reference's five-stage state machine
(download → shard → process → merge → tiles, ``pulumi/statemachine.json``)
as ONE resumable Spark app.

    spark-submit --py-files osm_poi_cloud_spark.zip -m osm_poi_cloud_spark.app \
        --pages /data/pages --out /data/poi_run --run-id run42 --stage all

Stage mapping:
    plan     sharder job (main.rs)        -> quadtree manifest + salt plan
    process  Map-state processor fan-out  -> build_pois + shard assignment,
             written shard-partitioned WITH per-shard lineage rows; re-running
             the same run_id skips committed shards (README.md:214-254 resume)
    merge    merge job (merge.py)         -> compaction + stats row
    tiles    tiles job (generate_pmtiles) -> z2-14 pyramid, per-tile cap,
             tile feature table with MVT binary column + PMTiles archive
    all      the full pipeline

Every stage is idempotent per (run_id, stage): state lives in the
lineage table under ``<out>/lineage`` and the manifest under
``<out>/manifest.geojson``.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import get_spark
from .operators import mvt
from .operators import quadtree as qt
from .operators import spatial_join as sj
from .operators import tiling as tl
from .plans import lineage as ln
from .plans import merge as mg
from .plans import pipeline as pl

DEFAULT_MAX_ZOOM = 8
DEFAULT_MAX_NODES = 1_000_000  # reference default (main.rs:26-27)


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet"):
    """Pages input: parquet/Iceberg table (default) or raw WARC
    archives (``fmt="warc"`` — Common Crawl's container; no lang
    column, so pipeline stages drop the lang filter for it).

    The repartition after the WARC parse is load-bearing twice over:
    it breaks the otherwise-chained parse->extract Python stages (the
    CLAUDE.md single-Python-stage rule — chained narrow Python UDF
    stages measurably anti-scale) and it rebalances records from
    file granularity to even partitions (archives are few and
    uneven; cores are many)."""
    if fmt == "warc":
        from .sources.warc import read_warc_pages

        par = spark.sparkContext.defaultParallelism
        return read_warc_pages(spark, path).repartition(par * 2)
    return spark.read.parquet(path)


def stage_plan(spark: SparkSession, pages_path: str, out: str,
               max_zoom: int, max_nodes: int, lang: str = "en",
               pois=None, fmt: str = "parquet") -> list[qt.Shard]:
    manifest_path = os.path.join(out, "manifest.geojson")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            fc = json.load(f)
        return [
            qt.Shard(p["z"], p["x"], p["y"], p["node_count"])
            for p in (feat["properties"] for feat in fc["features"])
        ]
    if pois is None:
        pages = read_pages(spark, pages_path, fmt)
        pois = pl.build_pois(pages, lang=lang, cell_levels=(12,))
    shards, oversized = qt.plan_quadtree(pois, max_zoom=max_zoom, max_nodes=max_nodes)
    os.makedirs(out, exist_ok=True)
    with open(manifest_path, "w") as f:
        f.write(qt.shards_geojson(shards))
    salts = qt.salt_plan(oversized, max_nodes)
    with open(os.path.join(out, "salt_plan.json"), "w") as f:
        json.dump(salts, f)
    print(f"plan: {len(shards)} shards, {len(oversized)} oversized (salted)")
    return shards


def stage_process(spark: SparkSession, pages_path: str, out: str, run_id: str,
                  shards: list[qt.Shard], max_zoom: int, lang: str = "en",
                  pois=None, fmt: str = "parquet") -> dict:
    if pois is None:
        pages = read_pages(spark, pages_path, fmt)
        pois = pl.build_pois(pages, lang=lang, cell_levels=(8, 12))
    # drop the pipeline's default fixed-zoom shard_id: the authoritative
    # provenance id is the quadtree-manifest leaf (reference P13 literal)
    pois = pois.drop("shard_id")
    assigned = sj.assign_to_shards_grid(
        spark, pois, qt.shards_df(spark, shards), grid_zoom=max_zoom
    )
    salt_path = os.path.join(out, "salt_plan.json")
    salts = json.load(open(salt_path)) if os.path.exists(salt_path) else {}
    assigned = qt.with_salted_shard_key(assigned, salts, row_key="poi_id")

    log = ln.LineageLog(spark, os.path.join(out, "lineage"))
    stats = ln.run_stage_with_resume(
        spark, assigned, os.path.join(out, "pois"), log, run_id, "process", "shard_id",
        expected_keys=[s.shard_id for s in shards],
    )
    print(f"process: {stats}")
    return stats


def stage_merge(spark: SparkSession, out: str) -> None:
    pois_path = os.path.join(out, "pois")
    stats = mg.compact(spark, pois_path, os.path.join(out, "pois_merged"), target_file_mb=128,
                       observe=mg.merge_stats_cols())
    print(f"merge: {stats['total']:,} POIs, {stats['classes']} classes, {stats['shards']} shards")


def tile_table(pois: DataFrame, min_zoom: int, max_zoom: int, cap: int) -> DataFrame:
    """Pyramid + per-tile cap + MVT encode: (z, x, y, n_features,
    features, mvt), one row per tile, behind ONE exchange.

    The range exchange on (z, x, y) sits on the pyramid rows, before the
    cap: the cap window and ``build_tiles``' group-by both accept a range
    partitioning on their keys, so they reuse it, and the partitioner's
    sampling job covers only the native scan + explode. (Range-shuffling
    the encoded tiles instead re-ran the window, the aggregate and the
    Python encode once for the sample and once for the shuffle.) Each
    partition is a contiguous (z, x, y) run, so the z-partitioned write
    gives files whose parquet min/max row-group stats make a single-tile
    point read a seek — the layout server.py's tiles_path mode serves
    from."""
    pyramid = tl.assign_tile_pyramid(pois, min_zoom, max_zoom).repartitionByRange("z", "x", "y")
    return mvt.encode_tiles_mvt(tl.build_tiles(tl.per_tile_cap(pyramid, cap=cap)))


def stage_tiles(spark: SparkSession, out: str, min_zoom: int = 2, max_zoom: int = 14,
                cap: int = 4096, pmtiles_max_zoom: int = 10) -> None:
    """Pyramid + cap + per-tile MVT encode (all distributed), then pack
    a PMTiles v3 archive for zooms <= ``pmtiles_max_zoom``.

    The parquet tile table WITH the mvt binary column is the distributed
    artifact (any tile server can range-read it); the single-file
    .pmtiles packaging streams through the driver — Spark does the
    Hilbert sort, the writer holds only directory entries, payload
    bytes go disk-to-disk — same shape as the reference, where
    tippecanoe runs single-node after the merge
    (generate_pmtiles.py:135-162), but without tile data in memory.
    The tile count is observed on the write, not re-counted."""
    tiles_path = os.path.join(out, "tiles")
    counted = Observation("tiles")
    (tile_table(spark.read.parquet(os.path.join(out, "pois_merged")), min_zoom, max_zoom, cap)
     .observe(counted, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").partitionBy("z").parquet(tiles_path))
    stats = mvt.write_pmtiles_streamed(
        spark.read.parquet(tiles_path).filter(F.col("z") <= pmtiles_max_zoom).select("z", "x", "y", "mvt"),
        os.path.join(out, "pois.pmtiles"), min_zoom, min(max_zoom, pmtiles_max_zoom),
    )
    print(f"tiles: {counted.get['n']:,} tiles z{min_zoom}-z{max_zoom}; pmtiles: {stats}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages parquet path (or WARC glob with --format warc)")
    ap.add_argument("--format", default="parquet", choices=["parquet", "warc"])
    ap.add_argument("--out", required=True, help="run output root")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--stage", default="all", choices=["plan", "process", "merge", "tiles", "all"])
    ap.add_argument("--lang", default="en")
    ap.add_argument("--max-zoom", type=int, default=DEFAULT_MAX_ZOOM)
    ap.add_argument("--max-nodes", type=int, default=DEFAULT_MAX_NODES)
    args = ap.parse_args(argv)

    spark = get_spark(f"poi-pipeline-{args.run_id}")
    shards = None
    pois = None
    lang = None if args.format == "warc" else args.lang  # WARC has no lang column
    if args.stage == "all":
        # extraction is the dominant cost — run it ONCE and share the
        # persisted result between the plan and process stages
        pages = read_pages(spark, args.pages, args.format)
        pois = pl.build_pois(pages, lang=lang, cell_levels=(8, 12)).persist()
    if args.stage in ("plan", "process", "all"):
        shards = stage_plan(spark, args.pages, args.out, args.max_zoom, args.max_nodes, lang, pois=pois, fmt=args.format)
    if args.stage in ("process", "all"):
        stage_process(spark, args.pages, args.out, args.run_id, shards, args.max_zoom, lang, pois=pois, fmt=args.format)
    if pois is not None:
        pois.unpersist()
    if args.stage in ("merge", "all"):
        stage_merge(spark, args.out)
    if args.stage in ("tiles", "all"):
        stage_tiles(spark, args.out)


if __name__ == "__main__":
    main()
