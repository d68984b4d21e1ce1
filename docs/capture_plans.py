#!/usr/bin/env python
"""Regenerate docs/PLANS.md: captured ``explain("formatted")`` output for
the engine's key plans, with per-plan notes on the properties that
matter at scale (tests/test_plan_shapes.py asserts the same properties).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from osm_poi_cloud_spark.config import get_spark
    from osm_poi_cloud_spark.functions import geometry as geo
    from osm_poi_cloud_spark.functions import url as url_fns
    from osm_poi_cloud_spark.operators import knn as knn_op
    from osm_poi_cloud_spark.operators import quadtree as qt
    from osm_poi_cloud_spark.operators import spatial_join as sj
    from osm_poi_cloud_spark.operators import tiling as tl
    from osm_poi_cloud_spark.plans import pipeline as pl
    from osm_poi_cloud_spark.plans import query_api as qa
    from osm_poi_cloud_spark.sources import pages as pg

    spark = get_spark("plans", master="local[4]", shuffle_partitions=4)
    pg.pages_df(spark, 300, partitions=3).write.mode("overwrite").parquet("/tmp/plans_pages")
    pages = spark.read.parquet("/tmp/plans_pages")
    pl.write_pois(pl.build_pois(pages, cell_levels=(12,)), "/tmp/plans_pois")
    pois = spark.read.parquet("/tmp/plans_pois")

    def fmt(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    shards, _ = qt.plan_quadtree(pois, max_zoom=6, max_nodes=30)
    q = pois.limit(50).select(F.col("poi_id").alias("query_id"), "lon", "lat")

    sections = [
        ("pages -> POIs pipeline (ONE Python stage, codegen'd classify/encode)",
         "One `MapInPandas` (fused extract+S2 encode); every later stage inside "
         "WholeStageCodegen; no ArrowEvalPython.",
         fmt(pl.build_pois(pages, cell_levels=(8, 12)))),
        ("bbox query (directory partition pruning + parquet pushdown)",
         "`PartitionFilters` on lon_bucket (directory pruning) + `PushedFilters` range "
         "predicates on lat/lon/lat_bucket reaching the parquet scan; pruned ReadSchema.",
         fmt(qa.pois_in_bbox(pois, -74.2, 40.5, -73.8, 40.9))),
        ("cell range scan (hierarchical S2 lookup as a pushed range predicate)",
         "The ancestor-cell lookup compiles to a `cell_l12 BETWEEN lo AND hi` pushed "
         "filter — min/max row-group pruning over the range-partitioned, cell-sorted layout.",
         fmt(qa.pois_in_cell(pois, int(pois.select("cell_l12").first()[0])))),
        ("shard assignment (cover-grid broadcast hash join, no shuffle)",
         "`BroadcastHashJoin` on (gx, gy); the big side is scanned once with two extra "
         "int columns — no Exchange on the POI side.",
         fmt(sj.assign_to_shards_grid(spark, pois, qt.shards_df(spark, shards), grid_zoom=6))),
        ("tile pyramid + density cap + tile agg (single exchange)",
         "Exactly one `Exchange hashpartitioning(z, x, y)` feeding BOTH the row_number "
         "window and the final aggregation (partitioning reuse).",
         fmt(tl.build_tiles(tl.per_tile_cap(tl.assign_tile_pyramid(pois, 2, 6), 10)))),
        ("kNN (tile-neighborhood candidates + window top-k)",
         "Candidates from exploded 3x3 neighborhood keys; `Window` top-k after a single "
         "shuffle hash join on the tile key.",
         fmt(knn_op.knn_join(q, pois, k=5, zoom=8))),
        ("polygon centroid collapse (native HOF, zero shuffle, zero Python)",
         "The ST_Centroid analog is a pure `Project` over zip_with/aggregate "
         "expressions — no Exchange, no ArrowEvalPython; collapsing 10^9 polygons "
         "is scan-bound.",
         fmt(geo.collapse_polygons_to_points(
             pois.select("poi_id", F.array(
                 F.array(F.col("lon"), F.col("lat")),
                 F.array(F.col("lon") + 0.1, F.col("lat")),
                 F.array(F.col("lon"), F.col("lat") + 0.1)).alias("ring"))))),
        ("point-in-polygon with holes/multipolygon (broadcast + one refine stage)",
         "Tile-cover candidates via `BroadcastHashJoin`; exactly one ArrowEvalPython "
         "(the even-odd ray-cast refine) on candidate pairs only.",
         fmt(sj.point_in_polygon_join(
             spark, pois,
             [sj.Polygon("d", np.array([[-75.0, 40.0], [-73.0, 40.0], [-74.0, 41.5]]),
                         holes=(np.array([[-74.3, 40.4], [-73.7, 40.4], [-74.0, 41.0]]),))],
             cover_zoom=6))),
        ("distributed PIP (polygon table, cover join + cogroup refine)",
         "For polygon sets too large to broadcast: the cover is built inside each "
         "polygon's row (one `Generate`, no aggregate), so the only `Exchange` nodes "
         "are the two cogroup sides; the tile-cover join carries no geometry; "
         "`FlatMapCoGroupsInPandas` attaches each polygon's rings once per group — "
         "the only Python in the plan.",
         fmt(sj.point_in_polygon_join_distributed(
             spark, pois,
             sj.polygons_df(spark, [sj.Polygon("a", np.array([[-75.0, 40.0], [-73.0, 40.0], [-74.0, 41.5]]))]),
             cover_zoom=6))),
        ("URL canonicalization + snapshot dedup (native exprs, one shuffle)",
         "Canonicalization is all inside WholeStageCodegen (regexp/array exprs, no "
         "Python); the latest-capture dedup adds exactly one Exchange on the "
         "canonical key feeding the row_number window.",
         fmt(url_fns.dedup_by_canonical_url(
             pages.select("url", "warc_ts", "text"), order_col="warc_ts"))),
        ("as-of join (union + running last-value, one shuffle, zero Python)",
         "One `Exchange hashpartitioning(_k)` feeding the running-window "
         "`last(ignorenulls)`; no range explosion, no BroadcastNestedLoopJoin, "
         "no ArrowEvalPython anywhere.",
         fmt(__import__("osm_poi_cloud_spark.operators.temporal",
                        fromlist=["asof_join"]).asof_join(
             pois.select(F.col("poi_id").alias("k2"), F.col("lat").alias("ts"),
                         "lon").withColumnRenamed("k2", "sym"),
             pois.select(F.col("poi_id").alias("sym"), F.col("lat").alias("ts"),
                         F.col("lon").alias("price")),
             "sym"))),
        ("interval join (bin blocking: hash join, not nested loop)",
         "The non-equi overlap predicate rides a plain `SortMergeJoin`/hash join "
         "on the exploded bin key — Spark's default plan for this query shape is "
         "BroadcastNestedLoopJoin (quadratic); here no nested loop appears.",
         fmt(__import__("osm_poi_cloud_spark.operators.temporal",
                        fromlist=["interval_join"]).interval_join(
             pois.select(F.col("poi_id").alias("a"), F.col("lat").alias("s"),
                         (F.col("lat") + 1.0).alias("e")),
             pois.select(F.col("poi_id").alias("b"), F.col("lat").alias("s"),
                         (F.col("lat") + 0.5).alias("e")),
             "s", "e", "s", "e", bin_width=2.0))),
        ("hashed text embeddings (one count shuffle + native dense assembly)",
         "Token explode + ONE partial/final count aggregation; the df table joins "
         "by `BroadcastHashJoin`; the dense array assembles inside codegen "
         "(map_from_entries + transform) — zero ArrowEvalPython.",
         fmt(__import__("osm_poi_cloud_spark.functions.embed",
                        fromlist=["hashed_tfidf_embed"]).hashed_tfidf_embed(
             pages.select(F.col("url").alias("doc_id"), "text"), dim=64))),
    ]

    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("# Physical plans — captured evidence\n\n")
        f.write('`df.explain("formatted")` captures for the engine\'s key plans, regenerated\n')
        f.write("by `python docs/capture_plans.py`. What to look for is annotated per plan;\n")
        f.write("tests/test_plan_shapes.py asserts these properties so they cannot rot.\n\n")
        for i, (title, note, text) in enumerate(sections):
            f.write(f"## {i + 1}. {title}\n\n**Check:** {note}\n\n````\n{text}\n````\n\n")


if __name__ == "__main__":
    main()
