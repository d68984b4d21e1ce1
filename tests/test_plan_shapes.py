"""Physical-plan regressions: the plans we designed are the plans Spark
actually runs (pushdown, broadcast, codegen, no stray Python stages).
These guard the 100 TB properties that correctness tests can't see."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark import app
from osm_poi_cloud_spark.operators import mvt
from osm_poi_cloud_spark.operators import quadtree as qt
from osm_poi_cloud_spark.operators import spatial_join as sj
from osm_poi_cloud_spark.operators import tiling as tl
from osm_poi_cloud_spark.plans import lineage as ln
from osm_poi_cloud_spark.plans import merge as mg
from osm_poi_cloud_spark.plans import pipeline as pl
from osm_poi_cloud_spark.plans import query_api as qa
from osm_poi_cloud_spark.sources import pages as pg


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pois_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pois")
    pois = pl.build_pois(pg.pages_df(spark, 400, partitions=4), cell_levels=(12,))
    pl.write_pois(pois, path, cell_level=12)
    return path


def test_bbox_query_pushes_filters(spark, pois_path):
    stored = spark.read.parquet(pois_path)
    plan = _plan(qa.pois_in_bbox(stored, -74.2, 40.5, -73.8, 40.9))
    scan = [l for l in plan.splitlines() if "FileScan" in l or "PushedFilters" in l]
    s = " ".join(scan)
    assert "PushedFilters" in s
    assert "lat" in s.split("PushedFilters")[1][:300]  # range preds reached parquet


def test_shard_grid_join_is_broadcast(spark, pois_path):
    pois = spark.read.parquet(pois_path)
    shards, _ = qt.plan_quadtree(pois, max_zoom=6, max_nodes=50)
    joined = sj.assign_to_shards_grid(spark, pois, qt.shards_df(spark, shards), grid_zoom=6)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_has_single_python_stage(spark, tmp_path):
    path = str(tmp_path / "pages")
    pg.pages_df(spark, 200, partitions=2).write.parquet(path)
    pois = pl.build_pois(spark.read.parquet(path), cell_levels=(8, 12))
    plan = _plan(pois)
    # exactly one Python eval: the fused extract+encode mapInPandas;
    # classify/tile/buckets must be codegen'd ('*(n)' stage markers)
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(" in plan


def test_url_canonicalization_is_codegen(spark, pois_path):
    """Canonicalization must stay fully JVM-side: no Python stage; the
    snapshot dedup adds exactly one Exchange (on the canonical key)."""
    from osm_poi_cloud_spark.functions.url import dedup_by_canonical_url

    # parquet-backed source: pages_df itself is a mapInPandas generator
    path = pois_path + "_urlpages"
    pg.pages_df(spark, 50, partitions=2).select("url", "warc_ts", "text").write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    plan = _plan(dedup_by_canonical_url(pages, order_col="warc_ts"))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") == 1


def test_centroid_collapse_no_shuffle_no_python(spark, pois_path):
    from osm_poi_cloud_spark.functions.geometry import collapse_polygons_to_points

    pois = spark.read.parquet(pois_path)
    rings = pois.select(
        "poi_id",
        F.array(F.array(F.col("lon"), F.col("lat")),
                F.array(F.col("lon") + 0.1, F.col("lat")),
                F.array(F.col("lon"), F.col("lat") + 0.1)).alias("ring"),
    )
    plan = _plan(collapse_polygons_to_points(rings))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_distributed_pip_cogroup_refine(spark, pois_path):
    """The large-|polygons| PIP: rings never enter a UDF closure or the
    candidate join — the refine is a cogroup (rings once per polygon
    group, FlatMapCoGroupsInPandas), the only Python in the plan."""
    polys = sj.polygons_df(spark, [
        sj.Polygon("a", np.array([[-10.0, -10.0], [10.0, -10.0], [0.0, 15.0]])),
    ])
    pois = spark.read.parquet(pois_path)
    plan = _plan(sj.point_in_polygon_join_distributed(spark, pois, polys, cover_zoom=5))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    # the tile-cover candidate join must not carry the rings geometry —
    # rings appear only in the cogroup's polygon-side child
    tile_join_lines = [l for l in plan.splitlines() if "Join" in l and "tile_x" in l]
    assert tile_join_lines and all("rings" not in l for l in tile_join_lines)


def _exchanges(lines) -> list[str]:
    """Shuffle exchanges only (``BroadcastExchange`` excluded)."""
    return [l for l in lines if re.search(r"\bExchange ", l)]


def test_distributed_pip_cover_is_shuffle_free(spark, pois_path):
    """The distributed-PIP cover is built inside each polygon's row: no
    aggregate or exchange deduplicates it, so the cogroup's two sides
    are the plan's only shuffles, and the polygon table is a sized
    local relation, not an RDD scan."""
    polys = sj.polygons_df(spark, [
        sj.Polygon("a", np.array([[-10.0, -10.0], [10.0, -10.0], [0.0, 15.0]]),
                   holes=(np.array([[-2.0, -2.0], [2.0, -2.0], [0.0, 2.0]]),)),
        sj.Polygon("b", np.array([[20.0, 0.0], [30.0, 0.0], [25.0, 5.0]]),
                   shells=(np.array([[-30.0, 0.0], [-20.0, 0.0], [-25.0, 5.0]]),)),
    ])
    pois = spark.read.parquet(pois_path)
    plan = _plan(sj.point_in_polygon_join_distributed(spark, pois, polys, cover_zoom=5))
    assert "ExistingRDD" not in plan and "HashAggregate" not in plan, plan
    ex = _exchanges(plan.splitlines())
    assert len(ex) == 2, plan
    assert "hashpartitioning(polygon_id#" in ex[0] and "hashpartitioning(_pid#" in ex[1], plan


def test_polygon_join_one_exchange_before_refine(spark):
    """Between the polygon-pair tile join and the exact refine there is
    ONE exchange: the numbered pair repartition, which also serves the
    pair distinct; the ring join-backs plan as broadcasts."""
    def tri(pid, cx):
        return sj.Polygon(pid, np.array([[cx, 0.0], [cx + 8.0, 0.0], [cx + 4.0, 6.0]]))

    left = sj.polygons_df(spark, [tri("a1", 0.0), tri("a2", 20.0)])
    right = sj.polygons_df(spark, [tri("b1", 3.0), tri("b2", 40.0)])
    lines = _plan(sj.polygon_intersection_join(left, right)).splitlines()
    plan = "\n".join(lines)
    refine = next(i for i, l in enumerate(lines) if "ArrowEvalPython" in l)
    tile_join = next(i for i, l in enumerate(lines) if "Join" in l and "tile_x" in l)
    ex = _exchanges(lines[refine:tile_join])
    assert len(ex) == 1 and re.search(r"hashpartitioning\(_ia#\d+, _ib#\d+, \d+\), REPARTITION_BY_NUM",
                                      ex[0]), plan
    assert "ExistingRDD" not in plan, plan


def test_topk_uses_take_ordered(spark, pois_path):
    stored = spark.read.parquet(pois_path)
    top = qa.class_histogram(stored).limit(10)
    assert "TakeOrderedAndProject" in _plan(top)


def test_tile_pyramid_single_shuffle_for_cap(spark, pois_path):
    stored = spark.read.parquet(pois_path)
    capped = tl.per_tile_cap(tl.assign_tile_pyramid(stored, 2, 6), cap=10)
    tiles = tl.build_tiles(capped)
    plan = _plan(tiles)
    # window (z,x,y) and groupBy (z,x,y) share partitioning: exactly one
    # exchange in the whole pyramid plan
    assert plan.count("Exchange") == 1, plan


def test_tile_table_one_range_exchange(spark, pois_path):
    """stage_tiles' table: the (z, x, y) range exchange on the pyramid
    rows is the ONLY exchange (the cap window and the tile group-by
    reuse it), and the MVT encode is the one Python stage."""
    plan = _plan(app.tile_table(spark.read.parquet(pois_path), 2, 14, 4096))
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Exchange rangepartitioning\(z#\d+ ASC NULLS FIRST, x#\d+L ASC NULLS FIRST, "
                     r"y#\d+L ASC NULLS FIRST", plan), plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_pmtiles_order_is_native(spark):
    """The PMTiles Hilbert sort computes its tile id without Python."""
    tiles = spark.range(64).select(F.lit(3).alias("z"), (F.col("id") % 8).alias("x"),
                                   (F.col("id") / 8).cast("long").alias("y"), F.lit(b"t").alias("mvt"))
    plan = _plan(mvt._hilbert_sorted(tiles))
    assert "EvalPython" not in plan and "rangepartitioning(tid" in plan, plan


def test_driver_tables_launch_no_job(spark, tmp_path, count_jobs):
    """The shard manifest and a not-yet-written lineage table are
    driver-built local tables: reading them back runs no Spark job."""
    shards = [qt.Shard(1, 0, 0, 5), qt.Shard(2, 3, 1, 7)]
    rows, jobs = count_jobs(lambda: qt.shards_df(spark, shards).collect())
    assert jobs == 0 and [r["shard_id"] for r in rows] == ["1-0-0", "2-3-1"]
    rows, jobs = count_jobs(lambda: ln.LineageLog(spark, str(tmp_path / "lineage")).read().collect())
    assert jobs == 0 and rows == []


def test_union_by_name_tolerates_missing_columns(spark):
    a = spark.createDataFrame(pd.DataFrame({"poi_id": ["a"], "class": ["cafe_bakery"], "state": ["ca"]}))
    b = spark.createDataFrame(pd.DataFrame({"poi_id": ["b"], "class": ["retail"]}))
    u = mg.union_shards([a, b]).toPandas()
    assert len(u) == 2 and u["state"].isna().sum() == 1


def test_merge_stats_and_compact(spark, pois_path, tmp_path):
    stored = spark.read.parquet(pois_path)
    stats = mg.merge_stats(stored).collect()[0]
    assert stats["total"] == stored.count() and stats["classes"] > 3

    out = str(tmp_path / "compacted")
    mg.compact(spark, pois_path, out, target_file_mb=1)
    c = spark.read.parquet(out)
    assert c.count() == stored.count()


def test_curation_plan_no_python_one_shuffle(spark, sf_dir):
    """The curation cascade is pure codegen (zero Python stages) and
    pays exactly ONE exchange — the dedup groupBy. A second Python
    stage or extra shuffle here would anti-scale the whole pipeline."""
    from osm_poi_cloud_spark.plans.curation import curate_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = curate_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("EvalPython") == 0
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]


def test_stratified_sample_plan_is_map_only(spark, sf_dir):
    """Rate-based sampling must be a pure map: no exchange, no Python —
    the property that lets it run inline inside any scan."""
    from osm_poi_cloud_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (stratified_sample(docs, "lang", {"en": 0.5, "de": 0.1}, "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan[:1500]
    assert plan.count("EvalPython") == 0


def test_snapshot_history_single_shuffle(spark):
    """SCD2 gaps-and-islands is ONE hash shuffle: HashPartitioning(key)
    satisfies the lag window, the (key, run, attrs) groupBy (superset
    clustering) and the lead window."""
    from osm_poi_cloud_spark.operators.sampling import snapshot_history

    snaps = spark.range(2000).selectExpr(
        "id % 37 AS e", "id AS v", "CAST(id % 3 AS STRING) AS s")
    out = snapshot_history(snaps, "e", "v", ["s"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "EvalPython" not in plan


def test_kde_grid_single_shuffle_no_python(spark):
    from osm_poi_cloud_spark.operators.hotspot import kde_grid

    cells = spark.range(500).selectExpr(
        "id % 50 AS x", "CAST(id / 50 AS LONG) AS y", "id % 7 + 1 AS v")
    out = kde_grid(cells, zoom=8, radius=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "EvalPython" not in plan and "Generate" in plan


def test_weighted_sample_one_shuffle_no_python(spark):
    from osm_poi_cloud_spark.operators.sampling import \
        weighted_sample_per_stratum

    docs = spark.range(2000).selectExpr(
        "id AS doc_id", "CAST(id % 5 AS STRING) AS strat",
        "CAST(id % 10 + 1 AS DOUBLE) AS w")
    plan = weighted_sample_per_stratum(docs, "strat", "w", k=7) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "EvalPython" not in plan


def test_hist_build_one_shuffle_map_side_combine(spark):
    from osm_poi_cloud_spark.operators.sketch import hist_build

    df = spark.range(5000).selectExpr("CAST(id % 997 AS DOUBLE) AS v")
    plan = hist_build(df, "v", 0.0, 1000.0, 64) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "partial_count" in plan          # map-side combine
    assert "EvalPython" not in plan


def test_sitemap_directives_map_only_native(spark):
    from osm_poi_cloud_spark.functions.robots import sitemap_directives

    r = spark.createDataFrame([("h", "Sitemap: https://h/x.xml")],
                              "host string, content string")
    plan = sitemap_directives(r)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "Generate" in plan


def test_skyline_no_global_window_no_python(spark):
    """The skyline plan must never funnel the corpus through one task:
    every Window in the executed plan carries a partition spec, the
    partition-minima side arrives as a broadcast, and there is no
    Python stage anywhere."""
    from osm_poi_cloud_spark.operators.skyline import skyline_2d

    pts = spark.range(5000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS g",
        "CAST((id * 7919) % 997 AS BIGINT) AS x",
        "CAST((id * 104729) % 997 AS BIGINT) AS y")
    plan = _plan(skyline_2d(pts, "x", "y", group_cols=("g",)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    for line in plan.splitlines():
        if "Window" in line and "partitionBy" not in line:
            # executedPlan renders Window as: Window [exprs], [part], [order]
            # a global window renders with an EMPTY partition list
            assert "windowspecdefinition()" not in line.replace(" ", "")
    # range partitioning actually present (the scalable total order)
    assert "rangepartitioning" in plan.lower()
