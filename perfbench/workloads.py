"""The two workloads and the layers their traced runs add. Each drives
the engine only through its public functions and checks every output it
times.

A workload has ``setup`` (inputs from the seed plus engine-side
preparation), ``unit`` (one homogeneous unit of timed work), ``check``
(the untimed check of a unit's output) and, for the traced run,
``instrument`` (spans around the public calls made inside the engine)
and ``layers`` (per-layer numbers from the spans).
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs

#: input sizes per size class: ``full`` is the default, ``smoke`` the
#: smallest size, which the smoke check runs
SIZES = {
    "full": {"pages": 500, "max_nodes": 75, "join_pages": 1500, "polygons": 60,
             "knn_queries": 300, "docs": 150, "serve_pages": 9000, "serve_max_nodes": 675,
             "pans": 400, "clients": 2},
    "smoke": {"pages": 200, "max_nodes": 20, "join_pages": 200, "polygons": 8,
              "knn_queries": 20, "docs": 90, "serve_pages": 200, "serve_max_nodes": 20,
              "pans": 40, "clients": 2},
}

MAX_ZOOM = 8          # quadtree / shard-grid zoom, app.DEFAULT_MAX_ZOOM
PMTILES_MAX_ZOOM = 10  # app.stage_tiles default archive range
PIP_COVER_ZOOM = 7     # spatial_join defaults
KNN_K = 5
KNN_ZOOM = 10          # knn_join default
WARM_SERVE_S = 4.0     # untimed, checked closed loop before the serve figures


def _quiet():
    """app.stage_* print progress lines; keep stdout for the result."""
    return contextlib.redirect_stdout(sys.stderr)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest nearest-rank percentile with at
    least ten samples beyond it: the (n-10)-th smallest of n samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {n}")
    return xs[n - 11], 100.0 * (n - 10) / n


def _spans(tracer):
    """``tracer.span``, or a no-op span for untraced units."""
    return tracer.span if tracer is not None else (lambda name: contextlib.nullcontext({}))


def _run_app_build(spark, pages_path: str, out: str, max_nodes: int, tracer=None):
    """One build iteration exactly as ``app.main --stage all`` composes
    it: extraction once (persisted, shared by plan and process), then
    plan -> process -> merge -> tiles into ``out``."""
    from osm_poi_cloud_spark import app
    from osm_poi_cloud_spark.plans import pipeline as pl

    span = _spans(tracer)
    with _quiet():
        with span("pipeline.extract") as rec:
            pages = app.read_pages(spark, pages_path)
            pois = pl.build_pois(pages, lang="en", cell_levels=(8, 12)).persist()
            n = pois.count()
            rec["pois"] = n
        try:
            with span("app.plan"):
                shards = app.stage_plan(spark, pages_path, out, MAX_ZOOM, max_nodes, "en", pois=pois)
            with span("app.process"):
                app.stage_process(spark, pages_path, out, "bench", shards, MAX_ZOOM, "en", pois=pois)
        finally:
            pois.unpersist()
        with span("app.merge"):
            app.stage_merge(spark, out)
        with span("app.tiles"):
            app.stage_tiles(spark, out)
    return n


def _dir_files(path: str, suffix: str = ".parquet") -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix)]


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _parquet_rows(files: list[str]) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _check_build_output(out: str, n_pois: int) -> list[str]:
    """Lineage row counts equal the merged POI count; the PMTiles tile
    count equals the z <= 10 rows of the tile table. Read with pyarrow,
    independently of Spark."""
    from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

    errors = []
    lineage = pq.read_table(os.path.join(out, "lineage")).to_pandas()
    lineage_rows = int(lineage.loc[(lineage["run_id"] == "bench") & (lineage["stage"] == "process"),
                                   "row_count"].sum())
    merged = _parquet_rows(_dir_files(os.path.join(out, "pois_merged")))
    if not lineage_rows == merged == n_pois:
        errors.append(f"lineage rows {lineage_rows}, merged rows {merged}, extracted {n_pois}")
    low_zoom = [f for f in _dir_files(os.path.join(out, "tiles"))
                if int(f.split("z=")[1].split(os.sep)[0]) <= PMTILES_MAX_ZOOM]
    with PMTilesReader(os.path.join(out, "pois.pmtiles")) as archive:
        addressed = archive.n_addressed
    if addressed != _parquet_rows(low_zoom):
        errors.append(f"pmtiles addressed {addressed} != z<={PMTILES_MAX_ZOOM} tile rows")
    return errors


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size

    def setup(self) -> None:
        raise NotImplementedError

    def unit(self, k: int, tracer=None):
        """One unit of timed work; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, result, attrs: dict) -> tuple[int, int]:
        """Untimed output check of one unit; returns (operations
        attempted, operations failed). ``attrs`` takes sizes for the
        traced run."""
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Wrap public module functions in spans for the traced run."""

    def layers(self, tracer, traced_ids: list[int]) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of this workload from the traced units."""
        return {}


def _span_sum(tracer, traced_ids, name: str) -> float:
    """Median over traced units of the summed duration of spans ``name``."""
    by = tracer.by_trace()
    return statistics.median(
        sum(r["end"] - r["start"] for r in by[t] if r["name"] == name) for t in traced_ids)


def _span_self(tracer, traced_ids, name: str) -> float:
    self_t = tracer.self_times()
    by = tracer.by_trace()
    return statistics.median(
        sum(self_t[r["id"]] for r in by[t] if r["name"] == name) for t in traced_ids)


def _span_attr(tracer, traced_ids, name: str, key: str) -> float:
    by = tracer.by_trace()
    return statistics.median(
        sum(r.get(key, 0) for r in by[t] if r["name"] == name) for t in traced_ids)


# ---------------------------------------------------------------------------


class Build(Workload):
    """plan -> process -> merge -> tiles once per unit, fresh output dir."""

    name = "build"

    def setup(self):
        self.pages = os.path.join(self.work, "pages")
        inputs.write_pages(self.pages, self.seed, self.size["pages"])

    def unit(self, k, tracer=None):
        out = os.path.join(self.work, f"build-{k}")
        return out, _run_app_build(self.spark, self.pages, out, self.size["max_nodes"], tracer)

    def check(self, result, attrs):
        out, n = result
        try:
            errors = _check_build_output(out, n)
            for e in errors:
                print(f"build check failed: {e}", file=sys.stderr)
            stored = sum(_dir_bytes(os.path.join(out, p)) for p in ("pois_merged", "tiles", "pois.pmtiles"))
            merged = _dir_files(os.path.join(out, "pois_merged"))
            attrs.update({
                "merge.files": len(merged),
                "merge.bytes": sum(os.path.getsize(f) for f in merged),
                "mvt.pmtiles_bytes": os.path.getsize(os.path.join(out, "pois.pmtiles")),
                "storage.bytes_per_poi": stored / max(n, 1),
            })
            return 1, int(bool(errors))
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def instrument(self, tracer):
        from osm_poi_cloud_spark.operators import mvt
        from osm_poi_cloud_spark.operators import quadtree as qt
        from osm_poi_cloud_spark.plans import lineage as ln
        from osm_poi_cloud_spark.plans import merge as mg

        def shards(rec, res):
            rec["shards"], rec["salted"] = len(res[0]), len(res[1])

        tracer.wrap(qt, "plan_quadtree", "quadtree.plan", shards)
        tracer.wrap(ln, "run_stage_with_resume", "lineage.resume_write",
                    lambda rec, res: rec.update(rows=res["rows"]))
        tracer.wrap(mg, "compact", "merge.compact")
        tracer.wrap(mvt, "write_pmtiles_streamed", "mvt.pmtiles",
                    lambda rec, res: rec.update(tiles=res["tiles"]))

    def layers(self, tracer, traced_ids):
        by = tracer.by_trace()
        root_attr = lambda key: statistics.median(
            next(r for r in by[t] if r["parent"] is None)["attrs"].get(key, 0) for t in traced_ids)
        s = lambda name: _span_sum(tracer, traced_ids, name)
        a = lambda name, key: _span_attr(tracer, traced_ids, name, key)
        return {
            "app.plan_s": (s("app.plan"), "s"),
            "app.process_s": (s("app.process"), "s"),
            "app.merge_s": (s("app.merge"), "s"),
            "app.tiles_s": (s("app.tiles"), "s"),
            "pipeline.extract_s": (s("pipeline.extract"), "s"),
            "pipeline.pois": (a("pipeline.extract", "pois"), "count"),
            "quadtree.plan_s": (s("quadtree.plan"), "s"),
            "quadtree.shards": (a("quadtree.plan", "shards"), "count"),
            "quadtree.salted_shards": (a("quadtree.plan", "salted"), "count"),
            "lineage.resume_write_s": (s("lineage.resume_write"), "s"),
            "lineage.rows": (a("lineage.resume_write", "rows"), "count"),
            "merge.compact_s": (s("merge.compact"), "s"),
            "merge.files": (root_attr("merge.files"), "count"),
            "merge.bytes": (root_attr("merge.bytes"), "B"),
            "mvt.pmtiles_s": (s("mvt.pmtiles"), "s"),
            "mvt.encode_write_s": (_span_self(tracer, traced_ids, "app.tiles"), "s"),
            "mvt.tiles": (a("mvt.pmtiles", "tiles"), "count"),
            "mvt.pmtiles_bytes": (root_attr("mvt.pmtiles_bytes"), "B"),
            "storage.bytes_per_poi": (root_attr("storage.bytes_per_poi"), "B"),
        }


# ---------------------------------------------------------------------------


def _pip_bruteforce(pdf, polys) -> set[tuple[str, str]]:
    """Every point against every polygon with ``point_in_rings``: no
    tile cover, no bbox filter."""
    from osm_poi_cloud_spark.operators import spatial_join as sj

    lon = pdf["lon"].to_numpy(np.float64)
    lat = pdf["lat"].to_numpy(np.float64)
    ids = pdf["poi_id"].to_numpy()
    out = set()
    for p in polys:
        inside = sj.point_in_rings(lon, lat, p.rings)
        out.update((pid, p.polygon_id) for pid in ids[inside])
    return out


def _poly_bruteforce(left, right) -> set[tuple[str, str]]:
    """Every polygon pair whose bboxes overlap, decided by ``rings_intersect``."""
    from osm_poi_cloud_spark.operators import spatial_join as sj

    out = set()
    for a in left:
        aw, as_, ae, an = a.bbox()
        for b in right:
            bw, bs, be, bn = b.bbox()
            if aw <= be and bw <= ae and as_ <= bn and bs <= an and sj.rings_intersect(a.rings, b.rings):
                out.add((a.polygon_id, b.polygon_id))
    return out


def _knn_bruteforce(pdf, queries, k: int) -> list[tuple[str, str, int]]:
    """``knn_join``'s contract outside Spark: for each query, the k
    nearest POIs by haversine distance (ties by poi_id) among the POIs
    in its 3x3 tile neighbourhood at KNN_ZOOM."""
    from osm_poi_cloud_spark.functions import tile_math as tm
    from osm_poi_cloud_spark.operators import knn

    n = 1 << KNN_ZOOM
    lon = pdf["lon"].to_numpy(np.float64)
    lat = pdf["lat"].to_numpy(np.float64)
    ids = pdf["poi_id"].to_numpy()
    px, py = tm.lon_lat_to_tile(lon, lat, KNN_ZOOM)
    out = []
    for qid, qlon, qlat in queries:
        qx, qy = (int(v) for v in tm.lon_lat_to_tile(qlon, qlat, KNN_ZOOM))
        dx = (px - qx) % n
        near = np.isin(dx, (0, 1, n - 1)) & (np.abs(py - qy) <= 1)
        p1, p2 = np.radians(qlat), np.radians(lat[near])
        a = (np.sin((p2 - p1) / 2) ** 2
             + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon[near] - qlon) / 2) ** 2)
        dist = 2.0 * knn.EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
        ranked = sorted(zip(dist.tolist(), ids[near].tolist()))[:k]
        out.extend((qid, pid, rn) for rn, (_, pid) in enumerate(ranked, 1))
    return sorted(out)


class Join(Workload):
    """PIP (broadcast and distributed), polygon x polygon, kNN per unit."""

    name = "join"

    def setup(self):
        from pyspark.sql import functions as F

        from osm_poi_cloud_spark.operators import spatial_join as sj
        from osm_poi_cloud_spark.plans import pipeline as pl

        pages = os.path.join(self.work, "pages")
        inputs.write_pages(pages, self.seed, self.size["join_pages"])
        self.pois = (pl.build_pois(self.spark.read.parquet(pages), lang="en", cell_levels=(12,))
                     .select("poi_id", "lon", "lat")
                     .filter(F.col("lat").between(-85.0, 85.0))
                     .persist())
        pdf = self.pois.toPandas()
        self.polys = inputs.admin_polygons(self.seed, self.size["polygons"], "adm")
        self.other = inputs.admin_polygons(self.seed + 1, self.size["polygons"], "zone")
        self.polys_df = sj.polygons_df(self.spark, self.polys)
        self.other_df = sj.polygons_df(self.spark, self.other)
        queries = inputs.knn_queries(self.seed, self.size["knn_queries"])
        self.queries = self.spark.createDataFrame(queries, "query_id string, lon double, lat double")
        self.expected_pip = _pip_bruteforce(pdf, self.polys)
        self.expected_poly = _poly_bruteforce(self.polys, self.other)
        self.expected_knn = _knn_bruteforce(pdf, queries, KNN_K)

    def unit(self, k, tracer=None):
        from osm_poi_cloud_spark.operators import knn
        from osm_poi_cloud_spark.operators import spatial_join as sj

        span = _spans(tracer)
        with span("spatial_join.pip") as rec:
            pip = {(r[0], r[1]) for r in sj.point_in_polygon_join(
                self.spark, self.pois, self.polys, cover_zoom=PIP_COVER_ZOOM)
                .select("poi_id", "polygon_id").collect()}
            rec["hits"] = len(pip)
        with span("spatial_join.pip_dist"):
            dist = {(r[0], r[1]) for r in sj.point_in_polygon_join_distributed(
                self.spark, self.pois, self.polys_df, cover_zoom=PIP_COVER_ZOOM)
                .select("poi_id", "polygon_id").collect()}
        with span("spatial_join.poly") as rec:
            poly = {(r[0], r[1]) for r in sj.polygon_intersection_join(self.polys_df, self.other_df)
                    .collect()}
            rec["pairs"] = len(poly)
        with span("knn.knn") as rec:
            near = sorted((r[0], r[1], r[2]) for r in knn.knn_join(self.queries, self.pois, KNN_K)
                          .select("query_id", "poi_id", "rn").collect())
            rec["rows"] = len(near)
        return pip, dist, poly, near

    def check(self, result, attrs):
        pip, dist, poly, near = result
        errors = [
            msg for ok, msg in (
                (pip == self.expected_pip, f"pip {len(pip)} rows vs brute force {len(self.expected_pip)}"),
                (dist == pip, f"distributed pip {len(dist)} rows vs broadcast {len(pip)}"),
                (poly == self.expected_poly,
                 f"polygon pairs {len(poly)} vs brute force {len(self.expected_poly)}"),
                (near == self.expected_knn, f"knn {len(near)} rows vs brute force {len(self.expected_knn)}"),
            ) if not ok
        ]
        for e in errors:
            print(f"join check failed: {e}", file=sys.stderr)
        return 4, len(errors)

    def layers(self, tracer, traced_ids):
        from osm_poi_cloud_spark.operators import spatial_join as sj

        cover = self.spark.createDataFrame(sj.polygon_tile_cover(self.polys, PIP_COVER_ZOOM))
        candidates = (sj.with_tile_key(self.pois, PIP_COVER_ZOOM)
                      .join(cover, ["tile_x", "tile_y"]).count())
        s = lambda name: _span_sum(tracer, traced_ids, name)
        a = lambda name, key: _span_attr(tracer, traced_ids, name, key)
        hits = a("spatial_join.pip", "hits")
        return {
            "spatial_join.pip_s": (s("spatial_join.pip"), "s"),
            "spatial_join.pip_dist_s": (s("spatial_join.pip_dist"), "s"),
            "spatial_join.poly_s": (s("spatial_join.poly"), "s"),
            "spatial_join.pip_candidates": (candidates, "count"),
            "spatial_join.pip_hits": (hits, "count"),
            "spatial_join.pip_hit_ratio": (hits / candidates if candidates else 0.0, "ratio"),
            "spatial_join.poly_pairs": (a("spatial_join.poly", "pairs"), "count"),
            "knn.knn_s": (s("knn.knn"), "s"),
            "knn.rows": (a("knn.knn", "rows"), "count"),
        }


# ---------------------------------------------------------------------------
# Companion layers: measured only in the traced run of a workload, after
# its units (see README.md, "Why two workloads").
# ---------------------------------------------------------------------------


class ServeLayers:
    """``server.make_server`` over one build's output, the read side of
    the build workload: closed-loop map clients, each pan one /pois bbox
    request then every /tiles of its viewport; then the same bboxes and
    tiles called in-process without HTTP, in spans. The build it serves
    is larger than a build unit's, so that the archive has leaf
    directories."""

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.out = os.path.join(work, "serve")
        self.pages = os.path.join(work, "serve-pages")
        self.lat = defaultdict(list)
        self.next_pan = 0

    def setup(self):
        from osm_poi_cloud_spark import server
        from osm_poi_cloud_spark.operators import mvt
        from osm_poi_cloud_spark.plans import query_api as qa

        inputs.write_pages(self.pages, self.seed, self.size["serve_pages"])
        write, archive = mvt.write_pmtiles_streamed, {}

        def keep_stats(*args, **kwargs):
            archive.update(write(*args, **kwargs))
            return archive

        mvt.write_pmtiles_streamed = keep_stats
        try:
            _run_app_build(self.spark, self.pages, self.out, self.size["serve_max_nodes"])
        finally:
            mvt.write_pmtiles_streamed = write
        self.leaf_dirs = archive["n_leaves"]
        merged = os.path.join(self.out, "pois_merged")
        self.expected_pois = pq.read_table(merged, columns=["poi_id", "lon", "lat"]).to_pandas()
        tiles = pq.read_table(os.path.join(self.out, "tiles"), columns=["z", "x", "y", "mvt"],
                              filters=[("z", "<=", PMTILES_MAX_ZOOM)]).to_pandas()
        self.expected_tiles = {(int(z), int(x), int(y)): bytes(b)
                               for z, x, y, b in tiles.itertuples(index=False)}
        self.pmtiles = os.path.join(self.out, "pois.pmtiles")
        self.pois_df = self.spark.read.parquet(merged)
        self.srv = server.make_server(self.pois_df, pmtiles_path=self.pmtiles)
        self.port = self.srv.server_address[1]
        self.thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self.thread.start()
        self.plan = [(bbox, self._viewport(bbox, z)) for bbox, z in inputs.pan_plan(
            self.seed, self.size["pans"], PMTILES_MAX_ZOOM, qa.MAX_BBOX_DEGREES)]
        self.expected_ids = [self._direct_filter(bbox) for bbox, _ in self.plan]

    @staticmethod
    def _viewport(bbox, z):
        """Every tile a map client fetches for the viewport."""
        from osm_poi_cloud_spark.plans import query_api as qa

        x0, x1, y0, y1 = qa.viewport_tile_range(*bbox, z)
        return [(z, x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]

    def _direct_filter(self, bbox) -> set[str]:
        e = self.expected_pois
        m = e["lon"].between(bbox[0], bbox[2]) & e["lat"].between(bbox[1], bbox[3])
        return set(e.loc[m, "poi_id"])

    def _get(self, path: str) -> tuple[int, bytes, float]:
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        return resp.status, body, time.perf_counter() - t0

    def _pan(self, i: int) -> tuple[int, int]:
        """One pan, checked; returns (requests, failed requests)."""
        bbox, tiles = self.plan[i % len(self.plan)]
        failed = 0
        q = "min_lon={}&min_lat={}&max_lon={}&max_lat={}&limit={}".format(*bbox, inputs.FRONTEND_LIMIT)
        status, body, dt = self._get(f"/pois?{q}")
        self.lat["pois"].append(dt)
        want = self.expected_ids[i % len(self.plan)]
        got = [f["properties"]["poi_id"] for f in json.loads(body)["features"]] if status == 200 else []
        # past the row cap any FRONTEND_LIMIT distinct matches are right
        if status != 200 or len(got) != min(len(want), inputs.FRONTEND_LIMIT) \
                or len(set(got)) != len(got) or not set(got) <= want:
            failed += 1
            print(f"serve check failed: /pois {bbox} status {status}", file=sys.stderr)
        for z, x, y in tiles:
            status, body, dt = self._get(f"/tiles/{z}/{x}/{y}.mvt")
            self.lat["tiles"].append(dt)
            want = self.expected_tiles.get((z, x, y))
            if (status, body) != ((200, want) if want is not None else (204, b"")):
                failed += 1
                print(f"serve check failed: /tiles/{z}/{x}/{y} status {status}", file=sys.stderr)
        return 1 + len(tiles), failed

    def closed_loop(self, seconds: float, min_pans: int = 0) -> tuple[int, int, float]:
        """``clients`` threads, each sending its next pan only after the
        previous one completed, for ``seconds`` and at least ``min_pans``
        pans. Returns (requests, failed, elapsed)."""
        lock = threading.Lock()
        totals = [0, 0]
        errors = []
        deadline = time.perf_counter() + seconds
        first = self.next_pan

        def client():
            try:
                while time.perf_counter() < deadline or self.next_pan - first < min_pans:
                    with lock:
                        i = self.next_pan
                        self.next_pan += 1
                    reqs, failed = self._pan(i)
                    with lock:
                        totals[0] += reqs
                        totals[1] += failed
            except Exception as e:  # a broken client must fail the run, not hang it
                errors.append(e)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(self.size["clients"])]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return totals[0], totals[1], time.perf_counter() - t0

    def run_traced(self, tracer, seconds: float) -> tuple[dict, int, int]:
        """A checked, untimed warm-up loop, the HTTP loop for half of
        ``seconds``, then direct calls for the other half. Returns
        (per-layer metrics, attempted, failed)."""
        from osm_poi_cloud_spark.plans import query_api as qa
        from osm_poi_cloud_spark.sources.pmtiles import PMTilesReader

        warm_reqs, warm_failed, _ = self.closed_loop(WARM_SERVE_S)
        self.lat.clear()
        # at least 60 pans: the /pois tail is then the 83rd percentile or higher
        reqs, failed, elapsed = self.closed_loop(seconds / 2, min_pans=60)
        route = {}
        for name in ("pois", "tiles"):
            v, pct = tail(self.lat[name])
            route[name] = (1000 * statistics.median(self.lat[name]), 1000 * v, pct)

        deadline = time.perf_counter() + seconds / 2
        i = 0
        with PMTilesReader(self.pmtiles) as archive:
            while time.perf_counter() < deadline or i < 30:
                bbox, tiles = self.plan[i % len(self.plan)]
                with tracer.trace("serve.direct"):
                    with tracer.span("query_api.bbox") as rec:
                        rec["rows"] = len(qa.to_geojson(
                            qa.pois_in_bbox(self.pois_df, *bbox, limit=inputs.FRONTEND_LIMIT)).collect())
                    for z, x, y in tiles:
                        with tracer.span("pmtiles.get", spark=False) as rec:
                            rec["empty"] = archive.get(z, x, y) is None
                i += 1
        bbox = [r for r in tracer.spans if r["name"] == "query_api.bbox"]
        gets = [r for r in tracer.spans if r["name"] == "pmtiles.get"]
        bbox_ms = 1000 * statistics.median(r["end"] - r["start"] for r in bbox)
        get_ms = 1000 * statistics.median(r["end"] - r["start"] for r in gets)
        return {
            "query_api.bbox_ms": (bbox_ms, "ms"),
            "query_api.rows": (statistics.median(r["rows"] for r in bbox), "count"),
            "pmtiles.get_ms": (get_ms, "ms"),
            "pmtiles.empty_ratio": (sum(r["empty"] for r in gets) / len(gets), "ratio"),
            "pmtiles.leaf_dirs": (self.leaf_dirs, "count"),
            "server.pois_p50_ms": (route["pois"][0], "ms"),
            "server.pois_tail_ms": (route["pois"][1], "ms"),
            "server.pois_tail_pct": (route["pois"][2], "%"),
            "server.tiles_p50_ms": (route["tiles"][0], "ms"),
            "server.tiles_tail_ms": (route["tiles"][1], "ms"),
            "server.tiles_tail_pct": (route["tiles"][2], "%"),
            "server.http_overhead_pois_ms": (route["pois"][0] - bbox_ms, "ms"),
            "server.http_overhead_tiles_ms": (route["tiles"][0] - get_ms, "ms"),
            "server.rps": (reqs / elapsed, "1/s"),
        }, warm_reqs + reqs, warm_failed + failed

    def teardown(self):
        srv = getattr(self, "srv", None)
        if srv is not None:
            srv.shutdown()
            srv.server_close()
            self.thread.join(timeout=30)


class CurateLayers:
    """Text curation, the engine's other product: per round
    ``curate_documents(span_k=8)``, ``minhash_lsh_dedup`` and
    ``containment_pairs`` over a seeded corpus with planted near-dup
    clusters, a shared slogan span and per-host template lines."""

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.path = os.path.join(work, "docs")

    def setup(self):
        inputs.write_documents(self.path, self.seed, self.size["docs"])
        self.docs = self.spark.read.parquet(self.path).persist()
        self.n_docs = self.docs.count()

    def round(self, tracer) -> tuple[int, int, int]:
        from osm_poi_cloud_spark.operators import dedup as dd
        from osm_poi_cloud_spark.plans import curation

        with tracer.span("curation.curate"):
            cur = curation.curate_documents(self.docs, span_k=8, span_min_docs=4).persist()
            n_cur = cur.count()
        try:
            with tracer.span("dedup.minhash"):
                n_near = dd.minhash_lsh_dedup(cur, text_col="text_clean").count()
            with tracer.span("dedup.containment"):
                n_pairs = dd.containment_pairs(cur, k=8, text_col="text_clean").count()
        finally:
            cur.unpersist()
        return n_cur, n_near, n_pairs

    def run_traced(self, tracer, seconds: float) -> tuple[dict, int, int]:
        """One cold warm-up round, then traced rounds for ``seconds`` (at
        least two); every round's output counts must equal the warm-up
        round's."""
        with tracer.trace("curate.warmup"):
            self.first = self.round(tracer)
        ids, counts, failed = [], [], 0
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(ids) < 2:
            with tracer.trace("curate.round") as root:
                got = self.round(tracer)
            ids.append(root["trace"])
            counts.append(got)
            if got != self.first:
                failed += 1
                print(f"curate check failed: counts {got} vs first round {self.first}", file=sys.stderr)
        s = lambda name: _span_sum(tracer, ids, name)
        return {
            "curation.curate_s": (s("curation.curate"), "s"),
            "dedup.minhash_s": (s("dedup.minhash"), "s"),
            "dedup.containment_s": (s("dedup.containment"), "s"),
            "curation.docs_in": (self.n_docs, "count"),
            "curation.docs_out": (statistics.median(c[0] for c in counts), "count"),
            "dedup.neardup_docs_out": (statistics.median(c[1] for c in counts), "count"),
            "dedup.pairs": (statistics.median(c[2] for c in counts), "count"),
        }, len(ids), failed

    def teardown(self):
        pass


WORKLOADS = {w.name: w for w in (Build, Join)}

#: the layers each workload's traced run measures after its own units
COMPANIONS = {"build": ServeLayers, "join": CurateLayers}

#: every per-layer metric, in BENCHMARK.json order, with its unit
PER_LAYER = [
    ("app.plan_s", "s"), ("app.process_s", "s"), ("app.merge_s", "s"), ("app.tiles_s", "s"),
    ("pipeline.extract_s", "s"), ("pipeline.pois", "count"),
    ("quadtree.plan_s", "s"), ("quadtree.shards", "count"), ("quadtree.salted_shards", "count"),
    ("lineage.resume_write_s", "s"), ("lineage.rows", "count"),
    ("merge.compact_s", "s"), ("merge.files", "count"), ("merge.bytes", "B"),
    ("mvt.pmtiles_s", "s"), ("mvt.encode_write_s", "s"), ("mvt.tiles", "count"),
    ("mvt.pmtiles_bytes", "B"), ("storage.bytes_per_poi", "B"),
    ("query_api.bbox_ms", "ms"), ("query_api.rows", "count"),
    ("pmtiles.get_ms", "ms"), ("pmtiles.empty_ratio", "ratio"), ("pmtiles.leaf_dirs", "count"),
    ("server.pois_p50_ms", "ms"), ("server.pois_tail_ms", "ms"), ("server.pois_tail_pct", "%"),
    ("server.tiles_p50_ms", "ms"), ("server.tiles_tail_ms", "ms"), ("server.tiles_tail_pct", "%"),
    ("server.http_overhead_pois_ms", "ms"), ("server.http_overhead_tiles_ms", "ms"),
    ("server.rps", "1/s"),
    ("spatial_join.pip_s", "s"), ("spatial_join.pip_dist_s", "s"), ("spatial_join.poly_s", "s"),
    ("spatial_join.pip_candidates", "count"), ("spatial_join.pip_hits", "count"),
    ("spatial_join.pip_hit_ratio", "ratio"), ("spatial_join.poly_pairs", "count"),
    ("knn.knn_s", "s"), ("knn.rows", "count"),
    ("curation.curate_s", "s"), ("dedup.minhash_s", "s"), ("dedup.containment_s", "s"),
    ("curation.docs_in", "count"), ("curation.docs_out", "count"),
    ("dedup.neardup_docs_out", "count"), ("dedup.pairs", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
    ("trace.overhead_ms", "ms"), ("trace.unattributed_ratio", "ratio"),
]
