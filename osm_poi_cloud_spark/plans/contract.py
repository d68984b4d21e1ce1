"""Driver-contract queries: operator inventory (SURVEY.md §2) exercised
over the driver's testdata tables, each paired with a DuckDB oracle.

Design: wherever the engine op is expressible in the SQL subset common
to Spark SQL and DuckDB, ONE shared SQL text is executed by both (the
strongest possible parity guarantee). Ops that need engine code
(pandas-UDF cell encode, pipeline stages) use DataFrame plans with a
hand-matched oracle, or a rows-only check where no SQL oracle exists
(S2 ids — DuckDB has no offline S2/H3 extension here).

Geospatial inputs are derived deterministically from the TPC-H-ish
tables (pure integer arithmetic -> identical float64 in both engines):
`customer` rows become POI points, `nation` rows become query polygons.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tile_math as tm
from ..functions.classify import class_sql

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# ---------------------------------------------------------------------------
# Shared derivations (dialect-common SQL)
# ---------------------------------------------------------------------------

# customer -> POI points. Integer mod + exact decimal divide == identical
# float64 in Spark and DuckDB.
PTS_SQL = (
    "SELECT c_custkey AS poi_id, "
    "CAST((c_custkey * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon, "
    "CAST((c_custkey * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat "
    "FROM customer"
)

# part -> OSM-ish tag columns (drives the 27-class ordered CASE).
TAGGED_SQL = (
    "SELECT p_partkey, "
    "CASE p_partkey % 13 WHEN 0 THEN 'restaurant' WHEN 1 THEN 'cafe' WHEN 2 THEN 'fast_food' "
    " WHEN 3 THEN 'ice_cream' WHEN 4 THEN 'marketplace' WHEN 5 THEN 'bank' WHEN 6 THEN 'fuel' "
    " WHEN 7 THEN 'hospital' WHEN 8 THEN 'school' WHEN 9 THEN 'townhall' WHEN 10 THEN 'place_of_worship' "
    " WHEN 11 THEN 'cinema' ELSE NULL END AS amenity, "
    "CASE p_partkey % 17 WHEN 0 THEN 'ice_cream' WHEN 1 THEN 'supermarket' WHEN 2 THEN 'bakery' "
    " WHEN 3 THEN 'mall' WHEN 4 THEN 'hairdresser' WHEN 5 THEN 'car_repair' WHEN 6 THEN 'pet' "
    " WHEN 7 THEN 'unknown_gizmos' ELSE NULL END AS shop, "
    "CASE p_partkey % 19 WHEN 0 THEN 'hotel' WHEN 1 THEN 'museum' WHEN 2 THEN 'attraction' "
    " WHEN 3 THEN 'picnic_site' ELSE NULL END AS tourism, "
    "CASE p_partkey % 23 WHEN 0 THEN 'park' WHEN 1 THEN 'sports_centre' WHEN 2 THEN 'bowling_alley' "
    " ELSE NULL END AS leisure, "
    "CASE p_partkey % 29 WHEN 0 THEN 'company' WHEN 1 THEN 'government' ELSE NULL END AS office, "
    "CASE p_partkey % 31 WHEN 0 THEN 'clinic_x' ELSE NULL END AS healthcare, "
    "CASE p_partkey % 37 WHEN 0 THEN 'station' ELSE NULL END AS railway, "
    "CASE p_partkey % 41 WHEN 0 THEN 'aerodrome' ELSE NULL END AS aeroway, "
    "CASE p_partkey % 43 WHEN 0 THEN 'monument' ELSE NULL END AS historic, "
    "CASE p_partkey % 47 WHEN 0 THEN 'lighthouse' ELSE NULL END AS man_made, "
    "CASE p_partkey % 53 WHEN 0 THEN 'beach' ELSE NULL END AS natural_tag, "
    "CASE p_partkey % 59 WHEN 0 THEN 'station' ELSE NULL END AS public_transport "
    "FROM part"
)

_CLASS_CASE = class_sql({"natural": "natural_tag"})

# nation -> 25 axis-aligned query polygons (the bbox form of the
# reference's tile polygons, main.rs:63-78 generalized).
POLY_SQL = (
    "SELECT n_nationkey AS polygon_id, "
    "CAST((n_nationkey * 13) % 330 AS DOUBLE) - 180.0 AS west, "
    "CAST((n_nationkey * 13) % 330 AS DOUBLE) - 150.0 AS east, "
    "CAST((n_nationkey * 29) % 130 AS DOUBLE) - 80.0 AS south, "
    "CAST((n_nationkey * 29) % 130 AS DOUBLE) - 50.0 AS north "
    "FROM nation"
)


def _shared_sql_queries() -> dict[str, str]:
    """Queries whose text runs verbatim in BOTH Spark SQL and DuckDB."""
    z = 12
    tx = tm.sql_tile_x("lon", z)
    ty = tm.sql_tile_y("lat", z)
    q: dict[str, str] = {}

    # P14+P15(W2-limit): bbox query with bucket pre-filter (lambda_handler.py:137-158).
    # Dense point cloud in [-125,-115) x [32,42) so a 5-degree bbox (the
    # reference's API cap) selects a meaningful slice at every sf.
    q["bbox_filter"] = (
        "WITH pts AS (SELECT c_custkey AS poi_id, "
        "CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 125.0 AS lon, "
        "CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 + 32.0 AS lat "
        "FROM customer) "
        "SELECT poi_id, lon, lat FROM pts "
        "WHERE CAST(FLOOR(lon) AS INT) BETWEEN -123 AND -118 "
        "AND CAST(FLOOR(lat) AS INT) BETWEEN 35 AND 40 "
        "AND lon BETWEEN -122.8 AND -118.1 AND lat BETWEEN 35.2 AND 39.9 "
        "ORDER BY poi_id LIMIT 1000"
    )

    # P6+A6: ordered-CASE classify + class histogram (/classes endpoint)
    q["classify_histogram"] = (
        f"WITH tagged AS ({TAGGED_SQL}), classified AS "
        f"(SELECT {_CLASS_CASE} AS class FROM tagged) "
        "SELECT class, COUNT(*) AS n FROM classified WHERE class IS NOT NULL "
        "GROUP BY class ORDER BY n DESC, class"
    )

    # P9+J1+A1/A2: tile assignment + per-tile partial/final count
    q["tile_assignment_counts"] = (
        f"WITH pts AS ({PTS_SQL}) "
        f"SELECT {tx} AS tile_x, {ty} AS tile_y, COUNT(*) AS n, "
        "MIN(poi_id) AS min_poi FROM pts GROUP BY 1, 2 "
        "ORDER BY n DESC, tile_x, tile_y LIMIT 500"
    )

    # A3: hierarchical roll-up z12 -> z8 by key shifting (main.rs:143-147)
    q["tile_rollup"] = (
        f"WITH pts AS ({PTS_SQL}), t AS "
        f"(SELECT {tx} AS x, {ty} AS y FROM pts) "
        "SELECT CAST(FLOOR(x / 16.0) AS BIGINT) AS x8, "
        "CAST(FLOOR(y / 16.0) AS BIGINT) AS y8, COUNT(*) AS n "
        "FROM t GROUP BY 1, 2 ORDER BY n DESC, x8, y8 LIMIT 500"
    )

    # P12: bucket keys (process_region.py:265-266)
    q["bucket_keys"] = (
        f"WITH pts AS ({PTS_SQL}) "
        f"SELECT {tm.sql_lon_bucket('lon')} AS lon_bucket, "
        f"{tm.sql_lon_bucket('lat')} AS lat_bucket, COUNT(*) AS n "
        "FROM pts GROUP BY 1, 2 ORDER BY n DESC, lon_bucket, lat_bucket LIMIT 1000"
    )

    # A4/A5/A7: counts + count-distinct (merge.py:89-97)
    q["stats_counts"] = (
        "SELECT COUNT(*) AS total, COUNT(DISTINCT o_orderstatus) AS statuses, "
        "COUNT(DISTINCT o_custkey) AS custs FROM orders"
    )

    # A6/W1: top-k grouped count (process_region.py:286-292)
    q["topk_event_types"] = (
        "SELECT event_type, COUNT(*) AS n FROM events "
        "GROUP BY event_type ORDER BY n DESC, event_type LIMIT 10"
    )

    # U1: schema-aligned UNION ALL then re-aggregate (merge.py:80-86)
    q["union_merge"] = (
        "WITH shard_a AS (SELECT o_orderstatus AS class FROM orders WHERE o_orderkey % 2 = 0), "
        "shard_b AS (SELECT o_orderstatus AS class FROM orders WHERE o_orderkey % 2 = 1) "
        "SELECT class, COUNT(*) AS n FROM "
        "(SELECT * FROM shard_a UNION ALL SELECT * FROM shard_b) u "
        "GROUP BY class ORDER BY n DESC, class"
    )

    # J2: bbox point-in-polygon join (broadcast small side in Spark)
    q["pip_bbox_join"] = (
        f"WITH pts AS ({PTS_SQL}), polys AS ({POLY_SQL}) "
        "SELECT polygon_id, COUNT(*) AS n, MIN(poi_id) AS min_poi FROM pts "
        "JOIN polys ON lon >= west AND lon < east AND lat >= south AND lat < north "
        "GROUP BY polygon_id ORDER BY polygon_id"
    )

    # kNN per query point: top-5 by squared distance (window top-k);
    # squared distance = pure *,+ arithmetic -> bit-identical cross-engine.
    q["knn_per_cell"] = (
        f"WITH pts AS ({PTS_SQL}), centers AS ("
        "SELECT n_nationkey AS qid, "
        "CAST((n_nationkey * 37) % 340 AS DOUBLE) - 170.0 AS qlon, "
        "CAST((n_nationkey * 53) % 160 AS DOUBLE) - 80.0 AS qlat FROM nation), "
        "cand AS (SELECT qid, poi_id, "
        "(lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS dist2 "
        "FROM centers JOIN pts ON lon BETWEEN qlon - 8.0 AND qlon + 8.0 "
        "AND lat BETWEEN qlat - 8.0 AND qlat + 8.0), "
        "ranked AS (SELECT qid, poi_id, dist2, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, poi_id) AS rn FROM cand) "
        "SELECT qid, poi_id, dist2, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 5 ORDER BY qid, rn"
    )

    # W (analytic windows beyond top-k): rank / lag over event streams —
    # capabilities row for the windows section (reference itself has none)
    q["window_rank_lag"] = (
        "WITH ranked AS (SELECT user_id, event_id, value, "
        "RANK() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk, "
        "LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_event, "
        # ROUND(..., 4): float accumulation order differs between the
        # engines, so 6-decimal rounding can flip on a boundary sum
        # (r1 advice #2); 4 decimals makes the flip probability negligible
        "ROUND(AVG(value) OVER (PARTITION BY user_id), 4) AS user_avg "
        "FROM events) "
        "SELECT user_id, event_id, value, CAST(rnk AS BIGINT) AS rnk, prev_event, user_avg "
        "FROM ranked WHERE rnk <= 3 ORDER BY user_id, rnk, event_id LIMIT 2000"
    )

    # Dedup (exact): hash-groupBy representative selection over documents
    q["dedup_exact"] = (
        "SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n "
        "FROM documents GROUP BY 1 ORDER BY n DESC, content_hash LIMIT 500"
    )

    # W2: plain LIMIT row cap with deterministic order
    q["limit_cap"] = "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100"

    # Exact interpolated percentiles per group (ordered-set aggregate —
    # the same text parses in Spark >= 3.4 and DuckDB; linear
    # interpolation over identical doubles on both sides)
    q["percentiles_by_type"] = (
        "SELECT event_type, "
        "ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY value), 4) AS p25, "
        "ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS p50, "
        "ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4) AS p90 "
        "FROM events GROUP BY event_type ORDER BY event_type"
    )

    return q


# ---------------------------------------------------------------------------
# Dialect-split queries (same semantics + aliases, different builtins)
# ---------------------------------------------------------------------------

def _q_json_extract_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/S6: JSON field extraction from events.props (imposed schema)."""
    _register(spark, sf_dir, ["events"])
    return spark.sql(
        "SELECT event_id, CAST(get_json_object(props, '$.k') AS BIGINT) AS k_val "
        "FROM events WHERE get_json_object(props, '$.k') IS NOT NULL "
        "ORDER BY event_id LIMIT 2000"
    )


_Q_JSON_EXTRACT_ORACLE = (
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val "
    "FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL "
    "ORDER BY event_id LIMIT 2000"
)


def _q_token_count_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token counting over documents."""
    _register(spark, sf_dir, ["documents"])
    return spark.sql(
        "SELECT doc_id, CAST(size(split(trim(text), '[ \\t\\n]+')) AS BIGINT) AS n_tokens, "
        "CAST(length(text) AS BIGINT) AS n_chars2 FROM documents WHERE length(text) > 0 "
        "ORDER BY doc_id LIMIT 5000"
    )


_Q_TOKEN_COUNT_ORACLE = (
    "SELECT doc_id, len(regexp_split_to_array(trim(text), '[ \\t\\n]+')) AS n_tokens, "
    "length(text) AS n_chars2 FROM documents WHERE length(text) > 0 "
    "ORDER BY doc_id LIMIT 5000"
)


def _q_cosine_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: brute-force cosine top-k vs a fixed query vector
    (vec_id=0), double precision, sequential accumulation in both engines."""
    _register(spark, sf_dir, ["embeddings"])
    return spark.sql(
        "WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv FROM embeddings WHERE vec_id = 0), "
        "scored AS (SELECT vec_id, "
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), qv, (a, b) -> a * b), 0D, (acc, x) -> acc + x) "
        " / (sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>), 0D, (acc, x) -> acc + x * x)) * "
        "    sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))) AS cos_sim "
        "FROM embeddings CROSS JOIN q WHERE vec_id <> 0) "
        "SELECT vec_id, ROUND(cos_sim, 6) AS sim6 FROM scored "
        "ORDER BY sim6 DESC, vec_id LIMIT 50"
    )


_Q_COSINE_TOPK_ORACLE = (
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), "
    "scored AS (SELECT vec_id, "
    "list_dot_product(embedding::DOUBLE[], qv) / "
    "(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * "
    " sqrt(list_dot_product(qv, qv))) AS cos_sim "
    "FROM embeddings CROSS JOIN q WHERE vec_id <> 0) "
    "SELECT vec_id, ROUND(cos_sim, 6) AS sim6 FROM scored "
    "ORDER BY sim6 DESC, vec_id LIMIT 50"
)


def _q_events_hourly_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (the batch form of the
    streaming per-class window in streaming/ingest.py)."""
    _register(spark, sf_dir, ["events"])
    return spark.sql(
        "SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH') AS hour_key, "
        "event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value "
        "FROM events GROUP BY 1, 2 ORDER BY hour_key, event_type LIMIT 2000"
    )


_Q_EVENTS_HOURLY_ORACLE = (
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_key, "
    "event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value "
    "FROM events GROUP BY 1, 2 ORDER BY hour_key, event_type LIMIT 2000"
)


def _q_text_quality_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (alpha/punct/stopword ratios) via native exprs."""
    from ..functions.text_analysis import quality_features

    _register(spark, sf_dir, ["documents"])
    df = spark.table("documents").filter(F.length("text") > 0)
    return (
        quality_features(df)
        .select(
            "doc_id",
            F.round("alpha_ratio", 6).alias("alpha_ratio6"),
            F.round("punct_ratio", 6).alias("punct_ratio6"),
            F.round("stopword_ratio", 6).alias("stopword_ratio6"),
        )
        .orderBy("doc_id")
        .limit(5000)
    )


_EN_STOP_SQL = "['the', 'and', 'of', 'to', 'in', 'is', 'that', 'for', 'with', 'are']"
_Q_TEXT_QUALITY_ORACLE = (
    "SELECT doc_id, "
    "ROUND(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) "
    " / greatest(length(text), 1), 6) AS alpha_ratio6, "
    "ROUND(CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) "
    " / greatest(length(text), 1), 6) AS punct_ratio6, "
    "ROUND(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
    f" t -> list_contains({_EN_STOP_SQL}, t))) AS DOUBLE) "
    " / greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')), 1), 6) AS stopword_ratio6 "
    "FROM documents WHERE length(text) > 0 ORDER BY doc_id LIMIT 5000"
)


def _q_tile_pyramid_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: z2-z6 pyramid assignment via the tiling operator (bit-shift of
    one native max-zoom key) + per-tile counts."""
    from ..operators.tiling import assign_tile_pyramid

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL)
    tiled = assign_tile_pyramid(pts, min_zoom=2, max_zoom=6)
    return (
        tiled.groupBy("z", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "z", "x", "y")
        .limit(1000)
    )


def _tile_pyramid_oracle() -> str:
    tx6 = tm.sql_tile_x("lon", 6)
    ty6 = tm.sql_tile_y("lat", 6)
    return (
        f"WITH pts AS ({PTS_SQL}), keyed AS "
        f"(SELECT {tx6} AS x6, {ty6} AS y6 FROM pts), "
        "tiled AS (SELECT z, x6 >> (6 - z) AS x, y6 >> (6 - z) AS y "
        "FROM keyed, (SELECT unnest(generate_series(2, 6)) AS z) zs) "
        "SELECT CAST(z AS INT) AS z, x, y, COUNT(*) AS n FROM tiled GROUP BY 1, x, y "
        "ORDER BY n DESC, z, x, y LIMIT 1000"
    )


# Incremental tile maintenance: two POI snapshots derived from events by
# exact-integer congruences (shared Spark/DuckDB dialect). The NEW
# snapshot plants all three churn kinds against OLD: deletes
# (event_id % 17 == 0 dropped), moves (% 13 == 0 relocated to an
# independent congruence) and inserts (% 19 == 0 re-emitted under fresh
# ids at a third congruence).
_TILE_OLD_SQL = (
    "SELECT event_id AS poi_id, "
    "CAST((event_id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon, "
    "CAST((event_id * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat "
    "FROM events"
)
_TILE_NEW_SQL = (
    "SELECT event_id AS poi_id, "
    "CASE WHEN event_id % 13 = 0 "
    "THEN CAST((event_id * 31337) % 36000 AS DOUBLE) / 100.0 - 180.0 "
    "ELSE CAST((event_id * 7919) % 36000 AS DOUBLE) / 100.0 - 180.0 END AS lon, "
    "CAST((event_id * 104729) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat "
    "FROM events WHERE event_id % 17 <> 0 "
    "UNION ALL "
    "SELECT event_id + 1000000 AS poi_id, "
    "CAST((event_id * 48271) % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon, "
    "CAST((event_id * 69621) % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat "
    "FROM events WHERE event_id % 19 = 0"
)


def _q_incremental_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff-driven tile-table refresh: base counts built from OLD, then
    ``incremental_tile_counts`` folds only the old->new churn in. The
    oracle REBUILDS the pyramid from NEW directly in DuckDB, so rows
    match only if merge(counts(old), deltas(old, new)) == counts(new)
    — the merge==rebuild identity across engines (the strongest oracle
    class for incremental operators; hll_setops precedent)."""
    from ..operators.tiling import assign_tile_pyramid, incremental_tile_counts

    _register(spark, sf_dir, ["events"])
    old = spark.sql(_TILE_OLD_SQL)
    new = spark.sql(_TILE_NEW_SQL)
    base = (
        assign_tile_pyramid(old, min_zoom=2, max_zoom=6)
        .groupBy("z", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = incremental_tile_counts(base, old, new, min_zoom=2, max_zoom=6)
    return (
        out.select(F.col("z").cast("int").alias("z"), "x", "y",
                   F.col("n").cast("long").alias("n"))
        .orderBy("z", "x", "y")
        .limit(20000)
    )


def _incremental_tiles_oracle() -> str:
    tx6 = tm.sql_tile_x("lon", 6)
    ty6 = tm.sql_tile_y("lat", 6)
    return (
        f"WITH newsnap AS ({_TILE_NEW_SQL}), keyed AS "
        f"(SELECT {tx6} AS x6, {ty6} AS y6 FROM newsnap), "
        "tiled AS (SELECT z, x6 >> (6 - z) AS x, y6 >> (6 - z) AS y "
        "FROM keyed, (SELECT unnest(generate_series(2, 6)) AS z) zs) "
        "SELECT CAST(z AS INT) AS z, x, y, COUNT(*) AS n FROM tiled "
        "GROUP BY 1, x, y ORDER BY z, x, y LIMIT 20000"
    )


# Viewport tile query: a city-scale point cloud (all events mapped into
# a 5x5-degree box) served through the tile table + the client's
# viewport tile-range enumeration.
_VIEWPORT_PTS_SQL = (
    "SELECT event_id AS poi_id, "
    "CAST((event_id * 7919) % 500 AS DOUBLE) / 100.0 - 2.5 AS lon, "
    "CAST((event_id * 104729) % 500 AS DOUBLE) / 100.0 - 2.5 AS lat "
    "FROM events"
)
_VIEWPORT = (-2.0, -2.0, 1.0, 1.0)
_VIEWPORT_ZOOM = 10


def _q_viewport_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy-map viewport serving: per-tile counts filtered to the
    inclusive tile range a client enumerates for its bbox — the range
    comes from the engine's bit-exact P9 kernel (query_api
    viewport_tile_range) so it always agrees with the stored
    assignments; the filter is z-equality + two integer BETWEENs
    (PushedFilters; partition-pruned on the stage_tiles layout)."""
    from ..plans.query_api import tiles_in_viewport

    _register(spark, sf_dir, ["events"])
    pts = spark.sql(_VIEWPORT_PTS_SQL)
    tx, ty = tm.tile_cols("lon", "lat", _VIEWPORT_ZOOM)
    tiles = (pts.select(tx.alias("x"), ty.alias("y"))
             .withColumn("z", F.lit(_VIEWPORT_ZOOM))
             .groupBy("z", "x", "y")
             .agg(F.count(F.lit(1)).alias("n")))
    out = tiles_in_viewport(tiles, *_VIEWPORT, zoom=_VIEWPORT_ZOOM)
    return (out.select(F.col("z").cast("int").alias("z"), "x", "y", "n")
            .orderBy("x", "y"))


def _viewport_tiles_oracle() -> str:
    from ..plans.query_api import viewport_tile_range

    x_lo, x_hi, y_lo, y_hi = viewport_tile_range(
        *_VIEWPORT, zoom=_VIEWPORT_ZOOM)
    tx = tm.sql_tile_x("lon", _VIEWPORT_ZOOM)
    ty = tm.sql_tile_y("lat", _VIEWPORT_ZOOM)
    return (
        f"WITH pts AS ({_VIEWPORT_PTS_SQL}), "
        f"t AS (SELECT {tx} AS x, {ty} AS y FROM pts) "
        f"SELECT CAST({_VIEWPORT_ZOOM} AS INT) AS z, x, y, COUNT(*) AS n "
        f"FROM t WHERE x BETWEEN {x_lo} AND {x_hi} "
        f"AND y BETWEEN {y_lo} AND {y_hi} "
        "GROUP BY x, y ORDER BY x, y"
    )


def _q_exif_geo_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-tagged media -> tiles: per-part JPEG bytes are BUILT with the
    from-spec EXIF GPS writer (planted DMS rationals from exact-integer
    congruences, alternating II/MM byte order), PARSED back by the
    from-spec reader (operators/multimodal.extract_exif_gps), and the
    recovered lat/lon assigned to z8 tiles. The oracle computes lat/lon
    straight from the congruences with the parser's exact
    left-associated IEEE chain — rows match only if writer∘parser == id
    across both byte orders AND the DMS->degrees chain is bit-faithful."""
    import pandas as pd

    from ..functions.exif import build_exif_gps_app1, insert_app1
    from ..operators.multimodal import extract_exif_gps

    _register(spark, sf_dir, ["part"])

    @F.pandas_udf("binary")
    def build(ids):
        out = []
        for i in ids:
            i = int(i)
            c_lat = (i * 104729) % 17000
            c_lon = (i * 7919) % 36000
            a_lat = abs(c_lat - 8500)
            a_lon = abs(c_lon - 18000)
            lat_dms = ((a_lat // 100, 1), ((a_lat % 100) * 60, 100), (0, 1))
            lon_dms = ((a_lon // 100, 1), ((a_lon % 100) * 60, 100), (0, 1))
            app1 = build_exif_gps_app1(
                lat_dms, "S" if c_lat < 8500 else "N",
                lon_dms, "W" if c_lon < 18000 else "E",
                byte_order="II" if i % 2 == 0 else "MM")
            out.append(insert_app1(b"\xff\xd8\xff\xd9", app1))
        return pd.Series(out)

    media = spark.table("part").select(
        F.col("p_partkey").cast("string").alias("media_id"),
        build(F.col("p_partkey")).alias("payload"))
    gps = extract_exif_gps(media).filter(F.col("has_gps"))
    tx, ty = tm.tile_cols("lon", "lat", 8)
    return (gps.select("media_id", "byte_order", "lat", "lon",
                       tx.alias("x"), ty.alias("y"))
            .orderBy("media_id"))


def _exif_geo_tiles_oracle() -> str:
    tx = tm.sql_tile_x("lon", 8)
    ty = tm.sql_tile_y("lat", 8)
    return (
        "WITH ids AS (SELECT p_partkey AS id FROM part), "
        "c AS (SELECT id, (id * 104729) % 17000 AS c_lat, "
        "(id * 7919) % 36000 AS c_lon FROM ids), "
        "a AS (SELECT id, c_lat, c_lon, abs(c_lat - 8500) AS a_lat, "
        "abs(c_lon - 18000) AS a_lon FROM c), "
        "deg AS (SELECT id, "
        "CASE WHEN c_lat < 8500 THEN -(CAST(a_lat // 100 AS DOUBLE) "
        "+ (CAST((a_lat % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0) "
        "ELSE CAST(a_lat // 100 AS DOUBLE) "
        "+ (CAST((a_lat % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0 END AS lat, "
        "CASE WHEN c_lon < 18000 THEN -(CAST(a_lon // 100 AS DOUBLE) "
        "+ (CAST((a_lon % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0) "
        "ELSE CAST(a_lon // 100 AS DOUBLE) "
        "+ (CAST((a_lon % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0 END AS lon "
        "FROM a) "
        "SELECT CAST(id AS VARCHAR) AS media_id, "
        "CASE WHEN id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order, "
        f"lat, lon, {tx} AS x, {ty} AS y "
        "FROM deg ORDER BY media_id"
    )


def _q_photo_poi_link_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Photo-POI linking: EXIF-geotagged media (REAL bytes — built by
    the writer, recovered by the parser) radius-joined to the POI point
    cloud — the composition a geo pipeline runs to attach user photos
    to venues. Oracle: DuckDB brute-forces the same pairs from the
    parser's exact IEEE coordinate chain + the PTS congruence with the
    bit-identical sub/mul/add/sqrt distance (radius_pairs precedent) —
    so EXIF recovery, blocking coverage and every boundary decision
    must all be exact."""
    import pandas as pd

    from ..functions.exif import build_exif_gps_app1, insert_app1
    from ..operators.knn import radius_join
    from ..operators.multimodal import extract_exif_gps

    _register(spark, sf_dir, ["part", "customer"])

    @F.pandas_udf("binary")
    def build(ids):
        out = []
        for i in ids:
            i = int(i)
            c_lat = (i * 104729) % 17000
            c_lon = (i * 7919) % 36000
            a_lat = abs(c_lat - 8500)
            a_lon = abs(c_lon - 18000)
            app1 = build_exif_gps_app1(
                ((a_lat // 100, 1), ((a_lat % 100) * 60, 100), (0, 1)),
                "S" if c_lat < 8500 else "N",
                ((a_lon // 100, 1), ((a_lon % 100) * 60, 100), (0, 1)),
                "W" if c_lon < 18000 else "E",
                byte_order="II" if i % 2 == 0 else "MM")
            out.append(insert_app1(b"\xff\xd8\xff\xd9", app1))
        return pd.Series(out)

    media = spark.table("part").select(
        F.col("p_partkey").cast("string").alias("media_id"),
        build(F.col("p_partkey")).alias("payload"))
    photos = (extract_exif_gps(media).filter(F.col("has_gps"))
              .select(F.col("media_id").alias("query_id"), "lon", "lat"))
    pois = spark.sql(PTS_SQL)
    return radius_join(photos, pois, 5.0).orderBy("query_id", "poi_id")


def _photo_poi_link_oracle() -> str:
    return (
        "WITH c AS (SELECT p_partkey AS id, "
        "(p_partkey * 104729) % 17000 AS c_lat, "
        "(p_partkey * 7919) % 36000 AS c_lon FROM part), "
        "a AS (SELECT id, c_lat, c_lon, abs(c_lat - 8500) AS a_lat, "
        "abs(c_lon - 18000) AS a_lon FROM c), "
        "photos AS (SELECT CAST(id AS VARCHAR) AS query_id, "
        "CASE WHEN c_lon < 18000 THEN -(CAST(a_lon // 100 AS DOUBLE) "
        "+ (CAST((a_lon % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0) "
        "ELSE CAST(a_lon // 100 AS DOUBLE) "
        "+ (CAST((a_lon % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0 END AS lon, "
        "CASE WHEN c_lat < 8500 THEN -(CAST(a_lat // 100 AS DOUBLE) "
        "+ (CAST((a_lat % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0) "
        "ELSE CAST(a_lat // 100 AS DOUBLE) "
        "+ (CAST((a_lat % 100) * 60 AS DOUBLE) / 100.0) / 60.0 + 0.0 END AS lat "
        f"FROM a), pts AS ({PTS_SQL}) "
        "SELECT p.query_id, b.poi_id, "
        "sqrt((p.lon - b.lon) * (p.lon - b.lon) "
        "+ (p.lat - b.lat) * (p.lat - b.lat)) AS dist_deg "
        "FROM photos p, pts b "
        "WHERE sqrt((p.lon - b.lon) * (p.lon - b.lon) "
        "+ (p.lat - b.lat) * (p.lat - b.lat)) <= 5.0 "
        "ORDER BY query_id, poi_id"
    )


# Emerging hotspots: a space-time cube from events — 64 cells x
# day-of-month periods (string-render day: identical in both engines
# under the repo's timestamp convention), with planted slopes by
# cell % 3 (decreasing / flat / increasing at +-2 per period).
_MK_CUBE_SQL = (
    "SELECT cell, period, COUNT(*) + (cell % 3 - 1) * period * 2 AS v "
    "FROM (SELECT event_id % 64 AS cell, "
    "CAST(substr(CAST(ts AS STRING), 9, 2) AS INT) AS period FROM events) t "
    "GROUP BY cell, period"
)


def _q_emerging_hotspots_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend per cell over the planted space-time cube.
    The engine computes S and the tie-corrected variance with native
    array folds after ONE groupBy; the oracle recomputes them with a
    period-ordered pair SELF-JOIN — a genuinely different algorithm,
    agreeing only if both the fold and the exact-integer significance
    rearrangement are right."""
    from ..operators.hotspot import mann_kendall_trends

    _register(spark, sf_dir, ["events"])
    cube = spark.sql(_MK_CUBE_SQL)
    out = mann_kendall_trends(cube, cell_cols=("cell",),
                              period_col="period", value_col="v")
    return (out.select("cell", "n_periods", "s_stat", "var_num", "trend")
            .orderBy("cell"))


_Q_EMERGING_HOTSPOTS_ORACLE = (
    f"WITH cube AS ({_MK_CUBE_SQL}), "
    "n AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_periods "
    "FROM cube GROUP BY cell), "
    "s AS (SELECT a.cell, CAST(SUM(CASE WHEN b.v > a.v THEN 1 "
    "WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat "
    "FROM cube a JOIN cube b ON a.cell = b.cell AND b.period > a.period "
    "GROUP BY a.cell), "
    "ties AS (SELECT cell, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt "
    "FROM (SELECT cell, v, COUNT(*) AS t FROM cube GROUP BY cell, v) g "
    "GROUP BY cell) "
    "SELECT n.cell, n.n_periods, s.s_stat, "
    "CAST(n.n_periods * (n.n_periods - 1) * (2 * n.n_periods + 5) "
    "- ties.tt AS BIGINT) AS var_num, "
    "CASE WHEN s.s_stat > 0 AND (s.s_stat - 1) * (s.s_stat - 1) * 11250 "
    "> 2401 * (n.n_periods * (n.n_periods - 1) * (2 * n.n_periods + 5) - ties.tt) "
    "THEN 'increasing' "
    "WHEN s.s_stat < 0 AND (s.s_stat + 1) * (s.s_stat + 1) * 11250 "
    "> 2401 * (n.n_periods * (n.n_periods - 1) * (2 * n.n_periods + 5) - ties.tt) "
    "THEN 'decreasing' ELSE 'none' END AS trend "
    "FROM n JOIN s ON s.cell = n.cell JOIN ties ON ties.cell = n.cell "
    "WHERE n.n_periods >= 4 ORDER BY n.cell"
)


# Per-class Pareto frontier: exact-integer (x, y) costs per part.
_SKYLINE_PTS_SQL = (
    "SELECT p_partkey AS poi_id, "
    "CAST(p_partkey % 25 AS BIGINT) AS cls, "
    "CAST((p_partkey * 7919) % 1000 AS BIGINT) AS x, "
    "CAST((p_partkey * 104729) % 1000 AS BIGINT) AS y "
    "FROM part"
)


def _q_skyline_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-class 2-D skyline (operators/skyline.py): range
    exchange + one range-frame window + broadcast prefix minima +
    candidate min-x refinement — no all-pairs step anywhere. Oracle:
    DuckDB's NOT EXISTS dominance brute force (n^2, a genuinely
    different algorithm); rows match only if the sorted/partitioned
    formulation handles every tie class (equal-x, equal-y, exact
    duplicates, partition boundaries) exactly."""
    from ..operators.skyline import skyline_2d

    _register(spark, sf_dir, ["part"])
    pts = spark.sql(_SKYLINE_PTS_SQL)
    return (skyline_2d(pts, "x", "y", group_cols=("cls",))
            .select("cls", "poi_id", "x", "y")
            .orderBy("cls", "poi_id"))


_Q_SKYLINE_ORACLE = (
    f"WITH pts AS ({_SKYLINE_PTS_SQL}) "
    "SELECT cls, poi_id, x, y FROM pts b WHERE NOT EXISTS ("
    "SELECT 1 FROM pts a WHERE a.cls = b.cls AND a.x <= b.x AND a.y <= b.y "
    "AND (a.x < b.x OR a.y < b.y)) ORDER BY cls, poi_id"
)


# URL-shape corpus: digit/hyphen-spam hosts on every 4th doc, deep
# paths + query params on every 3rd (shared dialect).
_URL_CORPUS = (
    "SELECT doc_id, concat('https://', "
    "CASE WHEN doc_id % 4 = 0 THEN concat('shop', CAST(doc_id AS STRING), "
    "'x-deals-now') ELSE concat('host', CAST(doc_id % 50 AS STRING)) END, "
    "'.example.com/', CAST(doc_id % 7 AS STRING), "
    "CASE WHEN doc_id % 3 = 0 THEN '/deep/path/leaf?a=1&b=2' ELSE '' END) AS url "
    "FROM documents"
)


def _q_url_shape_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-shape spam heuristics (frontier-side gate) over planted
    spam/clean URLs — all exact integers / ppm."""
    from ..functions.url import url_features

    _register(spark, sf_dir, ["documents"])
    corpus = spark.sql(_URL_CORPUS)
    return (
        url_features(corpus)
        .select("doc_id", "url_host", "url_path", "url_len", "host_len",
                "path_depth", "n_params", "host_digit_ppm", "host_hyphens")
        .orderBy("doc_id")
    )


_Q_URL_SHAPE_ORACLE = (
    f"WITH corpus AS ({_URL_CORPUS}), f AS (SELECT doc_id, url, "
    "regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS url_host, "
    "regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS url_path, "
    "regexp_extract(url, '\\?([^#]*)', 1) AS q FROM corpus) "
    "SELECT doc_id, url_host, url_path, "
    "CAST(length(url) AS BIGINT) AS url_len, "
    "CAST(length(url_host) AS BIGINT) AS host_len, "
    "CAST(length(url_path) - length(regexp_replace(url_path, '/', '', 'g')) "
    "AS BIGINT) AS path_depth, "
    "CAST(CASE WHEN length(q) = 0 THEN 0 ELSE "
    "length(q) - length(regexp_replace(q, '&', '', 'g')) + 1 END AS BIGINT) "
    "AS n_params, "
    "(1000000 * (length(url_host) - length(regexp_replace(url_host, '[0-9]', '', 'g')))) "
    "// greatest(length(url_host), 1) AS host_digit_ppm, "
    "CAST(length(url_host) - length(regexp_replace(url_host, '-', '', 'g')) "
    "AS BIGINT) AS host_hyphens "
    "FROM f ORDER BY doc_id"
)


# Line-shape corpus: planted bullets/ellipses/short lines ahead of each
# doc's own text (real newline chars — escape-free in both dialects).
_LINE_CORPUS = (
    "SELECT doc_id, concat('- bullet ', CAST(doc_id AS STRING), '\n', "
    "CASE WHEN doc_id % 3 = 0 THEN 'hmm...' ELSE 'a solid line of text' END, "
    "'\n', CASE WHEN doc_id % 5 = 0 THEN '* another item' "
    "ELSE 'closing prose for this document' END, '\n', text) AS text "
    "FROM documents WHERE length(text) > 0"
)


def _q_line_shape_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line-shape rules (bullet/ellipsis/short-line fractions in
    exact integer ppm) over the planted multi-line corpus."""
    from ..functions.text_analysis import line_shape_features

    _register(spark, sf_dir, ["documents"])
    corpus = spark.sql(_LINE_CORPUS)
    return (
        line_shape_features(corpus)
        .select("doc_id", "n_lines", "bullet_lines", "ellipsis_lines",
                "short_lines", "total_line_words", "bullet_ppm",
                "ellipsis_ppm", "short_ppm", "words_per_line_ppm")
        .orderBy("doc_id")
    )


_Q_LINE_SHAPE_ORACLE = (
    f"WITH corpus AS ({_LINE_CORPUS}), "
    "t AS (SELECT doc_id, list_transform(string_split(text, chr(10)), "
    "l -> trim(l)) AS tl FROM corpus), "
    "w AS (SELECT doc_id, tl, list_transform(tl, l -> "
    "len(list_filter(regexp_split_to_array(l, '\\s+'), x -> x <> ''))) AS wc "
    "FROM t) "
    "SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_lines, "
    "CAST(len(list_filter(tl, l -> l LIKE '- %' OR l LIKE '* %' "
    "OR l LIKE '•%')) AS BIGINT) AS bullet_lines, "
    "CAST(len(list_filter(tl, l -> l LIKE '%...')) AS BIGINT) AS ellipsis_lines, "
    "CAST(len(list_filter(wc, c -> c <= 3)) AS BIGINT) AS short_lines, "
    "CAST(list_sum(wc) AS BIGINT) AS total_line_words, "
    "(1000000 * len(list_filter(tl, l -> l LIKE '- %' OR l LIKE '* %' "
    "OR l LIKE '•%'))) // len(tl) AS bullet_ppm, "
    "(1000000 * len(list_filter(tl, l -> l LIKE '%...'))) // len(tl) AS ellipsis_ppm, "
    "(1000000 * len(list_filter(wc, c -> c <= 3))) // len(tl) AS short_ppm, "
    "(1000000 * CAST(list_sum(wc) AS BIGINT)) // len(tl) AS words_per_line_ppm "
    "FROM w ORDER BY doc_id"
)


# Paragraph dedup: every doc carries a unique intro, one of 7 syndicated
# blocks (shared corpus-wide) and its own text as the tail paragraph(s).
# Shared text (real newline chars embed identically in both dialects).
_PARA_CORPUS = (
    "SELECT doc_id, concat('intro para ', CAST(doc_id AS STRING), '\n\n', "
    "'syndicated block ', CAST(doc_id % 7 AS STRING), "
    "' repeated across the corpus', '\n\n', text) AS text "
    "FROM documents WHERE length(text) > 0"
)


def _q_paragraph_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup (CCNet/Dolma stage), keep-first
    semantics: the (min doc, min pos) instance of each duplicated
    paragraph survives, every other copy is cut. md5 fingerprint of the
    rebuilt text crosses the driver hash (array-free convention)."""
    from ..operators.dedup import remove_duplicated_paragraphs

    _register(spark, sf_dir, ["documents"])
    corpus = spark.sql(_PARA_CORPUS)
    out = remove_duplicated_paragraphs(corpus, min_docs=2)
    return (
        out.select("doc_id", F.md5("text").alias("text_md5"),
                   "paragraphs_removed")
        .orderBy("doc_id")
    )


_Q_PARAGRAPH_DEDUP_ORACLE = (
    f"WITH corpus AS ({_PARA_CORPUS}), "
    "pars AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps "
    "FROM corpus), "
    "inst AS (SELECT doc_id, j, ps[j] AS par FROM pars, "
    "UNNEST(generate_series(1, len(ps))) AS u(j)), "
    "nd AS (SELECT par, COUNT(DISTINCT doc_id) AS n_docs FROM inst GROUP BY par), "
    "ranked AS (SELECT i.doc_id, i.j, i.par, n.n_docs, "
    "ROW_NUMBER() OVER (PARTITION BY i.par ORDER BY i.doc_id, i.j) AS rn "
    "FROM inst i JOIN nd n ON n.par = i.par), "
    "marked AS (SELECT doc_id, j, par, (n_docs >= 2 AND rn > 1) AS cut FROM ranked) "
    "SELECT doc_id, "
    "md5(COALESCE(array_to_string(list(par ORDER BY j) FILTER (WHERE NOT cut), "
    "chr(10) || chr(10)), '')) AS text_md5, "
    "CAST(SUM(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS paragraphs_removed "
    "FROM marked GROUP BY doc_id ORDER BY doc_id"
)


# Containment (quote-inclusion) corpus: base documents + full 40-word
# quotes (containment 1.0 in their base) + composite partials (two
# 20-word slices of the base glued together — the 26 of 33 windows that
# don't straddle the junction are shared, ~787k ppm). Same corpus
# restated in each dialect (slice semantics: Spark slice(a, start, LEN)
# vs DuckDB 1-based INCLUSIVE list_slice).
_CONTAIN_CORPUS_SPARK = (
    "WITH toks AS (SELECT doc_id, "
    "filter(split(lower(trim(text)), '\\\\s+'), t -> t != '') AS tk "
    "FROM documents WHERE length(text) > 0) "
    "SELECT doc_id, text FROM documents WHERE length(text) > 0 "
    "UNION ALL "
    "SELECT doc_id + 10000 AS doc_id, concat_ws(' ', slice(tk, 1, 40)) AS text "
    "FROM toks WHERE size(tk) >= 48 AND doc_id % 2 = 0 "
    "UNION ALL "
    "SELECT doc_id + 20000 AS doc_id, concat_ws(' ', "
    "concat(slice(tk, 11, 20), slice(tk, size(tk) - 19, 20))) AS text "
    "FROM toks WHERE size(tk) >= 60 AND doc_id % 3 = 0"
)
_CONTAIN_CORPUS_DUCK = (
    "toks AS (SELECT doc_id, "
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != '') AS tk "
    "FROM documents WHERE length(text) > 0), "
    "corpus AS ("
    "SELECT doc_id, text FROM documents WHERE length(text) > 0 "
    "UNION ALL "
    "SELECT doc_id + 10000 AS doc_id, array_to_string(list_slice(tk, 1, 40), ' ') AS text "
    "FROM toks WHERE len(tk) >= 48 AND doc_id % 2 = 0 "
    "UNION ALL "
    "SELECT doc_id + 20000 AS doc_id, array_to_string(list_concat("
    "list_slice(tk, 11, 30), list_slice(tk, len(tk) - 19, len(tk))), ' ') AS text "
    "FROM toks WHERE len(tk) >= 60 AND doc_id % 3 = 0)"
)


# Phrase search: the 5-token phrase appended once to every 4th doc and
# twice to every 8th (plus any natural occurrences — the oracle counts
# the same way). Tokenization is the retrieval convention ([^a-z0-9]+).
_PHRASE = "the quick brown fox jumps"
_PHRASE_CORPUS_SPARK = (
    "SELECT doc_id, CASE "
    f"WHEN doc_id % 8 = 0 THEN concat(text, ' {_PHRASE} {_PHRASE}') "
    f"WHEN doc_id % 4 = 0 THEN concat(text, ' {_PHRASE}') "
    "ELSE text END AS text FROM documents WHERE length(text) > 0"
)


def _q_phrase_search_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase occurrence counting (map-only batch form; the
    indexed postings-join form is parity-pinned in tests)."""
    from ..operators.retrieval import phrase_occurrences

    _register(spark, sf_dir, ["documents"])
    corpus = spark.sql(_PHRASE_CORPUS_SPARK)
    return (
        phrase_occurrences(corpus, _PHRASE)
        .orderBy("doc_id")
        .limit(20000)
    )


_Q_PHRASE_SEARCH_ORACLE = (
    "WITH corpus AS (SELECT doc_id, CASE "
    f"WHEN doc_id % 8 = 0 THEN concat(text, ' {_PHRASE} {_PHRASE}') "
    f"WHEN doc_id % 4 = 0 THEN concat(text, ' {_PHRASE}') "
    "ELSE text END AS text FROM documents WHERE length(text) > 0), "
    "ctoks AS (SELECT doc_id, "
    "list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'), t -> t != '') AS tk "
    "FROM corpus), "
    "hits AS (SELECT doc_id, j FROM ctoks, "
    "UNNEST(generate_series(1, len(tk) - 4)) AS u(j) "
    f"WHERE len(tk) >= 5 AND array_to_string(list_slice(tk, j, j + 4), ' ') = '{_PHRASE}') "
    "SELECT doc_id, COUNT(*) AS n_occurrences, MIN(j) - 1 AS first_pos "
    "FROM hits GROUP BY doc_id ORDER BY doc_id LIMIT 20000"
)


def _q_containment_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric quote-inclusion detection over the planted corpus."""
    from ..operators.dedup import containment_pairs

    _register(spark, sf_dir, ["documents"])
    corpus = spark.sql(_CONTAIN_CORPUS_SPARK)
    return (
        containment_pairs(corpus, k=8, min_containment_ppm=600_000)
        .select("contained_id", "container_id", "n_shared", "n_windows",
                "containment_ppm")
        .orderBy("contained_id", "container_id")
        .limit(20000)
    )


_Q_CONTAINMENT_ORACLE = (
    f"WITH {_CONTAIN_CORPUS_DUCK}, "
    "ctoks AS (SELECT doc_id, "
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t != '') AS tk "
    "FROM corpus), "
    "wins AS (SELECT DISTINCT doc_id, array_to_string(list_slice(tk, j, j + 7), ' ') AS w "
    "FROM ctoks, UNNEST(generate_series(1, len(tk) - 7)) AS u(j) WHERE len(tk) >= 8), "
    "sizes AS (SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id, "
    "COUNT(*) AS n_shared FROM wins a JOIN wins b ON a.w = b.w "
    "AND a.doc_id <> b.doc_id GROUP BY 1, 2) "
    "SELECT i.contained_id, i.container_id, i.n_shared, s.n_windows, "
    "(1000000 * i.n_shared) // s.n_windows AS containment_ppm "
    "FROM inter i JOIN sizes s ON s.doc_id = i.contained_id "
    "WHERE (1000000 * i.n_shared) // s.n_windows >= 600000 "
    "ORDER BY contained_id, container_id LIMIT 20000"
)


# Non-rectangular PIP: triangle with off-grid vertices (derived points sit
# on a 0.01-degree grid, so none land within float noise of an edge).
_TRI = [(-120.0003, -60.0007), (60.0011, -50.0013), (-10.0017, 70.0019)]
# hole for the donut variant — strictly inside _TRI (verified in tests)
_TRI_HOLE = [(-60.0003, -30.0007), (20.0011, -25.0013), (-15.0017, 30.0019)]
# two disjoint shells for the multipolygon variant
_TRI_A = [(100.0003, 10.0007), (170.0011, 15.0013), (120.0017, 75.0019)]
_TRI_B = [(-170.0003, -75.0007), (-90.0011, -70.0013), (-140.0017, -15.0019)]


def _convex_tri_sql(tri) -> str:
    """SQL predicate: point (lon, lat) strictly inside a convex triangle
    (same-sign cross products — exact for these small integer-scaled
    coordinates in float64, matching the half-open ray-cast off-edge)."""
    (ax, ay), (bx, by), (cx, cy) = tri

    def cross(x1, y1, x2, y2):
        return f"(({x2}) - ({x1})) * (lat - ({y1})) - (({y2}) - ({y1})) * (lon - ({x1}))"

    c1 = cross(ax, ay, bx, by)
    c2 = cross(bx, by, cx, cy)
    c3 = cross(cx, cy, ax, ay)
    return (
        f"((({c1}) > 0 AND ({c2}) > 0 AND ({c3}) > 0) "
        f"OR (({c1}) < 0 AND ({c2}) < 0 AND ({c3}) < 0))"
    )


def _q_pip_refine_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 with the exact ray-cast refine (the engine path for irregular
    polygons), checked against a convex cross-product oracle."""
    import numpy as np

    from ..operators.spatial_join import Polygon, point_in_polygon_join

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL)
    tri = Polygon("tri", np.array(_TRI))
    joined = point_in_polygon_join(spark, pts, [tri], cover_zoom=4)
    return joined.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("poi_id").alias("min_poi"), F.max("poi_id").alias("max_poi")
    )


def _pip_refine_oracle() -> str:
    return (
        f"WITH pts AS ({PTS_SQL}) "
        "SELECT 'tri' AS polygon_id, COUNT(*) AS n, MIN(poi_id) AS min_poi, MAX(poi_id) AS max_poi "
        f"FROM pts WHERE {_convex_tri_sql(_TRI)}"
    )


def _q_pip_donut_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 extension: even-odd PIP over a donut (hole ring) and a
    two-shell multipolygon, in one join; oracle composes the convex
    predicates (shell XOR hole; shell OR shell)."""
    import numpy as np

    from ..operators.spatial_join import Polygon, point_in_polygon_join

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL)
    donut = Polygon("donut", np.array(_TRI), holes=(np.array(_TRI_HOLE),))
    twin = Polygon("twin", np.array(_TRI_A), shells=(np.array(_TRI_B),))
    joined = point_in_polygon_join(spark, pts, [donut, twin], cover_zoom=4)
    return (
        joined.groupBy("polygon_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("poi_id").alias("min_poi"), F.max("poi_id").alias("max_poi"))
        .orderBy("polygon_id")
    )


def _pip_donut_oracle() -> str:
    donut = f"(({_convex_tri_sql(_TRI)}) <> ({_convex_tri_sql(_TRI_HOLE)}))"
    twin = f"(({_convex_tri_sql(_TRI_A)}) OR ({_convex_tri_sql(_TRI_B)}))"
    return (
        f"WITH pts AS ({PTS_SQL}) "
        "SELECT * FROM ("
        "SELECT 'donut' AS polygon_id, COUNT(*) AS n, MIN(poi_id) AS min_poi, MAX(poi_id) AS max_poi "
        f"FROM pts WHERE {donut} HAVING COUNT(*) > 0 "
        "UNION ALL "
        "SELECT 'twin' AS polygon_id, COUNT(*) AS n, MIN(poi_id) AS min_poi, MAX(poi_id) AS max_poi "
        f"FROM pts WHERE {twin} HAVING COUNT(*) > 0"
        ") u ORDER BY polygon_id"
    )


def _q_repetition_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition scoring (duplicate word/bigram fractions)
    via native array exprs; DuckDB recomputes with its own list
    functions (independent formulation)."""
    from ..functions.text_analysis import repetition_features

    _register(spark, sf_dir, ["documents"])
    df = spark.table("documents").filter(F.length("text") > 0)
    return (
        repetition_features(df)
        .select(
            "doc_id",
            F.round("dup_word_frac", 6).alias("dup_word_frac6"),
            F.round("dup_bigram_frac", 6).alias("dup_bigram_frac6"),
        )
        .orderBy("doc_id")
        .limit(5000)
    )


_Q_REPETITION_ORACLE = (
    "WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks "
    "FROM documents WHERE length(text) > 0), "
    "big AS (SELECT doc_id, toks, "
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams FROM tok) "
    "SELECT doc_id, "
    "ROUND(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS dup_word_frac6, "
    "ROUND(CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE) / greatest(len(bigrams), 1), 6) AS dup_bigram_frac6 "
    "FROM big ORDER BY doc_id LIMIT 5000"
)


# deterministic PII-laden text: an email, an IPv4 and a phone woven
# around each document's first 60 chars
_PII_TEXT_SQL = (
    "concat('contact user', CAST(doc_id AS {int_str}), '@mail', CAST(doc_id % 7 AS {int_str}), "
    "'.com from 10.', CAST(doc_id % 200 AS {int_str}), '.3.', CAST(doc_id % 250 AS {int_str}), "
    "' or +1-', CAST(200 + doc_id % 700 AS {int_str}), '-555-', CAST(1000 + doc_id % 9000 AS {int_str}), "
    "' re: ', substr(text, 1, 60))"
)


def _q_pii_scrub_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone shapes -> placeholder
    tokens) over synthesized PII-laden text; DuckDB replays the same
    regex strings with its RE2 engine — the patterns live in the
    Java∩RE2 subset precisely so this cross-engine check is possible."""
    from ..functions.text_analysis import pii_counts, scrub_pii_col

    _register(spark, sf_dir, ["documents"])
    laden = spark.table("documents").selectExpr(
        "doc_id", _PII_TEXT_SQL.format(int_str="STRING") + " AS text"
    )
    return (
        pii_counts(laden)
        .withColumn("scrubbed", scrub_pii_col(F.col("text")))
        .select("doc_id", "email_hits", "ip_hits", "phone_hits", F.md5("scrubbed").alias("scrub_md5"))
        .orderBy("doc_id")
        .limit(2000)
    )


def _pii_scrub_oracle() -> str:
    # DuckDB string literals are standard SQL (backslash is literal), so
    # the Python pattern strings drop in verbatim
    from ..functions.text_analysis import PII_PATTERNS

    text_sql = _PII_TEXT_SQL.format(int_str="VARCHAR")
    scrub = "text"
    for token, pat in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS {token.strip('<>').lower()}_hits"
        for token, pat in PII_PATTERNS
    )
    return (
        f"WITH laden AS (SELECT doc_id, {text_sql} AS text FROM documents) "
        f"SELECT doc_id, {counts}, md5({scrub}) AS scrub_md5 "
        "FROM laden ORDER BY doc_id LIMIT 2000"
    )


_SESSION_GAP = "6 hours"
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _q_sessionization_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization via Spark's native session_window (the
    streaming-capable stateful operator, run in batch form), checked
    against an independent gaps-and-islands SQL formulation in DuckDB
    (LAG-break + running-sum session ids). Session end = last event +
    gap in both."""
    _register(spark, sf_dir, ["events"])
    ev = spark.table("events")
    sess = (
        ev.groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
            F.date_format("w.end", _TS_FMT_SPARK).alias("session_end"),
            "n_events", "sum_value",
        )
        .orderBy("user_id", "session_start")
        .limit(2000)
    )
    return sess


_Q_SESSIONIZATION_ORACLE = (
    "WITH o AS (SELECT user_id, ts, value, "
    "CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 6 HOUR "
    "THEN 1 ELSE 0 END AS brk FROM events), "
    "s AS (SELECT user_id, ts, value, "
    "SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
    "SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start, "
    "strftime(MAX(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS session_end, "
    "COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value "
    "FROM s GROUP BY user_id, sid ORDER BY user_id, session_start LIMIT 2000"
)


def _q_polygon_centroid_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: polygon -> shoelace-weighted centroid (the reference's
    ST_Centroid collapse, process.py:209) via the native higher-order
    centroid over integer-coordinate L-shaped hexagons derived from
    nation. All cross terms are exact small integers, so sums are
    order-independent and the final divisions are bit-identical across
    engines — no rounding needed."""
    from ..functions.geometry import with_ring_centroid

    _register(spark, sf_dir, ["nation"])
    nk = spark.sql(
        "SELECT n_nationkey AS polygon_id, "
        "CAST((n_nationkey * 7) % 280 AS DOUBLE) - 140.0 AS cx, "
        "CAST((n_nationkey * 11) % 120 AS DOUBLE) - 60.0 AS cy, "
        "CAST(2 + n_nationkey % 3 AS DOUBLE) AS w, "
        "CAST(3 + n_nationkey % 4 AS DOUBLE) AS h FROM nation"
    )

    def v(x, y):
        return F.array(x, y)

    cx, cy, w, h = F.col("cx"), F.col("cy"), F.col("w"), F.col("h")
    ring = F.array(
        v(cx, cy), v(cx + 2 * w, cy), v(cx + 2 * w, cy + h),
        v(cx + w, cy + h), v(cx + w, cy + 2 * h), v(cx, cy + 2 * h),
    )
    polys = nk.select("polygon_id", ring.alias("ring"))
    return (
        with_ring_centroid(polys)
        .select("polygon_id", "centroid_lon", "centroid_lat", F.col("ring_area").alias("area"))
        .orderBy("polygon_id")
    )


_Q_POLYGON_CENTROID_ORACLE = (
    "WITH nk AS (SELECT n_nationkey AS polygon_id, "
    "CAST((n_nationkey * 7) % 280 AS DOUBLE) - 140.0 AS cx, "
    "CAST((n_nationkey * 11) % 120 AS DOUBLE) - 60.0 AS cy, "
    "CAST(2 + n_nationkey % 3 AS DOUBLE) AS w, "
    "CAST(3 + n_nationkey % 4 AS DOUBLE) AS h FROM nation), "
    "verts AS (SELECT polygon_id, k, "
    "CASE k WHEN 0 THEN cx WHEN 1 THEN cx + 2*w WHEN 2 THEN cx + 2*w "
    " WHEN 3 THEN cx + w WHEN 4 THEN cx + w ELSE cx END AS x, "
    "CASE k WHEN 0 THEN cy WHEN 1 THEN cy WHEN 2 THEN cy + h "
    " WHEN 3 THEN cy + h WHEN 4 THEN cy + 2*h ELSE cy + 2*h END AS y "
    "FROM nk, (SELECT 0 AS k UNION ALL SELECT 1 UNION ALL SELECT 2 "
    " UNION ALL SELECT 3 UNION ALL SELECT 4 UNION ALL SELECT 5) ks), "
    "edges AS (SELECT polygon_id, x, y, "
    "COALESCE(LEAD(x) OVER (PARTITION BY polygon_id ORDER BY k), "
    " FIRST_VALUE(x) OVER (PARTITION BY polygon_id ORDER BY k)) AS xn, "
    "COALESCE(LEAD(y) OVER (PARTITION BY polygon_id ORDER BY k), "
    " FIRST_VALUE(y) OVER (PARTITION BY polygon_id ORDER BY k)) AS yn "
    "FROM verts), "
    "sums AS (SELECT polygon_id, SUM(x*yn - xn*y) AS a2, "
    "SUM((x + xn) * (x*yn - xn*y)) AS sx, SUM((y + yn) * (x*yn - xn*y)) AS sy "
    "FROM edges GROUP BY polygon_id) "
    "SELECT polygon_id, sx / (3.0 * a2) AS centroid_lon, sy / (3.0 * a2) AS centroid_lat, "
    "abs(a2) / 2.0 AS area FROM sums ORDER BY polygon_id"
)


# Six URL shapes (deterministic per doc_id) exercising every
# canonicalization rule; cases 0/1, 2/3 and 4/5 must merge.
_URL_CASE_SPARK = (
    "CASE doc_id % 6 "
    "WHEN 0 THEN 'HTTPS://Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag' "
    "WHEN 1 THEN 'https://example.com/a/b?a=1&b=2' "
    "WHEN 2 THEN 'http://Site.ORG:80/path/' "
    "WHEN 3 THEN 'http://site.org/path?gclid=123' "
    "WHEN 4 THEN concat('http://Host', CAST(doc_id % 7 AS STRING), '.NET:80/p/?z=9&y=8&utm_campaign=c') "
    "ELSE concat('http://host', CAST(doc_id % 7 AS STRING), '.net/p?y=8&z=9') END"
)


def _q_url_canonical_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup groups (crawl snapshot dedup): the native
    canonicalization expression vs an INDEPENDENT DuckDB re-
    implementation of the same RFC-3986 rules (different regex engine,
    different list functions) — a genuine two-implementation check."""
    from ..functions.url import canonical_url_col

    _register(spark, sf_dir, ["documents"])
    urls = spark.table("documents").selectExpr("doc_id", f"{_URL_CASE_SPARK} AS url")
    return (
        urls.select("doc_id", canonical_url_col(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
        .orderBy(F.desc("n"), "canonical_url")
    )


_Q_URL_CANONICAL_ORACLE = (
    "WITH urls AS (SELECT doc_id, "
    + _URL_CASE_SPARK.replace("AS STRING", "AS VARCHAR")
    + " AS url FROM documents), "
    "s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS nofrag FROM urls), "
    "s2 AS (SELECT doc_id, nofrag, regexp_extract(nofrag, '^([^:/?]+://[^/?]*)', 1) AS head0 FROM s1), "
    "s3 AS (SELECT doc_id, "
    "regexp_replace(regexp_replace(lower(head0), '^(http://[^/?:]*):80$', '\\1'), "
    " '^(https://[^/?:]*):443$', '\\1') AS head, "
    "substr(nofrag, length(head0) + 1) AS rest FROM s2), "
    "s4 AS (SELECT doc_id, head, "
    "CASE WHEN strpos(rest, '?') > 0 THEN substr(rest, 1, strpos(rest, '?') - 1) ELSE rest END AS path0, "
    "CASE WHEN strpos(rest, '?') > 0 THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS query FROM s3), "
    "s5 AS (SELECT doc_id, head, "
    "CASE WHEN path0 = '' THEN '/' ELSE regexp_replace(path0, '^(.+?)/+$', '\\1') END AS path, "
    "list_sort(list_filter(regexp_split_to_array(query, '&'), "
    " p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid)='))) AS kept FROM s4), "
    "canon AS (SELECT doc_id, head || path || "
    "CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canonical_url FROM s5) "
    "SELECT canonical_url, COUNT(*) AS n, MIN(doc_id) AS min_doc FROM canon "
    "GROUP BY canonical_url ORDER BY n DESC, canonical_url"
)


def _q_lang_id_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-ratio argmax) -> per-lang counts."""
    from ..functions.text_analysis import lang_id_col

    _register(spark, sf_dir, ["documents"])
    return (
        spark.table("documents")
        .select(lang_id_col(F.col("text")).alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "lang_detected")
    )


def _lang_id_oracle() -> str:
    from ..functions.text_analysis import STOPWORDS

    ratios = []
    for lang, words in STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratios.append(
            f"CAST(len(list_filter(toks, t -> list_contains({lst}, t))) AS DOUBLE) "
            f"/ greatest(len(toks), 1) AS s_{lang}"
        )
    # argmax with alphabetical tie-break (matches lang_id_col's sort)
    case = (
        "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= 0.02 THEN 'de' "
        "WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= 0.02 THEN 'en' "
        "WHEN s_es >= s_fr AND s_es >= 0.02 THEN 'es' "
        "WHEN s_fr >= 0.02 THEN 'fr' ELSE 'und' END"
    )
    return (
        "WITH tok AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents), "
        f"scored AS (SELECT {', '.join(ratios)} FROM tok) "
        f"SELECT {case} AS lang_detected, COUNT(*) AS n FROM scored "
        "GROUP BY 1 ORDER BY n DESC, lang_detected"
    )


# ---------------------------------------------------------------------------
# Engine-native queries (no SQL oracle -> rows-only check)
# ---------------------------------------------------------------------------


def _q_minhash_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs over documents (deterministic
    seeded signatures; no offline SQL oracle for minhash exists)."""
    from ..operators.dedup import minhash_lsh_pairs

    _register(spark, sf_dir, ["documents"])
    # deterministic subset (limit() without order is layout-dependent)
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    return (
        minhash_lsh_pairs(docs, num_perm=64, bands=16, jaccard_threshold=0.5)
        .withColumn("jaccard_est", F.round("jaccard_est", 6))
        .orderBy("a", "b")
    )


def _q_simhash_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    return simhash_pairs(docs, max_hamming=3).orderBy("a", "b")


def _q_dedup_components_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash candidate graph (the
    clustering step of near-dup removal). Golden verified against an
    independent union-find in tools/make_goldens.py."""
    from ..operators.dedup import connected_components, minhash_lsh_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    pairs = minhash_lsh_pairs(docs, num_perm=64, bands=16, jaccard_threshold=0.5)
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


def _q_jaccard_verify_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-shingle Jaccard on the minhash candidate pairs (the
    verify stage after LSH blocking). Counts are integers, so the
    jaccard double is an exact rational — bit-stable."""
    from ..operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    pairs = minhash_lsh_pairs(docs, num_perm=64, bands=16, jaccard_threshold=0.5).select("a", "b")
    return (
        ngram_jaccard_pairs(docs, pairs, k=5, threshold=0.3)
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy("a", "b")
    )


def _q_bloom_url_probe_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter membership (incremental-crawl URL dedup,
    operators/bloom.py): filter built over even-doc_id URLs, every URL
    probed. Bit-exact deterministic (seeded xxhash64 positions), golden
    verified against an independent from-spec XXH64 + position-set
    recompute in tools/make_goldens.py."""
    from ..operators.bloom import bloom_build, bloom_probe

    M_BITS, K = 16384, 5
    _register(spark, sf_dir, ["documents"])
    keys = (
        spark.table("documents").filter(F.col("doc_id") < 2000)
        .select("doc_id",
                F.concat(F.lit("https://corpus.example/doc/"),
                         F.col("doc_id").cast("string")).alias("url"))
    )
    bloom = bloom_build(keys.filter(F.col("doc_id") % 2 == 0), "url", M_BITS, K)
    probed = bloom_probe(keys, bloom, "url", M_BITS, K)
    return (
        keys.join(probed, on="url")
        .select("doc_id", F.col("probably_seen").cast("int").alias("probably_seen"))
        .orderBy("doc_id")
    )


def _q_tfidf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF terms (corpus keyword extraction):
    dialect-split oracle — the DuckDB side re-derives tf/df/score with
    string_split_regex + windows. The score is a RATIONAL IDF surrogate
    (tf * (N+1)/(df+1)) so cross-engine doubles are bit-identical (IEEE
    division; no ln())."""
    from ..functions.text_analysis import tfidf_top_terms

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    return tfidf_top_terms(docs, k=5).orderBy("doc_id", "rn")


def _q_stratified_sample_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/sampling.py):
    per-language keep rates keyed on content hash — reproducible on any
    partitioning. Golden verified against an independent from-spec
    XXH64 keep-decision recompute in tools/make_goldens.py."""
    from ..operators.sampling import stratified_sample

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    rates = {"en": 0.5, "fr": 1.0, "de": 0.25, "es": 0.1, "zh": 0.05}
    return (
        stratified_sample(docs, "lang", rates, "doc_id", default_rate=0.0)
        .select("doc_id", "lang").orderBy("doc_id")
    )


def _q_corpus_curation_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline (plans/curation.py): lang ID +
    quality/repetition thresholds + PII scrub + exact dedup in one
    call. The oracle recomputes the IDENTICAL IEEE expression chain in
    DuckDB, so threshold decisions match bit-for-bit at the boundary."""
    from .curation import curate_documents

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select("doc_id", "text")
    out = curate_documents(docs)
    return (
        out.select(
            "doc_id", "lang_detected",
            F.round("quality_score", 6).alias("quality6"),
            F.md5("text_clean").alias("clean_md5"),
        ).orderBy("doc_id")
    )


def _corpus_curation_oracle(final_select: str | None = None) -> str:
    from ..functions.text_analysis import PII_PATTERNS, STOPWORDS

    ratios = []
    for lang, words in STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratios.append(
            f"CAST(len(list_filter(toks, t -> list_contains({lst}, t))) AS DOUBLE) "
            f"/ greatest(len(toks), 1) AS s_{lang}"
        )
    lang_case = (
        "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= 0.02 THEN 'de' "
        "WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= 0.02 THEN 'en' "
        "WHEN s_es >= s_fr AND s_es >= 0.02 THEN 'es' "
        "WHEN s_fr >= 0.02 THEN 'fr' ELSE 'und' END"
    )
    scrub = "text"
    for token, pat in PII_PATTERNS:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    quality = (
        "least(alpha_ratio / 0.7, 1.0) * 0.4 "
        "+ least(s_en / 0.3, 1.0) * 0.3 "
        "+ CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10 THEN 0.2 ELSE 0.0 END "
        "+ CASE WHEN punct_ratio <= 0.1 THEN 0.1 ELSE 0.0 END"
    )
    return f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
tok AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         length(text) AS n_chars
  FROM base
),
feat AS (
  SELECT doc_id, text, toks, n_chars, len(toks) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         n_chars / greatest(len(toks), 1) AS mean_word_len,
         CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
           / greatest(len(toks), 1) AS dup_word_frac,
         CAST(len(regexp_split_to_array(text, '\\n'))
              - len(list_distinct(regexp_split_to_array(text, '\\n'))) AS DOUBLE)
           / greatest(len(regexp_split_to_array(text, '\\n')), 1) AS dup_line_frac,
         {", ".join(ratios)}
  FROM tok
),
scored AS (
  SELECT doc_id, text, n_tokens, dup_word_frac, dup_line_frac,
         {lang_case} AS lang_detected,
         {quality} AS quality_score
  FROM feat
),
kept AS (
  SELECT doc_id, lang_detected, quality_score, {scrub} AS text_clean
  FROM scored
  WHERE lang_detected = 'en' AND n_tokens >= 5 AND quality_score >= 0.4
    AND dup_word_frac <= 0.4 AND dup_line_frac <= 0.5
)
{final_select or '''SELECT doc_id, lang_detected, ROUND(quality_score, 6) AS quality6,
       md5(text_clean) AS clean_md5'''}
FROM kept
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text_clean))
ORDER BY doc_id
"""


def _q_curated_packing_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed last mile (plans/curation.py curate_tokenize_pack):
    curate -> train+apply BPE on the clean text -> pack into 2048-token
    sequences keyed on (lang_detected, pack_bucket) with n_buckets=4
    (the scale-safe window key). Golden oracle: make_goldens re-derives
    the survivors through the DuckDB curation SQL mirror, token counts
    through the independent naive BPE trainer, buckets through from-spec
    XXH64, and offsets through a pandas per-group cumsum."""
    from .curation import curate_tokenize_pack

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select("doc_id", "text")
    packed, _ = curate_tokenize_pack(docs, budget=2048, num_merges=150,
                                     n_buckets=4)
    return packed.select("doc_id", "lang_detected", "bpe_tokens",
                         "pack_bucket", "seq_offset", "seq_id").orderBy("doc_id")


_Q_SPAN_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents WHERE doc_id < 2000
),
wins AS (
  SELECT doc_id, u.fp
  FROM toks, UNNEST(
    CASE WHEN len(toks) >= 8 THEN
      list_transform(generate_series(1, len(toks) - 7),
                     j -> md5(array_to_string(list_slice(toks, j, j + 7), ' ')))
    ELSE [] END) AS u(fp)
),
dup AS (
  SELECT fp FROM wins GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
),
perdoc AS (
  SELECT w.doc_id,
         COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM wins w LEFT JOIN dup d USING (fp)
  GROUP BY w.doc_id
)
SELECT t.doc_id,
       CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows
FROM toks t LEFT JOIN perdoc p USING (doc_id)
ORDER BY t.doc_id
"""


_LINK_HTML_SPARK = (
    "concat('<html><body><a href=\"https://h', CAST(doc_id % 7 AS STRING), "
    "'.example/p/', CAST(doc_id AS STRING), '\">x</a><p>filler</p>', "
    "'<a class=\"z\" href=\"/local/', CAST(doc_id % 13 AS STRING), '\">y</a>', "
    "'<a href=\"mailto:a@b.c\">m</a></body></html>')"
)


def _page_links_oracle() -> str:
    from ..functions.links import LINK_RE, ORIGIN_RE

    html = _LINK_HTML_SPARK.replace("AS STRING", "AS VARCHAR")
    return f"""
WITH pages AS (
  SELECT concat('https://src', CAST(doc_id % 5 AS VARCHAR),
                '.example/page/', CAST(doc_id AS VARCHAR)) AS url,
         {html} AS html
  FROM documents WHERE doc_id < 2000
),
hrefs AS (
  SELECT url, u.h AS href
  FROM pages, UNNEST(regexp_extract_all(html, '{LINK_RE}', 1)) AS u(h)
),
resolved AS (
  SELECT url AS src,
         CASE WHEN regexp_matches(href, '^https?://') THEN href
              WHEN starts_with(href, '//') THEN NULL
              WHEN starts_with(href, '/')
                THEN concat(regexp_replace(url, '{ORIGIN_RE}', '\\1'), href)
              ELSE NULL END AS dst
  FROM hrefs
)
SELECT src, dst FROM resolved WHERE dst IS NOT NULL
ORDER BY src, dst
"""


def _q_page_links_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction (functions/links.py): deterministic linked
    HTML synthesized from the documents table, scanned with ONE native
    regexp_extract_all pass and resolved by the absolute/root-relative
    CASE rules (protocol-relative / mailto / dotted-relative dropped).
    Dialect-split oracle: the identical pattern strings and resolution
    CASE in DuckDB list SQL."""
    from ..functions.links import extract_links

    _register(spark, sf_dir, ["documents"])
    pages = spark.sql(
        "SELECT concat('https://src', CAST(doc_id % 5 AS STRING), "
        "'.example/page/', CAST(doc_id AS STRING)) AS url, "
        f"{_LINK_HTML_SPARK} AS html "
        "FROM documents WHERE doc_id < 2000")
    return extract_links(pages).orderBy("src", "dst")


_ANCHOR_HTML_SPARK = (
    "concat('<html><body><a href=\"https://t', CAST(doc_id % 10 AS STRING), "
    "'.example/page\">anchor-', CAST(doc_id % 3 AS STRING), '</a>', "
    "'<a href=\"/rel/', CAST(doc_id % 5 AS STRING), '\">local ', "
    "CAST(doc_id % 2 AS STRING), '</a></body></html>')"
)


def _anchor_texts_oracle() -> str:
    from ..functions.links import ANCHOR_RE, LINK_RE, ORIGIN_RE

    html = _ANCHOR_HTML_SPARK.replace("AS STRING", "AS VARCHAR")
    return f"""
WITH pages AS (
  SELECT concat('https://s', CAST(doc_id % 4 AS VARCHAR),
                '.example/p/', CAST(doc_id AS VARCHAR)) AS url,
         {html} AS html
  FROM documents WHERE doc_id < 2000
),
tags AS (
  SELECT url, u.t AS tag
  FROM pages, UNNEST(regexp_extract_all(html, '{ANCHOR_RE}', 0)) AS u(t)
),
parsed AS (
  SELECT url AS src,
         regexp_extract(tag, '{LINK_RE}', 1) AS href,
         trim(regexp_extract(tag, '>([^<]*)</a>$', 1)) AS anchor
  FROM tags
),
resolved AS (
  SELECT src, anchor,
         CASE WHEN regexp_matches(href, '^https?://') THEN href
              WHEN starts_with(href, '//') THEN NULL
              WHEN starts_with(href, '/')
                THEN concat(regexp_replace(src, '{ORIGIN_RE}', '\\1'), href)
              ELSE NULL END AS dst
  FROM parsed
),
agg AS (
  SELECT dst,
         COUNT(*) AS n_links,
         COUNT(DISTINCT src) AS n_sources,
         list_slice(list_sort(list_distinct(
             list(anchor) FILTER (WHERE anchor <> ''))), 1, 64) AS anchors
  FROM resolved WHERE dst IS NOT NULL GROUP BY dst
)
SELECT dst, CAST(n_links AS BIGINT) AS n_links,
       CAST(n_sources AS BIGINT) AS n_sources,
       md5(array_to_string(anchors, '|')) AS anchors_md5
FROM agg ORDER BY dst
"""


def _q_anchor_texts_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text corpus (functions/links.py): links with anchor text
    extracted in one native pass, aggregated per TARGET (bounded sorted
    distinct anchors — the retrieval/quality training signal). The
    anchors array is fingerprinted with md5 of the pipe-joined texts so
    the dialect-split DuckDB oracle can reproduce it exactly."""
    from ..functions.links import anchor_text_corpus, extract_links_with_anchors

    _register(spark, sf_dir, ["documents"])
    pages = spark.sql(
        "SELECT concat('https://s', CAST(doc_id % 4 AS STRING), "
        "'.example/p/', CAST(doc_id AS STRING)) AS url, "
        f"{_ANCHOR_HTML_SPARK} AS html "
        "FROM documents WHERE doc_id < 2000")
    corpus = anchor_text_corpus(extract_links_with_anchors(pages))
    return corpus.select(
        "dst", F.col("n_links").cast("long").alias("n_links"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.md5(F.concat_ws("|", F.col("anchors"))).alias("anchors_md5"),
    ).orderBy("dst")


_IMG_HTML_SPARK = (
    "concat('<html><body><img src=\"https://img.example/m', "
    "CAST(doc_id % 128 AS STRING), '.png\" alt=\"cap-', "
    "CAST(doc_id % 9 AS STRING), '\">', "
    "'<img class=\"w\" src=\"https://img.example/m', CAST(doc_id % 16 AS STRING), "
    "'.png\" alt=\"\">', "  # matching image, empty alt: counts as ref, no text
    "'<img src=\"/banner/', CAST(doc_id % 3 AS STRING), '.png\" alt=\"local\">', "
    "'<img src=\"icon.gif\" alt=\"dropped\">', "  # dotted-relative: dropped
    "'<figure><img src=\"https://img.example/m', CAST(doc_id % 32 AS STRING), "
    "'.png\"><figcaption> fig-', CAST(doc_id % 11 AS STRING), "
    "' </figcaption></figure>', "  # captioned figure (trimmed text)
    "'</body></html>')"
)


def _image_text_pairs_oracle() -> str:
    from ..functions.links import (FIGCAP_RE, IMG_ALT_RE, IMG_RE, IMG_SRC_RE,
                                   ORIGIN_RE)

    html = _IMG_HTML_SPARK.replace("AS STRING", "AS VARCHAR")
    return f"""
WITH pages AS (
  SELECT concat('https://s', CAST(doc_id % 4 AS VARCHAR),
                '.example/p/', CAST(doc_id AS VARCHAR)) AS url,
         {html} AS html
  FROM documents WHERE doc_id < 2000
),
tags AS (
  SELECT url, u.t AS tag
  FROM pages, UNNEST(regexp_extract_all(html, '{IMG_RE}', 0)) AS u(t)
),
figtags AS (
  SELECT url, u.t AS tag
  FROM pages, UNNEST(regexp_extract_all(html, '{FIGCAP_RE}', 0)) AS u(t)
),
parsed AS (
  SELECT url AS src,
         regexp_extract(tag, '{IMG_SRC_RE}', 1) AS href,
         trim(regexp_extract(tag, '{IMG_ALT_RE}', 1)) AS alt
  FROM tags
  UNION ALL
  SELECT url AS src,
         regexp_extract(tag, '{IMG_SRC_RE}', 1) AS href,
         trim(regexp_extract(tag, '{FIGCAP_RE}', 1)) AS alt
  FROM figtags
),
resolved AS (
  SELECT src, alt,
         CASE WHEN regexp_matches(href, '^https?://') THEN href
              WHEN starts_with(href, '//') THEN NULL
              WHEN starts_with(href, '/')
                THEN concat(regexp_replace(src, '{ORIGIN_RE}', '\\1'), href)
              ELSE NULL END AS img_url
  FROM parsed
),
idx AS (
  SELECT concat('https://img.example/m', CAST(i AS VARCHAR), '.png') AS url,
         concat('m', CAST(i AS VARCHAR)) AS media_id
  FROM (SELECT UNNEST(generate_series(0, 127)) AS i) WHERE i % 4 < 2
),
agg AS (
  SELECT i.media_id, r.img_url,
         COUNT(*) AS n_refs,
         COUNT(DISTINCT r.src) AS n_pages,
         list_slice(list_sort(list_distinct(
             list(r.alt) FILTER (WHERE r.alt <> ''))), 1, 16) AS texts
  FROM resolved r JOIN idx i ON r.img_url = i.url
  GROUP BY i.media_id, r.img_url
)
SELECT media_id, img_url, CAST(n_refs AS BIGINT) AS n_refs,
       CAST(n_pages AS BIGINT) AS n_pages,
       md5(array_to_string(texts, '|')) AS texts_md5
FROM agg WHERE len(texts) > 0 ORDER BY media_id
"""


def _q_image_text_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style image–text pair construction (functions/links.py
    extract_image_refs + operators/multimodal.py image_text_pairs):
    <img src/alt> tags scanned in ONE native regexp pass from HTML
    synthesized over documents, resolved by the shared CASE rules,
    joined against a deterministic media index (url -> media_id,
    image-kind ids only) and aggregated per image with bounded sorted
    distinct texts; captioned ``<figure>`` images contribute their
    ``<figcaption>`` text via the same one-pass pattern
    (extract_image_texts = alt-refs UNION caption-refs). Text lists
    cross the driver hash as md5 fingerprints (anchor_texts pattern).
    Dialect-split oracle: the identical regexps + CASE + union + list
    aggregation in DuckDB. The real decoded-feature join
    (extract_image_features) is pytest-covered — float-array features
    don't fit the driver hash."""
    from ..functions.links import extract_image_texts
    from ..operators.multimodal import image_text_pairs

    _register(spark, sf_dir, ["documents"])
    pages = spark.sql(
        "SELECT concat('https://s', CAST(doc_id % 4 AS STRING), "
        "'.example/p/', CAST(doc_id AS STRING)) AS url, "
        f"{_IMG_HTML_SPARK} AS html "
        "FROM documents WHERE doc_id < 2000")
    index = spark.sql(
        "SELECT concat('https://img.example/m', CAST(i AS STRING), '.png') AS url, "
        "concat('m', CAST(i AS STRING)) AS media_id "
        "FROM (SELECT explode(sequence(0, 127)) AS i) WHERE i % 4 < 2")
    pairs = image_text_pairs(extract_image_texts(pages), index)
    return pairs.select(
        "media_id", "img_url",
        F.col("n_refs").cast("long").alias("n_refs"),
        F.col("n_pages").cast("long").alias("n_pages"),
        F.md5(F.concat_ws("|", F.col("texts"))).alias("texts_md5"),
    ).orderBy("media_id")


_ROBOTS_RULES = [
    # host, prefix, allow
    ("h0.example", "/p/", False),
    ("h1.example", "/p/1", False),
    ("h2.example", "/", False), ("h2.example", "/p/", True),
    ("h3.example", "/p/3", False), ("h3.example", "/p/33", True),
    ("h5.example", "/q/", False),  # never matches: default-allow path
]


def _robots_filter_oracle() -> str:
    from ..functions.robots import HOST_RE, PATH_RE

    vals = ", ".join(
        f"('{h}', '{p}', {'TRUE' if a else 'FALSE'})" for h, p, a in _ROBOTS_RULES)
    return f"""
WITH urls AS (
  SELECT doc_id,
         concat('https://h', CAST(doc_id % 7 AS VARCHAR),
                '.example/p/', CAST(doc_id AS VARCHAR),
                '/', CAST(doc_id % 13 AS VARCHAR)) AS url
  FROM documents WHERE doc_id < 2000
),
rules(host, prefix, allow) AS (VALUES {vals}),
tagged AS (
  SELECT doc_id, url,
         lower(regexp_replace(url, '{HOST_RE}', '\\1')) AS h,
         regexp_replace(url, '{PATH_RE}', '\\1') AS p
  FROM urls
),
matches AS (
  SELECT t.doc_id, t.url, r.allow, len(r.prefix) AS rule_len
  FROM tagged t JOIN rules r ON t.h = r.host
  WHERE starts_with(t.p, r.prefix)
),
best AS (
  SELECT doc_id, allow FROM matches
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY rule_len DESC, CAST(allow AS INT) DESC) = 1
)
SELECT u.doc_id, u.url, COALESCE(b.allow, TRUE) AS allowed
FROM urls u LEFT JOIN best b USING (doc_id)
ORDER BY u.doc_id
"""


def _q_robots_filter_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt longest-match URL filtering (functions/robots.py):
    synthetic per-host URLs against a literal rule table (most-specific
    prefix wins, allow wins ties, unknown host / no match allows).
    Dialect-split oracle mirrors the host/path regexps (same pattern
    strings), the prefix match and the longest-rule window in DuckDB
    SQL. Rule PARSING (RFC 9309 groups) is pytest-pinned in
    test_robots; this row pins the per-URL decision logic."""
    from ..functions.robots import filter_allowed_urls

    _register(spark, sf_dir, ["documents"])
    urls = spark.sql(
        "SELECT doc_id, concat('https://h', CAST(doc_id % 7 AS STRING), "
        "'.example/p/', CAST(doc_id AS STRING), '/', "
        "CAST(doc_id % 13 AS STRING)) AS url "
        "FROM documents WHERE doc_id < 2000")
    rules = spark.createDataFrame(
        [(h, p, a, len(p)) for h, p, a in _ROBOTS_RULES],
        "host string, prefix string, allow boolean, rule_len int")
    return filter_allowed_urls(urls, rules, keep_decision=True) \
        .select("doc_id", "url", "allowed").orderBy("doc_id")


_Q_BIGRAM_LM_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents WHERE doc_id < 2000
),
bg AS (
  SELECT doc_id, toks[j.g] AS prev, toks[j.g + 1] AS w
  FROM docs, UNNEST(CASE WHEN len(toks) >= 2
                         THEN generate_series(1, len(toks) - 1)
                         ELSE [] END) AS j(g)
),
uni AS (
  SELECT u.t AS prev, COUNT(*) AS c1
  FROM docs, UNNEST(toks) AS u(t) GROUP BY u.t
),
big AS (SELECT prev, w, COUNT(*) AS c2 FROM bg GROUP BY prev, w),
vs AS (SELECT COUNT(*) AS v FROM uni),
q AS (
  SELECT bg.doc_id,
         CAST(floor(CAST(COALESCE(big.c2, 0) + 1 AS DOUBLE)
                    / CAST(COALESCE(uni.c1, 0) + vs.v AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qp
  FROM bg LEFT JOIN big USING (prev, w) LEFT JOIN uni USING (prev), vs
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(qp) AS BIGINT) AS sum_p_ppm
  FROM q GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.sum_p_ppm, 0) AS BIGINT) AS sum_p_ppm,
       CASE WHEN COALESCE(p.n_bigrams, 0) > 0
            THEN CAST(floor(p.sum_p_ppm / p.n_bigrams) AS BIGINT)
            ELSE 0 END AS mean_p_ppm
FROM docs d LEFT JOIN perdoc p USING (doc_id)
ORDER BY d.doc_id
"""


def _q_bigram_lm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (functions/lm.py): add-one-smoothed
    bigram LM self-trained on the corpus, per-document quantized mean
    probability — the perplexity-surrogate filter, exact by design
    (probabilities floor-quantized to ppm integers BEFORE any cross-row
    sum, so no float reduction order anywhere). Dialect-split oracle:
    the identical counts/joins/IEEE chain in DuckDB list SQL."""
    from ..functions.lm import score_bigram_lm, train_bigram_lm

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    bc, uc, v = train_bigram_lm(docs)
    return score_bigram_lm(docs, bc, uc, v, broadcast_counts=True) \
        .orderBy("doc_id")


_Q_TRIGRAM_LM_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents WHERE doc_id < 2000
),
tg AS (
  SELECT doc_id, toks[j.g] AS w1, toks[j.g + 1] AS w2, toks[j.g + 2] AS w3
  FROM docs, UNNEST(CASE WHEN len(toks) >= 3
                         THEN generate_series(1, len(toks) - 2)
                         ELSE [] END) AS j(g)
),
bgl AS (
  SELECT toks[j.g] AS a, toks[j.g + 1] AS b
  FROM docs, UNNEST(CASE WHEN len(toks) >= 2
                         THEN generate_series(1, len(toks) - 1)
                         ELSE [] END) AS j(g)
),
uni AS (
  SELECT u.t AS w, COUNT(*) AS c1
  FROM docs, UNNEST(toks) AS u(t) GROUP BY u.t
),
big AS (SELECT a, b, COUNT(*) AS c2 FROM bgl GROUP BY a, b),
tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg GROUP BY w1, w2, w3),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n FROM uni),
q AS (
  SELECT tg.doc_id,
         CAST(CASE
           WHEN COALESCE(tri.c3, 0) > 0
             THEN (1000000 * tri.c3) // ctx.c2
           WHEN COALESCE(cont.c2, 0) > 0
             THEN (400000 * cont.c2) // u2.c1
           ELSE (160000000000 * COALESCE(u3.c1, 0)) // (1000000 * tot.n)
         END AS BIGINT) AS qs
  FROM tg
  LEFT JOIN tri USING (w1, w2, w3)
  LEFT JOIN big ctx ON ctx.a = tg.w1 AND ctx.b = tg.w2
  LEFT JOIN big cont ON cont.a = tg.w2 AND cont.b = tg.w3
  LEFT JOIN uni u2 ON u2.w = tg.w2
  LEFT JOIN uni u3 ON u3.w = tg.w3, tot
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_trigrams, CAST(SUM(qs) AS BIGINT) AS sum_s_ppm
  FROM q GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       CAST(COALESCE(p.sum_s_ppm, 0) AS BIGINT) AS sum_s_ppm,
       CASE WHEN COALESCE(p.n_trigrams, 0) > 0
            THEN CAST(p.sum_s_ppm // p.n_trigrams AS BIGINT)
            ELSE 0 END AS mean_s_ppm
FROM docs d LEFT JOIN perdoc p USING (doc_id)
ORDER BY d.doc_id
"""


def _q_trigram_lm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM scoring (functions/lm.py
    score_trigram_backoff, Brants et al. 2007): the web-scale LM
    filter next to the add-one bigram — no normalization, so every
    branch is PURE integer arithmetic ((1e6*c3) DIV c12,
    (400000*c23) DIV c2u, (160000000000*c1) DIV (1e6*N)) and the
    per-trigram scores are exact in any engine by construction (no
    IEEE step anywhere, unlike the bigram chain). Dialect-split
    oracle: identical counts/joins/integer-DIV chain in DuckDB list
    SQL (`//` == Spark DIV on the non-negative operands here)."""
    from ..functions.lm import score_trigram_backoff, train_trigram_lm

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    tc, bc, uc, n = train_trigram_lm(docs)
    return score_trigram_backoff(docs, tc, bc, uc, n,
                                 broadcast_counts=True).orderBy("doc_id")


_Q_SNAPSHOT_UPSERT_ORACLE = """
WITH old AS (
  SELECT doc_id, md5(text) AS fp, n_chars
  FROM documents WHERE doc_id < 2000 AND doc_id % 5 <> 0
),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN md5(concat(text, '!')) ELSE md5(text) END AS fp,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id < 2000 AND doc_id % 5 <> 1
)
SELECT COALESCE(new.doc_id, old.doc_id) AS doc_id,
       COALESCE(new.fp, old.fp) AS fp,
       CAST(COALESCE(new.n_chars, old.n_chars) AS BIGINT) AS n_chars
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
ORDER BY doc_id
"""


def _q_snapshot_upsert_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-lake MERGE (operators/sampling.py snapshot_upsert):
    the new snapshot's rows win, base-only rows survive
    (keep_deletes=True — the append-only variant; with deletes the
    result degenerates to the snapshot itself). Dialect-split oracle:
    the equivalent full-outer COALESCE merge in plain SQL."""
    from ..operators.sampling import snapshot_upsert

    _register(spark, sf_dir, ["documents"])
    base = spark.table("documents").filter(F.col("doc_id") < 2000)
    old = base.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars")
    new = base.filter(F.col("doc_id") % 5 != 1).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit("!"))))
        .otherwise(F.md5("text")).alias("fp"),
        F.when(F.col("doc_id") % 7 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars")).alias("n_chars"))
    merged = snapshot_upsert(old, new, "doc_id", keep_deletes=True)
    return merged.select("doc_id", "fp", F.col("n_chars").cast("long").alias("n_chars")) \
        .orderBy("doc_id")


def _quality_classifier_oracle() -> str:
    from ..functions.text_analysis import STOPWORDS
    from ..operators.classifier import (DEFAULT_QUALITY_BIAS,
                                        DEFAULT_QUALITY_WEIGHTS, FEATURES)

    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    terms = [f"CAST({DEFAULT_QUALITY_BIAS!r} AS DOUBLE)"]
    for w, f in zip(DEFAULT_QUALITY_WEIGHTS, FEATURES):
        terms.append(f"CAST({w!r} AS DOUBLE) * {f}")
    logit = " + ".join(terms)
    return f"""
WITH tok AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         length(text) AS n_chars
  FROM documents WHERE doc_id < 2000
),
feat AS (
  SELECT doc_id,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(len(list_filter(toks, t -> list_contains({en}, t))) AS DOUBLE)
           / greatest(len(toks), 1) AS stopword_ratio,
         n_chars / greatest(len(toks), 1) AS mean_word_len,
         CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
           / greatest(len(toks), 1) AS dup_word_frac,
         CAST(len(regexp_split_to_array(text, '\\n'))
              - len(list_distinct(regexp_split_to_array(text, '\\n'))) AS DOUBLE)
           / greatest(len(regexp_split_to_array(text, '\\n')), 1) AS dup_line_frac
  FROM tok
)
SELECT doc_id, {logit} AS logit, ({logit}) > 0 AS keep
FROM feat ORDER BY doc_id
"""


def _q_quality_classifier_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (operators/classifier.py): the
    self-distilled logistic model's logit computed as a pure native
    left-to-right IEEE chain over the mirrored feature expressions.
    Dialect-split oracle: DuckDB recomputes the identical features and
    the identical weighted-sum chain — logits match bit-for-bit, so
    every keep/drop boundary decision is verified exactly."""
    from ..operators.classifier import (DEFAULT_QUALITY_BIAS,
                                        DEFAULT_QUALITY_WEIGHTS, featurize,
                                        score_quality_lr)

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    scored = score_quality_lr(featurize(docs), DEFAULT_QUALITY_WEIGHTS,
                              DEFAULT_QUALITY_BIAS)
    return scored.select("doc_id", "logit", "keep").orderBy("doc_id")


def _quality_classifier_ext_oracle() -> str:
    """Extended-basis classifier oracle: the three signal pipelines
    (bigram LM, span windows, link in-degree) restated CTE-for-CTE from
    their individually-proven oracles, the three extended features as
    the identical exact-IEEE derivations, and the 9-term logit chain."""
    from ..functions.text_analysis import STOPWORDS
    from ..operators.classifier import (DEFAULT_QUALITY_BIAS_EXT,
                                        DEFAULT_QUALITY_WEIGHTS_EXT,
                                        EXT_FEATURES)

    en = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    terms = [f"CAST({DEFAULT_QUALITY_BIAS_EXT!r} AS DOUBLE)"]
    for w, f in zip(DEFAULT_QUALITY_WEIGHTS_EXT, EXT_FEATURES):
        terms.append(f"CAST({w!r} AS DOUBLE) * {f}")
    logit = " + ".join(terms)
    return f"""
WITH raw AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 2000
),
tok6 AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         length(text) AS n_chars
  FROM raw
),
feat6 AS (
  SELECT doc_id,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(len(list_filter(toks, t -> list_contains({en}, t))) AS DOUBLE)
           / greatest(len(toks), 1) AS stopword_ratio,
         n_chars / greatest(len(toks), 1) AS mean_word_len,
         CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
           / greatest(len(toks), 1) AS dup_word_frac,
         CAST(len(regexp_split_to_array(text, '\\n'))
              - len(list_distinct(regexp_split_to_array(text, '\\n'))) AS DOUBLE)
           / greatest(len(regexp_split_to_array(text, '\\n')), 1) AS dup_line_frac
  FROM tok6
),
tokf AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM raw
),
bg AS (
  SELECT doc_id, toks[j.g] AS prev, toks[j.g + 1] AS w
  FROM tokf, UNNEST(CASE WHEN len(toks) >= 2
                         THEN generate_series(1, len(toks) - 1)
                         ELSE [] END) AS j(g)
),
uni AS (
  SELECT u.t AS prev, COUNT(*) AS c1
  FROM tokf, UNNEST(toks) AS u(t) GROUP BY u.t
),
big AS (SELECT prev, w, COUNT(*) AS c2 FROM bg GROUP BY prev, w),
vs AS (SELECT COUNT(*) AS v FROM uni),
q AS (
  SELECT bg.doc_id,
         CAST(floor(CAST(COALESCE(big.c2, 0) + 1 AS DOUBLE)
                    / CAST(COALESCE(uni.c1, 0) + vs.v AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qp
  FROM bg LEFT JOIN big USING (prev, w) LEFT JOIN uni USING (prev), vs
),
lmdoc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(qp) AS BIGINT) AS sum_p_ppm
  FROM q GROUP BY doc_id
),
lm AS (
  SELECT r.doc_id,
         CASE WHEN COALESCE(l.n_bigrams, 0) > 0
              THEN CAST(floor(l.sum_p_ppm / l.n_bigrams) AS BIGINT)
              ELSE 0 END AS mean_p_ppm
  FROM raw r LEFT JOIN lmdoc l USING (doc_id)
),
wins AS (
  SELECT doc_id, u.fp
  FROM tokf, UNNEST(
    CASE WHEN len(toks) >= 8 THEN
      list_transform(generate_series(1, len(toks) - 7),
                     j -> md5(array_to_string(list_slice(toks, j, j + 7), ' ')))
    ELSE [] END) AS u(fp)
),
dupw AS (
  SELECT fp FROM wins GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
),
spandoc AS (
  SELECT w.doc_id,
         COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM wins w LEFT JOIN dupw d USING (fp)
  GROUP BY w.doc_id
),
spans AS (
  SELECT r.doc_id,
         CAST(COALESCE(s.n_windows, 0) AS BIGINT) AS n_windows,
         CAST(COALESCE(s.n_dup_windows, 0) AS BIGINT) AS n_dup_windows
  FROM raw r LEFT JOIN spandoc s USING (doc_id)
),
nn AS (SELECT COUNT(*) AS n FROM raw),
edges AS (
  SELECT r.doc_id AS src, (r.doc_id * 31 + j.j * 977) % nn.n AS dst
  FROM raw r, nn, UNNEST([1, 2, 3]) AS j(j)
  WHERE r.doc_id <> (r.doc_id * 31 + j.j * 977) % nn.n
),
indeg AS (
  SELECT dst AS doc_id, CAST(COUNT(*) AS BIGINT) AS indegree
  FROM edges GROUP BY dst
),
feat AS (
  SELECT f.doc_id,
         f.alpha_ratio, f.punct_ratio, f.stopword_ratio, f.mean_word_len,
         f.dup_word_frac, f.dup_line_frac,
         CAST(l.mean_p_ppm AS DOUBLE) / 1000000.0 AS lm_ppm_norm,
         CAST(s.n_dup_windows AS DOUBLE)
           / CAST(greatest(s.n_windows, 1) AS DOUBLE) AS dup_span_frac,
         CAST(COALESCE(i.indegree, 0) AS DOUBLE)
           / (CAST(COALESCE(i.indegree, 0) AS DOUBLE) + 10.0) AS indeg_sat
  FROM feat6 f JOIN lm l USING (doc_id) JOIN spans s USING (doc_id)
  LEFT JOIN indeg i USING (doc_id)
)
SELECT doc_id, {logit} AS logit, ({logit}) > 0 AS keep
FROM feat ORDER BY doc_id
"""


def _q_quality_classifier_ext_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended quality classifier (operators/classifier.py
    EXT_FEATURES, r4 verdict #7): text-surface features + self-trained
    bigram-LM fluency + cross-doc span duplication + link in-degree
    over a deterministic SQL-expressible link graph (dst =
    (doc_id*31 + j*977) mod N — integer arithmetic, unlike
    link_pagerank's xxhash graph, so DuckDB rebuilds it natively).
    Dialect-split oracle: each signal pipeline restated from its
    individually-proven oracle, features derived with identical
    exact-IEEE expressions, 9-term left-to-right logit chain — logits
    bit-exact."""
    from ..operators.classifier import (DEFAULT_QUALITY_BIAS_EXT,
                                        DEFAULT_QUALITY_WEIGHTS_EXT,
                                        EXT_FEATURES, featurize_extended,
                                        score_quality_lr)

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    n = docs.count()
    edges = (
        docs.select("doc_id", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"))
        .select(F.col("doc_id").alias("src"),
                F.pmod(F.col("doc_id") * 31 + F.col("j") * 977,
                       F.lit(n)).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    feat = featurize_extended(docs, edges=edges, span_fingerprint="md5")
    scored = score_quality_lr(feat, DEFAULT_QUALITY_WEIGHTS_EXT,
                              DEFAULT_QUALITY_BIAS_EXT, EXT_FEATURES)
    return scored.select("doc_id", "logit", "keep").orderBy("doc_id")


_Q_RADIUS_PAIRS_ORACLE = f"""
WITH pts AS ({PTS_SQL})
SELECT a.poi_id AS query_id, b.poi_id AS poi_id,
       sqrt((a.lon - b.lon) * (a.lon - b.lon)
            + (a.lat - b.lat) * (a.lat - b.lat)) AS dist_deg
FROM pts a, pts b
WHERE sqrt((a.lon - b.lon) * (a.lon - b.lon)
           + (a.lat - b.lat) * (a.lat - b.lat)) <= 2.0
ORDER BY query_id, poi_id
"""


def _q_radius_pairs_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance spatial self-join (operators/knn.py radius_join):
    grid-blocked candidate generation + exact degree-space L2 filter.
    Dialect-split oracle: DuckDB runs the labeled n^2 brute force with
    the IDENTICAL IEEE expression (sub/mul/add/sqrt — every boundary
    decision bit-equal), so the blocked join must reproduce the exact
    pair set and distances."""
    from ..operators.knn import radius_join

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL)
    q = pts.select(F.col("poi_id").alias("query_id"), "lon", "lat")
    return radius_join(q, pts, 2.0).orderBy("query_id", "poi_id")


def _q_nearest_poi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guaranteed-exact nearest-neighbor join (operators/knn.py
    nearest_join): expanding grid-ring search, per-left min over
    (d2, id) structs, rounds escalate geometrically until every left
    point has a PROVEN nearest. Coordinates are synthetic integer grid
    points from exact key arithmetic, so d2 is an exact BIGINT and the
    DuckDB oracle — the labeled n^2 brute force with a row_number
    arg-min and the identical tie rule — must match hash-exactly.
    cell0=64 on a 4096-grid forces several escalation rounds at both
    committed SFs (the multi-round path is what's being graded)."""
    from ..operators.knn import nearest_join

    _register(spark, sf_dir, ["customer", "supplier"])
    l = spark.sql(
        "SELECT c_custkey AS qid, "
        "CAST((c_custkey * 7919) % 4096 AS BIGINT) AS x, "
        "CAST((c_custkey * 104729) % 4096 AS BIGINT) AS y FROM customer")
    r = spark.sql(
        "SELECT s_suppkey AS nn_id, "
        "CAST((s_suppkey * 4099) % 4096 AS BIGINT) AS x, "
        "CAST((s_suppkey * 7121) % 4096 AS BIGINT) AS y FROM supplier")
    out = nearest_join(l, r, cell0=64.0, x_col="x", y_col="y",
                       left_id="qid", right_id="nn_id")
    return out.select(
        "qid", "nn_id", F.col("nn_d2").cast("long").alias("nn_d2")
    ).orderBy("qid")


_Q_NEAREST_POI_ORACLE = """
WITH l AS (
  SELECT c_custkey AS qid,
         (c_custkey * 7919) % 4096 AS lx,
         (c_custkey * 104729) % 4096 AS ly
  FROM customer
),
r AS (
  SELECT s_suppkey AS nn_id,
         (s_suppkey * 4099) % 4096 AS rx,
         (s_suppkey * 7121) % 4096 AS ry
  FROM supplier
),
cand AS (
  SELECT qid, nn_id,
         (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry) AS d2,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY (lx - rx) * (lx - rx) + (ly - ry) * (ly - ry), nn_id
         ) AS rn
  FROM l CROSS JOIN r
)
SELECT qid, nn_id, CAST(d2 AS BIGINT) AS nn_d2 FROM cand WHERE rn = 1
"""


def _q_dbscan_clusters_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering (operators/clustering.py): grid-blocked
    eps-graph (radius_join) + large-star/small-star connected
    components over the core subgraph. Integer grid coordinates make
    every sqrt-boundary decision bit-exact; the DuckDB oracle is a
    genuinely different algorithm — n^2 neighbor scan plus a RECURSIVE
    CTE transitive closure — with the same deterministic label rules
    (min core id per component, min label for borders, -1 noise). The
    quadratic key mix breaks the pure-multiplicative lattice so the
    role distribution is a genuine core/border/noise blend.

    eps is DENSITY-ADAPTIVE — 4096*sqrt(3/pi)/sqrt(n) targets ~3
    expected eps-neighbors at every SF, so the query exercises a real
    core/border/noise mix instead of degenerating to all-noise (small
    SF) or one giant component (large SF). Python and DuckDB compute
    eps from the same integer count with the identical IEEE chain
    (div, pi, sqrt, mul — all correctly rounded), so the threshold is
    the same double bit pattern in both engines."""
    import math

    from ..operators.clustering import dbscan

    _register(spark, sf_dir, ["customer"])
    n = spark.sql("SELECT COUNT(*) AS n FROM customer").first()[0]
    eps = 4096.0 * math.sqrt(3.0 / math.pi) / math.sqrt(float(n))
    pts = spark.sql(
        "SELECT c_custkey AS pid, "
        "CAST((c_custkey * c_custkey % 65536 * 7919 + c_custkey * 104729) % 4096"
        " AS BIGINT) AS x, "
        "CAST((c_custkey * c_custkey % 65536 * 4099 + c_custkey * 7121) % 4096"
        " AS BIGINT) AS y FROM customer")
    return dbscan(pts, eps, 3, id_col="pid", x_col="x", y_col="y") \
        .orderBy("pid")


_Q_DBSCAN_ORACLE = """
WITH RECURSIVE pts AS (
  SELECT c_custkey AS id,
         (c_custkey * c_custkey % 65536 * 7919 + c_custkey * 104729) % 4096 AS x,
         (c_custkey * c_custkey % 65536 * 4099 + c_custkey * 7121) % 4096 AS y
  FROM customer
),
eps_t AS (
  SELECT 4096.0 * sqrt(3.0 / pi()) / sqrt(CAST(COUNT(*) AS DOUBLE)) AS eps
  FROM customer
),
pairs AS (
  SELECT a.id AS pa, b.id AS pb
  FROM pts a, pts b
  WHERE sqrt(CAST((a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y) AS DOUBLE))
        <= (SELECT eps FROM eps_t)
),
core AS (SELECT pa AS id FROM pairs GROUP BY pa HAVING COUNT(*) >= 3),
ce AS (
  SELECT pa, pb FROM pairs
  WHERE pa IN (SELECT id FROM core) AND pb IN (SELECT id FROM core)
),
reach(a, b) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.a, ce.pb FROM reach r JOIN ce ON r.b = ce.pa
),
lab AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
border AS (
  SELECT p.pa AS id, MIN(l.cluster) AS cluster
  FROM pairs p JOIN lab l ON p.pb = l.id
  WHERE p.pa NOT IN (SELECT id FROM core) AND p.pa <> p.pb
  GROUP BY p.pa
)
SELECT id AS pid, CAST(cluster AS BIGINT) AS cluster, 'core' AS role FROM lab
UNION ALL
SELECT id AS pid, CAST(cluster AS BIGINT) AS cluster, 'border' AS role FROM border
UNION ALL
SELECT id AS pid, CAST(-1 AS BIGINT) AS cluster, 'noise' AS role FROM pts
WHERE id NOT IN (SELECT id FROM core) AND id NOT IN (SELECT id FROM border)
"""


def _q_mixture_sample_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planner (operators/mixture.py): weights 4:1:1:1
    over src0-src3 at a budget of HALF the pool — src0's share exceeds
    its tokens, so it caps at rate 1 and water-fills the rest. Output:
    per-source rate + achieved sample. Golden oracle: make_goldens
    restates the integer water-fill and the from-spec XXH64 keep rule
    independently."""
    from ..operators.mixture import apply_mixture, mixture_report, plan_mixture

    _register(spark, sf_dir, ["documents"])
    docs = spark.sql(
        "SELECT doc_id, source, "
        "greatest(length(text) - length(replace(text, ' ', '')) + 1, 1) AS n_tokens "
        "FROM documents WHERE doc_id < 2000 "
        "AND source IN ('src0', 'src1', 'src2', 'src3')"
    )
    weights = {"src0": 4.0, "src1": 1.0, "src2": 1.0, "src3": 1.0}
    total = docs.agg(F.sum("n_tokens")).first()[0]
    rates = plan_mixture(docs, weights, int(total) // 2)
    report = mixture_report(apply_mixture(docs, rates))
    rate_rows = [(s, int(r)) for s, r in sorted(rates.items())]
    rates_df = spark.createDataFrame(rate_rows, "source string, rate_ppm long")
    return (
        rates_df.join(report, "source", "left")
        .select("source", "rate_ppm",
                F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"))
        .orderBy("source")
    )


def _q_kmv_quantiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketch (operators/sketch.py): deterministic
    256-row bottom-hash sample of the documents (by doc_id), exact
    lower-index quantiles of n_chars over the sample. Integer values,
    golden verified against an independent from-spec XXH64 bottom-k +
    numpy selection recompute."""
    from ..operators.sketch import kmv_build, kmv_quantiles

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "n_chars")
    sk = kmv_build(docs, "doc_id", value_col="n_chars", k=256)
    return kmv_quantiles(sk, [0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 1.0])


def _q_link_pagerank_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-authority ranking (operators/graph.py pagerank): a
    deterministic synthetic link graph over the documents table (each
    doc emits 3 out-links to pmod(xxhash64(doc_id, j), N), self-loops
    dropped), 10 damped power iterations with uniform dangling
    redistribution. Golden oracle: make_goldens rebuilds the identical
    edge list with from-spec chained XXH64 and runs an independent
    dense numpy power iteration (<= 1e-7 agreement gate), pinning the
    engine's rounded ranks."""
    from ..operators.graph import pagerank

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000).select("doc_id")
    n = docs.count()
    edges = (
        docs.select("doc_id", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"))
        .select(
            F.col("doc_id").alias("src"),
            F.pmod(F.xxhash64(F.col("doc_id"), F.col("j")), F.lit(n)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    pr = pagerank(edges, iters=10, damping=0.85)
    return pr.select(
        "node", F.round("rank", 7).alias("rank7")).orderBy("node")


def _q_span_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span (substring-level) dedup profile
    (operators/dedup.py span_dedup_stats — the distributed ExactSubstr
    analog): every 8-word window fingerprinted (md5 here so DuckDB can
    recompute the identical fingerprints), a window in >= 2 distinct
    docs is a duplicated span; per-doc window/dup-window counts.
    Dialect-split oracle: same tokenization, same 1-based window
    enumeration, same md5-of-space-joined-words in DuckDB list SQL."""
    from ..operators.dedup import span_dedup_stats

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    return span_dedup_stats(docs, k=8, fingerprint="md5").orderBy("doc_id")


def _q_span_removal_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span *removal* (operators/dedup.py
    remove_duplicated_spans): every 8-word window in >= 2 distinct docs
    is cut out of the text (overlapping/adjacent windows interval-merged
    natively). Output pins the rewritten text via md5 fingerprint plus
    the removal accounting. Golden oracle: tools/make_goldens.py
    recomputes removal independently in pure Python keyed on the window
    STRINGS themselves (no hashing at all), interval-merges with a
    from-scratch sweep, and md5s the rewritten text."""
    from ..operators.dedup import remove_duplicated_spans

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    out = remove_duplicated_spans(docs, k=8, min_docs=2)
    return out.select(
        "doc_id",
        F.size(F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                        lambda t: t != "")).cast("long").alias("n_tokens_after"),
        "tokens_removed", "chars_removed",
        F.md5(F.coalesce(F.col("text"), F.lit("\x00__NULL_TEXT__"))).alias("text_fp"),
    ).orderBy("doc_id")


def _q_span_removal_chars_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAR-level ExactSubstr removal (operators/dedup.py
    remove_duplicated_char_spans — Lee et al. 2022 operate on char
    n-grams, not word windows): every 24-char window of the
    whitespace-normalized text occurring in >= 2 distinct docs is cut
    out. The fixture PLANTS a 29-char FIVE-word slogan in every
    doc_id % 5 == 0 document — word-level k=8 windows provably cannot
    see it (5 < 8 words; pinned by test_dedup's side-by-side), char
    windows catch it including a whitespace-variant. Golden oracle:
    tools/make_goldens.py replants the slogan and recomputes removal
    independently in pure Python keyed on the lowercased window
    STRINGS (no hashing), from-scratch interval sweep, md5 of the
    rewritten text."""
    from ..operators.dedup import remove_duplicated_char_spans

    _register(spark, sf_dir, ["documents"])
    slogan = " limited time offer ends soon! visit our store "
    docs = (
        spark.table("documents").filter(F.col("doc_id") < 1500)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")),
                         F.lit(slogan),
                         F.lit("ref"), F.col("doc_id").cast("string")),
            ).otherwise(F.col("text")).alias("text"),
            (F.col("doc_id") % 5 == 0).alias("planted"),
        )
    )
    out = remove_duplicated_char_spans(docs.select("doc_id", "text"),
                                       k=24, min_docs=2)
    return (
        out.join(docs.select("doc_id", "planted"), "doc_id")
        .select(
            "doc_id", "planted",
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
            .alias("n_chars_after"),
            "chars_removed",
            F.md5(F.coalesce(F.col("text"), F.lit("\x00__NULL_TEXT__")))
            .alias("text_fp"),
        ).orderBy("doc_id")
    )


def _q_training_shards_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining sink (plans/curation.py
    curate_to_training_shards): curate -> BPE tokenize -> dense
    vocabulary ids -> bucketed packing -> materialized per-sequence
    token-id shards. Each shard row is pinned by ``tok_fp`` =
    xxhash64 of the comma-joined id stream (exact-integer fingerprint
    of the entire array in document order). Golden oracle: make_goldens
    re-derives survivors via the DuckDB curation mirror, token STREAMS
    via the independent naive BPE encoder, ids via the same
    sorted-vocabulary rule, and the fingerprint via from-spec XXH64."""
    from .curation import curate_to_training_shards

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select("doc_id", "text")
    shards, _ = curate_to_training_shards(docs, budget=2048, num_merges=150,
                                          n_buckets=4)
    return shards.select(
        "lang_detected", "pack_bucket", "seq_id", "n_docs", "n_tokens",
        F.xxhash64(F.concat_ws(",", F.transform(
            "tokens", lambda t: t.cast("string")))).alias("tok_fp"),
    ).orderBy("lang_detected", "pack_bucket", "seq_id")


def _q_bpe_token_count_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE token counts (functions/bpe.py): 150 merges trained on
    the corpus itself (deterministic lexicographic tie-break), then
    distributed encode. Golden verified against an independent naive
    trainer (full pair recount per round, sequential merge-apply
    encoder) in tools/make_goldens.py."""
    from ..functions.bpe import bpe_token_counts, train_bpe_from_corpus

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000).select("doc_id", "text")
    merges = train_bpe_from_corpus(docs, 150)
    return bpe_token_counts(docs, merges).orderBy("doc_id")


def _q_pq_adc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): per-subspace
    codebooks from a deterministic sample, one-byte-per-subspace codes,
    native ADC scoring. Golden verified against an independent
    from-scratch PQ recompute (per-slice Lloyd + numpy ADC) in
    tools/make_goldens.py; nprobe=all IVF-PQ == this brute ADC is
    pinned in tests/test_pq.py."""
    from ..operators.pq import pq_ann, pq_encode, train_pq_codebooks

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings")
    books = train_pq_codebooks(emb, m=16, k=32, max_sample=400)
    enc = pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return pq_ann(enc, books, queries, topk=10).orderBy("query_id", "rn")


def _q_script_fractions_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script fractions + dominant script (multilingual
    curation routing). Exact integer ratios — the DuckDB oracle
    replays the same codepoint-class regexes, so doubles hash-match."""
    from ..functions.text_analysis import SCRIPT_RANGES, script_fractions

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000).select("doc_id", "text")
    cols = ["doc_id"] + [f"{n}_frac" for n in sorted(SCRIPT_RANGES)] + ["dominant_script"]
    return script_fractions(docs).select(*cols).orderBy("doc_id")


def _script_fractions_oracle() -> str:
    from ..functions.text_analysis import SCRIPT_RANGES

    names = sorted(SCRIPT_RANGES)
    fracs = ", ".join(
        f"CAST(length(regexp_replace(text, '[^{SCRIPT_RANGES[n]}]', '', 'g')) AS DOUBLE)"
        f" / greatest(length(text), 1) AS {n}_frac"
        for n in names
    )
    whens = []
    for i, n in enumerate(names[:-1]):
        cond = " AND ".join(f"{n}_frac >= {o}_frac" for o in names[i + 1:])
        whens.append(f"WHEN {cond} THEN '{n}'")
    argmax = "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
    best = "greatest(" + ", ".join(f"{n}_frac" for n in names) + ")"
    sel = ", ".join(f"{n}_frac" for n in names)
    return (
        f"WITH fr AS (SELECT doc_id, {fracs} FROM documents WHERE doc_id < 2000) "
        f"SELECT doc_id, {sel}, "
        f"CASE WHEN {best} >= 0.05 THEN {argmax} ELSE 'other' END AS dominant_script "
        "FROM fr ORDER BY doc_id"
    )


def _q_hll_registers_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over document URLs (operators/
    sketch.py): the mergeable distinct-count sketch a lake stores
    per-partition. Registers/rho are exact integers — golden verified
    against an independent from-spec XXH64 + bit-length recompute."""
    from ..operators.sketch import hll_build

    _register(spark, sf_dir, ["documents"])
    keys = (
        spark.table("documents").filter(F.col("doc_id") < 2000)
        .select(F.concat(F.lit("https://corpus.example/doc/"),
                         F.col("doc_id").cast("string")).alias("url"))
    )
    return hll_build(keys, "url", p=10).orderBy("register")


def _q_cm_frequencies_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency estimates for the document languages
    (a heavy-hitter sketch query): build over per-doc lang keys, probe
    each distinct lang. Exact integers — golden verified against an
    independent XXH64-bucket + Counter recompute."""
    from ..operators.sketch import cm_build, cm_query

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000).select("lang")
    sk = cm_build(docs, "lang", width=256, depth=3)
    cand = docs.select("lang").distinct()
    return cm_query(cand, sk, "lang", width=256, depth=3).orderBy("lang")


_Q_PACK_SEQUENCES = """
WITH toks AS (
  SELECT doc_id, lang,
         greatest(length(text) - length(replace(text, ' ', '')) + 1, 1) AS n_tokens
  FROM documents WHERE doc_id < 2000
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS seq_offset
  FROM toks
)
SELECT doc_id, lang, n_tokens, seq_offset,
       CAST(floor(seq_offset / 2048) AS BIGINT) AS seq_id
FROM packed ORDER BY lang, doc_id
"""


def _q_pack_sequences_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/packing.py): greedy
    contiguous token packing per language under a 2048-token budget.
    SHARED-SQL oracle: the window-cumsum formulation is the same text
    in both dialects; token cost = whitespace token count (exact int
    arithmetic on both sides)."""
    from ..operators.packing import pack_sequences

    _register(spark, sf_dir, ["documents"])
    toks = spark.sql(
        "SELECT doc_id, lang, "
        "greatest(length(text) - length(replace(text, ' ', '')) + 1, 1) AS n_tokens "
        "FROM documents WHERE doc_id < 2000"
    )
    return pack_sequences(toks, budget=2048).orderBy("lang", "doc_id")


def _q_doc_chunks_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (operators/packing.py
    chunk_documents): RAG/long-doc preprocessing — every document splits
    into overlapping windows of up to 16 whitespace tokens, overlap 4
    (stride 12). DIALECT-SPLIT oracle: DuckDB replays the window rule
    with generate_series (inclusive list scalar) + 1-based-inclusive
    list_slice; chunk_idx = (start-1)//stride; both sides join chunk
    text with single spaces (exact strings — content-pinned)."""
    from ..operators.packing import chunk_documents

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter("length(text) > 0") \
        .select("doc_id", "text")
    return chunk_documents(docs, max_tokens=16, overlap=4)


_Q_DOC_CHUNKS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
  FROM documents WHERE length(text) > 0
),
nz AS (
  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
),
st AS (
  SELECT doc_id, tk, u.s AS s
  FROM nz, UNNEST(generate_series(1, greatest(n - 4, 1), 12)) AS u(s)
)
SELECT doc_id,
       CAST((s - 1) // 12 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(tk, s, s + 15)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(tk, s, s + 15), ' ') AS chunk_text
FROM st
"""


def _q_ngram_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics (functions/text_analysis.py
    ngram_topk): top-200 trigrams by exact count, deterministic
    (count desc, gram asc) tie-break. DIALECT-SPLIT oracle: DuckDB
    enumerates the same windows with generate_series + 1-based
    list_slice; counts are exact integers."""
    from ..functions.text_analysis import ngram_topk

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter("length(text) > 0") \
        .select("text")
    out = ngram_topk(docs, n=3, k=200)
    return out.select("gram", F.col("cnt").cast("long").alias("cnt"))


_Q_NGRAM_TOPK_ORACLE = r"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS tk
  FROM documents WHERE length(text) > 0
),
grams AS (
  SELECT array_to_string(list_slice(tk, s, s + 2), ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(tk) - 2, 1)) AS u(s)
  WHERE len(tk) >= 3
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM grams GROUP BY gram
ORDER BY cnt DESC, gram ASC LIMIT 200
"""


def _q_salted_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/skew.py): heavy o_custkeys
    detected from the data (count > 12), their fact rows spread over 8
    deterministic xxhash64 salts with the dim side's heavy slice
    replicated to match, light keys joined untouched. Salting is a
    PHYSICAL rewrite — the oracle is the plain inner-join SQL, so the
    driver hash proves result identity."""
    from ..operators.skew import detect_heavy_keys, salted_join

    _register(spark, sf_dir, ["orders", "customer"])
    orders = spark.table("orders")
    cust = spark.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment")
    heavy = detect_heavy_keys(orders, "o_custkey", threshold=12)
    out = salted_join(orders, cust, "o_custkey", heavy, "o_orderkey",
                      n_salts=8)
    return out.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
                      "o_totalprice")


_Q_SALTED_JOIN_ORACLE = """
SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def _q_time_rollup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (operators/temporal.py time_rollup):
    one ROLLUP pass over events producing total -> type -> day -> hour
    grains in a single shuffle (Expand + one HashAggregate pair,
    plan-asserted in test_temporal). DIALECT-SPLIT oracle: DuckDB
    GROUP BY ROLLUP with the same explicit GROUPING() grain id; value
    aggregate is the exact-integer floor(value*1000) milli-sum (the
    identical IEEE multiply+floor on both engines, BIGINT sum)."""
    from ..operators.temporal import time_rollup

    _register(spark, sf_dir, ["events"])
    return time_rollup(spark.table("events"))


_Q_TIME_ROLLUP_ORACLE = """
WITH base AS (
  SELECT event_type AS dim,
         strftime(ts, '%Y-%m-%d') AS day,
         strftime(ts, '%Y-%m-%d %H') AS hour,
         CAST(floor(value * 1000) AS BIGINT) AS vmilli
  FROM events
)
SELECT coalesce(dim, 'ALL') AS dim,
       coalesce(day, 'ALL') AS day,
       coalesce(hour, 'ALL') AS hour,
       CAST(GROUPING(dim)*4 + GROUPING(day)*2 + GROUPING(hour) AS BIGINT) AS grain,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(vmilli) AS BIGINT) AS value_milli_sum
FROM base
GROUP BY ROLLUP (dim, day, hour)
"""


def _q_incremental_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup probe (operators/dedup.py): the corpus split
    into a signature INDEX (doc_id % 3 != 0) and a NEW batch
    (doc_id % 3 == 0); the batch probes the index via the persisted
    (band, bucket) LSH rows without ever touching the historical text
    — the continuous-crawl shape. GOLDEN oracle: independent
    pure-Python minhash recompute (tools/make_goldens.py) restricted
    to cross-split candidate pairs; jaccard_est is the exact rational
    matches/64."""
    from ..operators.dedup import (incremental_minhash_matches,
                                   minhash_banded_signatures)

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    index = minhash_banded_signatures(
        docs.filter(F.col("doc_id") % 3 != 0), num_perm=64, bands=16)
    return incremental_minhash_matches(
        docs.filter(F.col("doc_id") % 3 == 0), index,
        num_perm=64, bands=16, jaccard_threshold=0.5
    ).orderBy("new_id", "index_id")


def _q_zorder_keys_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout keys (operators/layout.py): Morton interleave of
    synthetic 16-bit grid coordinates derived from c_custkey by exact
    integer arithmetic. DIALECT-SPLIT oracle: DuckDB replays the
    identical spread shifts/masks in BIGINT SQL — the key is pure
    integer bit arithmetic, so the hash match is bit-exact."""
    from ..operators.layout import zorder_key

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(
        "SELECT c_custkey, "
        "CAST((c_custkey * 7919) % 65536 AS BIGINT) AS gx, "
        "CAST((c_custkey * 104729) % 65536 AS BIGINT) AS gy "
        "FROM customer")
    return pts.select(
        "c_custkey", "gx", "gy",
        zorder_key(F.col("gx"), F.col("gy")).alias("zkey"))


_Q_ZORDER_KEYS_ORACLE = """
WITH pts AS (
  SELECT c_custkey,
         (c_custkey * 7919) % 65536 AS gx,
         (c_custkey * 104729) % 65536 AS gy
  FROM customer
),
s1 AS (SELECT c_custkey, gx, gy,
       ((gx | (gx << 8)) & 16711935) AS ax,
       ((gy | (gy << 8)) & 16711935) AS ay FROM pts),
s2 AS (SELECT c_custkey, gx, gy,
       ((ax | (ax << 4)) & 252645135) AS bx,
       ((ay | (ay << 4)) & 252645135) AS by FROM s1),
s3 AS (SELECT c_custkey, gx, gy,
       ((bx | (bx << 2)) & 858993459) AS cx,
       ((by | (by << 2)) & 858993459) AS cy FROM s2),
s4 AS (SELECT c_custkey, gx, gy,
       ((cx | (cx << 1)) & 1431655765) AS dx,
       ((cy | (cy << 1)) & 1431655765) AS dy FROM s3)
SELECT c_custkey,
       CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(dx | (dy << 1) AS BIGINT) AS zkey
FROM s4
"""


_Q_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id < 2000 AND doc_id % 5 <> 0
),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN md5(concat(text, '!')) ELSE md5(text) END AS fp
  FROM documents WHERE doc_id < 2000 AND doc_id % 5 <> 1
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.fp IS NULL THEN 'added'
            WHEN new.fp IS NULL THEN 'removed'
            WHEN old.fp <> new.fp THEN 'changed'
            ELSE 'unchanged' END AS change
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
ORDER BY doc_id
"""


def _q_snapshot_diff_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl change detection (operators/sampling.py:
    snapshot_diff): two synthetic snapshots carved from documents (a
    fifth of docs dropped on each side, every seventh re-fingerprinted)
    diffed by content fingerprint. Shared-SQL oracle."""
    from ..operators.sampling import snapshot_diff

    _register(spark, sf_dir, ["documents"])
    base = spark.table("documents").filter(F.col("doc_id") < 2000)
    old = base.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5("text").alias("fp"))
    new = base.filter(F.col("doc_id") % 5 != 1).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.md5(F.concat(F.col("text"), F.lit("!"))))
        .otherwise(F.md5("text")).alias("fp"))
    return snapshot_diff(old, new, "doc_id", "fp").orderBy("doc_id")


def _q_contamination_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination pairs (operators/dedup.py): 5 documents
    act as the 'eval suite'; every corpus doc sharing >= 3 distinct
    8-word shingles with one of them is flagged. Golden verified
    against an independent pure-Python shingle-set recompute."""
    from ..operators.dedup import contamination_pairs

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000).select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("eval_id"), "text")
    return (contamination_pairs(docs, evals, k=8, min_shared=3)
            .orderBy("doc_id", "eval_id"))


_Q_TFIDF_ORACLE = """
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
    FROM base
  ) WHERE term <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM base),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ((n.n + 1.0) / (df.df + 1.0)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score, rn FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, tf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 5
"""




def _q_fingerprint_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints (xxhash64 over case/whitespace-normalized
    text). Golden verified against a from-spec pure-Python XXH64 in
    tools/make_goldens.py — pins Spark's hash AND the normalization."""
    from ..functions.text_analysis import fingerprint_col

    _register(spark, sf_dir, ["documents"])
    return (
        spark.table("documents")
        .select("doc_id", fingerprint_col(F.col("text")).alias("fp"))
        .orderBy("doc_id")
        .limit(2000)
    )


def _q_ann_ivf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted-file) ANN over embeddings — the other scale
    path beside sign-LSH; kmeans is seeded so results are deterministic."""
    from ..operators.similarity import ivf_ann, ivf_index

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings")
    centroids, indexed = ivf_index(emb, n_centroids=8, seed=19)
    queries = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_ann(indexed, centroids, queries, k=10, nprobe=3)
    return out.withColumn("cos_sim", F.round("cos_sim", 6)).orderBy("query_id", "rn")


def _q_ann_lsh_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN over embeddings (scale path of cosine_topk)."""
    from ..operators.similarity import lsh_bucket_ann

    _register(spark, sf_dir, ["embeddings"])
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    ann = lsh_bucket_ann(emb, queries, k=10, bits=6)
    return ann.withColumn("cos_sim", F.round("cos_sim", 6)).orderBy("query_id", "rn")

def _mvt_tiles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared tile-build plan for the MVT contract query + golden
    generator: customer points -> z2-5 pyramid -> per-tile feature agg
    -> MVT binary encode."""
    from ..operators.mvt import encode_tiles_mvt
    from ..operators.tiling import assign_tile_pyramid, build_tiles

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(
        f"WITH pts AS ({PTS_SQL}) SELECT poi_id, lon, lat, "
        "concat('poi-', CAST(poi_id AS STRING)) AS name, "
        "CASE poi_id % 3 WHEN 0 THEN 'cafe_bakery' WHEN 1 THEN 'retail' ELSE 'lodging' END AS class "
        "FROM pts"
    )
    tiles = build_tiles(assign_tile_pyramid(pts, 2, 5))
    return encode_tiles_mvt(tiles)


def _q_mvt_tile_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 completion: binary MVT tile encoding, summarized per zoom.
    ``mvt_crc_xor`` pins the exact bytes (bit_xor of crc32 — ANSI-safe,
    and zlib.crc32 recomputes it independently in the golden generator)."""
    enc = _mvt_tiles_df(spark, sf_dir)
    return (
        enc.groupBy("z")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("n_features").alias("n_feats"),
            F.sum(F.length("mvt")).alias("mvt_bytes"),
            F.expr("bit_xor(crc32(mvt))").alias("mvt_crc_xor"),
        )
        .orderBy("z")
    )


def _q_media_features_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-suite contract row (operators/multimodal.py + the from-spec
    PNG/JPEG/GIF/WAV codecs in functions/): the deterministic synthetic
    media fixture decoded through ``decode_image_pixels`` /
    ``decode_audio_samples``, pinned per item by TWO exact integers —
    ``payload_crc`` (crc32 of the encoder's bytes) and ``content_crc``
    (crc32 of the decoded pixel buffer / float64 sample bytes). Golden
    oracle: make_goldens re-derives the source arrays from their
    formulas and recomputes content CRCs WITHOUT the decoders (lossless
    PNG/GIF round-trip + PCM quantization math); JPEG rows are pinned
    by determinism + baseline==progressive decode parity."""
    from ..operators.multimodal import (decode_audio_samples,
                                        decode_image_pixels,
                                        make_synthetic_media)

    media = make_synthetic_media(spark, 64)
    payload_crc = media.select(
        "media_id", "kind", F.crc32("payload").alias("payload_crc"))
    pix = decode_image_pixels(media.filter(F.col("kind") == "image")).select(
        "media_id", "width", "height", "channels",
        F.lit(0).alias("n_frames"), F.lit(0).alias("sample_rate"),
        F.when(F.col("ok"), F.crc32("pixels")).otherwise(F.lit(0)).cast("long")
        .alias("content_crc"),
        "ok")
    aud = decode_audio_samples(media.filter(F.col("kind") == "audio")).select(
        "media_id", F.lit(0).alias("width"), F.lit(0).alias("height"),
        F.col("n_channels").alias("channels"), "n_frames", "sample_rate",
        F.when(F.col("ok"), F.crc32("samples")).otherwise(F.lit(0)).cast("long")
        .alias("content_crc"),
        "ok")
    vid = media.filter(F.col("kind") == "video").select(
        "media_id", F.lit(0).alias("width"), F.lit(0).alias("height"),
        F.lit(0).alias("channels"), F.lit(0).alias("n_frames"),
        F.lit(0).alias("sample_rate"), F.lit(0).cast("long").alias("content_crc"),
        F.lit(False).alias("ok"))
    decoded = pix.unionByName(aud).unionByName(vid)
    return (
        F.broadcast(payload_crc).join(decoded, "media_id")
        .select("media_id", "kind", "width", "height", "channels",
                "n_frames", "sample_rate", "payload_crc", "content_crc", "ok")
        .orderBy("media_id")
    )


_Q_ASOF_JOIN_ORACLE = """
WITH l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
r0 AS (
  SELECT user_id, ts, event_id AS snap_id, value
  FROM events WHERE event_type = 'view'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS snap_ts,
       r.snap_id, r.value AS snap_value
FROM l ASOF LEFT JOIN r0 r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def _q_asof_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py asof_join): every click event
    matched to the user's latest view event at or before it — the
    union + running-last-value native form (one shuffle, no range
    explosion). Oracle: DuckDB's NATIVE ``ASOF LEFT JOIN`` — a
    different algorithm for the same definition, so every match
    (including <= boundary ties) is cross-verified. The view side is
    deduped per (user_id, ts) on both engines (max event_id) so the
    as-of winner is unambiguous."""
    from ..operators.temporal import asof_join

    _register(spark, sf_dir, ["events"])
    clicks = spark.sql(
        "SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'")
    views = spark.sql(
        "SELECT user_id, ts, snap_id, value FROM ("
        "  SELECT user_id, ts, event_id AS snap_id, value, "
        "         row_number() OVER (PARTITION BY user_id, ts "
        "                            ORDER BY event_id DESC) AS rn "
        "  FROM events WHERE event_type = 'view') WHERE rn = 1")
    out = asof_join(clicks, views, "user_id", right_prefix="snap_")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("click_ts"),
        F.date_format("snap_ts", _TS_FMT_SPARK).alias("snap_ts"),
        F.col("snap_snap_id").alias("snap_id"),
        F.col("snap_value").alias("snap_value"),
    ).orderBy("event_id")


_Q_INTERVAL_JOIN_ORACLE = """
WITH l AS (
  SELECT user_id, event_id AS a, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(floor(value * 2000000000) AS BIGINT) AS e
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, event_id AS b, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(floor(value * 1000000000) AS BIGINT) AS e
  FROM events WHERE event_type = 'view'
)
SELECT l.user_id, l.a, r.b
FROM l JOIN r ON l.user_id = r.user_id AND l.s <= r.e AND r.s <= l.e
ORDER BY l.user_id, l.a, r.b
"""


def _q_interval_join_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/temporal.py interval_join):
    click activity windows x view activity windows per user, paired by
    bin blocking (hash join on (user, bin)) + the exact overlap filter
    — the scale form of a range join Spark would otherwise plan as a
    nested loop. Endpoints are EXACT-INTEGER microseconds
    (unix_micros == DuckDB epoch_us under the UTC session; durations
    floor-cast, never bare-cast — DuckDB rounds, Spark truncates).
    Dialect-split oracle: DuckDB runs the labeled brute-force non-equi
    join over the identical integers, so the blocked join must
    reproduce the exact pair set; bin width provably cannot change it
    (pytest-asserted invariance). Micros up to ~1.7e15 < 2^53 stay
    exact through the operator's internal double cast."""
    from ..operators.temporal import interval_join

    _register(spark, sf_dir, ["events"])
    clicks = spark.sql(
        "SELECT user_id, event_id AS a, "
        "unix_micros(CAST(ts AS TIMESTAMP)) AS s, "
        "unix_micros(CAST(ts AS TIMESTAMP)) + "
        "CAST(floor(value * 2000000000) AS BIGINT) AS e "
        "FROM events WHERE event_type = 'click'")
    views = spark.sql(
        "SELECT user_id, event_id AS b, "
        "unix_micros(CAST(ts AS TIMESTAMP)) AS s, "
        "unix_micros(CAST(ts AS TIMESTAMP)) + "
        "CAST(floor(value * 1000000000) AS BIGINT) AS e "
        "FROM events WHERE event_type = 'view'")
    out = interval_join(clicks, views, "s", "e", "s", "e", on="user_id",
                        bin_width=3600e6, left_id="a", right_id="b")
    return out.select("user_id", "a", "b").orderBy("user_id", "a", "b")


def _q_hashed_embedding_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text embeddings (functions/embed.py): tokens
    bucketed by native xxhash64 mod 256, per-doc tf, per-bucket df over
    the FULL corpus, rational IDF surrogate weight = tf * (N+1) /
    (df+1) (one exact-IEEE divide — the r3 rational-surrogate rule).
    Output: the sparse entries for doc_id < 100 (bounded, transparent —
    the dense-array form is fingerprint-hostile). Golden oracle:
    make_goldens re-derives buckets via the from-spec chained XXH64,
    counts in pure Python, and the identical IEEE weight expression."""
    from ..functions.embed import hashed_tfidf_entries

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    entries = hashed_tfidf_entries(docs, dim=256)
    return entries.filter(F.col("doc_id") < 100).select(
        "doc_id", "bucket",
        F.col("tf").cast("long").alias("tf"),
        F.col("df_bucket").cast("long").alias("df_bucket"),
        "weight",
    ).orderBy("doc_id", "bucket")


def _q_semantic_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (operators/similarity.py
    semantic_dedup): the embeddings table augmented with planted
    near-duplicates (every vec_id % 4 == 0 gets a copy at id + 10^6,
    perturbed by the exact-IEEE rule x_i + 0.01 * ((vec_id + i) % 5 -
    2)), clustered by the deterministic seeded Lloyd's, greedily pruned
    within clusters at tau = 0.95. Golden oracle: make_goldens
    re-derives the augmentation, the centroids (restated Lloyd's), the
    assignments and the greedy keep/dup_of decisions independently in
    numpy — keep flags and dup links compared exactly, cosines to
    1e-9."""
    from ..operators.similarity import semantic_dedup

    _register(spark, sf_dir, ["embeddings"])
    base = spark.sql(
        "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS embedding "
        "FROM embeddings")
    copies = spark.sql(
        "SELECT vec_id + 1000000 AS vec_id, "
        "transform(CAST(embedding AS ARRAY<DOUBLE>), "
        "(x, i) -> x + 0.01 * CAST((vec_id + i) % 5 - 2 AS DOUBLE)) AS embedding "
        "FROM embeddings WHERE vec_id % 4 = 0")
    out = semantic_dedup(base.unionByName(copies), tau=0.95, n_centroids=8)
    return out.select(
        "vec_id", "centroid_id", "keep", "dup_of",
        F.round("max_cos", 7).alias("max_cos7"),
    ).orderBy("vec_id")


def _q_kmv_setops_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates (operators/sketch.py
    kmv_set_estimates): Jaccard/union/intersection of two overlapping
    doc-id slices FROM THEIR SKETCHES ALONE (Beyer et al. 2007 bottom-k
    trick). One row, every value an exact integer/rational over the
    deterministic hash sample. Golden oracle: make_goldens re-derives
    both bottom-k sketches with from-spec chained XXH64, merges,
    counts shared hashes and replays the identical estimator
    arithmetic."""
    from ..operators.sketch import kmv_build, kmv_set_estimates

    _register(spark, sf_dir, ["documents"])
    a = spark.sql("SELECT doc_id FROM documents WHERE doc_id < 1500")
    b = spark.sql("SELECT doc_id FROM documents "
                  "WHERE doc_id >= 250 AND doc_id < 2000")
    sa = kmv_build(a, "doc_id", k=256)
    sb = kmv_build(b, "doc_id", k=256)
    return kmv_set_estimates(sa, sb, k=256)


def _q_polygon_intersection_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon x polygon intersection join (operators/spatial_join.py
    polygon_intersection_join): axis-aligned squares (even poi_ids,
    half-width 2 + (id%5)) x diamonds (ids divisible by 3, radius
    2.5 + 0.8*(id%7)) around the deterministic PTS points — grid
    blocking + exact proper-crossing/containment refine. Golden oracle:
    make_goldens re-derives every ring from the closed formulas and
    brute-forces ALL pairs with a NAIVE scalar restatement of the
    segment-crossing + even-odd tests (different algorithm shape from
    the vectorized engine kernel), pinning both the geometry and the
    blocking's completeness."""
    from ..operators.spatial_join import polygon_intersection_join

    _register(spark, sf_dir, ["customer"])
    spark.sql(f"CREATE OR REPLACE TEMP VIEW _pts AS {PTS_SQL}")
    left = spark.sql(
        "SELECT poi_id AS polygon_id, array(array("
        "array(lon - w, lat - w), array(lon + w, lat - w), "
        "array(lon + w, lat + w), array(lon - w, lat + w), "
        "array(lon - w, lat - w))) AS rings FROM ("
        "  SELECT poi_id, lon, lat, "
        "         2.0 + CAST(poi_id % 5 AS DOUBLE) * 1.0 AS w "
        "  FROM _pts WHERE poi_id % 2 = 0)")
    right = spark.sql(
        "SELECT poi_id AS polygon_id, array(array("
        "array(lon + r, lat), array(lon, lat + r), "
        "array(lon - r, lat), array(lon, lat - r), "
        "array(lon + r, lat))) AS rings FROM ("
        "  SELECT poi_id, lon, lat, "
        "         2.5 + CAST(poi_id % 7 AS DOUBLE) * 0.8 AS r "
        "  FROM _pts WHERE poi_id % 3 = 0)")
    out = polygon_intersection_join(left, right, cover_zoom=6)
    return out.select(F.col("a").cast("long").alias("a"),
                      F.col("b").cast("long").alias("b")).orderBy("a", "b")


def _q_polyline_simplify_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker polyline simplification (functions/geometry.py
    simplify_polylines — the tippecanoe per-zoom simplification stage
    as a first-class kernel instead of a subprocess, cf. reference
    merge step shelling to tippecanoe). Deterministic integer-lattice
    polylines synthesized per customer key: line k has
    24 + (k % 17) + 1 vertices, vertex i at
    (4*i, (k*7 + i*i*13) % 41 - 20) — every DP decision compares
    cross^2 > tol^2*|chord|^2 on integer-valued float64, so the kept
    set is exact and reproducible. Output pins the kept-index set
    (md5 of the '|'-joined indices), the materialized simplified
    geometry (md5 of 'x,y' integer pairs via the native
    transform(kept_idx, i -> line[i]) projection), and count/sum
    aggregates. Golden oracle: tools/make_goldens.py re-derives every
    polyline from the closed formula and recomputes DP with an
    INDEPENDENT pure-Python recursive implementation (recursion vs the
    engine's explicit stack, scalar max-scan vs np.argmax — same
    first-max tie rule), then restates both fingerprints."""
    from ..functions.geometry import simplify_polylines

    _register(spark, sf_dir, ["customer"])
    lines = spark.sql(
        "SELECT c_custkey AS line_id, "
        "transform(sequence(0, 24 + CAST(c_custkey % 17 AS INT)), "
        "  i -> array(CAST(i * 4 AS DOUBLE), "
        "             CAST((c_custkey * 7 + i * i * 13) % 41 - 20 AS DOUBLE))) "
        "AS line FROM customer")
    out = simplify_polylines(lines, tol=5.0)
    simp = F.expr("transform(kept_idx, i -> line[i])")
    return out.select(
        F.col("line_id").cast("long").alias("line_id"),
        F.size("line").cast("long").alias("n_pts"),
        F.size("kept_idx").cast("long").alias("n_kept"),
        F.expr("aggregate(kept_idx, 0L, (a, x) -> a + x)").alias("kept_sum"),
        F.md5(F.concat_ws("|", F.expr(
            "transform(kept_idx, i -> CAST(i AS STRING))"))).alias("kept_fp"),
        F.md5(F.concat_ws("|", F.transform(simp, lambda p: F.concat_ws(
            ",", p[0].cast("long").cast("string"),
            p[1].cast("long").cast("string"))))).alias("simp_fp"),
    ).orderBy("line_id")


def _q_dsir_scores_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring + resampling (operators/importance.py,
    Xie et al. 2023): raw = documents doc_id < 2000, target = the
    lang='en' slice of the same; hashed unigram+bigram buckets
    (xxhash64 seed 42, dim 1024), exact-bigint rational likelihood
    ratio in ppm, deterministic top-400 selection. Golden oracle:
    tools/make_goldens.py recomputes buckets via the from-spec chained
    XXH64, distributions/ratios/scores in pure-Python bigints (same
    floors), and the selection by an independent sort."""
    from ..operators.importance import importance_scores, importance_select

    _register(spark, sf_dir, ["documents"])
    raw = spark.sql("SELECT doc_id, text, lang FROM documents WHERE doc_id < 2000")
    target = raw.where(F.col("lang") == "en")
    scores = importance_scores(raw, target, dim=1024, n=2)
    sel = importance_select(scores, 400).select("doc_id", F.lit(1).alias("_k"))
    return (
        scores.join(sel, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("score_ppm").cast("long").alias("score_ppm"),
            F.coalesce(F.col("_k"), F.lit(0)).cast("long").alias("kept"))
        .orderBy("doc_id")
    )


def _q_simplify_pyramid_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zoom DP simplification pyramid (functions/geometry.py
    simplify_pyramid — tippecanoe's per-zoom simplify stage): ONE
    Arrow UDF pass computes each vertex's squared elimination
    tolerance (DP persistence — the split vertex is
    tolerance-independent, so kept sets nest across tolerances), then
    every zoom's geometry is a native arrays_zip filter at
    tol = 2.0 * 2^(14-z). Same closed-formula polylines as
    polyline_simplify. Golden oracle: tools/make_goldens.py runs a
    DIRECT recursive DP at each zoom's tolerance — different algorithm
    shape (5 independent simplifications vs one persistence pass +
    thresholds), so the fixture pins the nesting identity itself."""
    from ..functions.geometry import simplify_pyramid

    _register(spark, sf_dir, ["customer"])
    lines = spark.sql(
        "SELECT c_custkey AS line_id, "
        "transform(sequence(0, 24 + CAST(c_custkey % 17 AS INT)), "
        "  i -> array(CAST(i * 4 AS DOUBLE), "
        "             CAST((c_custkey * 7 + i * i * 13) % 41 - 20 AS DOUBLE))) "
        "AS line FROM customer")
    out = simplify_pyramid(lines, base_tol=2.0, min_zoom=10, max_zoom=14)
    return out.select(
        F.col("line_id").cast("long").alias("line_id"),
        F.col("z").cast("long").alias("z"),
        F.size("simp").cast("long").alias("n_kept"),
        F.md5(F.concat_ws("|", F.transform("simp", lambda p: F.concat_ws(
            ",", p[0].cast("long").cast("string"),
            p[1].cast("long").cast("string"))))).alias("simp_fp"),
    ).orderBy("line_id", "z")


_Q_CRAWL_SCHEDULE_ORACLE = """
WITH urls AS (
  SELECT doc_id, doc_id % 37 AS host_id,
         concat('h', CAST(doc_id % 37 AS STRING), '.example.com') AS host,
         200 + (doc_id % 37) * 50 AS delay_ms
  FROM documents WHERE doc_id < 2000
), sched AS (
  SELECT doc_id, host, host_id, delay_ms,
         CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1 AS BIGINT) AS slot
  FROM urls
)
SELECT doc_id, host, slot,
       CAST(slot * delay_ms AS BIGINT) AS fetch_at_ms,
       CAST(host_id % 8 AS BIGINT) AS worker,
       CAST(CASE WHEN slot >= 10 THEN 1 ELSE 0 END AS BIGINT) AS deferred
FROM sched ORDER BY doc_id
"""


def _q_crawl_schedule_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polite crawl scheduling (operators/crawl.py schedule_fetches):
    host-bucketed fetch planning with per-host Crawl-delay politeness
    — one hash shuffle on the host key, row_number politeness slots,
    cycle cap marking rows deferred to the next crawl cycle. Hosts and
    delays synthesized deterministically from doc_id (documents carry
    no url column); the worker expression is the injectable
    integer-arithmetic form so the oracle runs in DuckDB (the default
    is xxhash64-based). Oracle: the schedule restated as window SQL in
    the shared dialect subset."""
    from ..operators.crawl import schedule_fetches

    _register(spark, sf_dir, ["documents"])
    urls = spark.sql(
        "SELECT doc_id, doc_id % 37 AS host_id, "
        "concat('h', CAST(doc_id % 37 AS STRING), '.example.com') AS host, "
        "200 + (doc_id % 37) * 50 AS delay_ms "
        "FROM documents WHERE doc_id < 2000")
    out = schedule_fetches(
        urls, host_col="host", order_col="doc_id",
        delay_ms_col="delay_ms",
        worker_expr=F.col("host_id") % 8,
        max_per_host=10)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("host"),
        F.col("slot"),
        F.col("fetch_at_ms"),
        F.col("worker"),
        F.col("deferred").cast("long").alias("deferred"),
    ).orderBy("doc_id")


_BM25_TERMS = ["spark", "merge", "window", "vector"]

# Every literal in the BM25 chain is binary-exact (k1=1.0 -> k1+1=2.0,
# b=0.75 -> 1-b=0.25), every input an exact integer, and the operator's
# association order is mirrored term for term — so each per-(term, doc)
# contribution is IEEE bit-identical across engines, and quantizing to
# ppm ints BEFORE the per-doc sum makes the total reduction-order-free
# (the bigram-LM oracle pattern).
_Q_BM25_ORACLE = """
WITH toks AS (
  SELECT doc_id, u.term AS term
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z0-9]+') AS tk
        FROM documents WHERE doc_id < 2000) t,
       UNNEST(t.tk) AS u(term)
  WHERE u.term <> ''
), dls AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents WHERE doc_id < 2000) AS n_docs,
         (SELECT COALESCE(SUM(dl), 0) FROM dls) AS sum_dl
), post AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM toks
  WHERE term IN ('spark', 'merge', 'window', 'vector')
  GROUP BY term, doc_id
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM post GROUP BY term
), contrib AS (
  SELECT post.doc_id,
         CAST(FLOOR(1000000.0
           * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
              / (CAST(df AS DOUBLE) + 0.5))
           * ((CAST(tf AS DOUBLE) * 2.0)
              / (CAST(tf AS DOUBLE)
                 + 1.0 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                     / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
         AS BIGINT) AS ppm
  FROM post JOIN dfreq USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(ppm) AS BIGINT) AS score_ppm
FROM contrib GROUP BY doc_id
ORDER BY score_ppm DESC, doc_id LIMIT 300
"""


def _q_bm25_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over an inverted index (operators/
    retrieval.py): postings build is the word-count shuffle shape,
    corpus stats ride a broadcast 1-row cross-join, query terms a
    broadcast join, top-k TakeOrderedAndProject. k1=1.0 / b=0.75 keep
    every literal binary-exact, so per-term contributions are IEEE
    bit-identical cross-engine; ppm quantization before the doc sum
    makes scores reduction-order-free. Oracle: the identical chain
    restated in DuckDB (dialect split only for tokenization)."""
    from ..operators.retrieval import bm25_topk

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    out = bm25_topk(docs, _BM25_TERMS, k=300, k1=1.0, b=0.75)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("score_ppm").cast("long").alias("score_ppm"),
    )


_Q_PMI_ORACLE = """
WITH toked AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id < 2000
), pairs AS (
  SELECT tk[g.i] AS w1, tk[g.i + 1] AS w2
  FROM toked t, UNNEST(generate_series(1, len(t.tk) - 1)) AS g(i)
  WHERE len(t.tk) >= 2
), big AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY w1, w2
), lft AS (
  SELECT w1, SUM(c_ab) AS c_a FROM big GROUP BY w1
), rgt AS (
  SELECT w2, SUM(c_ab) AS c_b FROM big GROUP BY w2
), tot AS (
  SELECT SUM(c_ab) AS n_bi FROM big
)
SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
       CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
       CAST((1000000 * c_ab * n_bi) // (c_a * c_b) AS BIGINT) AS pmi_ppm
FROM big JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
WHERE c_ab >= 5
ORDER BY pmi_ppm DESC, w1, w2 LIMIT 500
"""


def _q_pmi_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (functions/text_analysis.py
    pmi_bigrams): contingency-table word association in exact-bigint
    ppm (truncating DIV == DuckDB // for positive counts — no floats
    anywhere). One explode + one count shuffle; marginals derive from
    the aggregated bigram table. Oracle: dialect split only for
    tokenization/UNNEST; the integer arithmetic is shared."""
    from ..functions.text_analysis import pmi_topk

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000)
    return pmi_topk(docs, k=500, min_count=5).select(
        "w1", "w2",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        F.col("pmi_ppm").cast("long").alias("pmi_ppm"),
    )


_BLOCKLIST_TERMS = ("junk", "slow", "spam")

_Q_BLOCKLIST_ORACLE = """
WITH toked AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents WHERE doc_id < 2000
), hit AS (
  SELECT doc_id, len(tk) AS n_tok,
         list_filter(tk, x -> list_contains(['junk', 'slow', 'spam'], x)) AS hits
  FROM toked
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens_bl,
       CAST(len(hits) AS BIGINT) AS n_blocked,
       CAST(len(hits) AS DOUBLE) / GREATEST(n_tok, 1) AS blocked_frac,
       md5(COALESCE(array_to_string(list_sort(list_distinct(hits)), '|'), '')) AS blocked_terms_fp,
       len(hits) * 50 <= GREATEST(n_tok, 1) AS kept
FROM hit ORDER BY doc_id
"""


def _q_blocklist_filter_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist (bad-words) gate (functions/text_analysis.py
    blocklist_features): exact whole-token case-insensitive matching
    against a bounded term list — one tokenize + one ``filter`` HOF
    against an array literal, map-only. ``kept`` uses the EXACT
    integer form of the 2% threshold (``n_blocked * 50 <= n_tokens``)
    — 0.02 is not binary-representable, so a float comparison could
    flip at the boundary across engines; the integer rule cannot.
    Dialect-split oracle: DuckDB list_filter/list_contains over the
    same whitespace tokenization, same md5 of the sorted distinct
    matched terms, same integer keep rule."""
    from ..functions.text_analysis import blocklist_features

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(F.col("doc_id") < 2000) \
        .select("doc_id", "text")
    out = blocklist_features(docs, _BLOCKLIST_TERMS)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens_bl").cast("long").alias("n_tokens_bl"),
        F.col("n_blocked").cast("long").alias("n_blocked"),
        "blocked_frac", "blocked_terms_fp",
        (F.col("n_blocked") * 50
         <= F.greatest(F.col("n_tokens_bl"), F.lit(1))).alias("kept"),
    ).orderBy("doc_id")


def _q_geohash_cells_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash interop encoding (functions/tile_math.py sql_geohash /
    geohash_to_cell_cols): per-cell histogram keyed by the precision-5
    base-32 geohash over the PTS cloud. Same proof shape as
    quadkey_tiles: the Spark side DECODES xi/yi back out of the hash
    (aggregate-HOF fold with per-char alternating interleave parity)
    while the oracle emits the cell formula directly — rows match only
    if encode∘decode == id. Cell quantization is FLOOR-then-cast in
    one shared text (DuckDB bare CAST rounds); digits are exact ints."""
    _register(spark, sf_dir, ["customer"])
    p = 5
    xi, yi = tm.sql_geohash_cells("lon", "lat", p)
    t = (spark.sql(PTS_SQL)
         .withColumn("xi", F.expr(xi))
         .withColumn("yi", F.expr(yi))
         .withColumn("geohash", F.expr(tm.sql_geohash("xi", "yi", p))))
    xb, yb, _pb = tm.geohash_to_cell_cols("geohash")
    return (
        t.groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("poi_id").cast("long").alias("min_poi"))
        .select("geohash", xb.alias("xi"), yb.alias("yi"), "n", "min_poi")
        .orderBy("geohash")
    )


def _geohash_oracle() -> str:
    p = 5
    xi, yi = tm.sql_geohash_cells("lon", "lat", p)
    gh = tm.sql_geohash("xi", "yi", p, div="//")
    return (
        f"WITH pts AS ({PTS_SQL}), "
        f"t AS (SELECT poi_id, {xi} AS xi, {yi} AS yi FROM pts) "
        f"SELECT {gh} AS geohash, CAST(xi AS BIGINT) AS xi, "
        "CAST(yi AS BIGINT) AS yi, COUNT(*) AS n, "
        "CAST(MIN(poi_id) AS BIGINT) AS min_poi "
        "FROM t GROUP BY geohash, xi, yi ORDER BY geohash"
    )


def _quadkey_oracle() -> str:
    z = 8
    tx = tm.sql_tile_x("lon", z)
    ty = tm.sql_tile_y("lat", z)
    qk = tm.sql_quadkey("x", "y", z, div="//")
    return (
        f"WITH pts AS ({PTS_SQL}), "
        f"t AS (SELECT poi_id, {tx} AS x, {ty} AS y FROM pts) "
        f"SELECT {qk} AS quadkey, CAST(x AS BIGINT) AS x, "
        "CAST(y AS BIGINT) AS y, COUNT(*) AS n, "
        "CAST(MIN(poi_id) AS BIGINT) AS min_poi "
        "FROM t GROUP BY quadkey, x, y ORDER BY quadkey"
    )


def _q_quadkey_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bing/Azure quadkey interop encoding (functions/tile_math.py
    sql_quadkey / quadkey_col / quadkey_to_tile_cols): per-tile
    histogram keyed by the base-4 quadkey at z8 over the PTS point
    cloud. The Spark side RE-DERIVES x/y by DECODING the quadkey
    (aggregate-HOF MSB fold) after the groupBy, while the oracle
    emits the tile formula's x/y directly — matching rows prove
    encode and decode are exact inverses, not just that both sides
    encode identically. Dialect split is the single integer-division
    token (Spark DIV / DuckDB //); every op is exact ints."""
    _register(spark, sf_dir, ["customer"])
    z = 8
    txc, tyc = tm.tile_cols("lon", "lat", z)
    t = (spark.sql(PTS_SQL)
         .select("poi_id", txc.alias("x"), tyc.alias("y"))
         .withColumn("quadkey", tm.quadkey_col("x", "y", z)))
    xb, yb, _zb = tm.quadkey_to_tile_cols("quadkey")
    return (
        t.groupBy("quadkey")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("poi_id").cast("long").alias("min_poi"))
        .select("quadkey", xb.alias("x"), yb.alias("y"), "n", "min_poi")
        .orderBy("quadkey")
    )


_Q_GAZETTEER_ORACLE = """
WITH nm AS (
  SELECT p_partkey AS poi_id,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(
             p_name || ' store ' || CAST(p_partkey % 97 AS VARCHAR)),
             '[^a-z0-9]+'),
           x -> x <> ''))) AS toks
  FROM part WHERE p_partkey < 2000
), gz0 AS (
  SELECT p_partkey + 100000 AS gaz_id,
         array_to_string(list_slice(string_split(p_name, ' '), 2,
                                    len(string_split(p_name, ' '))),
                         ' ')
         || ' store ' || CAST(p_partkey % 97 AS VARCHAR) AS gname
  FROM part WHERE p_partkey < 2000 AND p_partkey % 2 = 0
), gz AS (
  SELECT gaz_id,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(gname), '[^a-z0-9]+'),
           x -> x <> ''))) AS toks
  FROM gz0
), le AS (
  SELECT poi_id, len(toks) AS n_tokens, UNNEST(toks) AS tok
  FROM nm WHERE len(toks) > 0
), re AS (
  SELECT gaz_id, len(toks) AS n_gaz_tokens, UNNEST(toks) AS tok
  FROM gz WHERE len(toks) > 0
), heavy AS (
  SELECT tok FROM re GROUP BY tok HAVING COUNT(*) > 200
), le2 AS (
  SELECT * FROM le WHERE tok NOT IN (SELECT tok FROM heavy)
), re2 AS (
  SELECT * FROM re WHERE tok NOT IN (SELECT tok FROM heavy)
), pairs AS (
  SELECT poi_id, gaz_id, COUNT(*) AS inter,
         MIN(n_tokens) AS n_tokens, MIN(n_gaz_tokens) AS n_gaz_tokens
  FROM le2 JOIN re2 USING (tok) GROUP BY poi_id, gaz_id
), scored AS (
  SELECT poi_id, gaz_id, inter, n_tokens, n_gaz_tokens,
         CAST((1000000 * inter) // (n_tokens + n_gaz_tokens - inter)
              AS BIGINT) AS jaccard_ppm
  FROM pairs
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY poi_id
                               ORDER BY jaccard_ppm DESC, gaz_id) AS rn
  FROM scored WHERE jaccard_ppm >= 400000
)
SELECT CAST(poi_id AS BIGINT) AS poi_id, CAST(gaz_id AS BIGINT) AS gaz_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_gaz_tokens AS BIGINT) AS n_gaz_tokens,
       CAST(inter AS BIGINT) AS inter, jaccard_ppm
FROM ranked WHERE rn = 1 ORDER BY poi_id
"""


def _q_gazetteer_match_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy venue-name geocoding (operators/geocode.py
    gazetteer_match): token-set blocking join + exact integer-ppm
    Jaccard + deterministic per-name argmax, with the df>200 blocking
    cap exercised. Fixture: venue names are ``p_name || ' store ' ||
    partkey%97`` (the 2-word testdata p_name alone is too thin to
    match on); the gazetteer is the even-keyed parts with their FIRST
    word dropped (a deterministic 'abbreviated listing'
    perturbation). At sf0.01 the universal token 'store' (gaz df
    1000) crosses the cap and drops out of the blocking+intersection,
    so a self-match scores inter={noun, numkey}=2 of union 5 —
    exactly the inclusive 400000 threshold boundary; at sf0.001 the
    cap is inactive (gaz df <= 100) and self-matches score 750000 —
    one query exercises both cap regimes. Dialect-split oracle: same
    normalize/block/cap/score/argmax chain in DuckDB list SQL
    (`//` == Spark DIV on positive ints)."""
    from ..operators.geocode import gazetteer_match

    _register(spark, sf_dir, ["part"])
    part = spark.table("part").filter(F.col("p_partkey") < 2000)
    numkey = F.pmod(F.col("p_partkey"), 97).cast("string")
    names = part.select(
        F.col("p_partkey").alias("poi_id"),
        F.concat_ws(" ", F.col("p_name"), F.lit("store"), numkey)
        .alias("name"))
    words = F.split(F.col("p_name"), " ")
    gaz = (part.filter(F.col("p_partkey") % 2 == 0)
           .select((F.col("p_partkey") + 100000).alias("gaz_id"),
                   F.concat_ws(
                       " ",
                       F.array_join(F.slice(words, 2, F.size(words)), " "),
                       F.lit("store"), numkey).alias("gaz_name")))
    out = gazetteer_match(names, gaz, id_col="poi_id", name_col="name",
                          min_jaccard_ppm=400_000, max_block_df=200)
    return out.select(
        F.col("poi_id").cast("long").alias("poi_id"),
        F.col("gaz_id").cast("long").alias("gaz_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_gaz_tokens").cast("long").alias("n_gaz_tokens"),
        F.col("inter").cast("long").alias("inter"),
        F.col("jaccard_ppm").cast("long").alias("jaccard_ppm"),
    ).orderBy("poi_id")


def _q_hll_pyramid_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-distinct visitors per tile at every zoom (operators/
    tiling.py hll_tile_pyramid): ONE pass builds the z2-z6 pyramid of
    per-tile HLL register tables — bit-shift zoom fan-out of a single
    native tile key, one groupBy shuffle, output bounded by
    n_tiles * 2^p however many rows land per tile (the mergeable
    sketch artifact a lake stores). Visitors are the deterministic
    ``v{custkey % 250}`` key over the PTS_SQL point cloud. Output pins
    the exact-integer register tables per tile (count / sum / max of
    rho + md5 of the sorted register:rho list). Golden oracle:
    tools/make_goldens.py recomputes tiles from the restated
    slippy-map formula (libm math.*), registers via the from-spec
    chained XXH64 + bit-length rho, and parent tiles by dict-merge
    max — an independent scalar path through the whole pyramid."""
    from ..operators.tiling import hll_tile_pyramid

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL).withColumn(
        "visitor",
        F.concat(F.lit("v"), (F.col("poi_id") % 250).cast("string")))
    regs = hll_tile_pyramid(pts, "visitor", min_zoom=2, max_zoom=6,
                            p=8, seed=7)
    return (
        regs.groupBy("z", "x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reg"),
            F.sum("rho").cast("long").alias("sum_rho"),
            F.max("rho").cast("long").alias("max_rho"),
            F.md5(F.concat_ws("|", F.sort_array(F.collect_list(
                F.concat_ws(":", F.col("register"), F.col("rho")))))
            ).alias("reg_fp"),
        )
        .select(F.col("z").cast("long").alias("z"),
                F.col("x").cast("long").alias("x"),
                F.col("y").cast("long").alias("y"),
                "n_reg", "sum_rho", "max_rho", "reg_fp")
        .orderBy("z", "x", "y")
    )


#: deterministic planar coordinates for the events stream (events carry
#: no lon/lat; the 0..200 box reads as a projected local CRS in meters)
_TRAJ_PTS_SQL = (
    "SELECT user_id, event_id, ts, "
    "CAST((event_id * 7919) % 20000 AS DOUBLE) / 100.0 AS x, "
    "CAST((event_id * 104729) % 20000 AS DOUBLE) / 100.0 AS y "
    "FROM events"
)

_TRAJ_SPEED = 10  # mm/s — flags the small-dt tail as teleports

_Q_TRAJ_STEPS_ORACLE = f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST((event_id * 7919) % 20000 AS DOUBLE) / 100.0 AS x,
         CAST((event_id * 104729) % 20000 AS DOUBLE) / 100.0 AS y
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       CAST(ts_us AS BIGINT) AS ts_us,
       CAST(ts_us - LAG(ts_us) OVER w AS BIGINT) AS dt_us,
       CAST(FLOOR(1000.0 * SQRT(
           (x - LAG(x) OVER w) * (x - LAG(x) OVER w)
           + (y - LAG(y) OVER w) * (y - LAG(y) OVER w))) AS BIGINT) AS step_mm,
       CAST(CASE WHEN LAG(ts_us) OVER w IS NULL THEN NULL
                 WHEN FLOOR(1000.0 * SQRT(
                     (x - LAG(x) OVER w) * (x - LAG(x) OVER w)
                     + (y - LAG(y) OVER w) * (y - LAG(y) OVER w))) * 1000000
                      > {_TRAJ_SPEED} * (ts_us - LAG(ts_us) OVER w)
                 THEN 1 ELSE 0 END AS BIGINT) AS teleport
FROM pts
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
ORDER BY user_id, ts_us, event_id
"""

_Q_TRAJ_STATS_ORACLE = f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST((event_id * 7919) % 20000 AS DOUBLE) / 100.0 AS x,
         CAST((event_id * 104729) % 20000 AS DOUBLE) / 100.0 AS y
  FROM events
), steps AS (
  SELECT user_id, ts_us,
         ts_us - LAG(ts_us) OVER w AS dt_us,
         CAST(FLOOR(1000.0 * SQRT(
             (x - LAG(x) OVER w) * (x - LAG(x) OVER w)
             + (y - LAG(y) OVER w) * (y - LAG(y) OVER w))) AS BIGINT) AS step_mm
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(COALESCE(SUM(step_mm), 0) AS BIGINT) AS path_mm,
       CAST(COALESCE(MAX(step_mm), 0) AS BIGINT) AS max_step_mm,
       CAST(MAX(ts_us) - MIN(ts_us) AS BIGINT) AS duration_us,
       CAST(COALESCE(SUM(CASE WHEN step_mm * 1000000 > {_TRAJ_SPEED} * dt_us
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_teleports
FROM steps GROUP BY user_id ORDER BY user_id
"""


def _q_trajectory_steps_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step trajectory reconstruction (operators/trajectory.py
    trajectory_steps): one hash-partitioned window per user, exact
    epoch-microsecond deltas (unix_micros == DuckDB epoch_us under the
    UTC session tz), floor-millimeter sub/mul/add/sqrt step lengths
    (bit-exact cross-engine), division-free integer teleport test.
    Coordinates synthesized deterministically from event_id (events
    carry none). Oracle: the identical chain as DuckDB window SQL."""
    from ..operators.trajectory import trajectory_steps

    _register(spark, sf_dir, ["events"])
    pts = spark.sql(_TRAJ_PTS_SQL)
    out = trajectory_steps(pts, order_cols=("event_id",),
                           max_speed_mm_s=_TRAJ_SPEED)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts_us").cast("long").alias("ts_us"),
        F.col("dt_us").cast("long").alias("dt_us"),
        F.col("step_mm").cast("long").alias("step_mm"),
        F.col("teleport").cast("long").alias("teleport"),
    ).orderBy("user_id", "ts_us", "event_id")


def _q_trajectory_stats_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory summary (operators/trajectory.py
    trajectory_stats): path length as a sum of floor-mm BIGINT steps
    (reduction-order-free), exact integer duration and teleport count;
    the aggregation reuses the window's hash partitioning, one shuffle
    end to end (plan-asserted in tests)."""
    from ..operators.trajectory import trajectory_stats

    _register(spark, sf_dir, ["events"])
    pts = spark.sql(_TRAJ_PTS_SQL)
    out = trajectory_stats(pts, order_cols=("event_id",),
                           max_speed_mm_s=_TRAJ_SPEED)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_points").cast("long").alias("n_points"),
        "path_mm", "max_step_mm", "duration_us",
        F.col("n_teleports").cast("long").alias("n_teleports"),
    ).orderBy("user_id")


def _hotspot_oracle() -> str:
    z = 8
    n = 1 << z
    tx = tm.sql_tile_x("lon", z)
    ty = tm.sql_tile_y("lat", z)
    nf, nm1 = f"{float(n * n):.1f}", f"{float(n * n - 1):.1f}"
    xbar = f"(CAST(tot AS DOUBLE) / {nf})"
    return f"""
WITH pts AS ({PTS_SQL}), cells AS (
  SELECT {tx} AS x, {ty} AS y, COUNT(*) AS v FROM pts GROUP BY x, y
), offs AS (
  SELECT u.dx AS dx FROM UNNEST(generate_series(-1, 1)) AS u(dx)
), neigh AS (
  SELECT cells.x + o1.dx AS cx, cells.y + o2.dx AS cy, SUM(v) AS nsum
  FROM cells, offs o1, offs o2
  WHERE cells.x + o1.dx BETWEEN 0 AND {n - 1}
    AND cells.y + o2.dx BETWEEN 0 AND {n - 1}
  GROUP BY cx, cy
), stats AS (
  SELECT SUM(v) AS tot, SUM(v * v) AS tot2 FROM cells
), m AS (
  SELECT {xbar} AS xbar,
         SQRT(CAST(tot2 AS DOUBLE) / {nf} - {xbar} * {xbar}) AS s
  FROM stats
), wide AS (
  SELECT cx, cy, COALESCE(c.v, 0) AS v, nsum,
         (LEAST(cx + 1, {n - 1}) - GREATEST(cx - 1, 0) + 1)
         * (LEAST(cy + 1, {n - 1}) - GREATEST(cy - 1, 0) + 1) AS w
  FROM neigh LEFT JOIN cells c ON c.x = cx AND c.y = cy
)
SELECT CAST(cx AS BIGINT) AS x, CAST(cy AS BIGINT) AS y,
       CAST(v AS BIGINT) AS v, CAST(w AS BIGINT) AS w,
       CAST(nsum AS BIGINT) AS nsum,
       CAST(FLOOR(1000000.0 * ((CAST(nsum AS DOUBLE) - xbar * CAST(w AS DOUBLE))
         / (s * SQRT((CAST(w AS DOUBLE) * {nf} - CAST(w AS DOUBLE)
                      * CAST(w AS DOUBLE)) / {nm1})))) AS BIGINT) AS gi_ppm
FROM wide CROSS JOIN m
ORDER BY x, y
"""


def _q_hotspot_gi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot field over the z8 tile grid (operators/
    hotspot.py): sparse x9 explode + groupBy for neighborhood sums,
    lattice-edge window sizes derived arithmetically, global moments
    broadcast, z-score as a fixed-order IEEE chain over exact-integer
    inputs — gi_ppm bit-exact vs the DuckDB restatement (radius-join
    precedent)."""
    from ..operators.hotspot import getis_ord_gi_star

    _register(spark, sf_dir, ["customer"])
    z = 8
    tx, ty = tm.tile_cols("lon", "lat", z)
    cells = (
        spark.sql(PTS_SQL)
        .select(tx.alias("x"), ty.alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("v"))
    )
    return (getis_ord_gi_star(cells, zoom=z)
            .orderBy("x", "y"))


# 25 boxes per 40x40 block, blocks on a 100-unit x-stride: LOCAL density
# (and so component-size distribution) is scale-factor-invariant —
# sequential custkeys always fill blocks at the same rate, components
# stay block-bounded (<= 25) and the oracle's recursive closure small.
_BOXES_SQL = (
    "SELECT c_custkey AS box_id, "
    "CAST(FLOOR(c_custkey / 25.0) AS BIGINT) * 100.0 "
    "  + CAST((c_custkey * c_custkey % 65536 * 7919 + c_custkey * 104729) "
    "         % 4000 AS DOUBLE) / 100.0 AS minx, "
    "CAST((c_custkey * c_custkey % 65536 * 4099 + c_custkey * 7121) "
    "     % 4000 AS DOUBLE) / 100.0 AS miny, "
    "CAST(FLOOR(c_custkey / 25.0) AS BIGINT) * 100.0 "
    "  + CAST((c_custkey * c_custkey % 65536 * 7919 + c_custkey * 104729) "
    "         % 4000 AS DOUBLE) / 100.0 "
    "  + (1.0 + (c_custkey % 7) * 0.5) AS maxx, "
    "CAST((c_custkey * c_custkey % 65536 * 4099 + c_custkey * 7121) "
    "     % 4000 AS DOUBLE) / 100.0 "
    "  + (1.0 + (c_custkey % 5) * 0.7) AS maxy "
    "FROM customer"
)

_Q_BBOX_DISSOLVE_ORACLE = f"""
WITH RECURSIVE boxes AS ({_BOXES_SQL}),
pairs AS (
  SELECT a.box_id AS pa, b.box_id AS pb FROM boxes a, boxes b
  WHERE a.box_id <> b.box_id AND a.minx <= b.maxx AND b.minx <= a.maxx
    AND a.miny <= b.maxy AND b.miny <= a.maxy
),
reach(a, b) AS (
  SELECT box_id, box_id FROM boxes
  UNION
  SELECT r.a, p.pb FROM reach r JOIN pairs p ON r.b = p.pa
),
lab AS (SELECT a AS box_id, MIN(b) AS region FROM reach GROUP BY a),
reg AS (
  SELECT region, COUNT(*) AS region_n, MIN(minx) AS rminx,
         MIN(miny) AS rminy, MAX(maxx) AS rmaxx, MAX(maxy) AS rmaxy
  FROM lab JOIN boxes USING (box_id) GROUP BY region
)
SELECT CAST(box_id AS BIGINT) AS box_id, CAST(region AS BIGINT) AS region,
       CAST(region_n AS BIGINT) AS region_n, rminx, rminy, rmaxx, rmaxy
FROM lab JOIN reg USING (region) ORDER BY box_id
"""


def _q_bbox_dissolve_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box dissolve (operators/dissolve.py): overlap graph by
    grid blocking (zero false negatives at any cell size — the
    intersection region lies in a shared cell), large-star/small-star
    components, merged region envelopes. Deterministic boxes from
    customer keys; touching edges merge (closed-box test). Oracle:
    DuckDB n^2 brute-force pairs + recursive min-label closure (the
    dbscan idiom) — a genuinely different algorithm for both stages."""
    from ..operators.dissolve import dissolve_bboxes

    _register(spark, sf_dir, ["customer"])
    boxes = spark.sql(_BOXES_SQL)
    out = dissolve_bboxes(boxes, cell=4.0)
    return out.select(
        F.col("box_id").cast("long").alias("box_id"),
        F.col("region").cast("long").alias("region"),
        F.col("region_n").cast("long").alias("region_n"),
        "rminx", "rminy", "rmaxx", "rmaxy",
    ).orderBy("box_id")


# 10-day scan window in epoch micros: zone-key-correlated, so the
# month zones actually skip (the clustered-column case); the quantity
# flag keeps ~everything (the honest uncorrelated case).
_ZM_LO_US = 865123200000000    # 1997-06-01T00:00:00Z
_ZM_HI_US = 865987199999999    # 1997-06-10T23:59:59.999999Z

_Q_ZONE_MAP_ORACLE = f"""
SELECT substr(CAST(l_shipdate AS STRING), 1, 7) AS zone_month,
       l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(l_quantity) AS l_quantity_min,
       MAX(l_quantity) AS l_quantity_max,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS l_quantity_nulls,
       CAST(MIN(epoch_us(l_shipdate)) AS BIGINT) AS ship_us_min,
       CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS ship_us_max,
       CAST(CASE WHEN MIN(l_quantity) IS NOT NULL
                      AND MIN(l_quantity) <= 15.0 AND MAX(l_quantity) >= 5.0
                 THEN 1
                 WHEN MIN(l_quantity) IS NULL THEN 1
                 ELSE 0 END AS BIGINT) AS keep_q5_15,
       CAST(CASE WHEN MIN(epoch_us(l_shipdate)) <= {_ZM_HI_US}
                      AND MAX(epoch_us(l_shipdate)) >= {_ZM_LO_US}
                 THEN 1 ELSE 0 END AS BIGINT) AS keep_jun10
FROM lineitem
GROUP BY zone_month, l_returnflag
ORDER BY zone_month, l_returnflag
"""


def _q_zone_map_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map build + range pruning decision (operators/zonemap.py):
    the data-skipping stats table (per-zone row count, min/max, null
    counts — one map-side-combined aggregation) with the keep flag for
    a ``l_quantity BETWEEN 5 AND 15`` scan. Zones are
    (ship month, returnflag); month via substr(CAST(ts AS STRING))
    which renders identically in Spark and DuckDB. Min/max are
    comparisons only — exact input doubles. Oracle: shared-dialect
    restatement. The skip-soundness invariant (kept zones return
    exactly the full-scan predicate rows) is pinned in test_zonemap."""
    from ..operators.zonemap import build_zone_map, range_keep_flag

    _register(spark, sf_dir, ["lineitem"])
    li = (
        spark.table("lineitem")
        .withColumn("zone_month",
                    F.substring(F.col("l_shipdate").cast("string"), 1, 7))
        .withColumn("ship_us",
                    F.unix_micros(F.col("l_shipdate").cast("timestamp")))
    )
    zm = build_zone_map(li, ["zone_month", "l_returnflag"],
                        ["l_quantity", "ship_us"])
    return zm.select(
        "zone_month", "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        "l_quantity_min", "l_quantity_max",
        F.col("l_quantity_nulls").cast("long").alias("l_quantity_nulls"),
        F.col("ship_us_min").cast("long").alias("ship_us_min"),
        F.col("ship_us_max").cast("long").alias("ship_us_max"),
        range_keep_flag("l_quantity", 5.0, 15.0).cast("long")
        .alias("keep_q5_15"),
        range_keep_flag("ship_us", _ZM_LO_US, _ZM_HI_US).cast("long")
        .alias("keep_jun10"),
    ).orderBy("zone_month", "l_returnflag")


# road-ish segments and probe points per 40-unit block strip (the
# dissolve fixture pattern — local density SF-invariant); k = 49 mod 99
# produces zero-length segments, exercising the degenerate guard
_SEGS_SQL = (
    "SELECT c_custkey AS seg_id, "
    "CAST(FLOOR(c_custkey / 25.0) AS BIGINT) * 100.0 "
    "  + CAST((c_custkey * c_custkey % 65536 * 7919 + c_custkey * 104729) "
    "         % 4000 AS DOUBLE) / 100.0 AS ax, "
    "CAST((c_custkey * c_custkey % 65536 * 4099 + c_custkey * 7121) "
    "     % 4000 AS DOUBLE) / 100.0 AS ay, "
    "CAST(FLOOR(c_custkey / 25.0) AS BIGINT) * 100.0 "
    "  + CAST((c_custkey * c_custkey % 65536 * 7919 + c_custkey * 104729) "
    "         % 4000 AS DOUBLE) / 100.0 "
    "  + (CAST(c_custkey % 9 AS DOUBLE) - 4.0) * 1.5 AS bx, "
    "CAST((c_custkey * c_custkey % 65536 * 4099 + c_custkey * 7121) "
    "     % 4000 AS DOUBLE) / 100.0 "
    "  + (CAST(c_custkey % 11 AS DOUBLE) - 5.0) * 1.2 AS by "
    "FROM customer"
)

_SNAP_PTS_SQL = (
    "SELECT c_custkey AS pid, "
    "CAST(FLOOR(c_custkey / 25.0) AS BIGINT) * 100.0 "
    "  + CAST((c_custkey * c_custkey % 65536 * 5519 + c_custkey * 7907) "
    "         % 4000 AS DOUBLE) / 100.0 AS x, "
    "CAST((c_custkey * c_custkey % 65536 * 6007 + c_custkey * 9973) "
    "     % 4000 AS DOUBLE) / 100.0 AS y "
    "FROM customer"
)


def _snap_oracle() -> str:
    dx = "(s.bx - s.ax)"
    dy = "(s.by - s.ay)"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    traw = f"(((p.x - s.ax) * {dx} + (p.y - s.ay) * {dy}) / {len2})"
    t = (f"(CASE WHEN {len2} = 0.0 THEN 0.0 "
         f"ELSE LEAST(GREATEST({traw}, 0.0), 1.0) END)")
    qx = f"(s.ax + {t} * {dx})"
    qy = f"(s.ay + {t} * {dy})"
    d2 = f"((p.x - {qx}) * (p.x - {qx}) + (p.y - {qy}) * (p.y - {qy}))"
    return f"""
WITH segs AS ({_SEGS_SQL}), pts AS ({_SNAP_PTS_SQL}),
cand AS (
  SELECT p.pid, s.seg_id, {d2} AS d2
  FROM pts p, segs s
  WHERE {d2} <= 4.0
), ranked AS (
  SELECT pid, seg_id, d2,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d2, seg_id) AS rn,
         COUNT(*) OVER (PARTITION BY pid) AS n_cand
  FROM cand
)
SELECT CAST(pid AS BIGINT) AS pid, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(seg_id AS BIGINT) AS seg_id, d2
FROM ranked WHERE rn = 1 ORDER BY pid
"""


def _q_snap_nearest_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-to-segment snap join (operators/snap.py): map-matching
    primitive — dilated bbox-cell blocking (zero false negatives at
    cell = radius by the Chebyshev bound), exact clamped-projection
    distance (div/mul/add/LEAST/GREATEST only — bit-exact
    cross-engine), min-struct nearest with deterministic tie-break,
    per-point candidate counts. Oracle: DuckDB n^2 brute force with
    the token-identical projection chain."""
    from ..operators.snap import snap_candidates, snap_nearest

    _register(spark, sf_dir, ["customer"])
    segs = spark.sql(_SEGS_SQL)
    pts = spark.sql(_SNAP_PTS_SQL)
    near = snap_nearest(pts, segs, radius=2.0)
    ncand = (snap_candidates(pts, segs, radius=2.0)
             .groupBy("pid").agg(F.count(F.lit(1)).alias("n_cand")))
    return (
        near.join(ncand, "pid")
        .select(F.col("pid").cast("long").alias("pid"),
                F.col("n_cand").cast("long").alias("n_cand"),
                F.col("seg_id").cast("long").alias("seg_id"), "d2")
        .orderBy("pid")
    )


# the corpus carries 20 equal-size sources; weight src0-src4 as the
# "high-quality" half of the mixture (100k ppm each), the remaining 15
# at 33,333 ppm — a real skewed-mixture shape
_CURRICULUM_W = {f"src{i}": (100_000 if i < 5 else 33_333)
                 for i in range(20)}

_Q_CURRICULUM_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 2000
), w AS (
  SELECT * FROM (VALUES {", ".join(f"('{s}', {p})" for s, p in sorted(_CURRICULUM_W.items()))}) AS t(source, w_ppm)
), ranked AS (
  SELECT doc_id, source, w_ppm,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank_in_source
  FROM docs JOIN w USING (source)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(rank_in_source AS BIGINT) AS rank_in_source,
       CAST((rank_in_source - 1) * 1000000 // w_ppm AS BIGINT)
           AS interleave_key
FROM ranked ORDER BY interleave_key, source, rank_in_source
"""


def _q_curriculum_order_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum interleave ordering (operators/curriculum.py):
    best-first within source (n_chars as the quality surrogate, doc_id
    tie-break), proportional deficit-round-robin across sources at
    50/25/12.5/12.5% — the exact-integer interleave key
    ``(rank-1)*1e6 DIV w_ppm`` pins the entire global training order.
    Oracle: dialect split only for DIV vs //."""
    from ..operators.curriculum import curriculum_keys

    _register(spark, sf_dir, ["documents"])
    docs = spark.sql(
        "SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 2000")
    keyed = curriculum_keys(docs, _CURRICULUM_W, score_col="n_chars")
    return keyed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("rank_in_source").cast("long").alias("rank_in_source"),
        F.col("interleave_key").cast("long").alias("interleave_key"),
    ).orderBy("interleave_key", "source", "rank_in_source")


def _q_image_near_dup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (operators/multimodal.py
    image_dhash + dhash_near_dup_pairs): the planted-near-dup PNG
    fixture decoded through the real codec, dHashed (deterministic
    block-mean gradient-sign bits), paired by 8x8-bit band blocking
    with native bit_count Hamming verify. Golden oracle: make_goldens
    re-derives every source array from its closed formula (PNG is
    lossless — no decoder needed), restates the dHash math
    independently, and brute-forces ALL O(n^2) Hamming pairs — so both
    the hash values and the banding's completeness are pinned."""
    from ..operators.multimodal import (dhash_near_dup_pairs, image_dhash,
                                        make_near_dup_media)

    media = make_near_dup_media(spark, 48)
    pairs = dhash_near_dup_pairs(image_dhash(media), max_hamming=6)
    return pairs.select("a", "b", F.col("hamming").cast("long").alias("hamming")) \
        .orderBy("a", "b")


def _q_cell_ladder_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full default cell ladder (functions/cell_udfs.py
    DEFAULT_CELL_LADDER — the 7-resolution analog of the reference's
    h3_r3..r9, process.py:149-165): one row per level with point/cell
    counts, the exact-integer XOR fingerprint of the cell ids, and
    ``encode_mismatches`` — rows where a DIRECT S2 encode at that level
    disagrees with the ladder's prefix-truncation of the finest level
    (the parent-child nesting identity; must be 0 everywhere). Golden
    oracle: make_goldens recomputes every level with the independent
    slow-path S2 (leaf id via face projection + Hilbert walk, parent
    via from-spec lsb math) — counts, distinct cells and XOR must all
    agree."""
    from ..functions.cell_udfs import DEFAULT_CELL_LADDER, make_s2_cell_udf, with_s2_cells

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL)
    df = with_s2_cells(pts, "lat", "lon", levels=DEFAULT_CELL_LADDER)
    # direct per-level encodes land in ONE projection -> one fused
    # Arrow stage; each must equal the ladder's truncation-derived id
    direct = [make_s2_cell_udf(l)(F.col("lat"), F.col("lon")).alias(f"d{l}")
              for l in DEFAULT_CELL_LADDER[:-1]]
    df = df.select("*", *direct)
    per_level = [
        df.agg(
            F.lit(l).cast("long").alias("level"),
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct(f"cell_l{l}").alias("n_cells"),
            F.bit_xor(F.col(f"cell_l{l}")).alias("cell_xor"),
            (F.sum(F.when(F.col(f"d{l}") != F.col(f"cell_l{l}"), 1)
                   .otherwise(0)).cast("long")
             if l != DEFAULT_CELL_LADDER[-1] else F.lit(0).cast("long"))
            .alias("encode_mismatches"),
        )
        for l in DEFAULT_CELL_LADDER
    ]
    out = per_level[0]
    for p in per_level[1:]:
        out = out.unionByName(p)
    return out.orderBy("level")


def _q_s2_cells_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8 analog: vectorized S2 cell encode (pandas UDF) + multi-level
    hierarchy + per-cell count. No offline DuckDB S2/H3 oracle exists;
    correctness is pinned by tests/test_s2_cell.py instead."""
    from ..functions.cell_udfs import with_s2_cells

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(PTS_SQL)
    df = with_s2_cells(pts, "lat", "lon", levels=(8, 12))
    return (
        df.groupBy("cell_l8")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("cell_l12").alias("subcells"))
        .orderBy(F.desc("n"), F.asc("cell_l8"))
        .limit(200)
    )


# SCD-2 history over a synthetic snapshot log: orders replayed as 300
# entities observed once per orderkey, o_orderstatus the tracked attr.
# Exact-integer versions; gaps-and-islands restated as DuckDB window SQL.
_Q_SNAPSHOT_HISTORY_ORACLE = """
WITH s AS (
  SELECT o_orderkey % 300 AS entity_id, o_orderkey AS version,
         o_orderstatus AS status
  FROM orders
), c AS (
  SELECT entity_id, version, status,
         CASE WHEN LAG(version) OVER w IS NULL
                   OR status IS DISTINCT FROM LAG(status) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM s WINDOW w AS (PARTITION BY entity_id ORDER BY version)
), r AS (
  SELECT entity_id, version, status,
         CAST(SUM(chg) OVER (PARTITION BY entity_id ORDER BY version)
              AS BIGINT) AS run
  FROM c
), e AS (
  SELECT entity_id, run, status, MIN(version) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_snapshots
  FROM r GROUP BY entity_id, run, status
)
SELECT CAST(entity_id AS BIGINT) AS entity_id, status,
       CAST(valid_from AS BIGINT) AS valid_from,
       CAST(LEAD(valid_from) OVER w2 AS BIGINT) AS valid_to,
       n_snapshots,
       CAST(CASE WHEN LEAD(valid_from) OVER w2 IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM e WINDOW w2 AS (PARTITION BY entity_id ORDER BY valid_from)
ORDER BY entity_id, valid_from
"""


def _q_snapshot_history_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 validity intervals (operators/sampling.py
    snapshot_history): collapse a versioned snapshot log into unbroken
    equal-attribute runs with half-open [valid_from, valid_to)
    intervals — two key-partitioned windows + one aggregation reusing
    the same hash shuffle (the gaps-and-islands plan). Versions are
    exact integers; oracle is the identical window chain in DuckDB."""
    from ..operators.sampling import snapshot_history

    _register(spark, sf_dir, ["orders"])
    snaps = spark.sql(
        "SELECT o_orderkey % 300 AS entity_id, o_orderkey AS version, "
        "o_orderstatus AS status FROM orders")
    out = snapshot_history(snaps, "entity_id", "version", ["status"])
    return out.select(
        F.col("entity_id").cast("long").alias("entity_id"),
        "status",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
        F.col("n_snapshots").cast("long").alias("n_snapshots"),
        F.col("is_current").cast("long").alias("is_current"),
    ).orderBy("entity_id", "valid_from")


def _kde_oracle() -> str:
    z, r = 8, 3
    n = 1 << z
    r2, r2p = r * r, float(r * r + 1)
    tx = tm.sql_tile_x("lon", z)
    ty = tm.sql_tile_y("lat", z)
    return f"""
WITH pts AS ({PTS_SQL}), cells AS (
  SELECT {tx} AS x, {ty} AS y, COUNT(*) AS v FROM pts GROUP BY x, y
), offs AS (
  SELECT o1.dx AS dx, o2.dy AS dy,
         CAST(FLOOR(1000000.0 * ({r2p} - (o1.dx * o1.dx + o2.dy * o2.dy))
                    / {r2p}) AS BIGINT) AS w_ppm
  FROM UNNEST(generate_series(-{r}, {r})) AS o1(dx),
       UNNEST(generate_series(-{r}, {r})) AS o2(dy)
  WHERE o1.dx * o1.dx + o2.dy * o2.dy <= {r2}
)
SELECT CAST(cells.x + dx AS BIGINT) AS x,
       CAST(cells.y + dy AS BIGINT) AS y,
       CAST(SUM(v * w_ppm) AS BIGINT) AS kde_ppm
FROM cells, offs
WHERE cells.x + dx BETWEEN 0 AND {n - 1}
  AND cells.y + dy BETWEEN 0 AND {n - 1}
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _q_kde_heatmap_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel-density heat map over the z8 tile lattice (operators/
    hotspot.py kde_grid): each occupied cell spreads its count over a
    radius-3 discrete Epanechnikov footprint with floor-ppm INTEGER
    weights, so the smoothed field is a reduction-order-free BIGINT
    sum — one bounded explode + one groupBy, bit-exact vs the DuckDB
    generate_series restatement."""
    from ..operators.hotspot import kde_grid

    _register(spark, sf_dir, ["customer"])
    z = 8
    tx, ty = tm.tile_cols("lon", "lat", z)
    cells = (
        spark.sql(PTS_SQL)
        .select(tx.alias("x"), ty.alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("v"))
    )
    out = kde_grid(cells, zoom=z, radius=3)
    return out.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("kde_ppm").cast("long").alias("kde_ppm"),
    ).orderBy("x", "y")


def _q_zone_map_merge_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental zone-map maintenance (operators/zonemap.py
    merge_zone_maps): build per-zone stats over two disjoint halves of
    lineitem (orderkey parity — yesterday's files vs today's), merge
    the two maps, and verify against DuckDB's full-table rebuild. The
    stats are a commutative monoid (min/min, max/max, sums), so
    merge(build(A), build(B)) == build(A ∪ B) EXACTLY — the identity
    the oracle pins cross-engine. Same projection (and pruning
    decisions) as the zone_map query."""
    from ..operators.zonemap import (build_zone_map, merge_zone_maps,
                                     range_keep_flag)

    _register(spark, sf_dir, ["lineitem"])
    li = (
        spark.table("lineitem")
        .withColumn("zone_month",
                    F.substring(F.col("l_shipdate").cast("string"), 1, 7))
        .withColumn("ship_us",
                    F.unix_micros(F.col("l_shipdate").cast("timestamp")))
    )
    zcols = ["zone_month", "l_returnflag"]
    vcols = ["l_quantity", "ship_us"]
    zm = merge_zone_maps(
        build_zone_map(li.filter(F.col("l_orderkey") % 2 == 0), zcols, vcols),
        build_zone_map(li.filter(F.col("l_orderkey") % 2 == 1), zcols, vcols),
        zcols)
    return zm.select(
        "zone_month", "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        "l_quantity_min", "l_quantity_max",
        F.col("l_quantity_nulls").cast("long").alias("l_quantity_nulls"),
        F.col("ship_us_min").cast("long").alias("ship_us_min"),
        F.col("ship_us_max").cast("long").alias("ship_us_max"),
        range_keep_flag("l_quantity", 5.0, 15.0).cast("long")
        .alias("keep_q5_15"),
        range_keep_flag("ship_us", _ZM_LO_US, _ZM_HI_US).cast("long")
        .alias("keep_jun10"),
    ).orderBy("zone_month", "l_returnflag")


def _q_hll_setops_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set-operation estimates (operators/sketch.py
    hll_set_estimates): union via exact register max-merge,
    intersection by inclusion-exclusion, over the SAME two doc-id
    slices as kmv_setops — the two sketch algebras graded side by
    side. At these cardinalities every estimate takes the
    linear-counting branch (m·ln(m/zeros) from the EXACT zero-register
    count), so the only float risk is the log itself — outputs are
    rounded (est 4dp, jaccard 6dp) and the golden replays the branch
    logic with from-spec XXH64 registers (tools/make_goldens.py)."""
    from ..operators.sketch import hll_build, hll_set_estimates

    _register(spark, sf_dir, ["documents"])
    a = spark.sql("SELECT doc_id FROM documents WHERE doc_id < 1500")
    b = spark.sql("SELECT doc_id FROM documents "
                  "WHERE doc_id >= 250 AND doc_id < 2000")
    out = hll_set_estimates(hll_build(a, "doc_id", p=12),
                            hll_build(b, "doc_id", p=12), p=12)
    return out.select(
        F.round("est_a", 4).alias("est_a4"),
        F.round("est_b", 4).alias("est_b4"),
        F.round("union_est", 4).alias("union_est4"),
        F.round("intersection_est", 4).alias("intersection_est4"),
        F.round("jaccard_est", 6).alias("jaccard_est6"),
    )


# host-template fixture: every doc on a host gets the host's NAV header
# and COPYRIGHT footer (df = 100% -> removed); a PROMO line on ~1/3 of
# docs stays under the 50% threshold (kept) — threshold is exact-integer
# ppm. 500 docs carry a source host at every SF (src0..19, 25 docs each).
_BOILER_DOCS_SQL = """
SELECT doc_id, source AS host,
       'NAV ' || source || ' HOME' || chr(10) || text || chr(10) ||
       CASE WHEN doc_id % 3 = 0 THEN 'PROMO OFFER' || chr(10)
            ELSE '' END || 'COPYRIGHT ' || source AS text
FROM documents WHERE source IS NOT NULL
"""

_Q_BOILERPLATE_ORACLE = f"""
WITH d AS ({_BOILER_DOCS_SQL}), l AS (
  SELECT doc_id, host, u.line
  FROM d, UNNEST(string_split(text, chr(10))) AS u(line)
), hd AS (
  SELECT host, COUNT(DISTINCT doc_id) AS host_docs FROM d GROUP BY host
), dfl AS (
  SELECT host, line, COUNT(DISTINCT doc_id) AS df_docs
  FROM l GROUP BY host, line
), boiler AS (
  SELECT dfl.host, dfl.line
  FROM dfl JOIN hd ON dfl.host = hd.host
  WHERE hd.host_docs >= 3 AND dfl.df_docs * 1000000 > 500000 * hd.host_docs
), bl AS (
  SELECT host, list(line) AS bls FROM boiler GROUP BY host
), kept AS (
  SELECT d.doc_id, d.text,
         list_filter(string_split(d.text, chr(10)),
                     x -> NOT list_contains(COALESCE(bl.bls, []), x)) AS kl
  FROM d LEFT JOIN bl ON d.host = bl.host
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(kl) AS BIGINT) AS n_kept,
       CAST(length(text) - length(array_to_string(kl, chr(10))) AS BIGINT)
         AS chars_removed,
       md5(array_to_string(kl, chr(10))) AS text_fp
FROM kept ORDER BY doc_id
"""


def _q_boilerplate_removal_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-template boilerplate removal (operators/dedup.py
    remove_boilerplate_lines — CCNet-style line-frequency cleaning,
    Wenzek et al. 2020): per-host line document-frequency catalog with
    an exact-integer ppm threshold, LEFT ANTI line cut, order-
    preserving native rebuild. The synthesized corpus stamps every
    doc with its host's NAV header + COPYRIGHT footer (removed) and a
    sub-threshold PROMO line on ~1/3 of docs (kept). Oracle: DuckDB
    list_filter restatement; rewritten text pinned by md5."""
    from ..operators.dedup import remove_boilerplate_lines

    _register(spark, sf_dir, ["documents"])
    d = spark.sql(_BOILER_DOCS_SQL)
    out = remove_boilerplate_lines(d, host_col="host", min_docs=3,
                                   max_frac=0.5)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_lines", "n_kept", "chars_removed",
        F.md5(F.col("text")).alias("text_fp"),
    ).orderBy("doc_id")


# hull fixture: 25 integer-lattice points per block group (dbscan's
# quadratic scramble — linear congruences make degenerate lattices),
# coordinates in [0, 200)^2, all arithmetic exact int64
_HULL_PTS_SQL = """
SELECT c_custkey AS pid,
       CAST(FLOOR(c_custkey / 25.0) AS BIGINT) AS g,
       CAST((c_custkey * c_custkey % 65536 * 7919
             + c_custkey * 104729) % 200 AS DOUBLE) AS x,
       CAST((c_custkey * c_custkey % 65536 * 4099
             + c_custkey * 7121) % 200 AS DOUBLE) AS y
FROM customer
"""


def _q_convex_hulls_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group strict convex hulls (operators/hull.py convex_hulls):
    Andrew monotone chain in an Arrow-batched per-group kernel, run in
    the TWO-LEVEL partial-hull form (n_partials=4) so the contract
    exercises the distributed merge path — exact by the hull monoid
    identity hull(A∪B) == hull(hull(A)∪hull(B)). Integer-lattice
    fixture makes every cross product and shoelace area exact; the
    canonical CCW-from-lex-min vertex order is pinned by an md5
    fingerprint. Golden oracle: make_goldens re-derives the points and
    runs an INDEPENDENT Jarvis-march gift wrap (different algorithm
    family)."""
    from ..operators.hull import convex_hulls

    _register(spark, sf_dir, ["customer"])
    pts = spark.sql(_HULL_PTS_SQL)
    out = convex_hulls(pts, group_col="g", n_partials=4)
    return out.select(
        "g",
        F.col("n_points").cast("long").alias("n_points"),
        "n_vertices", "area2",
        F.md5(F.concat_ws(";", F.transform(
            "hull",
            lambda s: F.concat(s["x"].cast("long").cast("string"),
                               F.lit(","),
                               s["y"].cast("long").cast("string")))))
        .alias("hull_fp"),
    ).orderBy("g")


# histogram sketch over l_extendedprice: [0, 102400) x 64 -> width
# 1600.0 (exact binary); the max (~105k) clamps into the top edge bin,
# exercising the clamp rule honestly. Bin chain token-mirrored.
_HIST_BIN_SQL = ("CAST(LEAST(GREATEST(FLOOR((l_extendedprice - 0.0) * 64.0 "
                 "/ 102400.0), 0), 63) AS BIGINT)")

_Q_HIST_BINS_ORACLE = f"""
SELECT {_HIST_BIN_SQL} AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem WHERE l_extendedprice IS NOT NULL
GROUP BY bin ORDER BY bin
"""

_Q_HIST_QUANTILES_ORACLE = f"""
WITH h AS (
  SELECT {_HIST_BIN_SQL} AS bin, COUNT(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY bin
), c AS (
  SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM h
), t AS (
  SELECT u.prob AS prob,
         CAST(CEIL(u.prob * (SELECT SUM(cnt) FROM h)) AS BIGINT) AS target
  FROM UNNEST([0.25, 0.5, 0.75, 0.9, 0.99]) AS u(prob)
)
SELECT t.prob AS prob, CAST(MIN(c.bin) AS BIGINT) AS bin,
       0.0 + CAST(MIN(c.bin) AS DOUBLE) * 1600.0 AS q_lo
FROM c JOIN t ON c.cum >= t.target
GROUP BY t.prob ORDER BY prob
"""


def _q_hist_bins_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram sketch with the MERGE identity as oracle
    (operators/sketch.py hist_build/hist_merge): sketches built over
    the two orderkey-parity halves of lineitem, merged by bin addition,
    checked against DuckDB's full-table rebuild — bounded-memory
    distribution stats that roll up across days/partitions like the
    HLL registers do."""
    from ..operators.sketch import hist_build, hist_merge

    _register(spark, sf_dir, ["lineitem"])
    li = spark.table("lineitem")
    merged = hist_merge(
        hist_build(li.filter(F.col("l_orderkey") % 2 == 0),
                   "l_extendedprice", 0.0, 102400.0, 64),
        hist_build(li.filter(F.col("l_orderkey") % 2 == 1),
                   "l_extendedprice", 0.0, 102400.0, 64))
    return merged.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("cnt").cast("long").alias("cnt"),
    ).orderBy("bin")


def _q_hist_quantiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles (operators/sketch.py
    hist_quantiles): first bin whose cumulative count reaches
    ceil(p * total) — the n_bins-bounded cumulative window + broadcast
    targets; bin chain and q_lo = lo + bin * width are exact IEEE
    mirrored by the DuckDB restatement."""
    from ..operators.sketch import hist_build, hist_quantiles

    _register(spark, sf_dir, ["lineitem"])
    h = hist_build(spark.table("lineitem"), "l_extendedprice",
                   0.0, 102400.0, 64)
    out = hist_quantiles(h, [0.25, 0.5, 0.75, 0.9, 0.99],
                         0.0, 102400.0, 64)
    return out.select(
        "prob",
        F.col("bin").cast("long").alias("bin"),
        "q_lo",
    ).orderBy("prob")


_Q_SITEMAP_ORACLE = r"""
WITH hosts AS (
  SELECT DISTINCT source AS host FROM documents WHERE source IS NOT NULL
), robots AS (
  SELECT host,
         'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
         'Sitemap: https://' || host || '.example/sitemap.xml' || chr(10) ||
         ' sitemap: https://' || host || '.example/news.xml' AS content
  FROM hosts
), smaps AS (
  SELECT 'https://' || source || '.example/sitemap.xml' AS sitemap_url,
         '<urlset>' || string_agg(
             '<url><loc>https://' || source || '.example/doc/' || doc_id
             || '</loc>' || CASE WHEN doc_id % 4 = 0 THEN ''
                 ELSE '<lastmod>2024-0' || CAST(1 + doc_id % 9 AS VARCHAR)
                      || '-01</lastmod>' END || '</url>',
             '' ORDER BY doc_id) || '</urlset>' AS xml
  FROM documents WHERE source IS NOT NULL GROUP BY source
  UNION ALL
  SELECT 'https://' || host || '.example/news.xml',
         '<sitemapindex><sitemap><loc>https://' || host ||
         '.example/sitemap.xml</loc></sitemap><sitemap></sitemap></sitemapindex>'
  FROM hosts
), directives AS (
  SELECT host, u.sitemap_url
  FROM robots, UNNEST(regexp_extract_all(content,
       '(?im)^[ \t]*sitemap:[ \t]*(\S+)', 1)) AS u(sitemap_url)
), blk AS (
  SELECT sitemap_url, u.b AS blk, FALSE AS is_index
  FROM smaps, UNNEST(regexp_extract_all(xml, '(?s)<url>.*?</url>', 0)) AS u(b)
  UNION ALL
  SELECT sitemap_url, u.b, TRUE
  FROM smaps, UNNEST(regexp_extract_all(xml, '(?s)<sitemap>.*?</sitemap>', 0)) AS u(b)
), entries AS (
  SELECT sitemap_url,
         NULLIF(regexp_extract(blk, '<loc>\s*([^<]*?)\s*</loc>', 1), '') AS loc,
         NULLIF(regexp_extract(blk, '<lastmod>\s*([^<]*?)\s*</lastmod>', 1), '') AS lastmod,
         is_index
  FROM blk
)
SELECT d.host, d.sitemap_url, e.loc, e.lastmod,
       CAST(CASE WHEN e.is_index THEN 1 ELSE 0 END AS BIGINT) AS is_index
FROM directives d JOIN entries e USING (sitemap_url)
WHERE e.loc IS NOT NULL
ORDER BY host, sitemap_url, loc
"""

_SITEMAP_SMAPS_SQL = """
SELECT concat('https://', source, '.example/sitemap.xml') AS sitemap_url,
       concat('<urlset>',
              array_join(transform(array_sort(collect_list(
                  struct(doc_id, entry))), x -> x.entry), ''),
              '</urlset>') AS xml
FROM (
  SELECT source, doc_id,
         concat('<url><loc>https://', source, '.example/doc/',
                CAST(doc_id AS STRING), '</loc>',
                CASE WHEN doc_id % 4 = 0 THEN ''
                     ELSE concat('<lastmod>2024-0',
                                 CAST(1 + doc_id % 9 AS STRING),
                                 '-01</lastmod>') END,
                '</url>') AS entry
  FROM documents WHERE source IS NOT NULL)
GROUP BY source
UNION ALL
SELECT concat('https://', host, '.example/news.xml'),
       concat('<sitemapindex><sitemap><loc>https://', host,
              '.example/sitemap.xml</loc></sitemap>',
              '<sitemap></sitemap></sitemapindex>')
FROM (SELECT DISTINCT source AS host FROM documents
      WHERE source IS NOT NULL)
"""


def _q_sitemap_frontier_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl seeding from robots + sitemaps (functions/robots.py
    sitemap_directives + functions/links.py extract_sitemap_entries):
    Sitemap: directives pulled with one multiline native regexp
    (global per RFC 9309 §2.3, any case/indent), sitemap XML parsed
    with native block scans — handles both <urlset> page entries and
    <sitemapindex> children (is_index=1), NULL lastmod when absent,
    loc-less blocks dropped. Fixture synthesizes per-host robots +
    urlset + index files over the documents hosts; oracle restates the
    chain with the IDENTICAL regexp text in DuckDB."""
    from ..functions.links import extract_sitemap_entries
    from ..functions.robots import sitemap_directives

    _register(spark, sf_dir, ["documents"])
    hosts = spark.sql("SELECT DISTINCT source AS host FROM documents "
                      "WHERE source IS NOT NULL")
    robots = hosts.selectExpr(
        "host",
        "concat('User-agent: *', chr(10), 'Disallow: /private', chr(10), "
        "'Sitemap: https://', host, '.example/sitemap.xml', chr(10), "
        "' sitemap: https://', host, '.example/news.xml') AS content")
    smaps = spark.sql(_SITEMAP_SMAPS_SQL)
    d = sitemap_directives(robots)
    e = extract_sitemap_entries(smaps)
    return (
        d.join(e, "sitemap_url")
        .select("host", "sitemap_url", "loc", "lastmod",
                F.col("is_index").cast("long").alias("is_index"))
        .orderBy("host", "sitemap_url", "loc")
    )


# integer-arithmetic uniform both engines compute natively (the
# crawl-scheduler injectable-expr precedent — xxhash64 has no DuckDB
# analog); Knuth multiplier mod a prime keeps it scattered
_WS_U_SQL = "doc_id * 2654435761 % 1000003 % 1000000 + 1"

_Q_WEIGHTED_SAMPLE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, CAST(doc_id % 10 + 1 AS DOUBLE) AS w,
         CAST({_WS_U_SQL} AS DOUBLE) AS u_ppm
  FROM documents WHERE source IS NOT NULL
), r AS (
  SELECT doc_id, source, w,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY ln(u_ppm / 1000000.0) / w DESC, doc_id) AS rn
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, w
FROM r WHERE rn <= 8 ORDER BY source, doc_id
"""


def _q_weighted_sample_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample_per_stratum — Efraimidis & Spirakis 2006 A-ES):
    8 docs per source host, weight doc_id%10+1, ranked by ln(u)/w over
    an injected integer-arithmetic uniform so the DuckDB oracle
    replays the IDENTICAL selection (key gaps are orders of magnitude
    above cross-engine ln ulp differences; ties broken by id)."""
    from ..operators.sampling import weighted_sample_per_stratum

    _register(spark, sf_dir, ["documents"])
    d = spark.sql(
        "SELECT doc_id, source, CAST(doc_id % 10 + 1 AS DOUBLE) AS w "
        "FROM documents WHERE source IS NOT NULL")
    out = weighted_sample_per_stratum(
        d, "source", "w", k=8, id_col="doc_id",
        u_expr=F.expr(_WS_U_SQL))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "w",
    ).orderBy("source", "doc_id")


def _q_link_hits_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/graph.py hits): the SAME
    synthetic link graph as link_pagerank (3 out-links per doc via
    chained xxhash64, self-loops dropped), 10 iterations of the
    classic L2-normalized updates — the two link-analysis passes are
    graded over one fixture so their signals are directly comparable.
    Golden oracle: make_goldens rebuilds the edges with from-spec
    XXH64 and runs an independent dense numpy HITS (<= 1e-7 gate)."""
    from ..operators.graph import hits

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(
        F.col("doc_id") < 2000).select("doc_id")
    n = docs.count()
    edges = (
        docs.select("doc_id",
                    F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"))
        .select(
            F.col("doc_id").alias("src"),
            F.pmod(F.xxhash64(F.col("doc_id"), F.col("j")),
                   F.lit(n)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    out = hits(edges, iters=10)
    return out.select(
        "node", F.round("hub", 7).alias("hub7"),
        F.round("authority", 7).alias("auth7")).orderBy("node")


def _q_host_communities_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/graph.py label_communities —
    synchronous deterministic LPA, Raghavan et al. 2007): a planted
    block-community graph over the documents (community = 10-doc
    block; within-block ring + step-3 chord keep LOCAL density
    SF-invariant, every 4th block bridged to the next — the
    bbox_dissolve fixture lesson), 8 synchronous rounds with the
    (max weight, min label) tie-break. The bridges must NOT merge
    blocks: intra-block degree 4 outvotes the single bridge edge.
    Golden oracle: make_goldens rebuilds the same integer-arithmetic
    edges and replays LPA with an independent pure-Python dict/tally
    implementation (exact label equality, no tolerance)."""
    from ..operators.graph import label_communities

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(
        F.col("doc_id") < 2000).select("doc_id")
    n = docs.count()
    d = F.col("doc_id")
    base = d - F.pmod(d, 10)
    p = F.pmod(d, 10)
    ring = docs.select(d.alias("src"),
                       (base + F.pmod(p + 1, 10)).alias("dst"))
    chord = docs.select(d.alias("src"),
                        (base + F.pmod(p + 3, 10)).alias("dst"))
    bridge = docs.filter((p == 9) & (F.pmod(F.floor(d / 10), 4) == 0)) \
        .select(d.alias("src"), (d + 1).alias("dst"))
    edges = ring.union(chord).union(bridge) \
        .filter((F.col("dst") < n) & (F.col("dst") >= 0))
    out = label_communities(edges, iters=8)
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("community").cast("long").alias("community")) \
        .orderBy("node")


def _q_poi_conflation_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POI conflation (operators/geocode.py conflate_pois): fuzzy
    venue entity-resolution — token-x-cell blocking self-join, exact
    integer-ppm Jaccard edges, connected-components closure, MIN-id
    canonical. Planted fixture over documents: each 4-doc block is one
    venue scraped four ways in cell g = doc_id DIV 4 —

        m0 'g{g} alpha beta gamma'   J(m0,m1) = 3/4 = 750000
        m1 'g{g} alpha beta'         J(m1,m2) = 2/4 = 500000 (boundary,
        m2 'g{g} alpha delta'                   INCLUSIVE)
        m3 = m0's name, DIFFERENT cell (g + 10^6)

    J(m0, m2) = 2/5 = 400000 sits BELOW the threshold, so m2 joins the
    cluster only through the transitive closure — the query fails on
    any pairwise-argmax shortcut. m3 proves the spatial gate: an
    identical name in another cell stays a singleton. The corpus-wide
    tokens (alpha/beta/gamma/delta) are shared by every block, so
    WITHOUT cell co-blocking the fixture would fan out quadratically —
    the blocking design is load-bearing, not decoration. Golden
    oracle: make_goldens replays names/cells from doc_ids and runs an
    independent brute-force within-cell Jaccard + union-find."""
    from ..operators.geocode import conflate_pois

    _register(spark, sf_dir, ["documents"])
    docs = spark.table("documents").filter(
        F.col("doc_id") < 2000).select("doc_id")
    d = F.col("doc_id")
    g = F.floor(d / 4).cast("long")
    m = F.pmod(d, 4)
    gtok = F.concat(F.lit("g"), g.cast("string"))
    name = (F.when(m == 0, F.concat_ws(" ", gtok, F.lit("alpha beta gamma")))
            .when(m == 1, F.concat_ws(" ", gtok, F.lit("alpha beta")))
            .when(m == 2, F.concat_ws(" ", gtok, F.lit("alpha delta")))
            .otherwise(F.concat_ws(" ", gtok, F.lit("alpha beta gamma"))))
    cell = F.when(m == 3, g + 1_000_000).otherwise(g).cast("long")
    pois = docs.select(d.alias("poi_id"), name.alias("name"),
                       cell.alias("cell"))
    out = conflate_pois(pois, cell_col="cell", min_jaccard_ppm=500_000)
    return out.select(
        F.col("poi_id").cast("long").alias("poi_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    ).orderBy("poi_id")


def _q_heatmap_tiles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster heat-map tiles (operators/tiling.py render_heatmap_tiles
    over operators/hotspot.py kde_grid): PTS points -> z12 occupied
    cells -> radius-3 integer-Epanechnikov KDE -> 256px grayscale PNG
    tiles at z4 with the exact-DIV intensity quantization. Output pins
    lit-pixel counts and the crc32 of each raw canvas (the
    media_features content-crc precedent — PNG wrapping itself is
    pinned by the codec round-trip suite). Golden: make_goldens
    replays points/tiles/KDE/quantize/canvas with scalar dicts."""
    from ..operators.hotspot import kde_grid
    from ..operators.tiling import render_heatmap_tiles

    _register(spark, sf_dir, ["customer"])
    zf = 12
    tx, ty = tm.tile_cols("lon", "lat", zf)
    cells = (
        spark.sql(PTS_SQL)
        .select(tx.alias("x"), ty.alias("y"))
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("v"))
    )
    kde = kde_grid(cells, zoom=zf, radius=3)
    out = render_heatmap_tiles(kde, zoom=4, vmax_ppm=5_000_000,
                               tile_px=256)
    return out.select(
        "x", "y", "n_px",
        F.col("pixel_crc").cast("long").alias("pixel_crc"),
    ).orderBy("x", "y")


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def _register(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _mk_shared(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(sql)

    return run


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _mk_shared(sql) for name, sql in _shared_sql_queries().items()
    }
    q["json_extract"] = _q_json_extract_spark
    q["token_count"] = _q_token_count_spark
    q["cosine_topk"] = _q_cosine_topk_spark
    q["events_hourly_window"] = _q_events_hourly_spark
    q["text_quality"] = _q_text_quality_spark
    q["tile_pyramid_counts"] = _q_tile_pyramid_spark
    q["incremental_tiles"] = _q_incremental_tiles_spark
    q["containment_pairs"] = _q_containment_spark
    q["phrase_search"] = _q_phrase_search_spark
    q["geohash_cells"] = _q_geohash_cells_spark
    q["viewport_tiles"] = _q_viewport_tiles_spark
    q["paragraph_dedup"] = _q_paragraph_dedup_spark
    q["emerging_hotspots"] = _q_emerging_hotspots_spark
    q["exif_geo_tiles"] = _q_exif_geo_tiles_spark
    q["photo_poi_link"] = _q_photo_poi_link_spark
    q["line_shape_stats"] = _q_line_shape_spark
    q["url_shape_stats"] = _q_url_shape_spark
    q["skyline_pois"] = _q_skyline_spark
    q["pip_refine_triangle"] = _q_pip_refine_spark
    q["pip_donut_multipoly"] = _q_pip_donut_spark
    q["polygon_centroid"] = _q_polygon_centroid_spark
    q["url_canonical_dedup"] = _q_url_canonical_spark
    q["sessionization"] = _q_sessionization_spark
    q["repetition_scores"] = _q_repetition_spark
    q["pii_scrub"] = _q_pii_scrub_spark
    q["lang_id_counts"] = _q_lang_id_spark
    q["s2_cell_counts"] = _q_s2_cells_spark
    q["cell_ladder_rollup"] = _q_cell_ladder_spark
    q["dedup_minhash_pairs"] = _q_minhash_pairs_spark
    q["dedup_simhash_pairs"] = _q_simhash_pairs_spark
    q["ann_lsh_topk"] = _q_ann_lsh_spark
    q["ann_ivf_topk"] = _q_ann_ivf_spark
    q["dedup_components"] = _q_dedup_components_spark
    q["dedup_jaccard_verify"] = _q_jaccard_verify_spark
    q["bloom_url_probe"] = _q_bloom_url_probe_spark
    q["tfidf_top_terms"] = _q_tfidf_spark
    q["stratified_sample"] = _q_stratified_sample_spark
    q["corpus_curation"] = _q_corpus_curation_spark
    q["bpe_token_count"] = _q_bpe_token_count_spark
    q["pq_adc_topk"] = _q_pq_adc_spark
    q["script_fractions"] = _q_script_fractions_spark
    q["hll_registers"] = _q_hll_registers_spark
    q["cm_frequencies"] = _q_cm_frequencies_spark
    q["pack_sequences"] = _q_pack_sequences_spark
    q["doc_chunks"] = _q_doc_chunks_spark
    q["ngram_topk"] = _q_ngram_topk_spark
    q["salted_join"] = _q_salted_join_spark
    q["time_rollup"] = _q_time_rollup_spark
    q["incremental_dedup"] = _q_incremental_dedup_spark
    q["zorder_keys"] = _q_zorder_keys_spark
    q["snapshot_diff"] = _q_snapshot_diff_spark
    q["contamination_pairs"] = _q_contamination_spark
    q["fingerprint_hashes"] = _q_fingerprint_spark
    q["mvt_tile_stats"] = _q_mvt_tile_stats_spark
    q["media_features"] = _q_media_features_spark
    q["curated_packing"] = _q_curated_packing_spark
    q["training_shards"] = _q_training_shards_spark
    q["span_dedup"] = _q_span_dedup_spark
    q["span_removal"] = _q_span_removal_spark
    q["span_removal_chars"] = _q_span_removal_chars_spark
    q["link_pagerank"] = _q_link_pagerank_spark
    q["kmv_quantiles"] = _q_kmv_quantiles_spark
    q["mixture_sample"] = _q_mixture_sample_spark
    q["radius_pairs"] = _q_radius_pairs_spark
    q["nearest_poi"] = _q_nearest_poi_spark
    q["dbscan_clusters"] = _q_dbscan_clusters_spark
    q["quality_classifier"] = _q_quality_classifier_spark
    q["quality_classifier_ext"] = _q_quality_classifier_ext_spark
    q["snapshot_upsert"] = _q_snapshot_upsert_spark
    q["bigram_lm_scores"] = _q_bigram_lm_spark
    q["robots_filter"] = _q_robots_filter_spark
    q["page_links"] = _q_page_links_spark
    q["anchor_texts"] = _q_anchor_texts_spark
    q["image_text_pairs"] = _q_image_text_pairs_spark
    q["image_near_dup"] = _q_image_near_dup_spark
    q["semantic_dedup"] = _q_semantic_dedup_spark
    q["hashed_embedding"] = _q_hashed_embedding_spark
    q["asof_join"] = _q_asof_join_spark
    q["interval_join"] = _q_interval_join_spark
    q["polygon_intersection"] = _q_polygon_intersection_spark
    q["polyline_simplify"] = _q_polyline_simplify_spark
    q["simplify_pyramid"] = _q_simplify_pyramid_spark
    q["dsir_scores"] = _q_dsir_scores_spark
    q["crawl_schedule"] = _q_crawl_schedule_spark
    q["bm25_topk"] = _q_bm25_topk_spark
    q["pmi_topk"] = _q_pmi_topk_spark
    q["blocklist_filter"] = _q_blocklist_filter_spark
    q["gazetteer_match"] = _q_gazetteer_match_spark
    q["quadkey_tiles"] = _q_quadkey_tiles_spark
    q["hll_pyramid"] = _q_hll_pyramid_spark
    q["trajectory_steps"] = _q_trajectory_steps_spark
    q["trajectory_stats"] = _q_trajectory_stats_spark
    q["hotspot_gi"] = _q_hotspot_gi_spark
    q["bbox_dissolve"] = _q_bbox_dissolve_spark
    q["zone_map"] = _q_zone_map_spark
    q["snap_nearest"] = _q_snap_nearest_spark
    q["curriculum_order"] = _q_curriculum_order_spark
    q["kmv_setops"] = _q_kmv_setops_spark
    q["snapshot_history"] = _q_snapshot_history_spark
    q["kde_heatmap"] = _q_kde_heatmap_spark
    q["zone_map_merge"] = _q_zone_map_merge_spark
    q["hll_setops"] = _q_hll_setops_spark
    q["boilerplate_removal"] = _q_boilerplate_removal_spark
    q["convex_hulls"] = _q_convex_hulls_spark
    q["hist_bins"] = _q_hist_bins_spark
    q["hist_quantiles"] = _q_hist_quantiles_spark
    q["sitemap_frontier"] = _q_sitemap_frontier_spark
    q["weighted_sample"] = _q_weighted_sample_spark
    q["heatmap_tiles"] = _q_heatmap_tiles_spark
    q["link_hits"] = _q_link_hits_spark
    q["host_communities"] = _q_host_communities_spark
    q["poi_conflation"] = _q_poi_conflation_spark
    q["trigram_lm_scores"] = _q_trigram_lm_spark
    return q


# ---------------------------------------------------------------------------
# Golden-fixture oracles (engine-native ops DuckDB can't recompute)
# ---------------------------------------------------------------------------
#
# Fixtures are generated by tools/make_goldens.py, which verifies each
# one against an INDEPENDENT pure-Python/numpy implementation before
# writing (bitwise for the integer/exact-rational queries, pair-set +
# rank + 1e-9 cosine for the ANN floats). Each fixture carries a
# ``corpus_key`` discriminator so one DuckDB oracle string serves every
# committed scale factor: the key is recomputed from the registered
# views at query time and selects the matching slice.

_GOLDEN_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "tests", "golden", "contract")
)

_GOLDEN_SPECS = {
    # name: (projected columns, corpus-key subquery)
    "s2_cell_counts": ("cell_l8, n, subcells", "SELECT COUNT(*) FROM customer"),
    "cell_ladder_rollup": ("level, n_points, n_cells, cell_xor, encode_mismatches",
                           "SELECT COUNT(*) FROM customer"),
    "dedup_minhash_pairs": ("a, b, jaccard_est", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "dedup_simhash_pairs": ("a, b, hamming", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "ann_lsh_topk": ("query_id, vec_id, cos_sim, rn", "SELECT SUM(vec_id * label) FROM embeddings"),
    "ann_ivf_topk": ("query_id, vec_id, cos_sim, rn", "SELECT SUM(vec_id * label) FROM embeddings"),
    "pq_adc_topk": ("query_id, vec_id, adc_dist, rn", "SELECT SUM(vec_id * label) FROM embeddings"),
    "hll_registers": ("register, rho", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "cm_frequencies": ("lang, est_count", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "contamination_pairs": ("doc_id, eval_id, n_shared_shingles", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "mvt_tile_stats": ("z, n_tiles, n_feats, mvt_bytes, mvt_crc_xor", "SELECT COUNT(*) FROM customer"),
    "media_features": ("media_id, kind, width, height, channels, n_frames, "
                       "sample_rate, payload_crc, content_crc, ok",
                       "SELECT COUNT(*) FROM customer"),
    "curated_packing": ("doc_id, lang_detected, bpe_tokens, pack_bucket, "
                        "seq_offset, seq_id",
                        "SELECT SUM(doc_id * n_chars) FROM documents"),
    "training_shards": ("lang_detected, pack_bucket, seq_id, n_docs, "
                        "n_tokens, tok_fp",
                        "SELECT SUM(doc_id * n_chars) FROM documents"),
    "link_pagerank": ("node, rank7",
                      "SELECT SUM(doc_id * n_chars) FROM documents"),
    "kmv_quantiles": ("prob, q",
                      "SELECT SUM(doc_id * n_chars) FROM documents"),
    "mixture_sample": ("source, rate_ppm, n_docs, tokens_kept",
                       "SELECT SUM(doc_id * n_chars) FROM documents"),
    "dedup_components": ("doc_id, component", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "dedup_jaccard_verify": ("a, b, jaccard", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "fingerprint_hashes": ("doc_id, fp", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "bloom_url_probe": ("doc_id, probably_seen", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "stratified_sample": ("doc_id, lang", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "bpe_token_count": ("doc_id, bpe_tokens", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "span_removal": ("doc_id, n_tokens_after, tokens_removed, chars_removed, "
                     "text_fp", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "span_removal_chars": ("doc_id, planted, n_chars_after, chars_removed, "
                           "text_fp", "SELECT SUM(doc_id * n_chars) FROM documents"),
    "image_near_dup": ("a, b, hamming", "SELECT COUNT(*) FROM customer"),
    "semantic_dedup": ("vec_id, centroid_id, keep, dup_of, max_cos7",
                       "SELECT SUM(vec_id * label) FROM embeddings"),
    "hashed_embedding": ("doc_id, bucket, tf, df_bucket, weight",
                         "SELECT SUM(doc_id * n_chars) FROM documents"),
    "polygon_intersection": ("a, b", "SELECT COUNT(*) FROM customer"),
    "polyline_simplify": ("line_id, n_pts, n_kept, kept_sum, kept_fp, simp_fp",
                          "SELECT COUNT(*) FROM customer"),
    "simplify_pyramid": ("line_id, z, n_kept, simp_fp",
                         "SELECT COUNT(*) FROM customer"),
    "dsir_scores": ("doc_id, n_grams, score_ppm, kept",
                    "SELECT SUM(doc_id * n_chars) FROM documents"),
    "hll_pyramid": ("z, x, y, n_reg, sum_rho, max_rho, reg_fp",
                    "SELECT COUNT(*) FROM customer"),
    "kmv_setops": ("k_used, n_shared, jaccard_est, union_est, intersection_est",
                   "SELECT SUM(doc_id * n_chars) FROM documents"),
    "incremental_dedup": ("new_id, index_id, jaccard_est",
                          "SELECT SUM(doc_id * n_chars) FROM documents"),
    "hll_setops": ("est_a4, est_b4, union_est4, intersection_est4, "
                   "jaccard_est6",
                   "SELECT SUM(doc_id * n_chars) FROM documents"),
    "convex_hulls": ("g, n_points, n_vertices, area2, hull_fp",
                     "SELECT COUNT(*) FROM customer"),
    "heatmap_tiles": ("x, y, n_px, pixel_crc",
                      "SELECT COUNT(*) FROM customer"),
    "link_hits": ("node, hub7, auth7",
                  "SELECT SUM(doc_id * n_chars) FROM documents"),
    "host_communities": ("node, community",
                         "SELECT SUM(doc_id * n_chars) FROM documents"),
    "poi_conflation": ("poi_id, canonical_id, cluster_size",
                       "SELECT SUM(doc_id * n_chars) FROM documents"),
}


def _golden_oracles() -> dict[str, str]:
    return {
        name: (
            f"SELECT {cols} FROM read_parquet('{_GOLDEN_DIR}/{name}.parquet') "
            f"WHERE corpus_key = ({key_sql})"
        )
        for name, (cols, key_sql) in _GOLDEN_SPECS.items()
    }


def build_oracles() -> dict[str, str]:
    o = dict(_shared_sql_queries())
    o["json_extract"] = _Q_JSON_EXTRACT_ORACLE
    o["token_count"] = _Q_TOKEN_COUNT_ORACLE
    o["cosine_topk"] = _Q_COSINE_TOPK_ORACLE
    o["events_hourly_window"] = _Q_EVENTS_HOURLY_ORACLE
    o["text_quality"] = _Q_TEXT_QUALITY_ORACLE
    o["tile_pyramid_counts"] = _tile_pyramid_oracle()
    o["incremental_tiles"] = _incremental_tiles_oracle()
    o["containment_pairs"] = _Q_CONTAINMENT_ORACLE
    o["phrase_search"] = _Q_PHRASE_SEARCH_ORACLE
    o["geohash_cells"] = _geohash_oracle()
    o["viewport_tiles"] = _viewport_tiles_oracle()
    o["paragraph_dedup"] = _Q_PARAGRAPH_DEDUP_ORACLE
    o["emerging_hotspots"] = _Q_EMERGING_HOTSPOTS_ORACLE
    o["exif_geo_tiles"] = _exif_geo_tiles_oracle()
    o["photo_poi_link"] = _photo_poi_link_oracle()
    o["line_shape_stats"] = _Q_LINE_SHAPE_ORACLE
    o["url_shape_stats"] = _Q_URL_SHAPE_ORACLE
    o["skyline_pois"] = _Q_SKYLINE_ORACLE
    o["pip_refine_triangle"] = _pip_refine_oracle()
    o["pip_donut_multipoly"] = _pip_donut_oracle()
    o["polygon_centroid"] = _Q_POLYGON_CENTROID_ORACLE
    o["url_canonical_dedup"] = _Q_URL_CANONICAL_ORACLE
    o["sessionization"] = _Q_SESSIONIZATION_ORACLE
    o["repetition_scores"] = _Q_REPETITION_ORACLE
    o["pii_scrub"] = _pii_scrub_oracle()
    o["lang_id_counts"] = _lang_id_oracle()
    o["tfidf_top_terms"] = _Q_TFIDF_ORACLE
    o["corpus_curation"] = _corpus_curation_oracle()
    o["script_fractions"] = _script_fractions_oracle()
    o["pack_sequences"] = _Q_PACK_SEQUENCES
    o["doc_chunks"] = _Q_DOC_CHUNKS_ORACLE
    o["ngram_topk"] = _Q_NGRAM_TOPK_ORACLE
    o["salted_join"] = _Q_SALTED_JOIN_ORACLE
    o["time_rollup"] = _Q_TIME_ROLLUP_ORACLE
    o["zorder_keys"] = _Q_ZORDER_KEYS_ORACLE
    o["snapshot_diff"] = _Q_SNAPSHOT_DIFF
    o["span_dedup"] = _Q_SPAN_DEDUP_ORACLE
    o["radius_pairs"] = _Q_RADIUS_PAIRS_ORACLE
    o["nearest_poi"] = _Q_NEAREST_POI_ORACLE
    o["dbscan_clusters"] = _Q_DBSCAN_ORACLE
    o["quality_classifier"] = _quality_classifier_oracle()
    o["quality_classifier_ext"] = _quality_classifier_ext_oracle()
    o["snapshot_upsert"] = _Q_SNAPSHOT_UPSERT_ORACLE
    o["bigram_lm_scores"] = _Q_BIGRAM_LM_ORACLE
    o["trigram_lm_scores"] = _Q_TRIGRAM_LM_ORACLE
    o["robots_filter"] = _robots_filter_oracle()
    o["page_links"] = _page_links_oracle()
    o["anchor_texts"] = _anchor_texts_oracle()
    o["image_text_pairs"] = _image_text_pairs_oracle()
    o["asof_join"] = _Q_ASOF_JOIN_ORACLE
    o["interval_join"] = _Q_INTERVAL_JOIN_ORACLE
    o["crawl_schedule"] = _Q_CRAWL_SCHEDULE_ORACLE
    o["bm25_topk"] = _Q_BM25_ORACLE
    o["pmi_topk"] = _Q_PMI_ORACLE
    o["blocklist_filter"] = _Q_BLOCKLIST_ORACLE
    o["gazetteer_match"] = _Q_GAZETTEER_ORACLE
    o["quadkey_tiles"] = _quadkey_oracle()
    o["trajectory_steps"] = _Q_TRAJ_STEPS_ORACLE
    o["trajectory_stats"] = _Q_TRAJ_STATS_ORACLE
    o["hotspot_gi"] = _hotspot_oracle()
    o["bbox_dissolve"] = _Q_BBOX_DISSOLVE_ORACLE
    o["zone_map"] = _Q_ZONE_MAP_ORACLE
    o["snap_nearest"] = _snap_oracle()
    o["curriculum_order"] = _Q_CURRICULUM_ORACLE
    o["snapshot_history"] = _Q_SNAPSHOT_HISTORY_ORACLE
    o["kde_heatmap"] = _kde_oracle()
    # merge == rebuild: the oracle IS the full-table zone-map SQL
    o["zone_map_merge"] = _Q_ZONE_MAP_ORACLE
    o["boilerplate_removal"] = _Q_BOILERPLATE_ORACLE
    o["hist_bins"] = _Q_HIST_BINS_ORACLE
    o["hist_quantiles"] = _Q_HIST_QUANTILES_ORACLE
    o["sitemap_frontier"] = _Q_SITEMAP_ORACLE
    o["weighted_sample"] = _Q_WEIGHTED_SAMPLE_ORACLE
    o.update(_golden_oracles())
    return o
