"""kNN POI lookup per cell (north-rule extension; the reference has no
ranking windows — SURVEY §2 'Windows' row).

Strategy: grid-neighborhood candidate generation + window top-k.
Query points and POIs are keyed by Web-Mercator tile at ``zoom``;
each query point expands to its 3x3 tile neighborhood (x wraps at the
antimeridian, y clamps at the poles), candidates resolve via one
shuffle hash join on the tile key, distance is a native haversine
expression, and ``row_number() <= k`` takes the top-k.

Exactness guarantee: results are exact iff the k-th neighbor lies
within one tile width of the query point — pick ``zoom`` so the tile
edge exceeds the expected k-NN radius (the caller's data-density
knob). ``knn_bruteforce`` is the small-data/exactness fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import tile_math as tm
from .iterative import iterative_scope

EARTH_RADIUS_M = 6_371_000.0


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters — native column expression."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def knn_join(
    queries: DataFrame,
    pois: DataFrame,
    k: int,
    zoom: int = 10,
    query_id: str = "query_id",
    poi_id: str = "poi_id",
) -> DataFrame:
    """For each query point: k nearest POIs within the 3x3 tile
    neighborhood at ``zoom``. Both inputs need lon/lat columns."""
    n = 1 << zoom
    qx, qy = tm.tile_cols("lon", "lat", zoom)
    px, py = tm.tile_cols("lon", "lat", zoom)

    q = queries.select(
        F.col(query_id), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"),
        qx.alias("_qx"), qy.alias("_qy"),
    )
    # 3x3 neighborhood: x wraps (antimeridian), y clamps (mercator edge)
    q = q.withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
    q = q.withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
    q = (
        q.withColumn("tx", F.pmod(F.col("_qx") + F.col("_dx"), F.lit(n)).cast("long"))
        .withColumn("ty", (F.col("_qy") + F.col("_dy")).cast("long"))
        .filter((F.col("ty") >= 0) & (F.col("ty") < n))
        .drop("_qx", "_qy", "_dx", "_dy")
    )

    p = pois.select(
        F.col(poi_id), F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"),
        px.alias("tx"), py.alias("ty"),
    )

    cand = q.join(p, on=["tx", "ty"], how="inner").withColumn(
        "dist_m", haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(poi_id).asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id, poi_id, "dist_m", "rn")
    )


def knn_bruteforce(queries: DataFrame, pois: DataFrame, k: int,
                   query_id: str = "query_id", poi_id: str = "poi_id") -> DataFrame:
    """Exact kNN via cross join — oracle/fallback for small inputs."""
    q = queries.select(query_id, F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"))
    p = pois.select(poi_id, F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"))
    cand = q.crossJoin(p).withColumn(
        "dist_m", haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(poi_id).asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id, poi_id, "dist_m", "rn")
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    cell0: float,
    x_col: str = "lon",
    y_col: str = "lat",
    left_id: str = "query_id",
    right_id: str = "poi_id",
    max_rounds: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """EXACT nearest-neighbor join: for every left point, THE single
    nearest right point (L2 in coordinate space, deterministic
    tie-break on smaller right id) — no radius assumption, unlike
    ``knn_join``'s one-tile-width exactness window.

    Plan (expanding grid rings, a distributed "grid file" NN search):
    round ``i`` keys both sides by a ``cell0 * 2**i``-sized grid cell,
    expands each pending left point to its 3x3 cell neighborhood, hash
    joins on the cell key and takes the per-left min over
    ``(d2, right_id)`` structs. A match with ``dist <= s`` (the round's
    cell size) is PROVABLY the true nearest: any closer competitor
    would lie within ``s`` of the query and hence inside the 3x3
    neighborhood, so it was a candidate. Unmatched / too-far lefts
    carry to the next round with the cell size doubled — the classic
    geometric escalation, so total rounds are O(log(domain / cell0))
    and each round re-keys the (persisted) right side map-only.

    At scale: per-round cost is one shuffle hash join on the cell key
    over the SHRINKING pending set (dense areas resolve in round 0 at
    3x3-candidate cost; only sparse-region stragglers escalate), never
    an all-pairs product. ``pending`` and each round's matches are
    EAGERLY CHECKPOINTED — pending's anti-join chain otherwise doubles
    the logical plan every round and Catalyst re-optimization time
    grows exponentially (measured: 68 s for round 6 of a 400-point toy
    under plain persist). Per-round driver actions: the two eager
    checkpoints plus one emptiness probe, all bounded by
    ``max_rounds``. ``checkpoint_dir`` and the input-size shuffle
    width: see ``operators/iterative.py``.

    Output: ``left_id, right_id, nn_d2`` (squared distance — exact
    integer when the coordinates are integers). Inner semantics: empty
    right input yields an empty result.
    """
    if cell0 <= 0:
        raise ValueError(f"cell0 must be positive, got {cell0}")
    with iterative_scope(left.sparkSession, checkpoint_dir, tag="nn") as it:
        rt_raw = it.persist(right.select(
            F.col(right_id), F.col(x_col).alias("_rx"), F.col(y_col).alias("_ry")))
        n_right = rt_raw.count()  # also materializes the persist
        pending = it.checkpoint(left.select(
            F.col(left_id), F.col(x_col).alias("_lx"), F.col(y_col).alias("_ly")))
        it.size_shuffles(pending.count() + n_right)
        if n_right == 0:
            return (pending.limit(0)
                    .join(rt_raw.select(right_id), F.lit(False), "inner")
                    .select(left_id, right_id,
                            F.lit(None).cast("double").alias("nn_d2")))
        chunks = []
        s = float(cell0)
        for _ in range(max_rounds):
            if pending.isEmpty():
                break
            lt = (
                pending
                .withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
                .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
                .select(
                    left_id, "_lx", "_ly",
                    (F.floor(F.col("_lx") / F.lit(s)) + F.col("_dx")).alias("_cx"),
                    (F.floor(F.col("_ly") / F.lit(s)) + F.col("_dy")).alias("_cy"),
                )
            )
            rt = rt_raw.select(
                right_id, "_rx", "_ry",
                F.floor(F.col("_rx") / F.lit(s)).alias("_cx"),
                F.floor(F.col("_ry") / F.lit(s)).alias("_cy"),
            )
            ddx = F.col("_lx") - F.col("_rx")
            ddy = F.col("_ly") - F.col("_ry")
            best = (
                lt.join(rt, ["_cx", "_cy"])
                .withColumn("_d2", ddx * ddx + ddy * ddy)
                .groupBy(left_id)
                .agg(F.min(F.struct(F.col("_d2").alias("d2"),
                                    F.col(right_id).alias("rid"))).alias("_b"))
            )
            matched = it.checkpoint(
                best.filter(F.col("_b.d2") <= F.lit(s * s))
                .select(left_id, F.col("_b.rid").alias(right_id),
                        F.col("_b.d2").alias("nn_d2"))
            )
            chunks.append(matched)
            pending = it.checkpoint(
                pending.join(matched, left_id, "left_anti"))
            s *= 2.0
        if not pending.isEmpty():
            raise RuntimeError(
                f"nearest_join did not converge in {max_rounds} rounds")
        if not chunks:  # empty left input
            return (pending.limit(0)
                    .join(rt_raw.select(right_id), F.lit(False), "inner")
                    .select(left_id, right_id,
                            F.lit(None).cast("double").alias("nn_d2")))
        out = chunks[0]
        for c in chunks[1:]:
            out = out.unionByName(c)
        return out


def radius_join(left: DataFrame, right: DataFrame, radius_deg: float,
                left_id: str = "query_id", right_id: str = "poi_id") -> DataFrame:
    """All (left, right) pairs within ``radius_deg`` in DEGREE-SPACE
    Euclidean distance — the within-distance companion to ``knn_join``.

    Metric note: plain L2 on (lon, lat) degrees, NOT meters. The point
    is cross-engine exactness: the distance is two subtractions, two
    multiplies, an add and an IEEE-correctly-rounded sqrt, so an
    oracle engine reproduces every boundary decision bit-for-bit (the
    haversine form in ``knn_join`` is meter-true but transcendental).
    Degree space does not wrap at the antimeridian; pairs straddling
    +-180 deg are not candidates, consistently with the metric itself.

    Plan: both sides keyed by a ``radius_deg``-sized lon/lat grid cell
    (floor division — native), the LEFT side expands to its 3x3 cell
    neighborhood (if dist <= r, the cells differ by <= 1 in each axis,
    so coverage is EXACT, not approximate), one shuffle hash join on
    the cell key, then the exact distance filter. Output pair count —
    not n^2 — drives the cost, the same blocking argument as the LSH
    band join."""
    if radius_deg <= 0:
        raise ValueError(f"radius_deg must be positive, got {radius_deg}")
    r = float(radius_deg)
    lcx = F.floor(F.col("lon") / r).cast("long")
    lcy = F.floor(F.col("lat") / r).cast("long")

    lt = left.select(
        F.col(left_id), F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"),
        lcx.alias("_cx"), lcy.alias("_cy"),
    )
    lt = (
        lt.withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(left_id, "l_lon", "l_lat",
                (F.col("_cx") + F.col("_dx")).alias("cx"),
                (F.col("_cy") + F.col("_dy")).alias("cy"))
    )
    rt = right.select(
        F.col(right_id), F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat"),
        lcx.alias("cx"), lcy.alias("cy"),
    )
    dx = F.col("l_lon") - F.col("r_lon")
    dy = F.col("l_lat") - F.col("r_lat")
    dist = F.sqrt(dx * dx + dy * dy)
    return (
        lt.join(rt, ["cx", "cy"])
        .withColumn("dist_deg", dist)
        .filter(F.col("dist_deg") <= r)
        .select(left_id, right_id, "dist_deg")
    )
