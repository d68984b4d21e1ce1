"""DBSCAN density clustering over point sets — the spatial clustering
pass a POI pipeline runs after extraction (dedup of venue clusters,
neighborhood detection, hot-spot mining).

Composition of two already-proven scale primitives, no new shuffle
machinery:

* the eps-neighborhood graph comes from ``knn.radius_join`` (exact
  grid-blocked within-distance self-join — candidate cost is driven by
  the OUTPUT pair count, never n^2);
* density-connectivity is ``dedup.connected_components`` (large-star /
  small-star, O(log n) rounds, per-round checkpoint, data-derived
  shuffle width).

Semantics are textbook DBSCAN (Ester et al., KDD'96):

* **core** — at least ``min_pts`` points within ``eps`` (count
  includes the point itself, per the paper);
* cluster = connected component of the core-core eps-graph, labeled
  by the MIN core id in the component (deterministic);
* **border** — non-core with >= 1 core neighbor within eps; assigned
  the MIN label among its core neighbors (the paper leaves the choice
  ambiguous — min is the deterministic pick, and the one the contract
  oracle replays);
* **noise** — everything else, labeled ``-1``.

Distance is the same exact degree/grid-space L2 as ``radius_join``
(sub/mul/add + one correctly-rounded sqrt), so with integer
coordinates every boundary decision is bit-exact across engines — the
contract oracle recomputes the whole clustering in DuckDB with an n^2
neighbor scan and a RECURSIVE-CTE transitive closure, a genuinely
independent algorithm (reference analog: the reference clusters POIs
into tile buckets only; DBSCAN is the density generalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components
from .knn import radius_join


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "point_id",
    x_col: str = "lon",
    y_col: str = "lat",
    **cc_kwargs,
) -> DataFrame:
    """Cluster ``points`` -> (id_col, cluster, role). ``cluster`` is
    the min core id of the density-connected component (-1 for noise),
    ``role`` in {'core','border','noise'}. Extra kwargs (e.g.
    ``checkpoint_dir``, ``algorithm``) pass through to
    ``connected_components``."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    lhs = points.select(F.col(id_col).alias("_pa"),
                        F.col(x_col).alias("lon"), F.col(y_col).alias("lat"))
    rhs = points.select(F.col(id_col).alias("_pb"),
                        F.col(x_col).alias("lon"), F.col(y_col).alias("lat"))
    # eps-graph incl. the dist-0 self pair (DBSCAN's neighbor count
    # includes the point itself); reused 3x -> lazy lineage cut+cache
    pairs = radius_join(lhs, rhs, eps, left_id="_pa", right_id="_pb") \
        .localCheckpoint(eager=False)

    core = (pairs.groupBy("_pa").agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= min_pts)
            .select(F.col("_pa").alias("_id"))
            .localCheckpoint(eager=False))

    core_edges = (
        pairs.filter(F.col("_pa") < F.col("_pb"))
        .join(core.select(F.col("_id").alias("_pa")), "_pa", "leftsemi")
        .join(core.select(F.col("_id").alias("_pb")), "_pb", "leftsemi")
        .select(F.col("_pa").alias("a"), F.col("_pb").alias("b"))
    )
    comp = connected_components(core_edges, "a", "b", **cc_kwargs)
    # isolated cores (no core neighbor) form their own singleton cluster
    labels_core = (
        core.join(comp, core["_id"] == comp["node"], "left")
        .select("_id", F.coalesce("component", F.col("_id")).alias("cluster"))
    )

    noncore = (points.select(F.col(id_col).alias("_id"))
               .join(core, "_id", "left_anti"))
    border = (
        pairs.filter(F.col("_pa") != F.col("_pb"))
        .join(noncore.select(F.col("_id").alias("_pa")), "_pa", "leftsemi")
        .join(labels_core.select(F.col("_id").alias("_pb"), "cluster"), "_pb")
        .groupBy("_pa").agg(F.min("cluster").alias("cluster"))
        .select(F.col("_pa").alias("_id"), "cluster")
    )
    noise = (
        noncore.join(border.select("_id"), "_id", "left_anti")
        .select("_id", F.lit(-1).cast("long").alias("cluster"))
    )
    return (
        labels_core.select("_id", F.col("cluster").cast("long").alias("cluster"),
                           F.lit("core").alias("role"))
        .unionByName(border.select(
            "_id", F.col("cluster").cast("long").alias("cluster"),
            F.lit("border").alias("role")))
        .unionByName(noise.select("_id", "cluster", F.lit("noise").alias("role")))
        .withColumnRenamed("_id", id_col)
    )
