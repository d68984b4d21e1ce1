"""Link-graph analytics: PageRank over a URL/document graph.

Crawl pipelines rank hosts/pages by link authority (PageRank /
harmonic-centrality family) to pick crawl frontiers and to weight
training mixtures (e.g. Common Crawl publishes host-level ranks
computed this way). This is the canonical iterative-Spark workload,
implemented the way the engine's connected-components already is
(operators/dedup.py): one eager checkpoint per iteration so lineage
never chains across rounds, a reliable checkpoint directory option for
executor-loss resume, and everything between checkpoints native
DataFrame ops.

Semantics (the standard damped random surfer, simple graph):

    rank'(v) = (1-d)/N + d * ( sum_{u->v} rank(u)/outdeg(u)
                               + dangling_mass/N )

Dangling nodes (no out-links) redistribute their mass uniformly —
dropping it (the naive tutorial shape) leaks total mass and the ranks
no longer sum to 1. Parallel edges are collapsed (``distinct``) so one
page linking twice does not double its vote; total mass is conserved
to float precision every iteration (asserted in tests).

Scale shape: per iteration, one broadcast-or-shuffle join of edges
against current ranks (shuffle on src), one groupBy(dst) partial-agg
sum, and one bounded scalar action (the dangling-mass aggregate — a
single double to the driver, same class of per-round action as CC's
convergence probe). Edge and rank partitioning is stable across
rounds, so AQE reuses the layout.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterative import iterative_scope


def pagerank(edges: DataFrame, iters: int = 20, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             checkpoint_dir: str | None = None) -> DataFrame:
    """(src, dst) directed edge list -> (node, rank), ranks summing to 1.

    ``iters`` fixed-count power iterations (deterministic output for a
    given input — no tolerance-based early exit, so goldens replay).
    ``checkpoint_dir`` and the edge-count shuffle width: see
    ``operators/iterative.py``.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")

    with iterative_scope(edges.sparkSession, checkpoint_dir, tag="pr") as it:
        e_raw = it.persist(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()))
        # size every shuffle this operator owns — including the edge
        # distinct() — from a map-only count of the raw edges (no
        # shuffle happens before the width is set): tiny graphs stop
        # paying default-width scheduling, huge graphs get more width
        # than the session default
        it.size_shuffles(e_raw.count())
        e = it.persist(e_raw.distinct())
        nodes = it.persist(e.select(F.col("src").alias("node"))
                           .union(e.select(F.col("dst").alias("node")))
                           .distinct())
        n = nodes.count()
        if n == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # loop-invariant hoists: the degree-annotated edge list and the
        # dangling-node set never change across iterations — join them
        # ONCE, not once per round
        e_deg = it.persist(e.join(out_deg, "src").select("src", "dst", "deg"))
        dangling_nodes = it.persist(
            nodes.join(out_deg, nodes["node"] == out_deg["src"], "left_anti")
            .select("node"))

        ranks = it.checkpoint(nodes.withColumn("rank", F.lit(1.0 / n)))
        base = (1.0 - damping) / n
        for _ in range(iters):
            # mass sitting on dangling nodes this round: a ONE-ROW
            # aggregate cross-joined into the update (broadcast of a
            # single double) — no per-iteration driver round-trip, so a
            # 100-iteration run is one job per round, not two
            dang = (
                ranks.join(dangling_nodes, "node", "leftsemi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
            )
            contribs = (
                e_deg.join(ranks, e_deg["src"] == ranks["node"])
                .select(F.col("dst").alias("node"),
                        (F.col("rank") / F.col("deg")).alias("w"))
                .groupBy("node").agg(F.sum("w").alias("inflow"))
            )
            new_ranks = (
                nodes.join(contribs, "node", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    (F.lit(base)
                     + F.lit(damping) * (F.coalesce(F.col("inflow"), F.lit(0.0))
                                         + F.col("dangling") / n)).alias("rank"),
                )
            )
            ranks = it.checkpoint(new_ranks)
        return ranks


def hits(edges: DataFrame, iters: int = 20, src_col: str = "src",
         dst_col: str = "dst", checkpoint_dir: str | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) — PageRank's
    sibling link-analysis pass: a page is a good AUTHORITY when good
    hubs link to it, a good HUB when it links to good authorities.
    Crawl/curation pipelines use the pair where one number isn't
    enough (directories and link farms score high hub / low authority;
    canonical sources the reverse).

    (src, dst) edge list -> ``(node, hub, authority)``, each score
    vector L2-normalized (the classic formulation, so fixed ``iters``
    is deterministic and golden-replayable). Per iteration:

        auth'(v) = sum_{u->v} hub(u)          (then L2 normalize)
        hub'(u)  = sum_{u->v} auth'(v)        (then L2 normalize)

    — the standard sequencing (hubs update from the NEW authorities).
    Parallel edges collapse; isolated directions score 0.

    Same scaffolding contract as ``pagerank``: one eager checkpoint
    per round, shuffle width derived from the edge count via a map-only
    pre-count (both: ``operators/iterative.py``), norms as ONE-ROW
    broadcast aggregates (zero per-round driver actions), loop state
    a single (node, hub, authority) table so each round checkpoints
    once."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")

    with iterative_scope(edges.sparkSession, checkpoint_dir, tag="hits") as it:
        e_raw = it.persist(
            edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()))
        it.size_shuffles(e_raw.count())
        e = it.persist(e_raw.distinct())
        nodes = it.persist(e.select(F.col("src").alias("node"))
                           .union(e.select(F.col("dst").alias("node")))
                           .distinct())
        n = nodes.count()
        if n == 0:
            return (nodes.withColumn("hub", F.lit(0.0))
                    .withColumn("authority", F.lit(0.0)))

        state = it.checkpoint(
            nodes.withColumn("hub", F.lit(1.0 / math.sqrt(n)))
            .withColumn("authority", F.lit(1.0 / math.sqrt(n))))

        def _normalized(scores: DataFrame, col: str) -> DataFrame:
            norm = scores.agg(
                F.sqrt(F.coalesce(F.sum(F.col(col) * F.col(col)),
                                  F.lit(0.0))).alias("_nrm"))
            return (scores.crossJoin(F.broadcast(norm))
                    .select("node",
                            F.when(F.col("_nrm") > 0.0,
                                   F.col(col) / F.col("_nrm"))
                            .otherwise(F.lit(0.0)).alias(col)))

        for _ in range(iters):
            auth_in = (
                e.join(state.select(F.col("node").alias("src"), "hub"),
                       "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum("hub").alias("authority"))
            )
            # checkpoint the NEW authorities before the hub update: the
            # auth subtree otherwise evaluates twice per round (once
            # inside hub_in, once as the state join's right side) —
            # materialization only, results identical
            auth = it.checkpoint(_normalized(
                nodes.join(auth_in, "node", "left")
                .select("node", F.coalesce("authority", F.lit(0.0))
                        .alias("authority")),
                "authority"))
            hub_in = (
                e.join(auth.select(F.col("node").alias("dst"), "authority"),
                       "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum("authority").alias("hub"))
            )
            hub = _normalized(
                nodes.join(hub_in, "node", "left")
                .select("node", F.coalesce("hub", F.lit(0.0)).alias("hub")),
                "hub")
            state = it.checkpoint(hub.join(auth, "node"))
        return state.select("node", "hub", "authority")


def label_communities(edges: DataFrame, iters: int = 10,
                      src_col: str = "src", dst_col: str = "dst",
                      weight_col: str | None = None,
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over an UNDIRECTED graph — the third link-graph signal
    next to PageRank/HITS: curation consumers (mixture planner,
    curriculum, DSIR) want *domain clusters*, not per-node scores, to
    balance sources and cap any one community's share of the corpus.

    (src, dst[, weight]) edge list -> ``(node, community)``. The edge
    list is symmetrized, self-loops dropped, parallel edges merged
    (weights summed across BOTH orientations; unweighted edges count
    once per distinct undirected pair). Every node starts in its own
    community (label = its own id); per round, synchronously:

        label'(v) = argmax_label  sum of edge weights from v's
                    neighbors currently carrying that label

    with the deterministic tie-break (max total weight, then MIN
    label) — so a fixed ``iters`` replays bit-identically and golden
    fixtures work (same contract as ``pagerank``/``hits``; no
    randomized update order, which is the usual LPA determinism
    leak). Synchronous LPA can oscillate 2-cycles on bipartite-ish
    structure; with fixed ``iters`` the output is still deterministic,
    and community separation on clustered graphs converges in a few
    rounds (tests pin planted-clique fixtures against an independent
    pure-Python recompute).

    Scale shape per round: one join of the adjacency against the
    current labels (shuffle on the neighbor key), one
    groupBy(node, label) partial-agg weight sum, one groupBy(node)
    argmax — all at a width derived from the edge count, one eager
    checkpoint so lineage never chains across rounds (both, and
    ``checkpoint_dir``: ``operators/iterative.py``). Zero per-round
    driver actions.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")

    w = (F.col(weight_col).cast("double") if weight_col is not None
         else F.lit(1.0))
    with iterative_scope(edges.sparkSession, checkpoint_dir, tag="lpa") as it:
        e_raw = it.persist(
            edges.select(F.col(src_col).alias("a"),
                         F.col(dst_col).alias("b"), w.alias("w"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                    & (F.col("a") != F.col("b"))))
        it.size_shuffles(e_raw.count())
        sym = e_raw.union(
            e_raw.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        if weight_col is None:
            # parallel/reverse duplicates count ONCE per undirected pair
            adj = it.persist(sym.select("a", "b").distinct()
                             .withColumn("w", F.lit(1.0)))
        else:
            adj = it.persist(sym.groupBy("a", "b").agg(F.sum("w").alias("w")))
        nodes = it.persist(adj.select(F.col("a").alias("node")).distinct())

        labels = it.checkpoint(nodes.withColumn("label", F.col("node")))
        for _ in range(iters):
            votes = (
                adj.join(labels.select(F.col("node").alias("a"), "label"),
                         "a")
                .groupBy(F.col("b").alias("node"), F.col("label"))
                .agg(F.sum("w").alias("wt"))
            )
            upd = votes.groupBy("node").agg(
                F.min(F.struct((-F.col("wt")).alias("nw"),
                               F.col("label").alias("l")))["l"]
                .alias("_new"))
            labels = it.checkpoint(
                labels.join(upd, "node", "left")
                .select("node",
                        F.coalesce("_new", "label").alias("label")))
        return labels.select("node", F.col("label").alias("community"))
