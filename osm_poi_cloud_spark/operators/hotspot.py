"""Getis-Ord Gi* hotspot detection over a tile grid.

The standard local spatial-autocorrelation statistic (Getis & Ord 1992;
the "hot spot analysis" every GIS ships) computed over the engine's
Web-Mercator tile grid with binary 3x3 queen-contiguity weights
including self. For cell i over the COMPLETE n x n grid (empty cells
are zeros — the statistic is defined over the lattice, not just
occupied cells):

    Gi* = (S_i - xbar * w_i) / (s * sqrt((N * w_i - w_i^2) / (N - 1)))

where ``S_i`` is the 3x3 neighborhood sum, ``w_i`` the number of valid
lattice neighbors (9 in the interior, fewer on grid edges — derived
arithmetically from the cell position, never by counting rows),
``N = n^2`` lattice cells, and xbar / s the lattice mean / stddev
(zero cells included via exact integer totals).

Scale shape: candidate cells come from ONE x9 explode + groupBy of the
occupied-cell table (sparse — empty neighborhoods never materialize);
own values re-attach with one join on the cell key; the global moments
ride a broadcast 1-row cross-join. No driver actions, nothing sized by
the lattice (4^z) — only by occupied cells.

Exactness: every input to the z-score chain is an exact integer
(neighborhood sums, w_i, N, Sum(v), Sum(v^2)); the chain itself is a
fixed-order IEEE div/mul/sub/sqrt sequence mirrored token-for-token by
the DuckDB oracle, so ``gi_ppm = floor(1e6 * Gi*)`` is cross-engine
bit-exact (the radius-join / classifier-logit precedent).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def getis_ord_gi_star(tiles: DataFrame, zoom: int, x_col: str = "x",
                      y_col: str = "y", value_col: str = "v") -> DataFrame:
    """Per-candidate-cell Gi* over a sparse occupied-cell table
    ``(x, y, v)`` at ``zoom``. Candidates are every lattice cell whose
    3x3 neighborhood holds at least one occupied cell. Returns
    ``(x, y, v, w, nsum, gi_ppm)`` with ``v`` the cell's own value
    (0 for empty candidates) and ``gi_ppm`` the floor-ppm z-score."""
    if not 0 <= zoom <= 30:
        raise ValueError(f"zoom must be in [0, 30], got {zoom}")
    n = 1 << zoom
    nf = float(n * n)  # lattice size as double (exact: power of 4)
    src = tiles.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"),
                       F.col(value_col).cast("long").alias("_v"))

    stats = src.agg(F.sum("_v").alias("_tot"),
                    F.sum(F.col("_v") * F.col("_v")).alias("_tot2"))

    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    neigh = (
        src.withColumn("_dx", off).withColumn("_dy", off)
        .select((F.col("_x") + F.col("_dx")).alias("cx"),
                (F.col("_y") + F.col("_dy")).alias("cy"), "_v")
        .filter((F.col("cx") >= 0) & (F.col("cx") <= n - 1)
                & (F.col("cy") >= 0) & (F.col("cy") <= n - 1))
        .groupBy("cx", "cy")
        .agg(F.sum("_v").alias("nsum"))
    )

    own = src.select(F.col("_x").alias("cx"), F.col("_y").alias("cy"),
                     F.col("_v").alias("v"))
    out = (
        neigh.join(own, ["cx", "cy"], "left")
        .withColumn("v", F.coalesce(F.col("v"), F.lit(0)))
        .crossJoin(F.broadcast(stats))
    )
    # valid 3x3 lattice window size from the position alone
    wx = (F.least(F.col("cx") + 1, F.lit(n - 1))
          - F.greatest(F.col("cx") - 1, F.lit(0)) + 1)
    wy = (F.least(F.col("cy") + 1, F.lit(n - 1))
          - F.greatest(F.col("cy") - 1, F.lit(0)) + 1)
    out = out.withColumn("w", (wx * wy).cast("long"))

    # fixed-order IEEE chain — keep token-identical with the oracle SQL
    xbar = F.col("_tot").cast("double") / F.lit(nf)
    s = F.sqrt(F.col("_tot2").cast("double") / F.lit(nf) - xbar * xbar)
    wd = F.col("w").cast("double")
    denom = s * F.sqrt((wd * F.lit(nf) - wd * wd) / F.lit(nf - 1.0))
    gi = (F.col("nsum").cast("double") - xbar * wd) / denom
    return (
        out.select(
            F.col("cx").cast("long").alias("x"),
            F.col("cy").cast("long").alias("y"),
            F.col("v").cast("long").alias("v"),
            "w",
            F.col("nsum").cast("long").alias("nsum"),
            F.floor(F.lit(1000000.0) * gi).cast("long").alias("gi_ppm"),
        )
    )


def top_hotspots(tiles: DataFrame, zoom: int, k: int = 100,
                 **kwargs) -> DataFrame:
    """Deterministic top-k hottest cells (gi_ppm desc, then cell);
    TakeOrderedAndProject."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    return (getis_ord_gi_star(tiles, zoom, **kwargs)
            .orderBy(F.desc("gi_ppm"), "x", "y").limit(k))


def kde_grid(tiles: DataFrame, zoom: int, radius: int = 3,
             x_col: str = "x", y_col: str = "y",
             value_col: str = "v") -> DataFrame:
    """Kernel-density heat map over the tile lattice — the smoothing
    pass a tile renderer runs before coloring density layers (the
    continuous counterpart of ``getis_ord_gi_star``'s z-scores; cf.
    the reference's density-capped tile pyramid, main.rs merge stage,
    which thins rather than smooths).

    Each occupied cell ``(x, y, v)`` spreads its weight over the
    ``(2r+1)^2`` cells within Euclidean radius ``r`` under a discrete
    Epanechnikov kernel evaluated on EXACT integers:

        w_ppm(dx, dy) = floor(1e6 * (r2p - d2) / r2p),  d2 = dx^2+dy^2

    with ``r2p = r^2 + 1`` so boundary cells (d2 == r^2) still
    contribute. ``kde = sum(v * w_ppm)`` is a pure BIGINT sum —
    reduction-order-free and cross-engine hash-exact (the bigram-LM
    floor-ppm precedent). Note floor((r2p - d2) / r2p * ...) is
    computed as a single division then floor, token-mirrored by the
    SQL oracle.

    Scale shape: ONE bounded explode (kernel footprint is a compile-
    time constant list) + ONE groupBy on the target cell — sparse, so
    cost is occupied_cells x (2r+1)^2 regardless of lattice size; edge
    cells clamp via the same lattice filter as Gi*. No joins, no
    driver actions."""
    if not 0 <= zoom <= 30:
        raise ValueError(f"zoom must be in [0, 30], got {zoom}")
    if not 1 <= radius <= 15:
        raise ValueError(f"radius must be in [1, 15], got {radius}")
    n = 1 << zoom
    r2 = radius * radius
    r2p = float(r2 + 1)
    offs = [
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(math.floor(1_000_000.0 * (r2p - (dx * dx + dy * dy))
                                  / r2p)).alias("w_ppm"))
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
        if dx * dx + dy * dy <= r2
    ]
    src = tiles.select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"),
                       F.col(value_col).cast("long").alias("_v"))
    return (
        src.select("_x", "_y", "_v",
                   F.explode(F.array(*offs)).alias("o"))
        .select((F.col("_x") + F.col("o.dx")).alias("x"),
                (F.col("_y") + F.col("o.dy")).alias("y"),
                (F.col("_v") * F.col("o.w_ppm")).alias("_c"))
        .filter((F.col("x") >= 0) & (F.col("x") <= n - 1)
                & (F.col("y") >= 0) & (F.col("y") <= n - 1))
        .groupBy("x", "y")
        .agg(F.sum("_c").alias("kde_ppm"))
    )


def mann_kendall_trends(cells_ts: DataFrame,
                        cell_cols: tuple[str, ...] = ("x", "y"),
                        period_col: str = "period",
                        value_col: str = "v",
                        min_periods: int = 4) -> DataFrame:
    """Per-cell Mann-Kendall monotone-trend test over a space-time cube
    — the statistic behind "emerging hot spot analysis" (the temporal
    companion to Gi*: Gi* asks WHERE activity concentrates, this asks
    WHICH cells are heating up or cooling down across periods).

    For each cell's period-ordered values v_1..v_n:

        S        = sum over i<j of sign(v_j - v_i)
        var_num  = n(n-1)(2n+5) - sum over tie groups t(t-1)(2t+5)
                   (= 18 * Var(S), exact integer, tie-corrected)
        trend    = increasing  if S > 0 and (S-1)^2 * 11250 > 2401 * var_num
                   decreasing  if S < 0 and (S+1)^2 * 11250 > 2401 * var_num
                   none        otherwise

    The classification is the two-sided alpha=0.05 normal test
    |z| > 1.96 with z = (S -+ 1)/sqrt(var_num/18), rearranged so every
    comparison is EXACT INTEGER arithmetic (1.96^2 = 2401/625 and the
    18 fold into the 11250/2401 pair) — no sqrt, no float, so the
    whole row is hash-stable across engines.

    Plan: one groupBy on the cell key collecting the (period, value)
    series (bounded by the period count — a space-time cube has tens
    of periods, the KMV/hist bounded-window precedent), then S and the
    tie term fold natively over the sorted array (O(n^2) per cell with
    n = #periods, in codegen, no Python). ONE shuffle total; output
    one row per cell.

    Missing periods are simply absent from the sequence (classic MK
    uses the observed ordered sample); supply zero-filled rows upstream
    if gap-as-zero semantics are wanted.
    """
    if min_periods < 2:
        raise ValueError(f"min_periods must be >= 2, got {min_periods}")
    ordered = F.transform(
        F.array_sort(F.collect_list(
            F.struct(F.col(period_col).alias("p"),
                     F.col(value_col).alias("v")))),
        lambda s: s["v"].cast("long"))
    g = (cells_ts.groupBy(*[F.col(c) for c in cell_cols])
         .agg(ordered.alias("_vs"))
         .filter(F.size("_vs") >= min_periods))
    vs = F.col("_vs")
    n = F.size("_vs").cast("long")
    i_rng = F.sequence(F.lit(1), F.size("_vs") - 1)
    s_stat = F.aggregate(
        i_rng, F.lit(0).cast("long"),
        lambda acc, i: acc + F.aggregate(
            F.sequence(i + 1, F.size("_vs")), F.lit(0).cast("long"),
            lambda a, j: a + F.signum(
                (F.element_at(vs, j) - F.element_at(vs, i)).cast("double")
            ).cast("long")))
    # tie correction: fold over the VALUE-sorted copy counting run
    # lengths; acc = (prev value, run length, accumulated sum)
    sorted_vs = F.array_sort(vs)
    tie_fold = F.aggregate(
        sorted_vs,
        F.struct(F.lit(None).cast("long").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("acc")),
        lambda st, v: F.when(
            st["prev"].isNull() | (st["prev"] != v),
            F.struct(v.alias("prev"), F.lit(1).cast("long").alias("run"),
                     (st["acc"] + st["run"] * (st["run"] - 1)
                      * (2 * st["run"] + 5)).alias("acc")),
        ).otherwise(
            F.struct(v.alias("prev"), (st["run"] + 1).alias("run"),
                     st["acc"].alias("acc"))),
        lambda st: st["acc"] + st["run"] * (st["run"] - 1) * (2 * st["run"] + 5))
    var_num = (n * (n - 1) * (2 * n + 5) - tie_fold)
    out = (g.withColumn("n_periods", n)
           .withColumn("s_stat", s_stat)
           .withColumn("var_num", var_num)
           .drop("_vs"))
    inc = (F.col("s_stat") > 0) & (
        (F.col("s_stat") - 1) * (F.col("s_stat") - 1) * 11250
        > 2401 * F.col("var_num"))
    dec = (F.col("s_stat") < 0) & (
        (F.col("s_stat") + 1) * (F.col("s_stat") + 1) * 11250
        > 2401 * F.col("var_num"))
    return out.withColumn(
        "trend",
        F.when(inc, F.lit("increasing"))
        .when(dec, F.lit("decreasing"))
        .otherwise(F.lit("none")))
