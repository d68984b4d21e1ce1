"""Getis-Ord Gi* hotspot detection (operators/hotspot.py)."""

import math

import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark.operators import hotspot as hs


def _gi_expected(cells, zoom):
    """Scalar textbook recompute over the full lattice definition."""
    n = 1 << zoom
    N = n * n
    vals = dict(cells)
    tot = sum(vals.values())
    tot2 = sum(v * v for v in vals.values())
    xbar = tot / N
    s = math.sqrt(tot2 / N - xbar * xbar)
    cand = set()
    for (x, y) in vals:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if 0 <= x + dx < n and 0 <= y + dy < n:
                    cand.add((x + dx, y + dy))
    out = {}
    for (x, y) in cand:
        nsum = sum(vals.get((x + dx, y + dy), 0)
                   for dx in (-1, 0, 1) for dy in (-1, 0, 1))
        w = ((min(x + 1, n - 1) - max(x - 1, 0) + 1)
             * (min(y + 1, n - 1) - max(y - 1, 0) + 1))
        gi = (nsum - xbar * w) / (s * math.sqrt((w * N - w * w) / (N - 1)))
        out[(x, y)] = (vals.get((x, y), 0), w, nsum, math.floor(1e6 * gi))
    return out


CELLS = [((0, 0), 5), ((0, 1), 3), ((1, 0), 2), ((3, 3), 9),
         ((7, 7), 1), ((6, 7), 4), ((5, 2), 2)]


def test_matches_scalar_recompute(spark):
    df = spark.createDataFrame([(x, y, v) for (x, y), v in CELLS],
                               "x long, y long, v long")
    got = {(r["x"], r["y"]): (r["v"], r["w"], r["nsum"], r["gi_ppm"])
           for r in hs.getis_ord_gi_star(df, zoom=3).collect()}
    assert got == _gi_expected(CELLS, 3)


def test_edge_window_sizes_and_empty_candidates(spark):
    df = spark.createDataFrame([(0, 0, 10)], "x long, y long, v long")
    got = {(r["x"], r["y"]): r for r in
           hs.getis_ord_gi_star(df, zoom=3).collect()}
    # corner itself: 2x2 window; its neighbors are empty candidates
    assert got[(0, 0)]["w"] == 4 and got[(0, 0)]["v"] == 10
    assert got[(1, 1)]["w"] == 9 and got[(1, 1)]["v"] == 0
    assert got[(0, 1)]["w"] == 6
    # all candidates see the single occupied cell's mass
    assert all(r["nsum"] == 10 for r in got.values())
    assert set(got) == {(x, y) for x in (0, 1) for y in (0, 1)}


def test_planted_cluster_is_hottest(spark):
    # dense 2x2 block of mass vs scattered singles
    cells = ([(20, 20, 50), (20, 21, 50), (21, 20, 50), (21, 21, 50)]
             + [(i * 7 % 60 + 2, i * 11 % 60 + 2, 1) for i in range(30)])
    df = spark.createDataFrame(cells, "x long, y long, v long")
    top = hs.top_hotspots(df, zoom=6, k=4).collect()
    assert {(r["x"], r["y"]) for r in top} <= {(x, y) for x in (19, 20, 21, 22)
                                              for y in (19, 20, 21, 22)}
    assert all(r["gi_ppm"] > 0 for r in top)


def test_plan_broadcasts_stats_no_cartesian(spark):
    df = spark.createDataFrame([(1, 1, 2), (2, 2, 3)], "x long, y long, v long")
    plan = (hs.getis_ord_gi_star(df, zoom=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross-join
    assert "CartesianProduct" not in plan


def test_validation(spark):
    df = spark.createDataFrame([(1, 1, 2)], "x long, y long, v long")
    with pytest.raises(ValueError):
        hs.getis_ord_gi_star(df, zoom=31)
    with pytest.raises(ValueError):
        hs.top_hotspots(df, zoom=4, k=0)


# --- kde_grid (Epanechnikov heat map) ---

def _kde_expected(cells, zoom, radius):
    n = 1 << zoom
    r2, r2p = radius * radius, float(radius * radius + 1)
    out = {}
    for (x, y), v in cells:
        for dx in range(-radius, radius + 1):
            for dy in range(-radius, radius + 1):
                d2 = dx * dx + dy * dy
                if d2 > r2:
                    continue
                tx, ty = x + dx, y + dy
                if not (0 <= tx < n and 0 <= ty < n):
                    continue
                w = math.floor(1_000_000.0 * (r2p - d2) / r2p)
                out[(tx, ty)] = out.get((tx, ty), 0) + v * w
    return out


def test_kde_matches_scalar_recompute(spark):
    df = spark.createDataFrame([(x, y, v) for (x, y), v in CELLS],
                               "x long, y long, v long")
    for radius in (1, 2, 3):
        got = {(r["x"], r["y"]): r["kde_ppm"]
               for r in hs.kde_grid(df, zoom=3, radius=radius).collect()}
        assert got == _kde_expected(CELLS, 3, radius)


def test_kde_single_point_field_and_mass(spark):
    # interior point: field == v * kernel; total mass == v * sum(w)
    df = spark.createDataFrame([(8, 8, 10)], "x long, y long, v long")
    rows = hs.kde_grid(df, zoom=5, radius=2).collect()
    exp = _kde_expected([((8, 8), 10)], 5, 2)
    assert {(r["x"], r["y"]): r["kde_ppm"] for r in rows} == exp
    r2p = 5.0
    wsum = sum(math.floor(1e6 * (r2p - (dx * dx + dy * dy)) / r2p)
               for dx in range(-2, 3) for dy in range(-2, 3)
               if dx * dx + dy * dy <= 4)
    assert sum(r["kde_ppm"] for r in rows) == 10 * wsum
    # peak at the source cell
    assert max(rows, key=lambda r: r["kde_ppm"])["x"] == 8


def test_kde_edge_clamp(spark):
    df = spark.createDataFrame([(0, 0, 7)], "x long, y long, v long")
    rows = hs.kde_grid(df, zoom=3, radius=3).collect()
    assert all(0 <= r["x"] < 8 and 0 <= r["y"] < 8 for r in rows)
    assert {(r["x"], r["y"]): r["kde_ppm"] for r in rows} \
        == _kde_expected([((0, 0), 7)], 3, 3)


def test_kde_validation(spark):
    df = spark.createDataFrame([(0, 0, 1)], "x long, y long, v long")
    with pytest.raises(ValueError):
        hs.kde_grid(df, zoom=31)
    with pytest.raises(ValueError):
        hs.kde_grid(df, zoom=3, radius=0)
    with pytest.raises(ValueError):
        hs.kde_grid(df, zoom=3, radius=16)


# ------------------------------------------------------------ Mann-Kendall


def _py_mk(values):
    n = len(values)
    s = sum((0 if values[j] == values[i] else (1 if values[j] > values[i] else -1))
            for i in range(n) for j in range(i + 1, n))
    from collections import Counter
    ties = sum(t * (t - 1) * (2 * t + 5) for t in Counter(values).values())
    var_num = n * (n - 1) * (2 * n + 5) - ties
    if s > 0 and (s - 1) ** 2 * 11250 > 2401 * var_num:
        trend = "increasing"
    elif s < 0 and (s + 1) ** 2 * 11250 > 2401 * var_num:
        trend = "decreasing"
    else:
        trend = "none"
    return s, var_num, trend


def _float_z(s, var_num):
    if s == 0 or var_num == 0:
        return 0.0
    return (s - 1 if s > 0 else s + 1) / math.sqrt(var_num / 18)


def test_mann_kendall_hand_and_planted(spark):
    rows = []
    # cell 1: strictly increasing (12 periods) -> S = 66, significant
    rows += [(1, p, 10 + 3 * p) for p in range(12)]
    # cell 2: strictly decreasing
    rows += [(2, p, 100 - 5 * p) for p in range(12)]
    # cell 3: constant (all ties) -> S = 0, var_num = 0, none
    rows += [(3, p, 7) for p in range(12)]
    # cell 4: too few periods -> filtered out
    rows += [(4, p, p) for p in range(3)]
    # cell 5: alternating -> no significant trend
    rows += [(5, p, 5 + (p % 2)) for p in range(12)]
    # cells 6/7: 4-period monotone runs, |z| = 1.70 (p = 0.089) -> not
    # significant at alpha = 0.05
    rows += [(6, p, p) for p in range(4)]
    rows += [(7, p, 3 - p) for p in range(4)]
    # cell 8: 5-period monotone run, z = 2.20 (p = 0.027) -> significant
    rows += [(8, p, p) for p in range(5)]
    # cell 9: rise, dip, rise over 12 periods, z = 1.80 -> not significant
    rows += [(9, p, v) for p, v in enumerate([1, 2, 3, 4, 5, 6, 7, 3, 2, 1, 8, 9])]
    df = spark.createDataFrame(rows, "cell long, period long, v long")
    got = {r["cell"]: r for r in hs.mann_kendall_trends(
        df, cell_cols=("cell",)).collect()}
    assert set(got) == {1, 2, 3, 5, 6, 7, 8, 9}
    assert got[1]["s_stat"] == 66 and got[1]["trend"] == "increasing"
    assert got[2]["s_stat"] == -66 and got[2]["trend"] == "decreasing"
    assert got[3]["s_stat"] == 0 and got[3]["var_num"] == 0
    assert got[3]["trend"] == "none"
    assert got[5]["trend"] == "none"
    assert got[6]["trend"] == got[7]["trend"] == got[9]["trend"] == "none"
    assert got[8]["trend"] == "increasing"
    # every row matches the independent recompute (incl. tie correction)
    series = {}
    for c, p, v in rows:
        series.setdefault(c, []).append((p, v))
    for c, r in got.items():
        vals = [v for _, v in sorted(series[c])]
        s, var_num, trend = _py_mk(vals)
        assert (r["s_stat"], r["var_num"], r["trend"]) == (s, var_num, trend), c
        # textbook two-sided float z-test with continuity correction
        z = _float_z(s, var_num)
        sig = math.erfc(abs(z) / math.sqrt(2)) < 0.05
        assert r["trend"] == (("increasing" if z > 0 else "decreasing")
                              if sig else "none"), c
        if c in (6, 7, 9):  # significant under the old alpha ~0.33 constant
            assert 0.98 < abs(z) < 1.96, (c, z)

    import pytest
    with pytest.raises(ValueError):
        hs.mann_kendall_trends(df, min_periods=1)


def test_mann_kendall_random_recompute(spark):
    import numpy as np
    rng = np.random.RandomState(9)
    rows = []
    for c in range(50):
        slope = rng.randint(-3, 4)
        for p in range(rng.randint(4, 16)):
            rows.append((int(c), int(p),
                         int(20 + slope * p + rng.randint(-4, 5))))
    df = spark.createDataFrame(rows, "cell long, period long, v long")
    got = {r["cell"]: (r["n_periods"], r["s_stat"], r["var_num"], r["trend"])
           for r in hs.mann_kendall_trends(df, cell_cols=("cell",)).collect()}
    series = {}
    for c, p, v in rows:
        series.setdefault(c, []).append((p, v))
    n_sig = 0
    for c, pv in series.items():
        vals = [v for _, v in sorted(pv)]
        s, var_num, trend = _py_mk(vals)
        assert got[c] == (len(vals), s, var_num, trend), c
        n_sig += trend != "none"
    assert n_sig >= 10  # planted slopes actually detected
