"""Restore contract of ``operators/iterative.iterative_scope`` for every
iterative operator built on it: correct result, reliable checkpoint
files under ``checkpoint_dir``, and the session's prior checkpoint dir
and ``spark.sql.shuffle.partitions`` back EXACTLY on exit — also when
the operator raises."""

import math

import pandas as pd
import pytest

from osm_poi_cloud_spark.operators import dedup, graph, knn

CYCLE = [(0, 1), (1, 2), (2, 0)]
TRIANGLES = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
SESSION_WIDTH = "7"  # distinct from the derived width (1) and the fixture's


def _edges(spark, pairs, a="src", b="dst"):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=[a, b]))


def _pagerank(spark, ckpt):
    got = graph.pagerank(_edges(spark, CYCLE), iters=5,
                         checkpoint_dir=ckpt).toPandas()
    assert sorted(got["node"]) == [0, 1, 2]
    assert all(abs(r - 1 / 3) < 1e-12 for r in got["rank"])


def _hits(spark, ckpt):
    got = graph.hits(_edges(spark, CYCLE), iters=5,
                     checkpoint_dir=ckpt).toPandas()
    assert sorted(got["node"]) == [0, 1, 2]
    want = 1 / math.sqrt(3)
    assert all(abs(v - want) < 1e-12 for v in got["hub"])
    assert all(abs(v - want) < 1e-12 for v in got["authority"])


def _label_communities(spark, ckpt):
    got = graph.label_communities(_edges(spark, TRIANGLES), iters=4,
                                  checkpoint_dir=ckpt).toPandas()
    assert dict(zip(got["node"], got["community"])) == {
        0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def _points(spark, rows, id_col):
    return spark.createDataFrame(pd.DataFrame(rows, columns=[id_col, "x", "y"]))


def _nearest_join(spark, ckpt, max_rounds=64):
    left = [(0, 0, 0), (1, 100, 100), (2, 7, 3)]
    right = [(10, 1, 1), (11, 90, 90), (12, 60, 0)]
    got = knn.nearest_join(
        _points(spark, left, "qid"), _points(spark, right, "rid"), cell0=2.0,
        x_col="x", y_col="y", left_id="qid", right_id="rid",
        max_rounds=max_rounds, checkpoint_dir=ckpt).toPandas()
    want = {q: min(((qx - rx) ** 2 + (qy - ry) ** 2, r) for r, rx, ry in right)
            for q, qx, qy in left}
    assert {q: (d2, r) for q, r, d2 in zip(got["qid"], got["rid"], got["nn_d2"])} \
        == want


def _connected_components(spark, ckpt):
    got = dedup.connected_components(
        _edges(spark, [(1, 2), (2, 3), (10, 11)], "a", "b"),
        checkpoint_dir=ckpt).toPandas()
    assert dict(zip(got["node"], got["component"])) == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


OPERATORS = {
    "pagerank": ("pr", _pagerank),
    "hits": ("hits", _hits),
    "label_communities": ("lpa", _label_communities),
    "nearest_join": ("nn", _nearest_join),
    "connected_components": ("cc", _connected_components),
}


def _ckpt_dir(spark):
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    return opt.get() if opt.isDefined() else None


@pytest.fixture(params=["unset", "set"])
def prior(request, spark, tmp_path):
    """Session state before the operator runs: a distinctive shuffle
    width, and the checkpoint dir either unset or pointing elsewhere.
    Puts the session's own state back afterwards."""
    jsc = spark.sparkContext._jsc.sc()
    saved_dir = jsc.getCheckpointDir()
    saved_width = spark.conf.get("spark.sql.shuffle.partitions")
    if request.param == "set":
        jsc.setCheckpointDir(str(tmp_path / "prior"))
    else:
        getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.empty())
    spark.conf.set("spark.sql.shuffle.partitions", SESSION_WIDTH)
    yield _ckpt_dir(spark)
    spark.conf.set("spark.sql.shuffle.partitions", saved_width)
    getattr(jsc, "checkpointDir_$eq")(saved_dir)


def _assert_restored(spark, prior_dir):
    assert _ckpt_dir(spark) == prior_dir
    assert spark.conf.get("spark.sql.shuffle.partitions") == SESSION_WIDTH


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_restore_contract(spark, tmp_path, prior, op):
    tag, run = OPERATORS[op]
    ckpt = tmp_path / "ckpt"
    run(spark, str(ckpt))
    _assert_restored(spark, prior)
    # reliable checkpoint files, in this run's <tag>-<uuid> subdir only
    runs = list(ckpt.iterdir())
    assert len(runs) == 1 and runs[0].name.startswith(f"{tag}-")
    assert any(p.is_file() for p in runs[0].rglob("*"))


def test_restore_contract_local_checkpoints(spark, prior):
    """Unset ``checkpoint_dir``: local checkpoints, the checkpoint dir
    is never touched, the shuffle width still comes back."""
    for _, run in OPERATORS.values():
        run(spark, None)
        _assert_restored(spark, prior)


def test_restore_contract_on_error(spark, tmp_path, prior):
    """The left point at (100, 100) lies far outside every 2-unit cell
    neighbourhood of a right point, so one round cannot match it: the
    operator raises and the scope still restores both."""
    with pytest.raises(RuntimeError, match="did not converge"):
        _nearest_join(spark, str(tmp_path / "ckpt"), max_rounds=1)
    _assert_restored(spark, prior)
