"""Scale-hygiene regressions (r1 verdict "what's wrong" items):

* no driver-side actions hiding inside non-planner operators
* compact() sizes output from file metadata, not a scan
* connected_components supports reliable checkpointing
* only operators/iterative.py touches the checkpoint dir / shuffle width
* only functions/text_analysis.py splits text on whitespace
* LSH/IVF determinism without driver probes
"""

import ast
import os
import pathlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark.operators import dedup as dd
from osm_poi_cloud_spark.operators import similarity as sim
from osm_poi_cloud_spark.plans import merge as mg

PKG = pathlib.Path(__file__).resolve().parents[1] / "osm_poi_cloud_spark"

# Driver actions allowed only in documented planner/training passes:
# (module, enclosing function) pairs. Anything new fails the scan.
ALLOWED_ACTIONS = {
    ("operators/quadtree.py", "tile_count_histogram"),   # bounded 4^max_zoom planning pass (main.rs:178-219)
    ("operators/spatial_join.py", "assign_to_shards"),   # small manifest zoom probe (opt-out via zooms=)
    ("operators/spatial_join.py", "assign_to_shards_grid"),  # broadcast manifest expansion (bounded 4^grid_zoom)
    ("operators/spatial_join.py", "shard_index_df"),     # same bounded manifest expansion (idx mapping)
    ("operators/similarity.py", "train_ivf_centroids"),  # bounded training sample collect
    ("operators/dedup.py", "minhash_lsh_dedup"),         # isEmpty() early-exit on persisted pairs
    ("operators/dedup.py", "_cc_star"),                  # 1-row checksum agg over checkpointed edges (convergence probe)
    ("operators/pq.py", "train_pq_codebooks"),           # bounded training sample collect (same pattern as IVF)
    ("operators/sketch.py", "approx_distinct"),          # 1-row estimate read (the convenience API's whole point)
    ("operators/mixture.py", "plan_mixture"),            # |sources|-row planning aggregate (bounded planner pass)
    ("operators/classifier.py", "train_quality_lr"),     # bounded training sample collect (IVF/PQ/BPE pattern)
    ("operators/similarity.py", "load_ivf_index"),       # bounded centroid-table read (n_centroids rows)
    ("operators/knn.py", "nearest_join"),                # per-round isEmpty convergence probe on checkpointed pending set (minhash_lsh_dedup pattern) + one sizing count
    ("operators/skew.py", "detect_heavy_keys"),          # bounded planner collect (<= count/threshold rows, documented)
}
# .count() is excluded: syntactically ambiguous with the GroupedData /
# F.count transformations; the iterative probe in connected_components
# reads checkpointed data by design.
ACTION_NAMES = {"collect", "first", "toPandas", "isEmpty", "head", "take"}


def _actions_in(path: pathlib.Path):
    rel = str(path.relative_to(PKG.parent / "osm_poi_cloud_spark"))
    tree = ast.parse(path.read_text())
    hits = []

    class V(ast.NodeVisitor):
        def __init__(self):
            self.fn = "<module>"

        def visit_FunctionDef(self, node):
            prev, self.fn = self.fn, node.name if self.fn == "<module>" else self.fn
            self.generic_visit(node)
            self.fn = prev

        def visit_Call(self, node):
            if isinstance(node.func, ast.Attribute) and node.func.attr in ACTION_NAMES:
                hits.append((rel, self.fn, node.lineno))
            self.generic_visit(node)

    V().visit(tree)
    return hits


def test_no_driver_actions_in_operators():
    offenders = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for rel, fn, line in _actions_in(path):
            if (rel, fn) not in ALLOWED_ACTIONS:
                offenders.append(f"{rel}:{line} in {fn}()")
    assert not offenders, f"driver actions outside planner allowlist: {offenders}"


# The checkpoint dir and the shuffle width are session state: only the
# iterative scope may change them, because it restores both on exit.
SESSION_STATE_CALL = re.compile(
    r"setCheckpointDir|getCheckpointDir"
    r"|conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions")


def test_session_state_only_in_iterative_scope():
    scope = PKG / "operators" / "iterative.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == scope:
            continue
        src = path.read_text()
        for m in SESSION_STATE_CALL.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{path.relative_to(PKG)}:{line}: {m.group(0)}")
    assert not offenders, f"use operators/iterative.iterative_scope: {offenders}"


# Whitespace word splitting is done one way: functions.text_analysis
# (words_col / tokens_col). plans/contract.py is the checking side and
# keeps its own SQL and query wrappers.
WS_SPLIT_ALLOWED = {"functions/text_analysis.py", "plans/contract.py"}


def _ws_splits(src: str):
    r"""Line numbers of ``split(..., r"\s+")`` calls and of string
    literals holding a SQL ``split(`` with a ``\s+`` pattern."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
            if name == "split" and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    and r"\s+" in a.value for a in node.args):
                hits.append(node.lineno)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and re.search(r"split\(.*\\s\+", node.value, re.S)):
            hits.append(node.lineno)
    return hits


def test_whitespace_split_only_in_text_analysis():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel in WS_SPLIT_ALLOWED:
            continue
        offenders += [f"{rel}:{line}" for line in _ws_splits(path.read_text())]
    assert not offenders, f"use functions.text_analysis.words_col: {offenders}"


def test_source_bytes_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(50_000).withColumn("s", F.md5(F.col("id").cast("string"))).write.parquet(path)
    df = spark.read.parquet(path)
    expected = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert mg.source_bytes(spark, df) == expected


def test_source_bytes_falls_back_without_private_api(spark, tmp_path):
    """Sizing reads the Hadoop FileSystem through ``spark._jvm`` /
    ``spark._jsc``; sessions without them (Spark Connect shape), or whose
    handles raise, get the same bytes stat'ed from Python, and the merge
    still runs."""
    src = str(tmp_path / "src")
    spark.range(20_000).repartition(4).withColumn("s", F.md5(F.col("id").cast("string"))).write.parquet(src)
    expected = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src) if f.endswith(".parquet"))

    class _NoJvm:
        read = spark.read

    class _RaisingJvm(_NoJvm):
        @property
        def _jvm(self):
            raise RuntimeError("no JVM handle")

        _jsc = spark._jsc

    df = spark.read.parquet(src)
    for session in (_NoJvm(), _RaisingJvm()):
        assert mg.source_bytes(session, df) == expected
        out = str(tmp_path / type(session).__name__)
        assert mg.compact(session, src, out, sort_cols=()) == {}
        assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1
        assert spark.read.parquet(out).count() == 20_000


def test_compact_file_count_tracks_real_bytes(spark, tmp_path):
    src = str(tmp_path / "src")
    # ~raw int64s compress small; write many small files
    spark.range(200_000).repartition(16).withColumn(
        "s", F.md5(F.col("id").cast("string"))
    ).write.parquet(src)
    real_mb = mg.source_bytes(spark, spark.read.parquet(src)) / (1024 * 1024)
    out = str(tmp_path / "out")
    target = max(1, int(real_mb / 3) or 1)
    mg.compact(spark, src, out, target_file_mb=target, sort_cols=())
    n_out = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    # r1's JSON-length estimate inflated bytes ~5-10x -> way too many files;
    # metadata sizing must land close to bytes/target
    assert n_out == max(1, round(real_mb / target))
    assert spark.read.parquet(out).count() == 200_000


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    edges = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 10], "b": [2, 3, 11]}))
    comp = dd.connected_components(edges, checkpoint_dir=str(tmp_path / "ckpt")).toPandas()
    c = comp.set_index("node")["component"]
    assert c[1] == c[2] == c[3] == 1 and c[10] == c[11] == 10
    # reliable checkpoint files actually written
    assert any((tmp_path / "ckpt").rglob("*"))


def test_lsh_bucket_lazy_dim_matches_explicit(spark):
    rng = np.random.RandomState(5)
    vecs = [rng.standard_normal(24).tolist() for _ in range(64)]
    df = spark.createDataFrame(pd.DataFrame({"vec_id": range(64), "embedding": vecs}))
    explicit = df.select(sim.make_lsh_bucket_udf(24, bits=8)(F.col("embedding")).alias("b")).toPandas()
    lazy = df.select(sim.make_lsh_bucket_udf(bits=8)(F.col("embedding")).alias("b")).toPandas()
    assert list(explicit["b"]) == list(lazy["b"])


def test_ivf_sample_lloyd_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c1 = sim.train_ivf_centroids(emb, n_centroids=8, seed=19)
    c2 = sim.train_ivf_centroids(emb.repartition(7), n_centroids=8, seed=19)
    np.testing.assert_array_equal(c1, c2)  # bitwise, regardless of partitioning
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    _, idx1 = sim.ivf_index(emb, n_centroids=8, seed=19)
    _, idx2 = sim.ivf_index(emb, n_centroids=8, seed=19)
    r1 = sim.ivf_ann(idx1, c1, q, k=5, nprobe=3).toPandas()
    r2 = sim.ivf_ann(idx2, c2, q, k=5, nprobe=3).toPandas()
    pd.testing.assert_frame_equal(
        r1.sort_values(["query_id", "rn"]).reset_index(drop=True),
        r2.sort_values(["query_id", "rn"]).reset_index(drop=True),
    )


def test_embedding_dedup_no_driver_probe(spark):
    # dim omitted entirely: operator must not run any job at plan time
    rng = np.random.RandomState(23)
    base = rng.standard_normal(16)
    rows = [(0, base.tolist()), (1, (base * 1.0001).tolist()), (2, rng.standard_normal(16).tolist())]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    pairs = sim.embedding_cosine_dedup_pairs(df, threshold=0.999, bits=4)
    got = set(map(tuple, pairs.toPandas()[["a", "b"]].to_numpy()))
    assert (0, 1) in got and not any(2 in p for p in got)
