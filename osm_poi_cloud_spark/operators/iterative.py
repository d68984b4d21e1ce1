"""One scope for the scaffolding every iterative operator needs:
per-round eager checkpoints, a private checkpoint directory, a shuffle
width sized from the input, and cached loop invariants — all undone on
exit, exception or not.

Used by ``dedup.connected_components`` (and through it minhash dedup,
dissolve, DBSCAN and the gazetteer), ``graph.pagerank`` / ``hits`` /
``label_communities`` and ``knn.nearest_join``.

Checkpoints and fault tolerance. Each round is cut with one EAGER
checkpoint so lineage never chains across rounds (Catalyst
re-optimization otherwise grows with every round). With
``checkpoint_dir`` unset the cut is a ``localCheckpoint``: its blocks
live only on the executor that computed them and the lineage is gone,
so after an executor is lost the downstream jobs that read them FAIL —
they do not recompute. Fine in local mode and tests; NOT fault-tolerant
on a cluster. Set ``checkpoint_dir`` (an HDFS/S3 path) there for
reliable ``checkpoint()`` writes: executor loss mid-job then resumes
from the last round instead of failing. Each run writes to a fresh
``<tag>-<uuid>`` subdirectory, so (a) later unrelated ``.checkpoint()``
calls in the session never land in it — the prior directory, or unset
state, is restored exactly on exit — and (b) the caller can delete ONE
subdirectory after consuming the result. Per-round files accumulate
within a run (bounded by the round count) because the returned frame
still references the last round's files.

Shuffle width. ``size_shuffles(n_rows)`` sets
``spark.sql.shuffle.partitions`` to ``ceil(n_rows / 250_000)`` instead
of inheriting the session default: iterative rounds over small or
rapidly-contracting inputs otherwise pay default-width task scheduling
for near-empty partitions (5 setup stages x 128 partitions over a
75k-edge graph measured ~14 s of pure scheduling), while a 10^10-edge
graph needs MORE width than the default. The session value is restored
on exit, so every shuffle the operator owns must run inside the scope.
"""

from __future__ import annotations

import math
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

ROWS_PER_PARTITION = 250_000


class IterativeScope:
    """Handle yielded by ``iterative_scope``."""

    def __init__(self, spark: SparkSession, reliable: bool):
        self._spark = spark
        self._reliable = reliable
        self._held: list[DataFrame] = []

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager round cut: reliable under ``checkpoint_dir``, else local."""
        return (df.checkpoint(eager=True) if self._reliable
                else df.localCheckpoint(eager=True))

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` now; it is unpersisted when the scope exits."""
        df = df.persist()
        self._held.append(df)
        return df

    def size_shuffles(self, n_rows: int) -> None:
        """Width every later shuffle in the scope from ``n_rows``."""
        width = max(1, math.ceil(n_rows / ROWS_PER_PARTITION))
        self._spark.conf.set("spark.sql.shuffle.partitions", str(width))


@contextmanager
def iterative_scope(spark: SparkSession, checkpoint_dir: str | None,
                    tag: str) -> Iterator[IterativeScope]:
    """Scope one iterative operator run. ``tag`` prefixes the run's
    checkpoint subdirectory (``<checkpoint_dir>/<tag>-<uuid>``)."""
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    if checkpoint_dir is not None:
        jsc = spark.sparkContext._jsc.sc()
        prev_dir = jsc.getCheckpointDir()  # scala Option, possibly None
        jsc.setCheckpointDir(
            f"{checkpoint_dir.rstrip('/')}/{tag}-{uuid.uuid4().hex}")
    scope = IterativeScope(spark, reliable=checkpoint_dir is not None)
    try:
        yield scope
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)
        for df in scope._held:
            df.unpersist()
        if checkpoint_dir is not None:
            # put the saved Option back through the field's setter: the
            # public setCheckpointDir(d) would mkdir a fresh uuid subdir
            # UNDER d, so re-setting the prior value drifts one level
            # deeper per run. The prior state (unset included) comes
            # back EXACTLY — leaving the session pointed at the
            # deletable run subdir would corrupt later unrelated
            # .checkpoint() calls.
            getattr(jsc, "checkpointDir_$eq")(prev_dir)
