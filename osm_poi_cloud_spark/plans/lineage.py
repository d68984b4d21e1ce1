"""Per-partition lineage + checkpoint/resume (north rule).

The reference resumes a failed run by skipping shards that already have
``data.parquet`` or an ``_EMPTY`` marker in S3 (``README.md:228-232``,
``process.py:396-401``). This engine replaces object-listing with a
**lineage table**: one row per (run_id, stage, partition_key) holding
``row_count`` and an order-insensitive ``checksum`` — the ``_EMPTY``
marker becomes a ``row_count = 0`` lineage row (S10 in SURVEY §2), and
restart is an anti-join of the plan's partition keys against completed
lineage rows, so nothing is recomputed and nothing is double-counted.

Format: the lineage table is plain parquet appended per commit (an
Iceberg table would give the same semantics transactionally; the
sandbox has no Iceberg runtime jar, so the engine keeps the
lineage/checkpoint logic format-agnostic — see SURVEY §7 "Guiding
decisions").

Checksum: ``bit_xor(xxhash64(all columns))`` — commutative/associative
(partition-order independent), overflow-free under ANSI mode, and
sensitive to any changed value.

Job shape of one ``run_stage_with_resume``: the committed keys are
collected once, the per-partition summary is collected once (it yields
the row total, the processed keys and the lineage rows), the data is
written once, and the data rows and ``_EMPTY`` rows go out in ONE
lineage append built on the driver as an Arrow-backed local table.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import local_table

LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()), ("partition_key", pa.string()),
    ("input_split", pa.string()), ("row_count", pa.int64()), ("checksum", pa.int64()),
    ("committed_at", pa.float64()),
])


def partition_summary(df: DataFrame, key_col: str) -> DataFrame:
    """(partition_key, row_count, checksum) per key — one shuffle."""
    # canonical column order (sorted by name): the checksum must be stable
    # whether computed pre-write or from the read-back table, where the
    # partition column is reordered to the end
    data_cols = sorted(c for c in df.columns if c != key_col)
    return (
        df.groupBy(F.col(key_col).cast("string").alias("partition_key"))
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.expr(f"bit_xor(xxhash64({', '.join(data_cols)}))").alias("checksum"),
        )
    )


class LineageLog:
    """Append-only lineage table + resume queries."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or (
            os.path.isdir(self.path) and any(f.endswith(".parquet") for f in os.listdir(self.path))
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return local_table(self.spark, LINEAGE_SCHEMA.empty_table())
        return self.spark.read.schema(from_arrow_schema(LINEAGE_SCHEMA)).parquet(self.path)

    def completed_keys(self, run_id: str, stage: str) -> DataFrame:
        """Distinct partition keys already committed (including empty
        partitions — the _EMPTY analog)."""
        return (
            self.read()
            .filter((F.col("run_id") == run_id) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
        )

    def commit(self, summary: list[Row], empty_keys: list[str], run_id: str, stage: str,
               input_split: str = "") -> None:
        """Append one lineage row per ``partition_summary`` row plus a
        row_count=0 row per ``empty_keys`` entry (the reference's _EMPTY
        markers, process.py:396-401) — one append, one file."""
        keys = [r["partition_key"] for r in summary] + list(empty_keys)
        if not keys:
            return
        n = len(keys)
        table = pa.table({
            "run_id": [run_id] * n,
            "stage": [stage] * n,
            "partition_key": keys,
            "input_split": [input_split] * n,
            "row_count": [r["row_count"] for r in summary] + [0] * len(empty_keys),
            "checksum": [r["checksum"] for r in summary] + [0] * len(empty_keys),
            "committed_at": [time.time()] * n,
        }, schema=LINEAGE_SCHEMA)
        local_table(self.spark, table).coalesce(1).write.mode("append").parquet(self.path)


def run_stage_with_resume(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    lineage: LineageLog,
    run_id: str,
    stage: str,
    key_col: str,
    expected_keys: list[str] | None = None,
) -> dict:
    """Execute one partitioned stage idempotently.

    1. filter out of ``df`` the keys already committed for (run_id,
       stage) — the reference's skip-processed-shards logic;
    2. summarize the surviving partitions (count + checksum) in ONE
       collect, which gives the row total and the processed keys too;
    3. write them to ``out_path`` (directory-partitioned by ``key_col``
       so re-runs never rewrite done work);
    4. commit their lineage rows together with row_count=0 rows for
       ``expected_keys`` that produced no data (so the planner knows they
       were processed, not lost) in ONE append.

    Returns {"skipped": n, "processed": n, "rows": n}.
    """
    done = {r["partition_key"] for r in lineage.completed_keys(run_id, stage).collect()}
    todo = df
    if done:
        key = F.col(key_col)
        # null keys never match a committed key (the anti-join semantics)
        todo = df.filter(key.isNull() | ~key.cast("string").isin(sorted(done - {None})))
    # cache: summary + write must see the same data exactly once
    todo = todo.persist()
    try:
        summary = partition_summary(todo, key_col).collect()
        n_rows = sum(r["row_count"] for r in summary)
        processed = {r["partition_key"] for r in summary}
        if n_rows > 0:
            # dynamic partition overwrite, NOT append: if a previous attempt
            # crashed after writing files but before the lineage commit,
            # the retry must replace that partition's files, or the rows
            # would be duplicated. Committed partitions are never in `todo`
            # (filtered above), so only retried partitions are touched.
            (
                todo.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(key_col)
                .parquet(out_path, compression="snappy")
            )
        # keys a previous attempt already committed are not re-marked
        empty = sorted(set(map(str, expected_keys or ())) - processed - done)
        lineage.commit(summary, empty, run_id, stage)
        return {"skipped": len(done), "processed": len(processed), "rows": int(n_rows)}
    finally:
        todo.unpersist()


def verify_against_lineage(spark: SparkSession, out_path: str, lineage: LineageLog,
                           run_id: str, stage: str, key_col: str) -> DataFrame:
    """Audit: recompute per-partition count+checksum from the written
    table and diff against lineage (detects partial writes/corruption)."""
    written = spark.read.parquet(out_path)
    got = partition_summary(written, key_col)
    exp = (
        lineage.read()
        .filter((F.col("run_id") == run_id) & (F.col("stage") == stage) & (F.col("row_count") > 0))
        .groupBy("partition_key")
        .agg(F.sum("row_count").alias("row_count"), F.expr("bit_xor(checksum)").alias("checksum"))
    )
    return (
        got.withColumnRenamed("row_count", "got_rows").withColumnRenamed("checksum", "got_sum")
        .join(exp, on="partition_key", how="full_outer")
        .filter(
            F.col("got_rows").isNull() | F.col("row_count").isNull()
            | (F.col("got_rows") != F.col("row_count")) | (F.col("got_sum") != F.col("checksum"))
        )
    )
