"""Sequence packing: assign documents to fixed-token-budget training
sequences — the step between curation and tokenized-shard writing.

Training consumes fixed-length sequences; feeding one short document
per sequence wastes most of the context window, so pipelines PACK
documents until the budget fills. The deterministic greedy-contiguous
scheme here (documents in a stable order, running token total, new
sequence when the budget would overflow) is what packing loaders do,
expressed as ONE window aggregation:

    seq = floor(cumulative_tokens_before_me / budget)

A document that straddles a boundary starts the overflow into the next
sequence (bounded by one doc's tokens — the standard trade; exact
bin-packing is NP-hard and order-unstable).

Scale: a window partition is ONE task's worth of sorting and cumsum,
so the pack key must be fine-grained. Partitioning by language alone
puts the entire English half of a web corpus through a single task —
exactly the data-size-unbounded partition the reference's sharder
exists to avoid (main.rs:178-277 splits shards by row budget, never by
a value-skewed key). ``n_buckets`` therefore salts the pack key with
``pmod(xxhash64(order_col), n_buckets)``: each (pack_col, bucket)
window is independent and size-bounded by corpus/n_buckets, ordering
stays total *within* a bucket (the hash is a deterministic function of
``order_col``), and sequence identity becomes the composite
(pack_col, pack_bucket, seq_id). Pick n_buckets so a bucket's rows fit
one task comfortably (e.g. corpus_rows / 10^6). The unbucketed default
is kept for small inputs and fixture/oracle compatibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_analysis import words_col


def pack_sequences(df: DataFrame, budget: int, token_col: str = "n_tokens",
                   pack_col: str = "lang", order_col: str = "doc_id",
                   n_buckets: int | None = None) -> DataFrame:
    """Add ``seq_id`` and ``seq_offset`` (token offset within the
    running order of the pack window).

    With ``n_buckets=None`` the window partitions by ``pack_col`` only
    (deterministic, totally ordered per key — use only when no single
    key's rows exceed one task). With ``n_buckets=k`` an extra
    ``pack_bucket`` column (``pmod(xxhash64(order_col), k)``) is added
    and the window partitions by (pack_col, pack_bucket): size-bounded
    partitions that survive 10^12 documents; sequence identity is then
    (pack_col, pack_bucket, seq_id).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    keys = [pack_col]
    if n_buckets is not None:
        if n_buckets <= 0:
            raise ValueError(f"n_buckets must be positive, got {n_buckets}")
        df = df.withColumn(
            "pack_bucket",
            F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_buckets)).cast("int"),
        )
        keys.append("pack_bucket")
    w = (
        Window.partitionBy(*keys).orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # CAST mirrors the shared-oracle text (DuckDB's window SUM over INT
    # is HUGEINT→float64 without it); a no-op for Spark's bigint sum.
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    return (
        df.withColumn("seq_offset", before)
        .withColumn("seq_id", F.floor(F.col("seq_offset") / budget).cast("long"))
    )


def packing_stats(packed: DataFrame, budget: int, token_col: str = "n_tokens",
                  pack_col: str = "lang") -> DataFrame:
    """Per-pack-key fill metrics: sequences used, mean fill fraction —
    the utilization number a packing run logs. Groups by the full
    sequence identity (including ``pack_bucket`` when present), then
    rolls up to ``pack_col``."""
    keys = [pack_col] + (["pack_bucket"] if "pack_bucket" in packed.columns else [])
    per_seq = packed.groupBy(*keys, "seq_id").agg(F.sum(token_col).alias("seq_tokens"))
    return per_seq.groupBy(pack_col).agg(
        F.count(F.lit(1)).alias("n_sequences"),
        (F.sum("seq_tokens") / (F.count(F.lit(1)) * F.lit(float(budget)))).alias("mean_fill"),
    )


def sequence_shards(packed: DataFrame, token_ids_col: str = "token_ids",
                    pack_col: str = "lang", order_col: str = "doc_id") -> DataFrame:
    """Materialize packed sequences as training shards: one row per
    sequence with the concatenated token-id array in document order —
    the sink a tokenized-corpus writer feeds to the training loader.

    Entirely native (no Python): `collect_list(struct(order, ids))`
    gathers each sequence's documents in ONE aggregation (the shuffle
    is on the same (pack key, seq_id) the packing window already
    established), `sort_array` restores document order inside the
    struct array (struct ordering compares fields left-to-right, so the
    first field ``order_col`` dominates), then a `transform`+`flatten`
    splices the id arrays. A sequence's size is budget-bounded up to
    one document's overflow (see ``pack_sequences``), so rows are
    bounded and the aggregation state never exceeds one sequence."""
    keys = [pack_col] + (["pack_bucket"] if "pack_bucket" in packed.columns else [])
    gathered = packed.groupBy(*keys, "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col(order_col).alias("o"),
                                                     F.col(token_ids_col).alias("t")))),
                lambda s: s["t"],
            )
        ).alias("tokens"),
    )
    return gathered.select(
        *keys, "seq_id", "n_docs",
        F.size("tokens").alias("n_tokens"),
        "tokens",
    )


def chunk_documents(df: DataFrame, max_tokens: int = 512, overlap: int = 64,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding-window document chunking: every document splits into
    (id, chunk_idx, n_tokens, chunk_text) windows of up to
    ``max_tokens`` whitespace tokens with ``overlap`` tokens shared
    between consecutive chunks — the retrieval/embedding preprocessing
    step (RAG chunkers, long-doc encoders) and the long-document
    counterpart of ``pack_sequences``.

    100% native and map-only (zero shuffle, zero Python): token split,
    window starts via ``sequence(1, greatest(n - overlap, 1), stride)``
    (ascending by construction — the upper bound is always >= 1, and
    Spark's sequence would DESCEND on an inverted range), per-window
    ``slice`` + ``concat_ws``. The final chunk keeps the tail (shorter
    than ``max_tokens`` is fine); empty documents yield no rows.
    Tokenization preserves case — chunking must not mutate content."""
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need 0 <= overlap < max_tokens, got overlap={overlap}, "
            f"max_tokens={max_tokens}")
    stride = max_tokens - overlap
    base = df.select(F.col(id_col), words_col(F.col(text_col)).alias("_toks")) \
        .filter(F.size("_toks") > 0)
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_toks") - F.lit(overlap), F.lit(1)),
        F.lit(stride))
    exploded = base.select(
        id_col, "_toks", F.posexplode(starts).alias("chunk_idx", "_start"))
    piece = F.slice(F.col("_toks"), F.col("_start"), max_tokens)
    return exploded.select(
        F.col(id_col), F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )
