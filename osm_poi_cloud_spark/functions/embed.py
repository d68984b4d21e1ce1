"""Native text embeddings via the hashing trick: documents -> dense
``array<double>`` vectors with ZERO Python and zero external models —
the input the similarity/ANN/SemDeDup operators consume, derivable at
any scale from text alone.

Feature hashing (Weinberger et al. 2009; sklearn HashingVectorizer,
Spark MLlib HashingTF are the public implementations of the same idea):
token -> bucket via a hash mod ``dim``; the vector entry is the
bucket's term frequency weighted by an IDF surrogate. Two engine-level
choices keep it exact and oracle-able:

* the bucket hash is Spark's native ``xxhash64`` (seed 42) — the same
  from-spec XXH64 the golden-oracle toolchain already reimplements
  (tests/test_bloom pins the identity), so an independent recompute
  reproduces bucket assignments exactly;
* the IDF weight is the RATIONAL surrogate ``tf * (N + 1) / (df + 1)``
  (one exact-IEEE divide; the r3 rule: rational surrogates beat
  ``ln``-IDF for cross-engine bit-equality) — ranking-equivalent to
  log-IDF for the dedup/similarity use cases here.

Scale shape: one explode + ONE shuffle (the (doc, bucket) count), a
broadcast-sized df table join (bounded by ``dim`` after hashing), and
a per-doc regroup — no vocabulary collect, no driver pass, vectors
bounded at ``8 * dim`` bytes regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text_analysis import words_col

#: bucket-hash seed — shared with the golden recompute
HASH_SEED = 42


def hashed_token_buckets(df: DataFrame, dim: int = 256,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, bucket, tf) — lowercased whitespace tokens hashed into
    ``dim`` buckets (``pmod(xxhash64(seed, token), dim)``), counted per
    document. The single shuffle of embedding construction."""
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    toks = df.select(
        F.col(id_col),
        F.explode(words_col(F.lower(F.col(text_col)))).alias("tok"))
    return (
        toks.select(
            id_col,
            F.pmod(F.xxhash64(F.lit(HASH_SEED), F.col("tok")),
                   F.lit(dim)).cast("int").alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def hashed_tfidf_entries(df: DataFrame, dim: int = 256,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, bucket, tf, df_bucket, weight) — sparse entries with the
    rational IDF surrogate ``weight = tf * (N + 1) / (df_bucket + 1)``
    where ``df_bucket`` counts documents containing the bucket. The df
    table has at most ``dim`` rows (broadcast join); N is one bounded
    count."""
    # lazy localCheckpoint: the tf table feeds BOTH the df-table
    # aggregate and the weight join — one explode+count pass instead of
    # two (each was a full tokenize of the corpus).
    tf = hashed_token_buckets(df, dim, text_col, id_col) \
        .localCheckpoint(eager=False)
    n_docs = df.select(id_col).distinct().count()
    dfreq = tf.groupBy("bucket").agg(
        F.countDistinct(id_col).alias("df_bucket"))
    return (
        tf.join(F.broadcast(dfreq), "bucket")
        .select(
            id_col, "bucket", "tf", "df_bucket",
            (F.col("tf").cast("double") * F.lit(float(n_docs + 1))
             / (F.col("df_bucket") + F.lit(1)).cast("double")).alias("weight"))
    )


def hashed_tfidf_embed(df: DataFrame, dim: int = 256,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, embedding array<double>) — the dense vector form the
    similarity operators consume (``semantic_dedup``, ``ivf_index``,
    ``cosine_topk`` …): sparse entries scattered into a ``dim``-length
    array natively (map lookup inside a ``transform`` over the index
    sequence; absent buckets are 0). Empty documents get the zero
    vector."""
    entries = hashed_tfidf_entries(df, dim, text_col, id_col)
    sparse = entries.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", "weight"))).alias("se"))
    # dense scatter in O(dim + nnz) per doc: walk the bucket-sorted
    # entries emitting the zero-run before each entry, then pad the
    # tail — instead of ``dim`` map lookups per doc, each of which
    # scanned the whole O(nnz) entry map (the r6 shape: ~dim * nnz
    # comparisons per document). Values are copied, never recomputed,
    # so the vectors are bit-identical.
    vec = F.expr(
        "concat("
        "  flatten(transform(se, (s, i) -> concat("
        "    array_repeat(0.0D, s.bucket - CASE WHEN i = 0 THEN 0 "
        "                 ELSE element_at(se, i).bucket + 1 END),"
        "    array(s.weight)))),"
        f" array_repeat(0.0D, {int(dim)} - 1 - element_at(se, -1).bucket))")
    ids = df.select(id_col).distinct()
    return (
        ids.join(sparse, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("se").isNull(),
                   F.array_repeat(F.lit(0.0), dim))
            .otherwise(vec).alias("embedding"))
    )
